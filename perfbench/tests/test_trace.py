"""Trace attribution: the event-log summary and the wrappers' tagging.
No Spark session needed; the wrappers are exercised over fakes.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import trace as TR


def _job(jid, t0, t1, stages, tag):
    props = {TR.LAYER_KEY: tag} if tag else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ] + [
        {"Event": "SparkListenerStageSubmitted", "Properties": props,
         "Stage Info": {"Stage ID": s, "Submission Time": t0}} for s in stages
    ]


def _task(stage, t0, t1, run_ms, cpu_ns, shuffle=0, written=0, rows=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": t0, "Finish Time": t1},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Output Metrics": {"Bytes Written": written,
                                                "Records Written": rows}}}


EVENTS = (
    _job(1, 1000, 3000, [10], "stage:entities")
    + _job(2, 3500, 4000, [11], TR.SETUP_TAG)
    + _job(3, 3800, 4200, [12], None)
    + _job(4, 9000, 9500, [13], "stage:nodes")  # after the window
    + [
        _task(10, 1000, 3000, 2000, 500_000_000, written=2**20, rows=7),
        _task(10, 1000, 2000, 1000, 500_000_000, written=2**20, rows=3),
        _task(11, 3500, 4000, 500, 100_000_000, shuffle=2**21),
        _task(12, 3800, 4200, 400, 400_000_000),
        _task(13, 9000, 9500, 500, 1),
    ]
)


def test_summary_attributes_jobs_to_layers_inside_the_window():
    s = TR.summarize(EVENTS, 500, 5000, cores=2)
    per, tot = s["per"], s["total"]
    assert tot["jobs"] == 3 and tot["stages"] == 3 and tot["tasks"] == 4
    assert per["operators.extract"]["jobs"] == 1
    assert per["operators.extract"]["task_s"] == pytest.approx(3.0)
    assert per["operators.extract"]["cpu_s"] == pytest.approx(1.0)
    assert per["operators.extract"]["write_mb"] == pytest.approx(2.0)
    assert per["tag:stage:entities"]["rows_written"] == 10
    assert per["operators.spatial_join"]["shuffle_mb"] == pytest.approx(2.0)
    assert per[TR.OTHER]["jobs"] == 1 and per[TR.OTHER]["task_s"] == pytest.approx(0.4)
    assert "operators.connectivity+false_positives" not in per
    # jobs cover [1000,3000] + [3500,4200] = 2700 ms of the 4500 ms window
    assert s["driver_only_s"] == pytest.approx(1.8)
    # busy 2000+1000+500+400 = 3900 core-ms of 2 x 4500
    assert s["core_idle_frac"] == pytest.approx(1 - 3900 / 9000)
    assert s["py_residual_s"] == pytest.approx(3.9 - 1.5)


def test_layer_of_covers_every_checkpoint_stage():
    for stage in ("entities", "ways_located", "ways", "relations", "polygons", "nodes",
                  "tiles", "_lineage"):
        assert TR.layer_of("stage:" + stage) != TR.OTHER
    assert TR.layer_of(TR.PROBE_TAG) == TR.layer_of(TR.SETUP_TAG) == "operators.spatial_join"
    assert TR.layer_of(TR.SINK_READ_TAG) == "plans.pipeline"
    assert TR.layer_of(None) == TR.layer_of("check") == TR.OTHER


def test_read_event_log_keeps_only_needed_events(tmp_path):
    p = tmp_path / "app"
    lines = EVENTS + [{"Event": "SparkListenerExecutorAdded"}]
    p.write_text("\n".join(json.dumps(e) for e in lines) + "\n")
    assert TR.read_event_log(str(p)) == EVENTS


class _Ctx:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


class _Frame:
    def __init__(self, ctx):
        self.sparkSession = type("S", (), {"sparkContext": ctx})()


def test_wrappers_tag_time_count_and_restore(monkeypatch):
    import py4j.clientserver as pcs

    from osmi_water_spark.functions import cells
    from osmi_water_spark.operators import spatial_join
    from osmi_water_spark.plans import pipeline

    ctx = _Ctx()
    seen = {}
    monkeypatch.setattr(pipeline.Sink, "write",
                        lambda sink, df, name: seen.setdefault("sink", ctx.props.get(TR.LAYER_KEY)))
    monkeypatch.setattr(pipeline.Sink, "read",
                        lambda sink, spark, name: seen.setdefault("read", ctx.props.get(TR.LAYER_KEY)))
    monkeypatch.setattr(spatial_join, "pip_join",
                        lambda pts, parts, **kw: seen.setdefault("pip", ctx.props.get(TR.LAYER_KEY)))
    monkeypatch.setattr(pcs.ClientServerConnection, "send_command", lambda conn, cmd: "ok")
    originals = (pipeline.Sink.write, pipeline.Sink.read, spatial_join.pip_join,
                 cells.np_cover, pcs.ClientServerConnection.send_command)

    tr = TR.Tracer()
    tr.install()
    try:
        frame = _Frame(ctx)
        pipeline.Sink.write(object(), frame, "nodes")
        pipeline.Sink.read(object(), frame.sparkSession, "nodes")
        spatial_join.pip_join(frame, frame, salt=2)
        cells.np_cover([0.0, 1.0], [0.0, 1.0], [0.5, 1.5], [0.5, 1.5])
        assert pcs.ClientServerConnection.send_command(object(), "c") == "ok"
    finally:
        tr.uninstall()

    assert seen == {"sink": "stage:nodes", "read": TR.SINK_READ_TAG, "pip": TR.SETUP_TAG}
    assert TR.LAYER_KEY not in ctx.props  # restored after each call
    assert set(tr.stage_wall) == {"nodes"} and len(tr.pip_calls) == 1
    assert tr.cover[0][0] == 2 and tr.cover[0][1] >= 2
    assert tr.py4j_calls == 1
    assert (pipeline.Sink.write, pipeline.Sink.read, spatial_join.pip_join, cells.np_cover,
            pcs.ClientServerConnection.send_command) == originals
