"""Traced-run plumbing: wrappers around the engine's public calls, plus a
reader that turns Spark's event log into per-layer numbers.

Nothing inside ``osmi_water_spark`` is edited. ``Tracer.install`` swaps in
wrappers for ``Sink.write`` (tags the checkpoint stage's jobs), ``Sink.read``
(tags the read-back's footer jobs),
``spatial_join.pip_join`` (tags the eager setup jobs, times the call and
keeps the returned frame), ``cells.np_cover`` (counts parts and cover
pairs) and py4j's ``send_command`` (counts driver round trips). Jobs are
tagged with the thread-local Spark property ``LAYER_KEY``; the event log
carries it on every job and stage.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LAYER_KEY = "perfbench.layer"
OTHER = "other"

# checkpoint stage (Sink name) -> layer, as the README's layer map states
STAGE_LAYER = {
    "entities": "operators.extract",
    "ways_located": "operators.locate",
    "ways": "operators.assemble",
    "relations": "operators.assemble",
    "polygons": "operators.areas",
    "nodes": "operators.connectivity+false_positives",
    "tiles": "operators.tiling",
    "_lineage": "plans.pipeline",
}
SETUP_TAG = "spatial_join.setup"
PROBE_TAG = "spatial_join.probe"
SINK_READ_TAG = "sink.read"  # checkpoint read-back (parquet footer jobs)
INPUT_TAG = "input"          # the benchmark's own read of its input table
CHECK_TAG = "check"          # output checks, outside the timed window


def layer_of(tag: str | None) -> str:
    if not tag:
        return OTHER
    if tag.startswith("stage:"):
        return STAGE_LAYER.get(tag[6:], OTHER)
    if tag in (SETUP_TAG, PROBE_TAG):
        return "operators.spatial_join"
    if tag == SINK_READ_TAG:
        return "plans.pipeline"
    if tag == INPUT_TAG:
        return "input"
    return OTHER


@contextmanager
def tagged(spark, tag: str):
    """Tag every job this thread submits inside the block."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(LAYER_KEY)
    sc.setLocalProperty(LAYER_KEY, tag)
    try:
        yield
    finally:
        sc.setLocalProperty(LAYER_KEY, prev)


class Tracer:
    """Owns the wrappers and what they record for the current unit."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self.reset_unit()

    def reset_unit(self) -> None:
        with self._lock:
            self.stage_wall: dict[str, float] = defaultdict(float)
            self.pip_calls: list[dict] = []
            self.cover: list[tuple[int, int]] = []

    # ---- wrappers ----

    def _patch(self, owner, name: str, wrapper) -> None:
        self._saved.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, wrapper)

    def install(self) -> None:
        import py4j.clientserver as pcs
        import py4j.java_gateway as pjg

        from osmi_water_spark.functions import cells
        from osmi_water_spark.operators import spatial_join
        from osmi_water_spark.plans import pipeline

        tracer = self

        for cls in (pcs.ClientServerConnection, pjg.GatewayConnection):
            orig_send = cls.__dict__["send_command"]

            def send_command(conn, command, *a, _orig=orig_send, **kw):
                with tracer._lock:
                    tracer.py4j_calls += 1
                return _orig(conn, command, *a, **kw)

            self._patch(cls, "send_command", send_command)

        orig_write = pipeline.Sink.write

        def write(sink, df, name):
            t0 = time.perf_counter()
            with tagged(df.sparkSession, "stage:" + name):
                orig_write(sink, df, name)
            with tracer._lock:
                tracer.stage_wall[name] += time.perf_counter() - t0

        self._patch(pipeline.Sink, "write", write)

        orig_read = pipeline.Sink.read

        def read(sink, spark, name):
            with tagged(spark, SINK_READ_TAG):
                return orig_read(sink, spark, name)

        self._patch(pipeline.Sink, "read", read)

        orig_pip = spatial_join.pip_join

        def pip_join(points, polygon_parts, *a, **kw):
            t0 = time.perf_counter()
            with tagged(points.sparkSession, SETUP_TAG):
                out = orig_pip(points, polygon_parts, *a, **kw)
            with tracer._lock:
                tracer.pip_calls.append(
                    {"setup_s": time.perf_counter() - t0, "points": points, "pairs": out}
                )
            return out

        self._patch(spatial_join, "pip_join", pip_join)

        orig_cover = cells.np_cover

        def np_cover(minx, *a, **kw):
            res, cover_cells, owner = orig_cover(minx, *a, **kw)
            with tracer._lock:
                tracer.cover.append((len(minx), len(cover_cells)))
            return res, cover_cells, owner

        self._patch(cells, "np_cover", np_cover)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)


# ---------------- event log ----------------

_KEEP = {
    "SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
}


def read_event_log(path: str) -> list[dict]:
    """The events the summary needs, from an uncompressed JSON-lines log."""
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") in _KEEP:
                out.append(ev)
    return out


def summarize(events: list[dict], t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Per-layer totals for the jobs submitted inside [t0_ms, t1_ms].

    Returns job/stage/task counts, task run time, JVM CPU, shuffle write,
    spill and sink bytes, each overall and per layer (by the job's tag),
    plus the share of the window covered by no job and the share of
    ``cores`` x window with no task running."""
    jobs: dict[int, dict] = {}
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart" and t0_ms <= ev["Submission Time"] <= t1_ms:
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": t1_ms,
                                  "tag": props.get(LAYER_KEY),
                                  "site": (ev.get("Stage Infos") or [{}])[0].get("Stage Name", "?")}
    for ev in events:
        if ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]

    stage_tag: dict[int, str | None] = {}
    for ev in events:
        if ev["Event"] == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sub = info.get("Submission Time")
            if sub is not None and t0_ms <= sub <= t1_ms:
                stage_tag[info["Stage ID"]] = (ev.get("Properties") or {}).get(LAYER_KEY)

    per = defaultdict(lambda: defaultdict(float))
    busy_ms = 0.0
    for j in jobs.values():
        per[layer_of(j["tag"])]["jobs"] += 1
        per["tag:" + (j["tag"] or OTHER)]["jobs"] += 1
    for sid, tag in stage_tag.items():
        per[layer_of(tag)]["stages"] += 1
        per["tag:" + (tag or OTHER)]["stages"] += 1
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_tag:
            continue
        tag = stage_tag[ev["Stage ID"]]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        busy_ms += max(0.0, min(info["Finish Time"], t1_ms) - max(info["Launch Time"], t0_ms))
        for key in (layer_of(tag), "tag:" + (tag or OTHER)):
            d = per[key]
            d["tasks"] += 1
            d["task_s"] += m.get("Executor Run Time", 0) / 1e3
            d["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 2**20
            d["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            out = m.get("Output Metrics") or {}
            d["write_mb"] += out.get("Bytes Written", 0) / 2**20
            d["rows_written"] += out.get("Records Written", 0)

    total = defaultdict(float)
    for key, d in per.items():
        if not key.startswith("tag:"):
            for k, v in d.items():
                total[k] += v
    wall_ms = max(1e-9, t1_ms - t0_ms)
    covered = _union_ms([(j["start"], j["end"]) for j in jobs.values()], t0_ms, t1_ms)
    return {
        "other_sites": sorted({j["site"] for j in jobs.values() if layer_of(j["tag"]) == OTHER}),
        "total": dict(total),
        "per": {k: dict(v) for k, v in per.items()},
        "wall_s": wall_ms / 1e3,
        "driver_only_s": (wall_ms - covered) / 1e3,
        "core_idle_frac": max(0.0, 1.0 - busy_ms / (cores * wall_ms)),
        "py_residual_s": total["task_s"] - total["cpu_s"],
    }


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            covered += e - s
            end = e
        elif e > end:
            covered += e - end
            end = e
    return covered
