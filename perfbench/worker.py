"""One benchmark session: a fresh Spark process that sets up one workload,
runs its unit of work back to back for the requested seconds, checks every
unit's output, and writes a JSON result file.

Started by ``perfbench/run.py``; run by hand as
``python3 -m perfbench.worker --workload pip_tile --seed 1 --seconds 10
--trace 0 --out result.json --work .perfbench/w`` from the repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from osmi_water_spark import get_spark  # noqa: E402
from osmi_water_spark.functions import cells as C  # noqa: E402
from osmi_water_spark.operators import spatial_join as SJ  # noqa: E402
from osmi_water_spark.plans.pipeline import run_pipeline  # noqa: E402
from perfbench import checks as K  # noqa: E402
from perfbench import gen as G  # noqa: E402
from perfbench import trace as TR  # noqa: E402

# Sizes (see README.md for how they were chosen).
BULK_CHAINS = 2_500        # ~39k pages, checkpointed
WARM_CHAINS = 250          # the bulk warm-up run (~3.9k pages)
SMALL_CHAINS = 250         # ~4k pages per cached micro-batch
PIP_POINTS = 1_500_000     # ~7 s a unit: always two units in a 10 s run
PIP_AREAS = 18_000         # ~19.8k polygon parts
PIP_SAMPLE_MOD = 1_000     # 1 point in 1000 is checked against numpy
TILE_Z = 8
HEAP = "2g"
YOUNG = "512m"


class Workload:
    """Setup, a timed unit, and the unit's output check."""

    items_name = "items"

    def __init__(self, spark, seed: int, work: str, cores: int, tracer):
        self.spark, self.seed, self.work, self.cores, self.tracer = (
            spark, seed, work, cores, tracer)
        self.items = 0
        self.start()  # a unit that raises before its own start() still has a window
        self.stop()

    def tag(self, tag: str):
        return TR.tagged(self.spark, tag)

    def start(self) -> None:
        """Open the timed window (wall clock and event-log clock)."""
        self.t0, self.e0 = time.perf_counter(), time.time()
        self.calls0 = self.tracer.py4j_calls if self.tracer else 0

    def stop(self) -> None:
        self.t1, self.e1 = time.perf_counter(), time.time()
        self.calls1 = self.tracer.py4j_calls if self.tracer else 0

    def prepare(self) -> None: ...

    def unit(self, i: int) -> list[str]:
        """Run unit ``i`` (``-1`` is the warm-up) between ``start()`` and
        ``stop()``; returns the output check's mismatches."""
        raise NotImplementedError

    def after_unit(self) -> None:
        self.spark.catalog.clearCache()


class BulkCkpt(Workload):
    """Full run_pipeline, checkpointed to parquet, over one pages table."""

    items_name = "pages"

    def prepare(self) -> None:
        # the warm-up table holds the next chains (distinct ids), fewer of them
        self.tables = {}
        for name, first, n in (("pages", 0, BULK_CHAINS), ("warm", BULK_CHAINS, WARM_CHAINS)):
            path = os.path.join(self.work, name)
            G.pages_df(self.spark, self.seed, first, n, 2 * self.cores) \
                .write.mode("overwrite").parquet(path)
            self.tables[name] = (path, G.expected_counts(self.seed, first, n),
                                 G.expected_pages(self.seed, first, n))
        self.out_dir = os.path.join(self.work, "ckpt")

    def unit(self, i: int) -> list[str]:
        path, expected, self.items = self.tables["warm" if i < 0 else "pages"]
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.start()
        with self.tag(TR.INPUT_TAG):
            pages = self.spark.read.parquet(path)
        out = run_pipeline(self.spark, pages, out_dir=self.out_dir)
        self.stop()
        got = _collect_counts(K.count_queries(out), lambda t: self.tag(TR.CHECK_TAG))
        self.rows_out = _rows_by_stage(got)
        return K.compare_counts(got, expected)


class SmallCached(Workload):
    """Back-to-back cached-mode run_pipeline micro-batches over distinct
    chain (id) ranges; outputs are materialized by the check aggregates,
    which run concurrently inside the timed unit."""

    items_name = "pages"

    def unit(self, i: int) -> list[str]:
        first = (i + 1) * SMALL_CHAINS  # warm-up is i = -1: chains 0..
        with self.tag(TR.INPUT_TAG):
            pages = G.pages_df(self.spark, self.seed, first, SMALL_CHAINS, 2 * self.cores).cache()
            pages.count()
        self.items = G.expected_pages(self.seed, first, SMALL_CHAINS)
        self.start()
        out = run_pipeline(self.spark, pages, out_dir=None, with_lineage=False)
        self.leaf_wall = {}
        got = _collect_counts(K.count_queries(out), self._leaf_tag, self.leaf_wall)
        self.stop()
        self.rows_out = _rows_by_stage(got)
        bad = K.compare_counts(got, G.expected_counts(self.seed, first, SMALL_CHAINS))
        with self.tag(TR.CHECK_TAG):
            bad += K.oracle_parity(out, G.batch_entities(self.seed, first, SMALL_CHAINS))
        return bad

    def _leaf_tag(self, table: str):
        return self.tag("stage:" + ("tiles" if table.startswith("tile_") else table))


class PipTile(Workload):
    """The flagship operator: salted PIP join with lon/lat carried, tile id
    per pair, consumed by one aggregate (which is also the output check)."""

    items_name = "points"

    def prepare(self) -> None:
        self.areas = G.pip_areas(self.seed, PIP_AREAS)
        self.parts = self.spark.createDataFrame(G.pip_parts_pdf(self.areas))
        self.points = G.pip_points_df(self.spark, self.seed, PIP_POINTS, 4 * self.cores).cache()
        self.items = self.points.count()
        sample = self.points.filter(F.col("point_id") % PIP_SAMPLE_MOD == 0).toPandas()
        self.want = K.pip_sample_expected(
            self.areas, sample["point_id"].to_numpy(), sample["lon"].to_numpy(),
            sample["lat"].to_numpy(), TILE_Z)
        self.total_pairs = None

    def unit(self, i: int) -> list[str]:
        self.start()
        pairs = SJ.pip_join(self.points, self.parts, salt=4, carry_lonlat=True,
                            unique_points=True)
        out = pairs.select("point_id", "area_key", C.tile_id("lon", "lat", TILE_Z).alias("tile_id"))
        with self.tag(TR.PROBE_TAG):
            got = out.agg(*K.pip_signature_aggs(PIP_SAMPLE_MOD)).collect()[0].asDict()
        self.stop()
        self.pairs = got["pairs"]
        bad = K.compare_signature(got, self.want)
        if self.total_pairs is None:
            self.total_pairs = got["pairs"]
        elif got["pairs"] != self.total_pairs:
            bad.append(f"pairs: {got['pairs']} differs from the first unit's {self.total_pairs}")
        return bad

    def after_unit(self) -> None:
        pass  # the materialized points stay cached across units


WORKLOADS = {"bulk_ckpt": BulkCkpt, "small_cached": SmallCached, "pip_tile": PipTile}


def _collect_counts(queries: dict, tag_for, walls: dict | None = None) -> dict:
    """Run the per-table count aggregates concurrently, each tagged; the
    wall time of each goes to ``walls`` by table."""
    def one(item):
        table, df = item
        t = time.perf_counter()
        with tag_for(table):
            row = df.collect()[0].asDict()
        if walls is not None:
            walls[table] = time.perf_counter() - t
        return row

    got: dict = {}
    with ThreadPoolExecutor(max_workers=len(queries)) as ex:
        for d in ex.map(one, queries.items()):
            got.update(d)
    return got


def _rows_by_stage(got: dict) -> dict:
    return {"ways": got.get("ways"), "relations": got.get("relations"),
            "polygons": got.get("polygons"), "nodes": got.get("nodes")}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap pools of each pool's peak used bytes: an
    upper bound on the heap's peak use (the pools peak at different times)."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(p.getPeakUsage().getUsed()
               for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
               if p.getType().equals(heap)) / 2**20


def start_session(work: str, cores: int, traced: bool):
    work = os.path.abspath(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        # a fixed 2 GB heap (get_spark's default is an 8 GB ceiling) with a
        # fixed young generation (-Xms, -Xmn below): otherwise G1 sizes both
        # from GC timing, which moves run_s and peak_rss_mb from run to run
        # (see README.md). The heap is not pre-touched, so resident memory
        # grows only with the regions the heap really uses.
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -Xmn{YOUNG}",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="osmi-water-perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--deadline", type=float, default=None,
                    help="epoch seconds after which no new unit starts")
    ap.add_argument("--out", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))

    tracer = TR.Tracer() if args.trace else None
    if tracer:
        tracer.install()
    t = time.perf_counter()
    spark = start_session(args.work, cores, bool(args.trace))
    session_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](spark, args.seed, args.work, cores, tracer)
    t = time.perf_counter()
    with wl.tag(TR.INPUT_TAG):
        wl.prepare()
    inputs_s = time.perf_counter() - t
    t = time.perf_counter()
    with wl.tag("warmup"):
        warm_bad = wl.unit(-1)
    wl.after_unit()
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_PROCESS

    # the traced bulk_ckpt session ends with one more, timed run of the
    # small (warm-up) table: the second size of the fixed-cost fit
    fit_point = isinstance(wl, BulkCkpt) and tracer is not None
    units: list[dict] = []
    measured = 0.0
    while not units or measured < args.seconds:
        if units and args.deadline and (
                time.time() + units[-1]["run_s"] * (2 if fit_point else 1) > args.deadline):
            break
        if tracer:
            tracer.reset_unit()
        bad = _run_unit(wl, len(units))
        u = {"run_s": wl.t1 - wl.t0, "items": wl.items, "bad": bad}
        if tracer:
            u["trace"] = _unit_trace(wl, tracer)
        wl.after_unit()
        units.append(u)
        measured += u["run_s"]

    fit = None
    if fit_point:
        bad = _run_unit(wl, -1)
        fit = {"run_s": wl.t1 - wl.t0, "items": wl.items, "bad": bad}
        wl.after_unit()

    jvm_pid = spark.sparkContext._gateway.proc.pid
    heap_peak_mb = _jvm_heap_peak_mb(spark)
    py_rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm_rss_mb = _vm_hwm_mb(jvm_pid)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    result = {
        "workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
        "cores": cores, "session_s": session_s, "inputs_s": inputs_s, "warm_s": warm_s,
        "setup_s": setup_s, "warm_bad": warm_bad, "peak_rss_mb": py_rss_mb + jvm_rss_mb,
        "py_rss_mb": py_rss_mb, "jvm_rss_mb": jvm_rss_mb, "heap_peak_mb": heap_peak_mb,
        "items_name": wl.items_name, "units": units, "fit": fit,
    }
    if tracer:
        tracer.uninstall()
        events = TR.read_event_log(os.path.join(args.work, "eventlog", app_id))
        result["layers"] = _layers(events, units, cores)
        for u in units:
            del u["trace"]
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def _run_unit(wl: Workload, i: int) -> list[str]:
    try:
        return wl.unit(i)
    except Exception:  # a failed unit counts against fail_rate; go on
        traceback.print_exc()
        wl.stop()
        return ["unit raised " + traceback.format_exc().splitlines()[-1]]


def _unit_trace(wl: Workload, tracer: TR.Tracer) -> dict:
    """What the wrappers saw during one unit; counts the pip_join inputs
    and outputs afterwards (outside the timed window) for pairs/point."""
    pip_setup = sum(c["setup_s"] for c in tracer.pip_calls)
    if isinstance(wl, PipTile):
        points, pairs = wl.items, wl.pairs
    else:
        with wl.tag(TR.CHECK_TAG):
            points = sum(c["points"].count() for c in tracer.pip_calls)
            pairs = sum(c["pairs"].count() for c in tracer.pip_calls)
    walls = dict(tracer.stage_wall) or {
        ("tiles" if k.startswith("tile_") else k): v
        for k, v in getattr(wl, "leaf_wall", {}).items()}
    return {
        "window_ms": (wl.e0 * 1e3, wl.e1 * 1e3),
        "run_s": wl.t1 - wl.t0,
        "py4j_calls": wl.calls1 - wl.calls0,
        "stage_wall": walls,
        "rows_out": getattr(wl, "rows_out", {}),
        "pip_setup_s": pip_setup,
        "parts": sum(p for p, _ in tracer.cover),
        "cover_pairs": sum(c for _, c in tracer.cover),
        "pairs_per_point": pairs / points if points else 0.0,
    }


STAGES = ("entities", "ways_located", "ways", "relations", "polygons", "nodes", "tiles")


def _layers(events: list[dict], units: list[dict], cores: int) -> dict:
    """Per-unit layer metrics from the event log and the wrappers; the
    median over units of each."""
    per_unit, other_sites = [], set()
    for u in units:
        tr = u["trace"]
        s = TR.summarize(events, *tr["window_ms"], cores)
        tot, per = s["total"], s["per"]
        other_sites.update(s["other_sites"])

        def tag(t: str, k: str) -> float:
            return per.get("tag:" + t, {}).get(k, 0.0)

        m = {
            "trace.run_s": tr["run_s"],
            "pipeline.driver_only_s": s["driver_only_s"],
            "pipeline.py4j_calls": tr["py4j_calls"],
            "pipeline.jobs": tot.get("jobs", 0),
            "pipeline.stages": tot.get("stages", 0),
            "pipeline.tasks": tot.get("tasks", 0),
            "pipeline.core_idle_frac": s["core_idle_frac"],
            "pipeline.py_residual_s": s["py_residual_s"],
            "pipeline.shuffle_write_mb": tot.get("shuffle_mb", 0.0),
            "pipeline.spill_mb": tot.get("spill_mb", 0.0),
            "sink.write_mb": tot.get("write_mb", 0.0),
            "spatial_join.setup_s": tr["pip_setup_s"],
            "spatial_join.setup_jobs": tag(TR.SETUP_TAG, "jobs"),
            "spatial_join.parts": tr["parts"],
            "spatial_join.cover_pairs": tr["cover_pairs"],
            "spatial_join.task_s": tag(TR.SETUP_TAG, "task_s") + tag(TR.PROBE_TAG, "task_s"),
            "spatial_join.pairs_per_point": tr["pairs_per_point"],
            "other.jobs": per.get(TR.OTHER, {}).get("jobs", 0),
            "other.task_frac": (per.get(TR.OTHER, {}).get("task_s", 0.0)
                                / tot["task_s"] if tot.get("task_s") else 0.0),
        }
        for layer, d in per.items():
            if not layer.startswith("tag:"):
                m[f"layer.{layer}.task_s"] = d.get("task_s", 0.0)
        for st in STAGES:
            if not (tr["stage_wall"].get(st) or tag("stage:" + st, "jobs")):
                continue
            rows = tag("stage:" + st, "rows_written") or tr["rows_out"].get(st)
            m.update({
                f"stage.{st}.wall_s": tr["stage_wall"].get(st, 0.0),
                f"stage.{st}.jobs": tag("stage:" + st, "jobs"),
                f"stage.{st}.task_s": tag("stage:" + st, "task_s"),
                f"stage.{st}.cpu_s": tag("stage:" + st, "cpu_s"),
                f"stage.{st}.shuffle_mb": tag("stage:" + st, "shuffle_mb"),
            })
            if rows is not None:
                m[f"stage.{st}.rows_out"] = rows
        per_unit.append(m)
    keys = sorted({k for m in per_unit for k in m})
    return {
        "other_sites": sorted(other_sites),
        "median": {k: statistics.median(m.get(k, 0.0) for m in per_unit) for k in keys},
        "min": {k: min(m.get(k, 0.0) for m in per_unit) for k in keys},
        "max": {k: max(m.get(k, 0.0) for m in per_unit) for k in keys},
    }


if __name__ == "__main__":
    raise SystemExit(main())
