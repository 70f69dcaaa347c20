"""The repository benchmark.

    python3 perfbench/run.py --workload {bulk_ckpt,small_cached,pip_tile,all}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each session is a fresh Spark process on
local[nproc] (``perfbench/worker.py``). ``--trace 0`` runs one untraced
session and reports the end-to-end metrics; ``--trace 1`` runs an untraced
and then a traced session and reports the per-layer metrics plus the
tracing overhead. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("bulk_ckpt", "small_cached", "pip_tile")
BUDGET_S = 165  # per workload, both sessions included

END_TO_END = {"setup_s": "s", "run_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "jvm.heap_peak_mb": "MB",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "pipeline.driver_only_s": "s",
    "pipeline.py4j_calls": "count",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.core_idle_frac": "frac",
    "pipeline.py_residual_s": "s",
    "pipeline.shuffle_write_mb": "MB",
    "spatial_join.setup_s": "s",
    "spatial_join.setup_jobs": "count",
    "spatial_join.parts": "count",
    "spatial_join.cover_pairs": "count",
    "spatial_join.task_s": "s",
    "spatial_join.pairs_per_point": "ratio",
    "other.task_frac": "frac",
}


class WorkerFailed(RuntimeError):
    pass


def log(msg: str) -> None:
    print(msg, flush=True)


def describe() -> dict:
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    try:
        jv = subprocess.run([java, "-version"], capture_output=True, text=True,
                            timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        jv = "unknown"
    try:
        import pyspark

        pv = pyspark.__version__
    except ImportError:
        pv = "missing"
    return {"nproc": len(os.sched_getaffinity(0)), "pyspark": pv, "java": jv,
            "python": sys.version.split()[0]}


def cpu_jiffies() -> list[int]:
    """The machine's CPU time by state (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _reap(pgid: int, grace_s: float = 20.0) -> None:
    """Wait until every process of the session's group has ended; kill
    what is left after ``grace_s``."""
    deadline = time.time() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.time() > deadline:
            os.killpg(pgid, sig)
            sig = signal.SIGKILL
            deadline = time.time() + 5.0
        time.sleep(0.2)


def run_worker(workload: str, seed: int, seconds: float, trace: int, deadline: float) -> dict:
    work = os.path.join(WORK, f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--deadline", str(deadline), "--out", out, "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time() + 45))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        _reap(proc.pid)
    try:
        if proc.returncode != 0:
            raise WorkerFailed(f"{workload} session exited with {proc.returncode}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(res: dict) -> dict:
    runs = [u["run_s"] for u in res["units"]]
    rates = [u["items"] / u["run_s"] for u in res["units"]]
    return {
        "setup_s": res["setup_s"],
        "run_s": statistics.median(runs),
        "items_per_s": statistics.median(rates),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def checked(res: dict) -> list[list[str]]:
    """The check mismatches of every unit a session ran: the warm-up, the
    measured units and the fit point."""
    return ([res["warm_bad"]] + [u["bad"] for u in res["units"]]
            + ([res["fit"]["bad"]] if res.get("fit") else []))


def tally(*results: dict) -> tuple[int, int]:
    attempted = sum(len(checked(r)) for r in results)
    failed = sum(1 for r in results for bad in checked(r) if bad)
    return attempted, failed


def report_untraced(workload: str, res: dict) -> dict:
    m = end_to_end(res)
    runs = [u["run_s"] for u in res["units"]]
    attempted, failed = tally(res)
    items = res["units"][0]["items"]
    log(f"[{workload}] setup_s      {m['setup_s']:.3f} s  (session {res['session_s']:.2f} s, "
        f"inputs {res['inputs_s']:.2f} s, warm-up {res['warm_s']:.2f} s)")
    log(f"[{workload}] run_s        {m['run_s']:.3f} s  median of n={len(runs)} "
        f"(min {min(runs):.3f}, max {max(runs):.3f})")
    log(f"[{workload}] items_per_s  {m['items_per_s']:.1f} {res['items_name']}/s  "
        f"at {items} {res['items_name']} per unit")
    log(f"[{workload}] peak_rss_mb  {m['peak_rss_mb']:.1f} MB  (high-water: driver Python "
        f"{res['py_rss_mb']:.1f} MB + JVM {res['jvm_rss_mb']:.1f} MB; JVM heap pools' "
        f"peak used {res['heap_peak_mb']:.1f} MB)")
    log(f"[{workload}] fail_rate    {failed / attempted:.3f}  ({failed} of {attempted} units, "
        "warm-up included)")
    for i, u in enumerate(res["units"]):
        if u["bad"]:
            log(f"[{workload}] unit {i} check failed: {'; '.join(u['bad'][:5])}")
    if res["warm_bad"]:
        log(f"[{workload}] warm-up check failed: {'; '.join(res['warm_bad'][:5])}")
    return m


def report_traced(workload: str, plain: dict, traced: dict) -> dict:
    lay = traced["layers"]
    med, lo, hi = lay["median"], lay["min"], lay["max"]
    base = end_to_end(plain)["run_s"]
    m = dict(med)
    m["session.start_s"] = traced["session_s"]
    m["jvm.heap_peak_mb"] = traced["heap_peak_mb"]
    m["trace.overhead_s"] = med["trace.run_s"] - base
    log(f"[{workload}] traced run_s {med['trace.run_s']:.3f} s vs untraced {base:.3f} s: "
        f"tracing overhead {m['trace.overhead_s']:+.3f} s")
    for k in sorted(med):
        spread = f"  (min {lo[k]:.4g}, max {hi[k]:.4g})" if lo[k] != hi[k] else ""
        log(f"[{workload}] {k:<40} {m[k]:.6g}{spread}")
    log(f"[{workload}] other: {med.get('other.jobs', 0):.0f} untagged jobs, "
        f"{100 * med.get('other.task_frac', 0):.2f}% of task time"
        + (f", from: {'; '.join(lay['other_sites'])}" if lay["other_sites"] else ""))
    return m


def print_fit(workload: str, res: dict, run_s: float) -> None:
    """Fixed cost and marginal throughput from two sizes run in the same
    (traced) session and mode: the bulk table (median ``run_s``) and the
    small checkpointed table timed after it. Informative, not gated."""
    if not res.get("fit"):
        return
    n1, t1 = res["fit"]["items"], res["fit"]["run_s"]
    n2, t2 = res["units"][0]["items"], run_s
    if t2 <= t1:
        log(f"[fit] not derivable: {n1} pages took {t1:.3f} s, {n2} pages {t2:.3f} s")
        return
    slope = (t2 - t1) / (n2 - n1)
    log(f"[fit] fixed cost {t1 - slope * n1:.3f} s, marginal {1 / slope:.0f} pages/s "
        f"({workload}, checkpointed: {n1} pages {t1:.3f} s, {n2} pages {t2:.3f} s)")


def run_one(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, int, int]:
    t0 = time.time()
    # with --trace 1 the untraced session gets under half the budget: the
    # traced one sets up more slowly and parses the event log at the end
    plain_deadline = t0 + (BUDGET_S * 0.45 if trace else BUDGET_S)
    plain = run_worker(workload, seed, seconds, 0, plain_deadline)
    metrics = report_untraced(workload, plain)
    results = [plain]
    if trace:
        traced = run_worker(workload, seed, seconds, 1, t0 + BUDGET_S)
        results.append(traced)
        layer = report_traced(workload, plain, traced)
        print_fit(workload, traced, layer["trace.run_s"])
        metrics = {k: layer[k] for k in PER_LAYER}
        units = dict(PER_LAYER)
    else:
        units = dict(END_TO_END)
    attempted, failed = tally(*results)
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "osmi_water_spark", "__init__.py")):
        print(f"perfbench: no osmi_water_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    info = describe()
    log(f"[host] nproc {info['nproc']}, pyspark {info['pyspark']}, {info['java']}, "
        f"python {info['python']}, loadavg start {os.getloadavg()}")
    jiffies0 = cpu_jiffies()

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    metrics, attempted, failed = {}, 0, 0
    try:
        for w in names:
            m, a, f = run_one(w, args.seed, args.seconds, args.trace)
            metrics.update({(f"{w}.{k}" if args.workload == "all" else k): v
                            for k, v in m.items()})
            attempted, failed = attempted + a, failed + f
    except WorkerFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    busy = [b - a for a, b in zip(jiffies0, cpu_jiffies())]
    log(f"[host] loadavg end {os.getloadavg()}, CPU time stolen by the hypervisor "
        f"{100 * busy[7] / max(1, sum(busy)):.1f}%")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
