"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload enrich_images --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (see README.md). Inputs
are generated once per seed under ``.perfbench_state/cache``; every run
wipes ``.perfbench_state/work``. The last stdout line is the result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench_state")
WORK = os.path.join(STATE, "work", str(os.getpid()))

DRIVER_MEM_CAP_GB = 4
STARTED = time.perf_counter()

END_TO_END = {
    "job_s": "s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_row": "bytes",
    "task_success_rate": "ratio",
}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run prints."""
    import spans

    spec = [
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
        ("trace_overhead_s", "s", "lower"),
        ("trace.job_s", "s", "lower"),
        ("trace.untraced_job_s", "s", "lower"),
        ("trace.covered_share", "ratio", "higher"),
        ("trace.section_gap_s", "s", "lower"),
        ("error_rate", "ratio", "lower"),
        ("fixtures.world_s", "s", "lower"),
        ("functions.geotag_s", "s", "lower"),
        ("functions.rows", "count", "lower"),
        ("layers.map_s", "s", "lower"),
        ("layers.rows_out", "count", "lower"),
        ("layers.jobs", "count", "lower"),
        ("operators.dedup.s", "s", "lower"),
        ("operators.dedup.rows_in", "count", "lower"),
        ("operators.dedup.rows_out", "count", "lower"),
        ("operators.nested.s", "s", "lower"),
        ("operators.nested.polygons", "count", "lower"),
        ("operators.pip_join.cover_s", "s", "lower"),
        ("operators.pip_join.cover_rows", "count", "lower"),
        ("operators.pip_join.join_s", "s", "lower"),
        ("operators.pip_join.pairs", "count", "lower"),
        ("operators.pip_join.task_skew", "ratio", "lower"),
        ("operators.knn.s", "s", "lower"),
        ("operators.knn.shuffle_bytes", "bytes", "lower"),
        ("operators.knn.task_skew", "ratio", "lower"),
        ("operators.tiles.s", "s", "lower"),
        ("plans.checkpoint.s", "s", "lower"),
        ("plans.checkpoint.units", "count", "lower"),
        ("plans.checkpoint.units_recomputed", "count", "lower"),
        ("plans.checkpoint.unit_s_max", "s", "lower"),
        ("streaming.incremental.s", "s", "lower"),
        ("streaming.incremental.touched_cells", "count", "lower"),
        ("sinks.export_s", "s", "lower"),
        ("sinks.jobs", "count", "lower"),
        ("sinks.files", "count", "lower"),
        ("sinks.bytes", "bytes", "lower"),
        ("sinks.write_s", "s", "lower"),
        ("styles.load_s", "s", "lower"),
    ]
    units = {"task_s": "s", "idle_slot_s": "s", "spill_bytes": "bytes", "failed_tasks": "count"}
    for span in spans.SPAN_NAMES:
        spec += [(f"{span}.{f}", units[f], "lower") for f in spans.STAGE_FIELDS]
    return spec


def log(msg: str, **kv) -> None:
    print(f"perfbench [{time.perf_counter() - STARTED:.1f} s]: {msg} {json.dumps(kv, sort_keys=True) if kv else ''}", file=sys.stderr, flush=True)


def cpu_ticks() -> list[int]:
    """Aggregate CPU time counters of the host (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(ram_kb / 2**20, 1),
            "loadavg": os.getloadavg()}


def pin_env(trace_run: bool, host: dict) -> None:
    """Fix the program's environment: all cores, a driver heap that fits
    the host, workers that can import the package, scratch inside the
    checkout, and the status REST API only in traced runs."""
    mem_gb = max(1, min(DRIVER_MEM_CAP_GB, int(host["ram_gb"] // 4)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_UI": "true" if trace_run else "false",
        "SPARK_GRAFT_EXTRA_CONF": json.dumps({
            # the status store must hold every job of a run for the counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }),
    })


def source_key() -> str:
    """Digest of what cached inputs and the append base depend on: the
    program and the benchmark modules that generate, build and check them."""
    h = hashlib.sha1()
    paths = [os.path.join(HERE, f"{m}.py") for m in ("inputs", "oracle", "workloads", "base")]
    for top in ("pgosm_flex_spark", "jobs"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def wipe_stale_work() -> None:
    """Remove work dirs left by runs that are no longer alive."""
    top = os.path.join(STATE, "work")
    for name in os.listdir(top) if os.path.isdir(top) else []:
        if not (name.isdigit() and os.path.exists(f"/proc/{name}")):
            shutil.rmtree(os.path.join(top, name), ignore_errors=True)


# --------------------------------------------------------------------------
# sessions and process accounting
# --------------------------------------------------------------------------

def _passthrough(batches):
    yield from batches


def start_session():
    """JVM + SparkSession start, then one pandas task per core so every
    Python worker is spawned and has imported its libraries."""
    from pgosm_flex_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, cores * 256, 1, cores).mapInPandas(_passthrough, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def wait_descendants(timeout_s: float = 60.0) -> None:
    """Wait for every process this run started (JVMs, Python workers) to end."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.2)


class RssMonitor(threading.Thread):
    """Peak summed RSS of this process's descendants: the driver JVM and its
    Python workers."""

    def __init__(self, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop_event = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def run(self) -> None:
        while not self._stop_event.is_set():
            total = 0
            for p in descendants(os.getpid()):
                try:
                    with open(f"/proc/{p}/statm") as f:
                        total += int(f.read().split()[1]) * self._page_kb
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_kb = max(self.peak_kb, total)
            self._stop_event.wait(self.interval_s)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_kb / 1024.0


def _settled_job_ids(sc, timeout_s: float = 30.0) -> set[int]:
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    last = None
    while True:
        ids = set(st.getJobIdsForGroup())
        if ids == last and not st.getActiveJobsIds():
            return ids
        if time.monotonic() > deadline:
            return ids
        last = ids
        time.sleep(0.3)


def task_counts(sc, job_ids) -> tuple[int, int]:
    """(launched, failed) task attempts over the stages of ``job_ids``."""
    st = sc.statusTracker()
    stages = set()
    for jid in job_ids:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    launched = failed = 0
    for sid in stages:
        s = st.getStageInfo(sid)
        if s is not None:
            launched += s.numCompletedTasks + s.numFailedTasks
            failed += s.numFailedTasks
    return launched, failed


# --------------------------------------------------------------------------
# measurement
# --------------------------------------------------------------------------

def measure(spark, wl, seconds: float, traced: bool, setup: tuple[float, float]) -> dict:
    """Closed loop, one client: jobs back to back, each checked, until
    ``seconds`` have passed, at least one. The first job is cold."""
    import oracle
    import spans

    sc = spark.sparkContext
    before = _settled_job_ids(sc)
    monitor = RssMonitor()
    monitor.start()
    jobs = []
    deadline = time.perf_counter() + seconds
    while True:
        out = os.path.join(WORK, f"out{len(jobs)}")
        wl.reset(out)
        rec = {"ok": False, "problems": []}
        tracer = spans.Tracer(spark, f"{os.getpid()}-{len(jobs)}", wl.consumed) if traced else None
        t0 = time.perf_counter()
        try:
            if tracer:
                with tracer.patched(), tracer.span(spans.ROOT):
                    info = wl.run_job(spark, out)
            else:
                info = wl.run_job(spark, out)
            rec["job_s"] = time.perf_counter() - t0
            log("job ran", job_s=rec["job_s"])
            rec["problems"] = wl.check(out, info)
            _, size = oracle.tree_bytes(out)
            rec["stored_bytes_per_row"] = size / wl.rows
            if tracer:
                rec["layers"] = traced_job_metrics(spark, wl, tracer, out, info, rec["job_s"], setup)
        except Exception as e:  # a failed job is counted, not fatal
            traceback.print_exc()
            rec["problems"].append(f"job raised {e!r}")
        finally:
            if tracer:
                tracer.release()
        rec["ok"] = not rec["problems"]
        log("job", n=len(jobs), job_s=rec.get("job_s"), problems=rec["problems"][:10])
        jobs.append(rec)
        shutil.rmtree(out, ignore_errors=True)
        if time.perf_counter() >= deadline:
            break
    peak = monitor.stop()
    launched, failed = task_counts(sc, _settled_job_ids(sc) - before)
    return {"jobs": jobs, "peak_rss_mb": peak, "launched": launched, "failed_tasks": failed}


def traced_job_metrics(spark, wl, tracer, out: str, info: dict, job_s: float, setup) -> dict:
    import oracle
    import spans

    cores = spark.sparkContext.defaultParallelism
    stages = spans.stage_metrics(
        spans.StatusApi(spark.sparkContext), tracer, {"operators.pip_join.join", "operators.knn"}
    )
    m = spans.layer_metrics(tracer, stages, cores)
    files, size = oracle.tree_bytes(out)
    pfiles, psize = oracle.tree_bytes(os.path.join(out, "image_place_pairs"))
    gaps = spans.section_gaps(tracer, info.get("sections", {}))
    launched = sum(s["launched_tasks"] for s in stages.values())
    m.update({
        "session.start_s": setup[0],
        "session.warm_s": setup[1],
        "trace.job_s": job_s,
        "trace.section_gap_s": max((abs(v) for v in gaps.values()), default=0.0),
        "error_rate": sum(s["failed_tasks"] for s in stages.values()) / max(1, launched),
        "plans.checkpoint.unit_s_max": wl.unit_s_max(out, info) if hasattr(wl, "unit_s_max") else 0.0,
        "sinks.files": files - pfiles,
        "sinks.bytes": size - psize,
    })
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    spans.dump(
        os.path.join(STATE, "traces", f"{wl.name}-{tracer.tag}.json"), tracer, stages,
        {"metrics": m, "manifest_sections": info.get("sections", {}), "section_gaps": gaps},
    )
    return m


def _result(runs: list[dict], metrics: dict[str, float], units: dict[str, str]) -> dict:
    jobs = [j for r in runs for j in r["jobs"]]
    return {
        "correct": all(j["ok"] for j in jobs),
        "attempted": len(jobs),
        "failed": sum(1 for j in jobs if not j["ok"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def plain_run(wl, seconds: float) -> dict:
    """One cold set-up (JVM launch + worker warm-up), as a user pays it when
    launching the job, then the measured jobs."""
    spark, start_s, warm_s = start_session()
    log("setup", start_s=start_s, warm_s=warm_s)
    try:
        run = measure(spark, wl, seconds, traced=False, setup=(start_s, warm_s))
    finally:
        stop_session(spark)
        log("session stopped")
    done = [j for j in run["jobs"] if "job_s" in j]
    if not done:
        raise SystemExit("perfbench: no job completed")
    failed_jobs_tasks = 0 if all(j["ok"] for j in run["jobs"]) else run["launched"]
    metrics = {
        "job_s": statistics.median(j["job_s"] for j in done),
        "rows_per_s": statistics.median(wl.rows / j["job_s"] for j in done),
        "setup_s": start_s + warm_s,
        "peak_rss_mb": run["peak_rss_mb"],
        "stored_bytes_per_row": statistics.median(j["stored_bytes_per_row"] for j in done),
        "task_success_rate": 1.0 - max(run["failed_tasks"], failed_jobs_tasks) / max(1, run["launched"]),
    }
    return _result([run], metrics, END_TO_END)


def traced_run(wl, args) -> dict:
    """The untraced reference runs first in a child process (its own JVM, so
    both sides start equally cold); then one session runs the traced jobs."""
    child = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=600,
    )
    plain = json.loads(child.stdout.strip().splitlines()[-1])
    spark, start_s, warm_s = start_session()
    try:
        run = measure(spark, wl, args.seconds, traced=True, setup=(start_s, warm_s))
    finally:
        stop_session(spark)
    traced_jobs = [j for j in run["jobs"] if "layers" in j]
    if not traced_jobs:
        raise SystemExit("perfbench: no traced job completed")
    spec = per_layer_spec()
    metrics = {
        name: statistics.median(j["layers"].get(name, 0.0) for j in traced_jobs)
        for name, _, _ in spec if name not in ("trace_overhead_s", "trace.untraced_job_s")
    }
    metrics["trace.untraced_job_s"] = plain["metrics"]["job_s"]["value"]
    metrics["trace_overhead_s"] = metrics["trace.job_s"] - metrics["trace.untraced_job_s"]
    result = _result([run], metrics, {name: unit for name, unit, _ in spec})
    result["correct"] = result["correct"] and plain["correct"]
    result["attempted"] += plain["attempted"]
    result["failed"] += plain["failed"]
    return result


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "pgosm_flex_spark"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "import_job.py"))):
        log("the program (pgosm_flex_spark/, jobs/import_job.py) is not in", root=ROOT)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log("unknown workload", workload=args.workload, known=sorted(workloads.WORKLOADS))
        return 2
    wipe_stale_work()
    host = host_info()
    ticks = cpu_ticks()
    pin_env(bool(args.trace), host)
    cache = os.path.join(STATE, "cache", source_key())
    os.makedirs(cache, exist_ok=True)
    log("preparing inputs")
    wl = workloads.WORKLOADS[args.workload](ROOT, cache, args.seed)
    log("start", workload=args.workload, seed=args.seed, trace=args.trace, host=host,
        driver_mem=os.environ["SPARK_GRAFT_DRIVER_MEM"], inputs=wl.describe())
    try:
        result = traced_run(wl, args) if args.trace else plain_run(wl, args.seconds)
    finally:
        wait_descendants()
        shutil.rmtree(WORK, ignore_errors=True)
    log("end", loadavg=os.getloadavg(), steal=steal_share(ticks, cpu_ticks()))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
