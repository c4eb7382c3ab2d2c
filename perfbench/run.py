"""The benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the inputs from ``--seed`` (``datagen.py``), starts the engine
on a host-sized local Spark session, runs one workload of
``workloads.WORKLOADS`` for ``--seconds`` of measurement, checks every
op's output, and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the engine's layer entry points are wrapped with spans
(``spans.py``) and the metrics are the per-layer ones. The line before
it is the run's full record (host facts, every end-to-end metric of each
phase, per-op figures); it is also written to
``.perfbench_work/results/``, where ``compare.py`` reads it.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: its inputs (removed at exit), the engine's scratch stores,
Spark's local dirs, temp files and the results.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def host_env() -> dict:
    """Fit the engine to this host through the variables it already
    reads: cores, driver heap (a quarter of physical RAM, at most 4 GiB;
    ``session.py`` would default to 32g), and local/scratch/temp dirs
    inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gb = max(1, min(4, int(ram / 4 / 2**30)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "EKATI_SCRATCH_ROOT": os.path.join(WORK, "scratch"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "EKATI_SCRATCH_ROOT", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return {"nproc": cpus, "ram_gib": round(ram / 2**30, 2), **env}


def peak_rss_mb(exclude: set[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of this process and its
    live descendants -- the driver JVM and its Python workers -- with the
    load generator excluded. Read once, while the session still runs, so
    nothing samples during the measurement."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    me, total = os.getpid(), 0
    for pid in parent:
        p = pid
        while p not in (me, 0, 1) and p in parent and p not in exclude:
            p = parent[p]
        if p != me or pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += sum(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, ValueError):
            continue
    return total / 1024


def versions(spark) -> dict:
    import duckdb

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except OSError:
        sha = None
    return {"git_sha": sha, "spark": spark.version, "python": platform.python_version(),
            "duckdb": duckdb.__version__}


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="ekati_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import ekati_spark.queries  # noqa: F401 -- the program under test
        import oracle  # noqa: F401 -- needs tools/verify_local.py
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from a full checkout",
              file=sys.stderr)
        return 2
    import datagen
    import report
    import workloads as WL

    if a.workload not in WL.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WL.WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WL.WORKLOADS[a.workload]
    phases = wl.phases

    host = host_env()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pool = ThreadPoolExecutor(max_workers=1)
    spark = None
    try:
        data_dir = os.path.join(run_dir, "data")
        rows = datagen.write(data_dir, WL.SF, a.seed)
        if "batch" in phases:
            oracles = pool.submit(WL.batch_oracles, data_dir, wl.queries)

        from ekati_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        tracer = probe = None
        if a.trace:
            import spans

            tracer, probe = spans.Tracer(), spans.SparkProbe(spark)
            spans.install(tracer, probe)
        run = WL.Run(spark, data_dir, run_dir, a.seed, a.seconds, tracer, probe)

        base = WL.base_graph(run.rng)
        state, setup_times = WL.setup(run, phases, base)
        raw = {"setup_times": setup_times, "session_s": session_s}
        if "dsl" in phases or "putget" in phases:
            raw["serving"] = WL.serving(run, wl, state, base, rows["customer"])
        if "batch" in phases:
            raw["batch"] = WL.batch(run, wl.queries, state, oracles)
        if tracer:
            tracer.restore()
        peak_mb = peak_rss_mb(run.exclude_pids)

        record = report.record(a, host, versions(spark), rows, raw, peak_mb, tracer)
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time())}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if tracer:
        tracer.dump(stem + ".spans.jsonl")
    print(json.dumps(record))
    print(json.dumps(report.result_line(record, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
