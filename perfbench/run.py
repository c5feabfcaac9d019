"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdc_queue_merge --seed 1 \\
        --seconds 6 --trace 0

Run from the repository root. One local Spark session (``local[nproc]``)
in this process builds the workload's inputs from ``--seed`` and warms
up (set-up), then runs closed-loop passes until ``--seconds`` seconds
of pass wall are measured, checking every pass against its DuckDB
oracle outside the timed region. ``--trace 1`` alternates untraced and
traced passes: the traced ones give the per-layer metrics, the
difference of the two medians the tracing overhead, and the spans are
written to ``.perfbench_out/``. The last stdout line is the JSON result; the line
before it is an audit record (environment, contention sentinel, sample
counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

MAX_RUN_S = 120  # no pass starts later than this after session start

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cycle_p50_s": "s",
    "peak_rss_mb": "MB",
}


def _isolate(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python
    temp files) inside ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark"
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    time.tzset()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark, jvm_pid: int) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    each to exit."""
    import procfs
    from pyspark import SparkContext

    workers = procfs.descendants(procfs.process_table(), jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers | {jvm_pid}):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    try:
        import bench  # the repo's harness: contention sentinel helpers
        from migrator_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    import gen
    import layers
    import procfs
    import spans
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    seed = gen.DEFAULT_SEED if args.seed is None else args.seed
    work = os.path.abspath(f".perfbench_work/{args.workload}-{os.getpid()}")
    _isolate(work)
    nproc = os.cpu_count() or 1
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    jvm = spark.sparkContext._jvm
    jvm_pid = int(jvm.ProcessHandle.current().pid())
    session_s = time.perf_counter() - t0
    versions = {"spark": spark.version, "java": str(jvm.System.getProperty("java.version"))}

    def cpu_probe():
        s = procfs.cpu_sample(jvm_pid)
        return (s.driver_s, s.jvm_s, s.pyworkers_s)

    attempted = failed = 0
    errors: list[str] = []
    try:
        wl = workloads.make(args.workload, spark, f"{work}/data", seed, args.scale)
        t = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        wl.expected()
        # the fixed micro-job of the contention sentinel, taken once the
        # JVM is warm (its first reading is excluded from the sentinel's
        # rules either way) and again after the timed loop
        calib = [bench._calibration_wall(spark)]
        setup_s = time.perf_counter() - t0  # session start to the first timed pass

        tracer = spans.Tracer(spark, cpu_probe) if args.trace else None
        plain, traced = [], []  # passes
        measured = 0.0
        while (
            measured < args.seconds or (tracer is not None and not traced)
        ) and time.perf_counter() - t0 < MAX_RUN_S:
            use = tracer is not None and len(plain) > len(traced)
            bench._gc_barrier(spark)  # every pass starts from a collected heap
            if use:
                tracer.run += 1
                tracer.install()
            try:
                p = wl.run_pass(tracer if use else None)
            except Exception:  # noqa: BLE001 - a failed pass is a result, not a crash
                attempted += 1
                failed += 1
                errors.append(traceback.format_exc(limit=3))
                break
            finally:
                if use:
                    tracer.uninstall()
            measured += p.wall_s
            (traced if use else plain).append(p)
            bad = wl.check(p)
            attempted += p.calls
            failed += min(len(bad), p.calls)
            errors += bad
        calib.append(bench._calibration_wall(spark))
        rss = procfs.peak_rss_mb([os.getpid(), jvm_pid])
    finally:
        _stop(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    if not plain or (args.trace and not traced):
        print("perfbench: no pass completed\n" + "".join(errors), file=sys.stderr)
        return 1
    cycles = [x for p in plain for x in p.cycle_s]
    wall_s = stats.median([p.wall_s for p in plain])
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": stats.median([p.rows / p.wall_s for p in plain]),
        "cycle_p50_s": stats.median(cycles),
        "peak_rss_mb": rss,
    }
    audit = {
        "workload": args.workload,
        "seed": seed,
        "op": wl.op,
        "loop": "closed, one runner thread",
        "nproc": nproc,
        **versions,
        "session_s": session_s,
        "build_s": build_s,
        "warmup_s": warmup_s,
        "passes": len(plain),
        "rows_per_pass": plain[0].rows if plain else None,
        "wall": stats.summary([p.wall_s for p in plain]),
        "cycles": stats.summary(cycles),
        "sentinel": bench.sentinel_fields([load_start[0], os.getloadavg()[0]], calib, nproc),
        "errors": errors[:5],
    }
    if tracer is not None:
        per = layers.per_layer(tracer.spans, len(traced), traced[0].rows, nproc)
        per["trace.overhead_s"] = stats.median([p.wall_s for p in traced]) - wall_s
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k][0]} for k, v in per.items()}
        out_dir = os.path.abspath(".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = f"{out_dir}/{args.workload}-seed{seed}-spans.json"
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in tracer.spans], f, default=list)
        audit["spans"] = path
        audit["trace_passes"] = len(traced)
        for guard in layers.guard_failures(per):
            failed += 1
            audit["errors"].append(guard)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps(audit, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
