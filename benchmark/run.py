"""impresso_ta benchmark: the jobs a user of ``impresso_ta.cli`` runs, on
inputs generated from a seed, against one warm Spark session.

Run from the root of a checkout::

    python3 benchmark/run.py --workload import_mets_alto --seed 1 \
        --seconds 20 --trace 0

One driver process, one client, closed loop: one job at a time. The run
generates its input, starts the session (``get_spark`` +
``warm_python_workers``, timed as ``setup_s``), runs one untimed warm-up
job on an input an eighth of the size, then repeats the job until
``--seconds`` have passed (at least one timed job) and checks every
job's outputs.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates an
untraced job with a traced one (see ``tracing.py``) and prints the
per-layer metrics. The line before the last holds the run record (input
fingerprint, truths, environment, samples); the last line is the result.
Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

# no new job starts once a run has used this much wall time
_RUN_BUDGET_S = 150.0


def _parse(argv):
    p = argparse.ArgumentParser(prog="benchmark/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--scale", type=float, default=1.0, help="input size factor (tests)"
    )
    return p.parse_args(argv)


def _start_session(nproc: int, tmp: str):
    from impresso_ta.session import get_spark, warm_python_workers

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="impresso_ta-bench",
        master=f"local[{nproc}]",
        # the session module's sizing rule: shuffle partitions ~2x cores
        shuffle_partitions=2 * nproc,
        extra_confs={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process below it."""
    from pyspark import SparkContext

    from benchmark.probe import ProcTree

    tree = ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    pids = [tree.jvm_pid] + tree.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _environment(spark, nproc: int) -> dict:
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    confs = {
        k: v
        for k, v in sorted(sc.getConf().getAll())
        if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))
        or k in ("spark.python.worker.reuse", "spark.default.parallelism")
    }
    return {
        "nproc": nproc,
        "spark": sc.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "confs": confs,
    }


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "impresso_ta", "__init__.py")):
        print(
            "benchmark: no impresso_ta package here; run from the root of a "
            "checkout",
            file=sys.stderr,
        )
        return 2
    # the checkout root, not this directory, is the import root
    sys.path[0:1] = [root]
    from benchmark import probe, tracing
    from benchmark.jobs import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"benchmark: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench_dir = os.path.join(root, ".bench_work")
    work = os.path.join(bench_dir, args.workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the launcher JVM spark-submit starts would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    nproc = len(os.sched_getaffinity(0))
    w = WORKLOADS[args.workload](work, args.seed, args.scale)
    fingerprint = w.generate()
    # the warm-up job runs the same code on a small input: the
    # first job of a session pays one-time costs (JIT, codegen, worker
    # imports) mostly independent of input size
    warm = WORKLOADS[args.workload](
        os.path.join(work, "warmup"), args.seed, args.scale / 8
    )
    warm.generate()
    in_bytes = fingerprint["bytes"]

    spark = None
    try:
        spark, get_s, warm_s = _start_session(nproc, tmp)
        sc = spark.sparkContext
        tree = probe.ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        rest = probe.SparkRest(sc)

        attempted = failed = 0
        errors: list[str] = []

        def checked(fn, w=w) -> float:
            """Run one job (``fn`` writes ``w``'s outputs), check them; return
            its wall time."""
            nonlocal attempted, failed
            attempted += 1
            w.clean_output()
            t0 = time.perf_counter()
            try:
                fn()
            except Exception:  # noqa: BLE001 — a failed job is a counted result
                failed += 1
                errors.append(traceback.format_exc(limit=3))
                return time.perf_counter() - t0
            dt = time.perf_counter() - t0
            bad = w.check()
            if bad:
                failed += 1
                errors.append("; ".join(bad))
            return dt

        def run_job(w=w) -> float:
            return checked(lambda: w.job(spark), w)

        sc.setJobGroup("warmup", "warmup")
        warmup_s = run_job(warm)
        times: list[float] = []
        traced: list[dict] = []
        traced_s: list[float] = []
        spans: list[dict] = []
        t_loop = time.perf_counter()
        while True:
            t_iter = time.perf_counter()
            sc.setJobGroup(f"timed#{len(times)}", "timed")
            times.append(run_job())
            rss_mb = tree.sample_rss()
            if args.trace:
                tr = tracing.Tracer(spark, tree, len(traced))

                def traced_job():
                    with tr.span("job", parent=None):
                        tracing.TRACERS[args.workload](spark, w, tr)

                checked(traced_job)
                m = tracing.layer_metrics(tr, rest, nproc)
                if "sinks" in {s["name"] for s in tr.spans}:
                    files, written = tracing.sink_files(w.out_dir)
                    m["sinks.files_written"] = files
                    m["sinks.bytes_written"] = written
                traced.append(m)
                traced_s.append(tr.get("job")["busy_s"])
                spans += tr.spans
            now = time.perf_counter()
            if now - t_loop >= args.seconds:
                break
            if now - t_start + (now - t_iter) > _RUN_BUDGET_S:
                break

        job_s = statistics.median(times)
        if args.trace:
            names = tracing.PER_LAYER
            metrics = {
                n: statistics.median(m.get(n, 0.0) for m in traced)
                for n, _ in names
            }
            metrics["session.get_spark_s"] = get_s
            metrics["session.warm_workers_s"] = warm_s
            metrics["trace.overhead_s"] = statistics.median(traced_s) - job_s
            units = dict(names)
        else:
            metrics = {
                "setup_s": get_s + warm_s,
                "job_s": job_s,
                "throughput_mb_s": in_bytes / 1e6 / job_s,
                "peak_rss_mb": rss_mb,
                "stored_bytes_ratio": w.bytes_written() / in_bytes,
                "ok_share": (attempted - failed) / attempted,
            }
            units = {
                "setup_s": "s",
                "job_s": "s",
                "throughput_mb_s": "MB/s",
                "peak_rss_mb": "MB",
                "stored_bytes_ratio": "ratio",
                "ok_share": "ratio",
            }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "input": fingerprint,
            "truth": {k: v for k, v in w.truth.items() if not isinstance(v, list)},
            "environment": _environment(spark, nproc),
            "setup_s": [get_s, warm_s],
            "warmup_s": warmup_s,
            "job_samples_s": times,
            "traced_samples_s": traced_s,
            "failed_share": failed / attempted,
            "errors": errors,
            "state": w.state,
        }
    finally:
        if spark is not None:
            _shutdown(spark)

    results = os.path.join(bench_dir, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        with open(os.path.join(results, f"{stem}-spans.json"), "w") as fh:
            json.dump(spans, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
