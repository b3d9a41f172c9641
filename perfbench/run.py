"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workloads are listed in BENCHMARK.json;
``perfbench/NOTES.md`` says why each exists and which layer metric should
move which end-to-end metric. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it (``record: {...}``) stamps the run with host, versions,
seed and sample counts.

Everything the run writes (tables, spool files, checkpoints, Spark scratch,
the event log, the Spark/worker log, the span trace) lands under
``.bench_work/`` in the checkout.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3


def _source_id() -> str:
    """Commit of the checkout, or a digest of the engine sources when the
    checkout is not a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, check=True
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        h = hashlib.sha1()
        for dirpath, dirnames, filenames in sorted(os.walk(os.path.join(ROOT, "trike_spark"))):
            dirnames.sort()
            for name in sorted(f for f in filenames if f.endswith(".py")):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
        return "src-sha1:" + h.hexdigest()


def _prepare_env(work: str, trace: bool) -> None:
    """Environment the JVM and its Python workers inherit."""
    from perfbench.tracing import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    submit = ["--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        submit += event_log_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    worker daemons it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "trike_spark", "session.py")):
        print("perfbench: no trike_spark/ package next to perfbench/; run from a repository checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import batch, ingest
    from perfbench.common import Context
    from perfbench.tracing import StageLog, Tracer

    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    _prepare_env(work, trace)
    # Spark's and the Python workers' stderr (log4j, the pandas
    # FutureWarning flood of applyInPandasWithState) go to a log file.
    log_path = os.path.join(base, f"{args.workload}.log")
    console = os.fdopen(os.dup(2), "w", buffering=1)
    with open(log_path, "w") as log_fh:
        os.dup2(log_fh.fileno(), 2)
    sys.stderr = console
    os.chdir(work)

    load_start = os.getloadavg()
    tracer = Tracer(trace)
    from trike_spark.session import get_spark

    marks = {"imported": time.perf_counter()}
    try:
        setups, get_spark_s, spark = [], [], None
        for i in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            with tracer.span("setup", i=i):
                t0 = time.perf_counter()
                with tracer.span("get_spark"):
                    spark = get_spark("perfbench")
                t1 = time.perf_counter()
                spark.range(1).count()
                t2 = time.perf_counter()
            get_spark_s.append(t1 - t0)
            setups.append(t2 - t0)
        marks["set_up"] = time.perf_counter()
        ctx = Context(spark=spark, tracer=tracer, work=work, seed=args.seed, seconds=args.seconds)
        if args.workload == "ingest_live":
            result = ingest.run(ctx)
        else:
            result = batch.run(ctx)
        marks["measured"] = time.perf_counter()
        app_id, master = spark.sparkContext.applicationId, spark.sparkContext.master
        spark_version = spark.version
        spark.stop()
        if trace:
            log = StageLog(os.path.join(work, "eventlog"), app_id)
            for callback in ctx.after_stop:
                callback(log)
    except Exception:
        import traceback

        traceback.print_exc(file=console)
        print(f"perfbench: run failed; Spark log in {log_path}", file=console)
        return 1
    finally:
        _stop_jvm()
    marks["stopped"] = time.perf_counter()

    layers = dict(result.layers)
    if trace:
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["trace.drain_s"] = result.metrics["drain_s"]
        tracer.write(os.path.join(base, f"{args.workload}-trace.jsonl"))
    values = dict(result.metrics)
    values["setup_s"] = statistics.median(setups)
    if trace:
        chosen = spec["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in chosen}
    else:
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "source": _source_id(),
        "spark": spark_version,
        "python": sys.version.split()[0],
        "samples": result.samples,
        # wall seconds per phase: set-ups, workload (warm-up, timed
        # region, checks), shutdown
        "phases_s": {b: round(marks[b] - marks[a], 2) for a, b in zip(list(marks), list(marks)[1:])},
        "problems": result.problems,
        "not_exercised": sorted(m["name"] for m in spec["per_layer"] if m["name"] not in layers) if trace else [],
        "detail": ctx.detail,
    }
    with open(os.path.join(base, f"{args.workload}-record.json"), "w") as fh:
        json.dump({**record, "metrics": metrics}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("record: " + json.dumps({k: v for k, v in record.items() if k != "detail"}))
    out = {"correct": result.failed == 0, "attempted": result.attempted, "failed": result.failed, "metrics": metrics}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
