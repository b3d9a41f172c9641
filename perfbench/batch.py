"""The ``batch`` workload: passes over registry faces, each face timed as
``QuerySpec.fn`` (plan building, including the eager checkpoint jobs of
the iterative operators) plus ``collect()``, and checked against the
expected value-hash outside the timer."""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import tables
from perfbench.common import Result, nearest_rank
from tools.check_correctness import value_hash

SF = 0.01

# One pass runs both kinds of face, so a change to either shows in the
# pass time, and the traced run times each face on its own.
# Faces whose time goes to driver-side loops: checkpoint barriers,
# convergence probes, many small jobs: the connected-components loop
# (operators/graph.py) and a round-10 checkpoint-barrier rewrite.
ITERATIVE = ["dedup_cluster_canonical", "agg_pareto_revenue_share"]
# Faces whose time goes to collect(): scan, shuffle, codegen and
# built-in functions (the CloudEvent projection), in a few jobs each.
SCAN = ["q5_revenue_by_nation", "trike_cloud_event_project"]
FACES = ITERATIVE + SCAN
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected() -> dict[str, str]:
    with open(EXPECTED_PATH) as fh:
        data = json.load(fh)
    if data["sf"] != SF or data["content_seed"] != tables.CONTENT_SEED:
        raise ValueError("expected.json was made for other tables; rerun perfbench/expected.py")
    return data["faces"]


def run(ctx) -> Result:
    from trike_spark.cache import release_checkpoints
    from trike_spark.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    expected = load_expected()
    sf_dir = os.path.join(ctx.work, "tables")
    tables.write_tables(sf_dir, SF, order_seed=ctx.seed)
    spark, tracer = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    status = sc.statusTracker()

    passes: list[dict] = []
    failed = attempted = 0
    problems: list[str] = []

    def one_pass(pass_no: int) -> dict:
        nonlocal failed, attempted
        rec = {"faces": {}, "build_s": 0.0, "collect_s": 0.0, "release_s": 0.0}
        with tracer.span("pass", pass_no=pass_no):
            for face in FACES:
                group = f"pass{pass_no}-{face}"
                sc.setJobGroup(group, face)
                with tracer.span("face", face=face, pass_no=pass_no):
                    t0 = time.perf_counter()
                    ok = True
                    try:
                        with tracer.span("fn"):
                            df = REGISTRY[face].fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tracer.span("collect"):
                            rows = df.collect()
                        t2 = time.perf_counter()
                        cols = df.columns
                    except Exception as exc:  # a failing face is a failed operation, not a crash
                        t1 = t2 = time.perf_counter()
                        ok, cols, rows = False, [], []
                        problems.append(f"{face}: {type(exc).__name__}: {str(exc)[:200]}")
                    with tracer.span("release_checkpoints"):
                        release_checkpoints()
                    t3 = time.perf_counter()
                sc.setJobGroup("", "")
                jobs = status.getJobIdsForGroup(group)
                stages = [s for j in jobs if (info := status.getJobInfo(j)) for s in info.stageIds]
                tasks = sum(si.numTasks for s in stages if (si := status.getStageInfo(s)))
                if ok and value_hash(cols, [tuple(r) for r in rows]) != expected[face]:
                    ok = False
                    problems.append(f"{face}: value-hash differs from the oracle's")
                attempted += 1
                failed += not ok
                rec["faces"][face] = {"s": t2 - t0, "t0": t0, "t2": t2, "jobs": len(jobs), "stages": len(stages),
                                      "tasks": tasks}  # fmt: skip
                rec["build_s"] += t1 - t0
                rec["collect_s"] += t2 - t1
                rec["release_s"] += t3 - t2
        rec["pass_s"] = sum(f["s"] for f in rec["faces"].values())
        return rec

    one_pass(0)  # warm-up: JIT, Python workers, file listing caches
    timed_start = time.perf_counter()
    n = 1
    while True:
        passes.append(one_pass(n))
        n += 1
        if time.perf_counter() - timed_start >= ctx.seconds:
            break

    lat = sorted(f["s"] for p in passes for f in p["faces"].values())
    pass_s = [p["pass_s"] for p in passes]
    metrics = {
        "latency_p50_s": statistics.median(lat),
        "latency_p99_s": nearest_rank(lat, 0.99),
        "drain_s": statistics.median(pass_s),
    }
    layers = {}
    if tracer.enabled:
        layers = _layers(ctx, passes)
    return Result(
        attempted=attempted,
        failed=failed,
        metrics=metrics,
        layers=layers,
        samples={"passes": len(passes), "face_runs": len(lat)},
        problems=problems,
    )


def _layers(ctx, passes: list[dict]) -> dict:
    """Per-layer numbers for a traced run: medians over the timed passes."""
    med = statistics.median
    out = {
        "queries.build_s": med(p["build_s"] for p in passes),
        "exec.collect_s": med(p["collect_s"] for p in passes),
        "cache.release_s": med(p["release_s"] for p in passes),
        "spark.jobs": med(sum(f["jobs"] for f in p["faces"].values()) for p in passes),
        "spark.stages": med(sum(f["stages"] for f in p["faces"].values()) for p in passes),
        "spark.tasks": med(sum(f["tasks"] for f in p["faces"].values()) for p in passes),
    }
    for face in FACES:
        out[f"queries.{face}_s"] = med(p["faces"][face]["s"] for p in passes)
    ctx.after_stop.append(lambda log: _stage_layers(ctx, log, passes, out))
    ctx.detail["faces"] = {
        face: {k: passes[-1]["faces"][face][k] for k in ("jobs", "stages", "tasks")} for face in FACES
    }
    return out


def _stage_layers(ctx, log, passes: list[dict], out: dict) -> None:
    from perfbench.tracing import stage_totals

    off = ctx.tracer.wall_offset
    per_pass = []
    for p in passes:
        # fn + collect intervals only: release and the hash check are outside the pass time
        per_face = [stage_totals(log, f["t0"] + off, f["t2"] + off) for f in p["faces"].values()]
        per_pass.append({k: sum(pf[k] for pf in per_face) for k in per_face[0]})
    for key in per_pass[0]:
        if key in ("jobs", "stages", "tasks"):
            continue  # counted exactly per job group above
        out[f"spark.{key}"] = statistics.median(pp[key] for pp in per_pass)
    # stage intervals become child spans of the call they ran under
    calls = [s for s in ctx.tracer.spans if s["name"] in ("fn", "collect", "release_checkpoints")]
    for sid, st in log.stages.items():
        if not st["end"]:
            continue
        s0, s1 = st["start"] - off, st["end"] - off
        parent = next((c["id"] for c in calls if c["start"] <= s0 <= c["end"]), None)
        ctx.tracer.add("stage", s0, s1, parent, stage_id=sid, tasks=st["tasks"])
