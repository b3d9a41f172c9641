"""The ``ingest_live`` workload: seeded OCS chunk traffic through the
spool-file source, the stateful framing operator with the production stale
timer, the CloudEvent projection and the ordered Kinesis sink, exactly as
``build_ingest_pipeline`` wires them.

It is an open loop: the generator publishes one spool file every 250 ms
whether or not the pipeline keeps up, and each message is timed from its
file's scheduled publish time to the return of the put that carried it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

from perfbench import ocs
from perfbench.common import Result, nearest_rank

FILE_INTERVAL_S = 0.25
CHUNKS_PER_FILE = 50  # 200 chunks/s
CONNS = 64
PUT_LATENCY_S = 0.005  # modeled PutRecord round trip
# A live proxy takes every file that has arrived; the source's default cap
# (16 files per trigger) is a backfill bound and falls behind 4 files/s.
FILES_PER_TRIGGER = 100_000
# a stalled pipeline fails the run well inside the 180 s a run may take
WARM_UP_TIMEOUT_S = 80.0
DRAIN_TIMEOUT_S = 60.0
# durationMs phases in the order MicroBatchExecution runs them
_PHASES = ["latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets"]


class TimedClient:
    """Wraps the sink's fake Kinesis client: models the service round trip
    and records every call with its returned sequence number and the time
    it returned."""

    def __init__(self, put_latency_s: float, tracer) -> None:
        from trike_spark.streaming.sinks import FakeKinesisClient

        self.inner = FakeKinesisClient()
        self.put_latency_s = put_latency_s
        self.tracer = tracer
        self.calls: list[dict] = []
        self.batch_id: int | None = None
        self.events = 0

    def put_record(self, stream, partition_key, data, sequence_number_for_ordering=None):
        with self.tracer.span("put_record", key=partition_key, batch_id=self.batch_id):
            t0 = time.perf_counter()
            if self.put_latency_s:
                time.sleep(self.put_latency_s)
            resp = self.inner.put_record(
                stream, partition_key, data, sequence_number_for_ordering=sequence_number_for_ordering
            )
            done = time.perf_counter()
        self.calls.append(
            {
                "partition_key": partition_key,
                "data": data,
                "sequence_number_for_ordering": sequence_number_for_ordering,
                "sequence_number": resp["SequenceNumber"],
                "done": done,
                "put_s": done - t0,
                "batch_id": self.batch_id,
            }
        )
        # every CloudEvent carries exactly one specversion key
        self.events += data.count('"specversion"')
        return resp


def _start_query(ctx, spool: str, client: TimedClient, batches: list):
    from trike_spark.streaming.framing import DEFAULT_STALE_TIMEOUT_MS
    from trike_spark.streaming.pipeline import build_ingest_pipeline
    from trike_spark.streaming.sinks import KinesisSink
    from trike_spark.streaming.sources import spool_chunk_stream

    sink = KinesisSink(stream="console", client=client)
    tracer = ctx.tracer

    def on_batch(df, batch_id):
        client.batch_id = batch_id
        with tracer.span("foreachBatch", batch_id=batch_id) as sp:
            t0 = time.perf_counter()
            sink(df, batch_id)
            t1 = time.perf_counter()
        batches.append({"batch_id": batch_id, "start": t0, "end": t1, "span": sp["id"] if sp else None})

    chunks = spool_chunk_stream(ctx.spark, spool, max_files_per_trigger=FILES_PER_TRIGGER)
    events = build_ingest_pipeline(chunks, stale_timeout_ms=DEFAULT_STALE_TIMEOUT_MS)
    return (
        events.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
        .foreachBatch(on_batch)
        .start()
    )


def _raise_if_failed(query) -> None:
    exc = query.exception()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")


def _wait(query, done, deadline: float) -> bool:
    """Poll until ``done()``; False once ``deadline`` passes."""
    while not done():
        _raise_if_failed(query)
        if time.perf_counter() > deadline:
            return False
        time.sleep(0.02)
    return True


def _committed(query, batch_id: int) -> bool:
    return (query.lastProgress or {}).get("batchId", -1) >= batch_id


def run(ctx) -> Result:
    n_timed = max(1, round(ctx.seconds / FILE_INTERVAL_S))
    corpus = ocs.generate(ctx.seed, n_files=1 + n_timed, chunks_per_file=CHUNKS_PER_FILE, n_conns=CONNS)
    spool, staging = os.path.join(ctx.work, "spool"), os.path.join(ctx.work, "staging")
    os.makedirs(spool)
    os.makedirs(staging)
    client = TimedClient(PUT_LATENCY_S, ctx.tracer)
    batches: list[dict] = []
    ocs.publish(corpus.files[0], staging, spool, "f00000.json")
    query = _start_query(ctx, spool, client, batches)
    late: list[float] = []
    try:
        # warm-up: the first file's batch commits before the schedule starts
        warm_deadline = time.perf_counter() + WARM_UP_TIMEOUT_S
        if not _wait(query, lambda: batches and _committed(query, batches[0]["batch_id"]), warm_deadline):
            raise RuntimeError("the warm-up micro-batch did not commit")
        warm_batches = len(batches)
        t0 = time.perf_counter()
        for i in range(1, len(corpus.files)):
            due = t0 + (i - 1) * FILE_INTERVAL_S
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            ocs.publish(corpus.files[i], staging, spool, f"f{i:05d}.json")
            late.append(time.perf_counter() - due)
            _raise_if_failed(query)
        # messages still missing at the deadline fail in the check below
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        _wait(query, lambda: client.events >= corpus.n_messages, deadline)
        _wait(query, lambda: _committed(query, batches[-1]["batch_id"]), deadline)
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()

    delivery = ocs.check(corpus, client.calls)
    due_of = {f: t0 + (f - 1) * FILE_INTERVAL_S for f in range(1, len(corpus.files))}
    lat = sorted(
        delivery.put_done[(c, raw)] - due_of[f]
        for c, msgs in corpus.expected.items()
        for raw, f in msgs
        if f >= 1 and (c, raw) in delivery.put_done
    )
    last = max(delivery.put_done.values())
    metrics = {
        "latency_p50_s": statistics.median(lat),
        "latency_p99_s": nearest_rank(lat, 0.99),
        "drain_s": last - due_of[len(corpus.files) - 1],
    }
    # timed micro-batches that carried data (timer-only batches put nothing)
    put_ids = {c["batch_id"] for c in client.calls}
    timed = [b for b in batches[warm_batches:] if b["batch_id"] in put_ids]
    layers = {}
    if ctx.tracer.enabled:
        ids = {b["batch_id"] for b in timed}
        data_progress = [p for p in progress if p["batchId"] in ids]
        layers = _layers(ctx, corpus, client, timed, data_progress, delivery)
        layers["gen.late_max_s"] = max(late)
    return Result(
        attempted=delivery.attempted,
        failed=delivery.failed,
        metrics=metrics,
        layers=layers,
        samples={"messages": len(lat), "micro_batches": len(timed), "files": n_timed},
        problems=delivery.problems,
    )


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _layers(ctx, corpus, client, batches, progress, delivery) -> dict:
    """Per-micro-batch medians over the timed batches of a traced run."""
    med = statistics.median

    def dur(p, k):
        return p.get("durationMs", {}).get(k, 0)

    def state(p, k):
        ops = p.get("stateOperators") or [{}]
        return ops[0].get(k, 0)

    ids = {b["batch_id"] for b in batches}
    puts = sorted(c["put_s"] * 1e3 for c in client.calls if c["batch_id"] in ids)
    out = {
        "sources.input_rows": med(p["numInputRows"] for p in progress),
        "sources.offset_ms": med(dur(p, "latestOffset") + dur(p, "getBatch") for p in progress),
        "framing.state_update_ms": med(state(p, "allUpdatesTimeMs") for p in progress),
        "framing.state_removal_ms": med(state(p, "allRemovalsTimeMs") for p in progress),
        "framing.state_commit_ms": med(state(p, "commitTimeMs") for p in progress),
        "framing.state_rows": med(state(p, "numRowsTotal") for p in progress),
        "framing.state_bytes": med(state(p, "memoryUsedBytes") for p in progress),
        "framing.state_partitions": med(state(p, "numShufflePartitions") for p in progress),
        "framing.kernel_us_per_chunk": _kernel_us_per_chunk(corpus, delivery),
        "sinks.call_ms": med((b["end"] - b["start"]) * 1e3 for b in batches),
        "sinks.put_ms_p50": nearest_rank(puts, 0.50),
        "sinks.put_ms_p99": nearest_rank(puts, 0.99),
        "sinks.puts": med(sum(1 for c in client.calls if c["batch_id"] == b["batch_id"]) for b in batches),
        "sinks.records_split": delivery.records_split,
        "sinks.bytes_per_event": delivery.bytes_per_event,
        "microbatch.count": len(progress),
        "microbatch.trigger_ms": med(dur(p, "triggerExecution") for p in progress),
        "microbatch.overhead_ms": med(dur(p, "triggerExecution") - dur(p, "addBatch") for p in progress),
    }
    tracer = ctx.tracer
    for p in progress:
        start = _epoch(p["timestamp"]) - tracer.wall_offset
        parent = next((b["span"] for b in batches if b["batch_id"] == p["batchId"]), None)
        for phase in _PHASES:
            ms = dur(p, phase)
            tracer.add(f"microbatch.{phase}", start, start + ms / 1e3, parent, batch_id=p["batchId"])
            start += ms / 1e3
    ctx.after_stop.append(lambda log: _stage_layers(log, progress, out))
    ctx.detail["micro_batches"] = [
        {"batch_id": p["batchId"], "rows": p["numInputRows"], "durationMs": p["durationMs"]} for p in progress
    ]
    return out


def _stage_layers(log, progress, out: dict) -> None:
    from perfbench.tracing import stage_totals

    per_batch = []
    for p in progress:
        lo = _epoch(p["timestamp"])
        per_batch.append(stage_totals(log, lo, lo + p["durationMs"]["triggerExecution"] / 1e3))
    for key in per_batch[0]:
        out[f"spark.{key}"] = statistics.median(b[key] for b in per_batch)


def _kernel_us_per_chunk(corpus, delivery) -> float:
    """Time the framing kernel (``sorted_key_batch`` + ``frame_batch``)
    called directly on the workload's own per-key micro-batches: each
    file's chunks go to the micro-batch that delivered the messages they
    completed."""
    import pandas as pd

    from trike_spark.streaming.framing import frame_batch, sorted_key_batch

    file_batch: dict[int, int] = {}
    for conn, msgs in corpus.expected.items():
        for raw, f in msgs:
            b = delivery.put_batch.get((conn, raw))
            if b is not None:
                file_batch[f] = min(b, file_batch.get(f, b))
    groups: dict[tuple[int, str], list[dict]] = {}
    current = 0
    for f, rows in enumerate(corpus.files):
        current = file_batch.get(f, current)
        for r in rows:
            groups.setdefault((current, r["conn_id"]), []).append(r)
    now = pd.Timestamp("2026-01-01")
    inputs = [
        (key, pd.DataFrame({"arrival_seq": [r["arrival_seq"] for r in rs], "chunk": [r["chunk"] for r in rs],
                            "arrival_ts": now}))
        for (_, key), rs in sorted(groups.items())
    ]  # fmt: skip
    state: dict[str, tuple[str, int]] = {}
    t0 = time.perf_counter()
    for key, pdf in inputs:
        buf, nseq = state.get(key, ("", 0))
        _, buf, nseq = frame_batch(key, sorted_key_batch(key, [pdf]), buf, nseq)
        state[key] = (buf, nseq)
    return (time.perf_counter() - t0) * 1e6 / corpus.n_chunks
