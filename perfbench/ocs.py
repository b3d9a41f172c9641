"""Seeded OCS traffic for the ingest workloads, and the checker for what the
Kinesis sink put.

Traffic model (the reference proxy's input): each connection sends a byte
stream of EOT-terminated OCS lines, about a fifth of them ``HEARTBEAT``
frames, cut into 8-120 byte chunks at arbitrary points, so frames span
chunks and spool files. Every non-heartbeat message is unique (it carries
its connection and a per-connection counter), so the checker can follow
each one from the spool file that completed it to the put that carried it.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np

EOT = "\x04"
HEARTBEAT = "HEARTBEAT"
MAX_RECORD_BYTES = 1 << 20  # the PutRecord data limit, checked independently of the sink's own
_ROUTES = ["TSCH", "TMOV", "TDEP", "TARR", "TCON"]


@dataclass
class Corpus:
    """Spool files (chunk rows in publication order) plus, per connection,
    the messages the pipeline must deliver, in order, each with the index
    of the file holding its terminating EOT."""

    files: list[list[dict]]
    expected: dict[str, list[tuple[str, int]]] = field(default_factory=dict)

    @property
    def n_messages(self) -> int:
        return sum(len(v) for v in self.expected.values())

    @property
    def n_chunks(self) -> int:
        return sum(len(f) for f in self.files)


def _frame(rng: np.random.Generator, conn_idx: int, k: int) -> str:
    if rng.random() < 0.2:
        return HEARTBEAT
    h, m, s = rng.integers(0, 24), rng.integers(0, 60), rng.integers(0, 60)
    return (
        f"{conn_idx:02d}{k:07d},{_ROUTES[rng.integers(0, 5)]},{h:02d}:{m:02d}:{s:02d},"
        f"{'RB'[rng.integers(0, 2)]},RLD,{'WE'[rng.integers(0, 2)]}"
    )


def generate(seed: int, n_files: int, chunks_per_file: int, n_conns: int) -> Corpus:
    """Build a corpus of ``n_files`` files of ``chunks_per_file`` chunks,
    each chunk from a connection drawn uniformly. ``arrival_seq`` is a
    global counter, so it is unique and increasing within every
    connection."""
    rng = np.random.default_rng(seed)
    conns = [f"conn-{i:02d}" for i in range(n_conns)]
    pending = [""] * n_conns  # bytes generated but not yet cut into chunks
    counters = [0] * n_conns
    expected: dict[str, list[tuple[str, int]]] = {c: [] for c in conns}
    partial = [""] * n_conns  # message text not yet terminated on the wire
    owners = rng.integers(0, n_conns, size=(n_files, chunks_per_file))
    files: list[list[dict]] = []
    seq = 0
    for f in range(n_files):
        rows = []
        for c in owners[f]:
            size = int(rng.integers(8, 121))
            while len(pending[c]) < size:
                pending[c] += _frame(rng, c, counters[c]) + EOT
                counters[c] += 1
            chunk, pending[c] = pending[c][:size], pending[c][size:]
            parts = (partial[c] + chunk).split(EOT)
            for msg in parts[:-1]:
                if msg != HEARTBEAT:
                    expected[conns[c]].append((msg, f))
            partial[c] = parts[-1]
            rows.append({"conn_id": conns[c], "chunk": chunk, "arrival_seq": seq})
            seq += 1
        files.append(rows)
    return Corpus(files=files, expected=expected)


def spool_bytes(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r) + "\n" for r in rows).encode()


def publish(rows: list[dict], staging_dir: str, spool_dir: str, name: str) -> None:
    """Write one spool file next to the spool dir, then rename it in, so
    the file source never lists a half-written file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "wb") as fh:
        fh.write(spool_bytes(rows))
    os.rename(tmp, os.path.join(spool_dir, name))


def cloud_event_id(time_iso: str, raw: str) -> str:
    return base64.b64encode(hashlib.sha1((time_iso + raw).encode()).digest()).decode()


@dataclass
class Delivery:
    """What the checker found: per-message failures, each delivered
    message's put-return time and micro-batch keyed by (connection, raw),
    and record statistics."""

    attempted: int
    failed: int
    put_done: dict[tuple[str, str], float]
    put_batch: dict[tuple[str, str], int]
    records_split: int
    bytes_per_event: float
    problems: list[str]


def check(corpus: Corpus, calls: list[dict]) -> Delivery:
    """Verify the sink's puts against the corpus.

    ``calls`` are the client's put_record calls in call order, each with
    ``partition_key``, ``data``, ``sequence_number_for_ordering``, the
    ``SequenceNumber`` it returned and its return time ``done``. An
    expected message fails if it is missing, delivered more than once,
    delivered after anything but its predecessor, has the wrong sha1 id
    or partition key, sits in a record over 1 MiB, or sits in a put whose
    ``SequenceNumberForOrdering`` is not the previous put's number for the
    same key."""
    bad: set[tuple[str, str]] = set()
    seen: dict[tuple[str, str], int] = {}
    put_done: dict[tuple[str, str], float] = {}
    put_batch: dict[tuple[str, str], int] = {}
    last_seq: dict[str, str] = {}
    prev_raw: dict[str, str | None] = {}
    order = {c: {raw: i for i, (raw, _) in enumerate(msgs)} for c, msgs in corpus.expected.items()}
    problems: list[str] = []
    unexpected = 0
    n_events = 0
    total_bytes = 0
    per_key_batch: dict[tuple[str, int], int] = {}
    for call in calls:
        key = call["partition_key"]
        chain_ok = call["sequence_number_for_ordering"] == last_seq.get(key)
        last_seq[key] = call["sequence_number"]
        size = len(call["data"].encode())
        total_bytes += size
        per_key_batch[(key, call["batch_id"])] = per_key_batch.get((key, call["batch_id"]), 0) + 1
        record_ok = size <= MAX_RECORD_BYTES
        if not chain_ok:
            problems.append(f"broken sequence chain on {key}")
        if not record_ok:
            problems.append(f"record of {size} bytes on {key}")
        for ev in json.loads(call["data"]):
            n_events += 1
            raw = ev["data"]["raw"]
            conn = ev["partitionkey"]
            ident = (conn, raw)
            pos = order.get(conn, {}).get(raw)
            if pos is None:
                problems.append(f"unexpected message {raw!r} on {conn}")
                unexpected += 1
                continue
            seen[ident] = seen.get(ident, 0) + 1
            put_done.setdefault(ident, call["done"])
            put_batch.setdefault(ident, call["batch_id"])
            want_prev = corpus.expected[conn][pos - 1][0] if pos else None
            ok = (
                chain_ok
                and record_ok
                and conn == key
                and prev_raw.get(conn) == want_prev
                and ev["id"] == cloud_event_id(ev["time"], raw)
            )
            prev_raw[conn] = raw
            if not ok:
                bad.add(ident)
    attempted = 0
    for conn, msgs in corpus.expected.items():
        for raw, _ in msgs:
            attempted += 1
            if seen.get((conn, raw)) != 1:
                bad.add((conn, raw))
    missing = sum(1 for c, m in corpus.expected.items() for r, _ in m if (c, r) not in seen)
    if missing:
        problems.append(f"{missing} messages missing")
    return Delivery(
        attempted=attempted,
        failed=min(attempted, len(bad) + unexpected),
        put_done=put_done,
        put_batch=put_batch,
        records_split=sum(n - 1 for n in per_key_batch.values()),
        bytes_per_event=total_bytes / max(1, n_events),
        problems=problems[:10],
    )
