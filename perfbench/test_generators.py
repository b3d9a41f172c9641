"""The benchmark's generators are deterministic in their seed.

    python3 -m pytest perfbench/test_generators.py -q
"""

from __future__ import annotations

import hashlib
import json
import os

from perfbench import ingest, ocs, tables


def _spool_digest(seed: int) -> str:
    corpus = ocs.generate(seed, n_files=6, chunks_per_file=ingest.CHUNKS_PER_FILE, n_conns=ingest.CONNS)
    h = hashlib.sha256()
    for rows in corpus.files:
        h.update(ocs.spool_bytes(rows))
    return h.hexdigest()


def _tables_digest(out_dir: str, order_seed: int | None) -> str:
    tables.write_tables(out_dir, 0.001, order_seed)
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(out_dir)):
        dirnames.sort()
        for name in sorted(filenames):
            with open(os.path.join(dirpath, name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return h.hexdigest()


def test_spool_corpus_is_a_function_of_the_seed():
    assert _spool_digest(7) == _spool_digest(7)
    assert _spool_digest(7) != _spool_digest(8)


def test_corpus_frames_span_chunks_and_messages_are_unique():
    corpus = ocs.generate(3, n_files=4, chunks_per_file=300, n_conns=8)
    chunks = [r["chunk"] for rows in corpus.files for r in rows]
    assert any(ocs.EOT not in c for c in chunks)  # a frame continues into the next chunk
    raws = [raw for msgs in corpus.expected.values() for raw, _ in msgs]
    assert len(raws) == len(set(raws)) > 0
    assert all(ocs.HEARTBEAT != raw for raw in raws)


def test_table_row_order_is_a_function_of_the_seed(tmp_path):
    a = _tables_digest(str(tmp_path / "a"), 5)
    assert a == _tables_digest(str(tmp_path / "b"), 5)
    assert a != _tables_digest(str(tmp_path / "c"), 6)


def test_checker_flags_lost_and_reordered_messages():
    corpus = ocs.generate(11, n_files=2, chunks_per_file=100, n_conns=2)
    calls, seqs = [], {}
    for conn, msgs in corpus.expected.items():
        events = [
            {"data": {"raw": raw}, "id": ocs.cloud_event_id("2026-01-01T00:00:00Z", raw), "partitionkey": conn,
             "time": "2026-01-01T00:00:00Z"}
            for raw, _ in msgs
        ]  # fmt: skip
        calls.append({"partition_key": conn, "data": events, "sequence_number_for_ordering": seqs.get(conn)})
        seqs[conn] = str(len(calls))
        calls[-1]["sequence_number"] = seqs[conn]

    def encode(cs):
        return [{**c, "data": json.dumps(c["data"]), "done": 0.0, "batch_id": 0} for c in cs]

    assert ocs.check(corpus, encode(calls)).failed == 0
    first = calls[0]["data"]
    first[0], first[1] = first[1], first[0]  # swap two: both and the next one follow the wrong message
    del calls[1]["data"][0]  # lose one: it and its successor fail
    assert ocs.check(corpus, encode(calls)).failed == 5
