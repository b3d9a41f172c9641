"""Property-based framing tests (hypothesis): however a message stream is
cut into chunks, sequentially extracting with buffer carry-over yields
exactly the original messages — the invariant behind the reference's
partial/stitch unit tests (proxy_test.exs:85-111), generalized."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from trike_spark.streaming.framing import EOT, extract

# message payloads never contain EOT (trike's framing assumption)
messages = st.lists(
    st.text(alphabet=st.characters(blacklist_characters=EOT), max_size=30),
    min_size=0,
    max_size=10,
)


@given(messages, st.data())
@settings(max_examples=200, deadline=None)
def test_any_chunking_reassembles_exactly(msgs, data):
    stream = "".join(m + EOT for m in msgs)
    # cut the stream at arbitrary positions
    n_cuts = data.draw(st.integers(min_value=0, max_value=6))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=len(stream)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    chunks = []
    prev = 0
    for c in cuts + [len(stream)]:
        chunks.append(stream[prev:c])
        prev = c

    got: list[str] = []
    buffer = ""
    for chunk in chunks:
        out, buffer = extract(buffer + chunk)
        got.extend(out)
    assert got == msgs
    assert buffer == ""  # fully terminated stream leaves no residue


@given(messages, st.text(alphabet=st.characters(blacklist_characters=EOT), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_trailing_partial_stays_buffered(msgs, partial):
    stream = "".join(m + EOT for m in msgs) + partial
    out, buffer = extract(stream)
    assert out == msgs
    assert buffer == partial


# --- vectorized kernel ≡ loop reference ---------------------------------------

chunk_lists = st.lists(
    st.text(alphabet=st.characters(blacklist_characters=EOT, max_codepoint=0x2FF), max_size=12),
    min_size=0,
    max_size=8,
)


@given(
    st.data(),
    chunk_lists,
    st.text(alphabet=st.characters(blacklist_characters=EOT, max_codepoint=0x2FF), max_size=10),
    st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=200, deadline=None)
def test_frame_batch_matches_extract_loop(data, texts, carry, nseq0):
    """frame_batch (the vectorized kernel frame_and_session runs) must be
    OUTPUT-IDENTICAL to the per-chunk extract loop it replaced: same
    messages, same packet-shared timestamps (each message stamped with the
    chunk containing its terminating EOT), same monotonic seq, same carry
    buffer and counter."""
    import pandas as pd

    from trike_spark.streaming.framing import frame_batch

    # chunks: arbitrary text with EOTs spliced at arbitrary points
    chunks = []
    for t in texts:
        pos = sorted(
            data.draw(
                st.lists(st.integers(min_value=0, max_value=len(t)), max_size=3)
            )
        )
        for i, p in enumerate(pos):
            t = t[: p + i] + EOT + t[p + i :]
        chunks.append(t)
    ts = pd.date_range("2024-01-01", periods=len(chunks), freq="s")
    batch = pd.DataFrame(
        {"arrival_seq": range(len(chunks)), "chunk": chunks, "arrival_ts": ts}
    )

    # loop reference (the pre-vectorization implementation)
    want_rows, buf, seq = [], carry, nseq0
    for chunk, t in zip(chunks, ts):
        msgs, buf = extract(buf + chunk)
        for m in msgs:
            want_rows.append(("conn", m, t, "message", seq))
            seq += 1

    out, got_buf, got_seq = frame_batch("conn", batch, carry, nseq0)
    got_rows = (
        []
        if out is None
        else [tuple(r) for r in out[["conn_id", "raw", "time", "kind", "seq"]].itertuples(index=False)]
    )
    assert got_rows == want_rows
    assert got_buf == buf
    assert got_seq == seq
