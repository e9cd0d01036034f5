"""Index-format round-trip + property tests (SURVEY §5.2 item 4)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from newsleak_spark.codec import (
    decode_positions,
    delta_decode,
    delta_encode,
    encode_positions,
    varint_decode,
    varint_encode,
)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_known_values():
    # 0 -> 00; 127 -> 7f; 128 -> 80 01; 300 -> ac 02
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a)), a)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=400))
def test_delta_roundtrip(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(a)), a)


def test_delta_compresses_dense_ids():
    dense = np.arange(10_000, dtype=np.uint64) + 5_000_000
    raw = dense.nbytes
    enc = len(delta_encode(dense))
    assert enc < raw / 5  # gaps of 1 → 1 byte each (plus the base)


def test_positions_roundtrip():
    lists = [
        np.array([0, 3, 9], dtype=np.uint64),
        np.array([], dtype=np.uint64),
        np.array([7], dtype=np.uint64),
        np.array([1, 2, 3, 100], dtype=np.uint64),
    ]
    c, f = encode_positions(lists)
    out = decode_positions(c, f)
    assert len(out) == len(lists)
    for a, b in zip(lists, out):
        assert np.array_equal(a, b)


def test_positions_all_empty():
    c, f = encode_positions([np.array([], dtype=np.uint64)] * 3)
    out = decode_positions(c, f)
    assert len(out) == 3 and all(p.size == 0 for p in out)


def test_group_encode_equals_each_block_alone():
    """build._encode_bucket_fn encodes a whole (shard, bucket, salt)
    group at once and cuts its streams into blocks zero-copy; every
    block must hold the bytes of encoding that block alone. The group
    mixes negative doc ids, a term spanning several blocks, empty
    position lists and membership-only bigram-sidecar terms."""
    import pyarrow as pa

    from newsleak_spark.indexing.build import BIGRAM_SEP, IndexConfig, _encode_bucket_fn

    rng = np.random.default_rng(7)
    rows = []  # (term, doc, positions)
    for term, n in (("alpha", 70), ("beta", 5), ("gamma", 1), (f"alpha{BIGRAM_SEP}beta", 40)):
        for doc in rng.choice(np.arange(-500, 500), n, replace=False):
            big = BIGRAM_SEP in term
            pos = [] if big else sorted(rng.choice(200, rng.integers(0, 4), replace=False).tolist())
            rows.append((term, int(doc), pos))
    rng.shuffle(rows)
    table = pa.table({
        "term": [r[0] for r in rows],
        "doc_id": pa.array([r[1] for r in rows], pa.int64()),
        "tf": pa.array([max(len(r[2]), 1) for r in rows], pa.int32()),
        "dl": pa.array([50 + i % 7 for i in range(len(rows))], pa.int32()),
        "positions": pa.array([r[2] for r in rows], pa.list_(pa.int32())),
        "df": pa.array([10] * len(rows), pa.int64()),
        **{c: pa.array([v] * len(rows), pa.int32()) for c, v in (("shard", 1), ("bucket", 2), ("salt", 0))},
    })
    blocks = _encode_bucket_fn(IndexConfig(block_size=16), 1000.0, 50.0)(table).to_pylist()
    by_term: dict = {}
    for t, d, p in sorted(rows, key=lambda r: (r[0], r[1])):
        by_term.setdefault(t, []).append((d, p))
    tfs = {(r[0], r[1]): max(len(r[2]), 1) for r in rows}
    dls = {(r[0], r[1]): 50 + i % 7 for i, r in enumerate(rows)}
    assert len(blocks) == sum(-(-len(v) // 16) for v in by_term.values())
    for b in blocks:
        chunk = by_term[b["term"]][b["block_seq"] * 16 : (b["block_seq"] + 1) * 16]
        docs = np.array([d for d, _ in chunk], dtype=np.int64)
        assert b["n"] == len(chunk) and (b["doc_first"], b["doc_last"]) == (docs[0], docs[-1])
        assert b["docs"] == delta_encode(docs.astype(np.uint64))
        if BIGRAM_SEP in b["term"]:
            assert b["tfs"] == b["dls"] == b["poscnt"] == b["posflat"] == b""
            continue
        assert b["tfs"] == varint_encode(np.array([tfs[b["term"], d] for d, _ in chunk], np.uint64))
        assert b["dls"] == varint_encode(np.array([dls[b["term"], d] for d, _ in chunk], np.uint64))
        assert (b["poscnt"], b["posflat"]) == encode_positions([np.array(p) for _, p in chunk])


def test_block_stream_over_2gib_raises():
    """A block column's offsets are int32: a stream of 2 GiB or more
    raises rather than wrapping into wrong blocks."""
    import pytest

    from newsleak_spark.indexing.build import _blocks

    assert _blocks(b"abc", np.array([0, 1, 3])).to_pylist() == [b"a", b"bc"]
    with pytest.raises(OverflowError):
        _blocks(b"", np.array([0, 2**31], dtype=np.int64))
