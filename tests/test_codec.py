"""Codec unit tests: round-trip, boundary values, seeded fuzz +
hypothesis property tests when available (SURVEY.md §5.2 item 3). The
engine's encoders (encode_vb_sliced, and encode_runs for blocks) are
checked against tests/oracle.py's one-value-at-a-time encode_vb and
round-tripped through decode_vb / decode_block."""

import numpy as np
import pandas as pd

from local_search_engine_spark.functions.codec import (
    decode_block,
    decode_vb,
    encode_runs,
    encode_vb_sliced,
    pack_i32,
    unpack_i32,
)

from .oracle import encode_vb


def rt(vals):
    v = np.array(vals, dtype=np.uint64)
    (buf,) = encode_vb_sliced(v, [0])
    assert buf == encode_vb(v)
    assert decode_vb(buf).tolist() == [int(x) for x in vals]


def encode_block(doc_ids, tfs, span):
    """One (term, block) run through the postings run encoder: its
    block id and (doc_ids_vb, tfs_vb)."""
    pdf = pd.DataFrame(
        {"term": "t", "doc_id": doc_ids, "tf": tfs, "term_bucket": 0, "part_id": 0}
    )
    _, starts, _, cols = encode_runs(pdf, span)
    assert len(starts) == 1
    return int(cols["block_id"][0]), cols["doc_ids_vb"][0], cols["tfs_vb"][0]


def test_empty():
    assert encode_vb_sliced(np.array([], dtype=np.uint64), [0]) == [b""]
    assert encode_vb([]) == b""
    assert decode_vb(b"").size == 0


def test_boundaries():
    rt([0])
    rt([127, 128, 129])
    rt([(1 << 7) - 1, 1 << 7, (1 << 14) - 1, 1 << 14, (1 << 21) - 1, 1 << 21])
    rt([(1 << 63) - 1, 2**64 - 1, 0, 1])


def test_seeded_fuzz():
    rng = np.random.default_rng(42)
    for scale in (1, 100, 10**6, 10**12, 2**62):
        vals = rng.integers(0, scale, size=1000, dtype=np.uint64)
        rt(vals)


def test_block_roundtrip():
    doc_ids = np.array([4096, 4100, 4101, 5000, 6143], dtype=np.int64)
    tfs = np.array([1, 50, 2, 7, 1], dtype=np.int64)
    block_id, dvb, tvb = encode_block(doc_ids, tfs, span=2048)
    assert block_id == 2
    assert dvb == encode_vb([0, 4, 1, 899, 1143]) and tvb == encode_vb(tfs)
    d2, t2 = decode_block(dvb, tvb, block_base=4096)
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()


def test_pack_i32():
    a = np.array([0, 1, 2**31 - 1, 7], dtype=np.int32)
    assert unpack_i32(pack_i32(a)).tolist() == a.tolist()


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
    def test_property_roundtrip(vals):
        rt(vals)

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2047),
                st.integers(min_value=1, max_value=1000),
            ),
            min_size=1,
            max_size=200,
            unique_by=lambda x: x[0],
        ),
        st.integers(min_value=0, max_value=2**29),
    )
    def test_property_block(postings, block):
        base = block * 2048
        postings = sorted(postings)
        doc_ids = np.array([base + off for off, _ in postings], dtype=np.int64)
        tfs = np.array([tf for _, tf in postings], dtype=np.int64)
        block_id, dvb, tvb = encode_block(doc_ids, tfs, span=2048)
        assert block_id == block and tvb == encode_vb(tfs)
        d2, t2 = decode_block(dvb, tvb, block_base=base)
        assert d2.tolist() == doc_ids.tolist()
        assert t2.tolist() == tfs.tolist()

except ImportError:  # pragma: no cover
    pass


def test_vb_sliced_matches_per_run():
    rng = np.random.default_rng(7)
    for trial in range(20):
        n_runs = int(rng.integers(1, 12))
        runs = [
            rng.integers(0, 2**int(rng.integers(1, 63)), size=int(rng.integers(0, 9)))
            for _ in range(n_runs)
        ]
        values = np.concatenate([r.astype(np.uint64) for r in runs]) if any(
            r.size for r in runs
        ) else np.empty(0, np.uint64)
        starts, pos = [], 0
        for r in runs:
            starts.append(pos)
            pos += r.size
        got = encode_vb_sliced(values, np.asarray(starts))
        want = [encode_vb(r.astype(np.uint64)) for r in runs]
        # trailing empty runs collapse identically to b""
        assert got == want
