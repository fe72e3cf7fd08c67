"""Posting-list codec: delta + variable-byte compression with per-block
max-score metadata (SURVEY.md §4.3 item 1 — Catalyst has no posting
codec; this is UDF-side engine code, numpy-vectorized, no per-value
Python loops).

Encoding convention: little-endian 7-bit groups; the high bit (0x80) set
means "more bytes follow". doc_ids are stored as in-block deltas
(first value = doc_id[0] - block_base, then consecutive diffs), tfs as
raw varbytes.

Blocks are DOC-RANGE ALIGNED: block_id = doc_id // block_span. Alignment
is what makes block-max WAND windowing cheap at query time — all terms'
blocks with the same block_id cover the same doc window, so a window
upper bound is a plain sum of per-term block maxima (operators/wand.py).
"""

from __future__ import annotations

import numpy as np

DEFAULT_BLOCK_SPAN = 2048  # doc ids per block window


def encode_vb_sliced(values, run_starts) -> list[bytes]:
    """Varbyte-encode a concatenation of runs in ONE vectorized pass and
    return the per-run byte strings.

    values: non-negative ints, the runs laid out back-to-back;
    run_starts: ascending start index of each run (first must be 0).
    Each run's bytes equal tests/oracle.py's per-array encode_vb of
    values[s:e] — asserted in tests/test_codec.py — but the whole group
    costs one numpy pass instead of one Python call per run.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return [b"" for _ in range(len(run_starts))]
    nb = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    bounds = np.concatenate(([0], np.cumsum(nb)))  # value i occupies bounds[i]:bounds[i+1]
    starts = bounds[:-1]
    out = np.zeros(int(bounds[-1]), dtype=np.uint8)
    for j in range(int(nb.max())):
        m = nb > j
        byte = ((v[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1 > j).astype(np.uint8)
        out[starts[m] + j] = byte | (cont << 7)
    buf = out.tobytes()
    rs = np.asarray(run_starts, dtype=np.int64)
    byte_starts = bounds[rs]
    byte_ends = np.append(bounds[rs[1:]], bounds[-1]) if rs.size else np.empty(0, np.int64)
    return [buf[int(s) : int(e)] for s, e in zip(byte_starts, byte_ends)]


def encode_runs(pdf, span: int):
    """The shared (term, block) run encoder of the postings and
    positional builds. pdf: one (term_bucket, part_id) group of
    per-posting rows (term, doc_id, tf, ...).

    Sorts by (term, doc_id), cuts a run at every change of term or
    block_id = doc_id // span, and encodes each run's in-block doc-id
    deltas and tfs as varbytes. Returns (sorted pdf, run_starts,
    run_ends, cols): cols holds the common output columns in schema
    order; callers append their own per-run columns."""
    pdf = pdf.sort_values(["term", "doc_id"])
    terms = pdf["term"].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    block_ids = doc_ids // span
    n = doc_ids.size
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    new_run[1:] = (terms[1:] != terms[:-1]) | (block_ids[1:] != block_ids[:-1])
    run_starts = np.flatnonzero(new_run)
    run_ends = np.append(run_starts[1:], n)
    # first-of-run is offset from the block base; the rest are
    # consecutive diffs (diffs across run boundaries are overwritten
    # before the uint64 cast, so no negative wraparound)
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    deltas[1:] = np.diff(doc_ids)
    deltas[run_starts] = doc_ids[run_starts] - block_ids[run_starts] * span
    cols = {
        "term": terms[run_starts],
        "term_bucket": int(pdf["term_bucket"].iloc[0]),
        "part_id": int(pdf["part_id"].iloc[0]),
        "block_id": block_ids[run_starts],
        "n": (run_ends - run_starts).astype(np.int32),
        "first_doc_id": doc_ids[run_starts],
        "last_doc_id": doc_ids[run_ends - 1],
        "doc_ids_vb": encode_vb_sliced(deltas.astype(np.uint64), run_starts),
        "tfs_vb": encode_vb_sliced(tfs.astype(np.uint64), run_starts),
    }
    return pdf, run_starts, run_ends, cols


def decode_vb(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    idx = np.zeros(b.size, dtype=np.int64)
    idx[1:] = np.cumsum(is_last)[:-1]
    starts = np.flatnonzero(np.concatenate(([True], is_last[:-1])))
    pos = (np.arange(b.size) - starts[idx]).astype(np.uint64)
    vals = np.zeros(int(idx[-1]) + 1, dtype=np.uint64)
    np.add.at(vals, idx, (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos))
    return vals


def decode_block(doc_ids_vb: bytes, tfs_vb: bytes, block_base: int) -> tuple[np.ndarray, np.ndarray]:
    deltas = decode_vb(doc_ids_vb).astype(np.int64)
    doc_ids = np.cumsum(deltas) + block_base
    tfs = decode_vb(tfs_vb).astype(np.int64)
    return doc_ids, tfs


def pack_i32(values) -> bytes:
    return np.ascontiguousarray(values, dtype=np.int32).tobytes()


def unpack_i32(buf: bytes) -> np.ndarray:
    return np.frombuffer(buf, dtype=np.int32)
