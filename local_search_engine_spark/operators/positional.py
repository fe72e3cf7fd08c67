"""Positional postings + exact phrase / proximity search.

The reference engine answers phrase queries by substring-scanning the
stored document text at match time (reference retriever.py:1040-1072,
`content.find(phrase)` over every candidate's full text — also the
citation matcher at answer_generator.py:120-138). That works on one
laptop's corpus; at 10^12 docs a phrase query must NOT touch document
bodies. The classic answer — what Lucene/ES do — is a POSITIONAL
inverted index: each posting carries the token positions, phrase
matching is pure position-list intersection on the (tiny, compressed)
index, and the corpus itself is never read at query time.

Layout = the block-max postings layout (operators/postings.py) plus one
column:

  pos_vb: per (term, block) run, the concatenation of each posting's
          delta+varbyte-encoded position list (first position absolute,
          then diffs). tfs_vb already stores each posting's position
          COUNT, so decoding needs no extra length table — tf IS the
          segment length. Positions index the engine's FILTERED token
          stream (functions/tokenize.py — the same rule at index and
          query time), the standard analyzer-relative convention.

On disk (persist_positional_postings), under the index path:

  term_bucket=B/   the postings, bucket-partitioned parquet
  _schema.json     their read-back schema; the commit marker
                   (plans/store.py)
  _meta.json       layout params + max_doc_id — advisory: appends and
                   compaction re-derive max_doc_id from the postings

Same scale story as the base index: doc-range sharding bounds the
per-task work for hot terms, term_bucket is the Parquet partition
column so a phrase's scan prunes to ≤ |unique terms| bucket
directories, and query-time work is one bucket-pruned scan → one
shuffle on part_id → per-shard numpy intersection → global top-k
(TakeOrderedAndProject). Build, query and compaction all deliver their
per-group work through plans/layout.group_in_partitions.

Phrase matching per shard is FULLY vectorized — no per-candidate-doc
Python loop: occurrences of the phrase [t0..t_{L-1}] are the
intersection of composite keys

    key_i = doc_id · 2^32 + (pos - i + L)        (term t_i)

i.e. every (doc, start-position) that term t_i supports, normalized to
the phrase start. `+ L` keeps the low word non-negative (pos ≥ 0,
i < L) so the composite never borrows into the doc word; positions are
< 2^32 by the tokenizer's construction (a single document's token
stream). np.intersect1d over sorted uint64 keys is the whole matcher.
"""

from __future__ import annotations

import os

import numpy as np

from ..functions.tokenize import tokenize_py
from ..plans.layout import local_rows
from ..plans.store import read_json, read_table, rows, swap_dir, write_json, write_table

POS_POSTINGS_SCHEMA = (
    "term string, term_bucket int, part_id long, block_id long, n int, "
    "first_doc_id long, last_doc_id long, doc_ids_vb binary, tfs_vb binary, "
    "pos_vb binary"
)

_DOC_SHIFT = np.uint64(32)


def decode_positions(pos_vb: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of the per-posting delta encoding: concatenated varbyte
    deltas + per-posting lengths (= tfs) → flat absolute positions.
    Segmented cumsum, no Python loop."""
    from ..functions.codec import decode_vb

    deltas = decode_vb(pos_vb).astype(np.int64)
    if deltas.size == 0:
        return deltas
    csum = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(np.asarray(tfs, dtype=np.int64))[:-1]))
    # subtract the running total as of each segment's start so cumsum
    # restarts per posting (first delta of a posting is the absolute pos)
    base = np.repeat(csum[starts] - deltas[starts], np.asarray(tfs, dtype=np.int64))
    return csum - base


def tokenize_with_positions(tokens: list[str]) -> dict[str, list[int]]:
    """term -> sorted positions in the filtered token stream."""
    out: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        out.setdefault(t, []).append(i)
    return out


def build_positional_postings(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    docs_per_shard: int = 50_000,
    block_span: int | None = None,
    n_buckets: int = 64,
):
    """docs(id, text) → positional postings DF (POS_POSTINGS_SCHEMA).

    Two stages, mirroring operators/postings.build_postings:

      1. Arrow mapInPandas over the doc scan → one row per (doc, term)
         carrying tf and the posting's pre-encoded position bytes. The
         per-doc term→positions grouping is genuinely not expressible
         with JVM built-ins (no in-array group-by), so this is the W1
         Arrow seam — batch-vectorized (one encode_vb_sliced call per
         Arrow batch), never per-row Python encode. Pre-encoding here
         means the shuffle moves compressed bytes, not int arrays.
      2. group_in_partitions on (term_bucket, part_id) → the shared
         run encoder (functions/codec.encode_runs); pos_vb per run is a
         plain byte concatenation because per-posting streams are
         self-delimiting (tf = value count).

    One shuffle total, bounded per-task work for hot terms (doc-range
    sharding), term_bucket ready for partitionBy on persist.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..functions.hashing import h32_col

    span = block_span or DEFAULT_BLOCK_SPAN

    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise TypeError(
            f"build_positional_postings needs an integral {id_col!r} column "
            f"(doc-range sharding and the composite phrase keys are id "
            f"arithmetic), got {id_type.simpleString()}; assign dense ids "
            f"first (operators.build.with_doc_ids)"
        )

    def extract(batches):
        import pandas as pd

        from ..functions.codec import encode_vb_sliced

        for pdf in batches:
            ids: list[int] = []
            terms: list[str] = []
            tfs: list[int] = []
            flat: list[int] = []
            run_starts: list[int] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_py(text)
                if not toks:
                    continue
                by_term = tokenize_with_positions(toks)
                for term in sorted(by_term):
                    pos = by_term[term]
                    ids.append(int(doc_id))
                    terms.append(term)
                    tfs.append(len(pos))
                    run_starts.append(len(flat))
                    flat.append(pos[0])
                    flat.extend(pos[j] - pos[j - 1] for j in range(1, len(pos)))
            if not ids:
                continue
            pos_vbs = encode_vb_sliced(
                np.asarray(flat, dtype=np.uint64),
                np.asarray(run_starts, dtype=np.int64),
            )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "term": terms,
                    "tf": pd.Series(tfs, dtype="int64"),
                    "posting_pos_vb": pos_vbs,
                }
            )

    from ..plans.layout import group_in_partitions, widen_for_kernel

    per_posting = widen_for_kernel(docs.select(id_col, text_col)).mapInPandas(
        extract, "doc_id long, term string, tf long, posting_pos_vb binary"
    )
    keyed = per_posting.withColumn(
        "part_id", (F.col("doc_id") / F.lit(docs_per_shard)).cast("long")
    ).withColumn(
        "term_bucket", F.pmod(h32_col(F.col("term")), F.lit(n_buckets)).cast("int")
    )

    return group_in_partitions(
        keyed,
        ["term_bucket", "part_id"],
        lambda pdf: _encode_pos_group(pdf, span),
        POS_POSTINGS_SCHEMA,
    )


def _encode_pos_group(pdf, span: int):
    """(term_bucket, part_id) group of per-posting rows (term, doc_id,
    tf, posting_pos_vb) → positional runs — shared by the build path
    and compaction, so a compacted index is BYTE-identical to a fresh
    build's encoding of the same postings."""
    import pandas as pd

    from ..functions.codec import encode_runs

    # composite phrase keys are doc_id·2^32 + pos in (u)int64 — ids
    # must fit 31 bits for the proximity path's signed arithmetic.
    # Dense engine ids (operators.build.with_doc_ids) always do;
    # sparse schemes (monotonically_increasing_id packs the
    # partition id into bits 33+) would silently corrupt matches,
    # so fail the build loudly instead.
    if int(pdf["doc_id"].max()) >= 1 << 31 or int(pdf["doc_id"].min()) < 0:
        raise ValueError(
            "positional postings require 0 <= doc_id < 2^31 (composite "
            "phrase-key arithmetic: negative ids wrap on the uint64 "
            "cast, big ids overflow the signed proximity math); re-id "
            "the corpus with dense ids (operators.build.with_doc_ids) "
            "before indexing"
        )
    pdf, starts, ends, cols = encode_runs(pdf, span)
    terms = pdf["term"].to_numpy()
    doc_ids = pdf["doc_id"].to_numpy(np.int64)
    # duplicate (term, doc_id) rows mean the SAME doc was indexed twice
    # (e.g. a content-hash join fanned out on exact-dup texts without
    # dropDuplicates). Duplicate composite keys violate the phrase
    # kernel's intersect1d(assume_unique=True) and double phrase_tf —
    # fail the build loudly, as with the id-range guard above.
    if ((terms[1:] == terms[:-1]) & (doc_ids[1:] == doc_ids[:-1])).any():
        raise ValueError(
            "duplicate doc_id in positional postings (the same document "
            "indexed more than once) — dedup the corpus on doc_id "
            "before indexing (e.g. dropDuplicates(['doc_id']))"
        )
    pos_bytes = pdf["posting_pos_vb"].to_numpy(object)
    cols["pos_vb"] = [b"".join(pos_bytes[s:e]) for s, e in zip(starts, ends)]
    return pd.DataFrame(cols)


def persist_positional_postings(
    postings, path: str, params: dict | None = None
) -> None:
    """Bucket-partitioned parquet: a phrase query's `term_bucket IN (...)`
    literals (driver-computed, zero jobs) prune whole directories —
    same layout contract as the persisted BM25 index and ANN files.

    The postings are a plans/store.py table (`_schema.json` commits it).
    params (recommended): {'docs_per_shard', 'block_span', 'n_buckets'}
    — persisted to _meta.json (underscore-prefixed: invisible to the
    parquet file listing) together with max_doc_id, which makes the
    index APPENDABLE (append_positional_postings) and lets loaders
    recover the layout without out-of-band knowledge."""
    write_table(postings, path, partition_by=("term_bucket",))
    if params is not None:
        _write_meta(postings.sparkSession, path, dict(params))


def _write_meta(spark, path: str, meta: dict) -> dict:
    """meta with max_doc_id re-derived from the postings at path (one
    aggregate job), written atomically to path/_meta.json."""
    from pyspark.sql import functions as F

    mx = read_table(spark, path).agg(F.max("last_doc_id")).first()[0]
    meta["max_doc_id"] = int(mx) if mx is not None else -1
    write_json(os.path.join(path, "_meta.json"), meta)
    return meta


def load_positional_postings(spark, path: str):
    return read_table(spark, path)


def load_positional_meta(path: str) -> dict | None:
    return read_json(os.path.join(path, "_meta.json"), None)


def append_positional_postings(
    spark,
    path: str,
    new_docs,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Incrementally extend a persisted positional index with a TAIL
    batch (all new doc_ids strictly greater than the stored max — the
    same contract as log-structured id assignment). Doc-range sharding
    makes this sound WITHOUT touching existing files: a new id range
    can only create new (bucket, shard) parquet rows, and the one
    possibly-shared seam block is handled at read time by the
    (block_id, first_doc_id) run ordering. Encoding parameters come
    from the index's own _meta.json, so an append can never silently
    mix layouts. Returns the updated meta. Query results over the
    appended index are bit-identical to a full rebuild
    (tests/test_positional.py pins it)."""
    from pyspark.sql import functions as F

    meta = load_positional_meta(path)
    if meta is None:
        raise ValueError(
            f"{path} has no _meta.json — persist with params= to make an "
            f"index appendable"
        )
    lo = new_docs.agg(F.min(id_col).alias("lo")).first()["lo"]
    if lo is None:
        return meta  # empty batch
    # _meta.json is advisory only: the delta-parquet commit (below) and
    # the meta rewrite are two separate steps, so a crash between them
    # leaves meta STALE and a blind retry of the same batch would pass
    # the tailing check and write duplicate postings (duplicate
    # composite keys break the assume_unique phrase intersects). The
    # index itself is the source of truth — heal meta from the parquet
    # max before validating the batch.
    meta = _write_meta(spark, path, meta)
    if int(lo) <= meta["max_doc_id"]:
        raise ValueError(
            f"append batch min {id_col}={lo} <= stored max_doc_id="
            f"{meta['max_doc_id']}: appends must be strictly tailing "
            f"(in-range inserts would interleave existing shard runs)"
        )
    delta = build_positional_postings(
        new_docs,
        text_col=text_col,
        id_col=id_col,
        docs_per_shard=meta["docs_per_shard"],
        block_span=meta["block_span"],
        n_buckets=meta["n_buckets"],
    )
    write_table(delta, path, partition_by=("term_bucket",), mode="append")
    mx = new_docs.agg(F.max(id_col).alias("m")).first()["m"]
    meta["max_doc_id"] = int(mx)
    write_json(os.path.join(path, "_meta.json"), meta)
    return meta


def compact_positional_postings(spark, path: str) -> dict:
    """Compact a persisted positional index after tail-appends.

    Every append writes its own parquet files per touched term_bucket
    and opens fresh (term, block) runs at the append boundary — correct
    (the read path merges runs by (block_id, first_doc_id)), but after
    N appends a bucket holds O(N) small files and a hot term's postings
    fragment into O(N) runs. At cluster scale that's the classic
    small-files + run-fragmentation tax: more files to list/open, more
    runs to heap-merge per query. Compaction rewrites each
    (term_bucket, part_id) group through the SAME canonical encoder the
    build path uses (_encode_pos_group) — decode runs back to
    per-posting rows (no text re-tokenization: positions are already in
    the index), re-encode, atomically swap the directory — so the
    compacted index is equal to a from-scratch build over the same
    corpus (row-identical runs, test-pinned), with one parquet file
    set per bucket.

    One shuffle (group_in_partitions on (term_bucket, part_id)),
    O(index) work, zero corpus reads.
    The compacted table and its healed _meta.json (max_doc_id re-derived
    from the rewritten parquet) are staged at <path>.compact and swapped
    in whole (plans/store.swap_dir). Returns {n_runs_before,
    n_runs_after, n_files_before, n_files_after}, run counts from the
    parquet footers.
    """
    import glob

    meta = load_positional_meta(path)
    if meta is None:
        raise ValueError(f"{path} has no _meta.json — not a persisted positional index")
    span = int(meta["block_span"])

    def count_files(p):
        return len(glob.glob(os.path.join(p, "term_bucket=*", "*.parquet")))

    posts = read_table(spark, path)
    n_runs_before = rows(path)
    n_files_before = count_files(path)

    def recompact(pdf):
        import pandas as pd

        from ..functions.codec import decode_block, encode_vb_sliced

        bucket = int(pdf["term_bucket"].iloc[0])
        part = int(pdf["part_id"].iloc[0])
        ids_parts, term_parts, tf_parts, delta_parts = [], [], [], []
        for row in pdf.itertuples(index=False):
            base = int(row.block_id) * span
            docs, tfs = decode_block(row.doc_ids_vb, row.tfs_vb, base)
            pos = decode_positions(row.pos_vb, tfs)
            # re-derive per-posting deltas (first absolute, then diffs)
            seg_starts = np.concatenate(
                ([0], np.cumsum(tfs.astype(np.int64))[:-1])
            ).astype(np.int64)
            deltas = pos.astype(np.int64).copy()
            if deltas.size:
                deltas[1:] -= pos[:-1]
                deltas[seg_starts] = pos[seg_starts]
            ids_parts.append(docs.astype(np.int64))
            term_parts.append(np.full(docs.size, row.term, dtype=object))
            tf_parts.append(tfs.astype(np.int64))
            delta_parts.append(deltas)
        all_tfs = np.concatenate(tf_parts)
        posting_starts = np.concatenate(([0], np.cumsum(all_tfs)[:-1])).astype(np.int64)
        pos_vbs = encode_vb_sliced(
            np.concatenate(delta_parts).astype(np.uint64), posting_starts
        )
        flat = pd.DataFrame(
            {
                "doc_id": pd.Series(np.concatenate(ids_parts), dtype="int64"),
                "term": np.concatenate(term_parts),
                "tf": pd.Series(all_tfs, dtype="int64"),
                "posting_pos_vb": pos_vbs,
                "term_bucket": bucket,
                "part_id": part,
            }
        )
        return _encode_pos_group(flat, span)

    from ..plans.layout import group_in_partitions

    stage = path.rstrip("/") + ".compact"
    compacted = group_in_partitions(
        posts, ["term_bucket", "part_id"], recompact, POS_POSTINGS_SCHEMA
    )
    n_runs_after = write_table(compacted, stage, partition_by=("term_bucket",))
    _write_meta(spark, stage, meta)
    swap_dir(stage, path)
    return {
        "n_runs_before": n_runs_before,
        "n_runs_after": n_runs_after,
        "n_files_before": n_files_before,
        "n_files_after": count_files(path),
    }


def _shard_term_runs(posts_pdf):
    """term -> run rows sorted by (block_id, first_doc_id) — the seam
    tiebreak keeps concatenation ascending in doc_id after an append,
    which the proximity searchsorted path requires. Rows stay ENCODED
    here; decode happens per candidate block (_arrays_for)."""
    return {
        term: grp.sort_values(["block_id", "first_doc_id"])
        for term, grp in posts_pdf.groupby("term", sort=False)
    }


def _candidate_blocks(runs_by_term, terms):
    """Block ids where every term in `terms` has a run — blocks are
    doc-range aligned across terms, so a doc containing every term
    carries postings for each of them in the SAME block_id. None when
    `terms` is empty, some term is absent from the shard or the
    intersection is empty."""
    allowed = None
    for t in dict.fromkeys(terms):
        runs = runs_by_term.get(t)
        if runs is None:
            return None
        blocks = set(runs["block_id"].tolist())
        allowed = blocks if allowed is None else (allowed & blocks)
        if not allowed:
            return None
    return allowed


def _decoded_runs(term, runs, span: int, decoded_cache: dict, allowed=None):
    """Yield the flat (docs, pos) pairs of each of `term`'s runs whose
    block id is in `allowed` (every run when None). Decoded runs are
    memoized per (term, block_id, first_doc) across the phrases sharing
    a shard."""
    from ..functions.codec import decode_block

    for row in runs.itertuples(index=False):
        if allowed is not None and int(row.block_id) not in allowed:
            continue
        key = (term, int(row.block_id), int(row.first_doc_id))
        hit = decoded_cache.get(key)
        if hit is None:
            d, tf = decode_block(row.doc_ids_vb, row.tfs_vb, int(row.block_id) * span)
            hit = (np.repeat(d, tf), decode_positions(row.pos_vb, tf))
            decoded_cache[key] = hit
        yield hit


def _concat_pairs(pairs):
    return np.concatenate([d for d, _ in pairs]), np.concatenate([p for _, p in pairs])


def _arrays_for(runs_by_term, q_terms, span: int, decoded_cache: dict):
    """Per query term: (docs, pos) flat pairs restricted to CANDIDATE
    blocks (_candidate_blocks) — block-skipping: all other runs skip
    decode entirely (a hot term like `def` in a phrase with a rare term
    decodes only the rare term's blocks). Returns None when some term
    is absent from the shard; {} for no terms."""
    uniq = list(dict.fromkeys(q_terms))
    if not uniq:
        return {}
    allowed = _candidate_blocks(runs_by_term, uniq)
    if allowed is None:
        return None
    return {
        t: _concat_pairs(list(_decoded_runs(t, runs_by_term[t], span, decoded_cache, allowed)))
        for t in uniq
    }


def _prefix_union_arrays(runs_by_term, stem: str, span: int, decoded_cache, allowed=None):
    """(docs, pos) union over EVERY shard term starting with `stem`,
    restricted to `allowed` block ids when given (the phrase terms'
    candidate blocks — a doc matching the exact head must carry its
    postings there). (doc, pos) pairs are unique across distinct terms
    (one token per position), so the sorted union is intersect-safe.
    Returns None when no shard term matches the stem."""
    pairs = [
        hit
        for t, runs in runs_by_term.items()
        if t.startswith(stem)
        for hit in _decoded_runs(t, runs, span, decoded_cache, allowed)
    ]
    return _concat_pairs(pairs) if pairs else None


def phrase_prefix_occurrences(
    term_arrays, q_terms: list[str], prefix_pairs
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, match_tf) for a PHRASE-PREFIX query (search-as-you-
    type, Elasticsearch match_phrase_prefix): q_terms occupy positions
    0..L-1 exactly and position L holds ANY token starting with the
    stem (prefix_pairs = the union (docs, pos) of every matching
    term's postings). Same composite-key intersection as
    phrase_occurrences with the prefix union as the final term."""
    L1 = len(q_terms) + 1
    keys = None
    for i, t in enumerate(q_terms):
        if t not in term_arrays:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        docs, pos = term_arrays[t]
        k = (docs.astype(np.uint64) << _DOC_SHIFT) + (pos - i + L1).astype(np.uint64)
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
        if keys.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    pdocs, ppos = prefix_pairs
    pk = (pdocs.astype(np.uint64) << _DOC_SHIFT) + (
        ppos - len(q_terms) + L1
    ).astype(np.uint64)
    pk.sort()
    keys = (
        pk
        if keys is None
        else np.intersect1d(keys, pk, assume_unique=True)
    )
    if keys.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    match_docs = (keys >> _DOC_SHIFT).astype(np.int64)
    uniq, counts = np.unique(match_docs, return_counts=True)
    return uniq, counts.astype(np.int64)


def phrase_occurrences(term_arrays, q_terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, phrase_tf) of exact-phrase occurrences, fully
    vectorized: intersect composite (doc, normalized-start) keys across
    the phrase's terms (module docstring)."""
    L = len(q_terms)
    keys = None
    for i, t in enumerate(q_terms):
        if t not in term_arrays:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        docs, pos = term_arrays[t]
        k = (docs.astype(np.uint64) << _DOC_SHIFT) + (pos - i + L).astype(np.uint64)
        keys = k if keys is None else np.intersect1d(keys, k, assume_unique=True)
        if keys.size == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    match_docs = (keys >> _DOC_SHIFT).astype(np.int64)
    uniq, counts = np.unique(match_docs, return_counts=True)
    return uniq, counts.astype(np.int64)


def proximity_docs(
    term_arrays, q_terms: list[str], window: int
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_ids, n_anchors): docs where every query term occurs within
    ±window tokens of some occurrence of the FIRST term (the anchor);
    n_anchors counts the anchoring positions. searchsorted range-exists
    per term over the candidate docs' position slices — work is bounded
    by the anchor term's postings in the shard, never the corpus."""
    uniq_terms = list(dict.fromkeys(q_terms))
    for t in uniq_terms:
        if t not in term_arrays:
            return np.empty(0, np.int64), np.empty(0, np.int64)
    a_docs, a_pos = term_arrays[uniq_terms[0]]
    ok = np.ones(a_pos.size, dtype=bool)
    for t in uniq_terms[1:]:
        docs, pos = term_arrays[t]
        # composite keys make per-doc ranges globally comparable
        tkeys = docs.astype(np.int64) * np.int64(1 << 32) + pos
        lo = a_docs.astype(np.int64) * np.int64(1 << 32) + (a_pos - window)
        hi = a_docs.astype(np.int64) * np.int64(1 << 32) + (a_pos + window)
        # positions are << 2^31 so the ±window arithmetic stays inside
        # the anchor doc's key range
        left = np.searchsorted(tkeys, lo, side="left")
        right = np.searchsorted(tkeys, hi, side="right")
        ok &= right > left
    hit_docs = a_docs[ok]
    uniq, counts = np.unique(hit_docs, return_counts=True)
    return uniq.astype(np.int64), counts.astype(np.int64)


def make_phrase_topk(
    postings,
    block_span: int | None = None,
    n_buckets: int | None = None,
):
    """Bind a positional index to phrase/proximity query functions.

    query(text, k)            → DataFrame(rank, doc_id, phrase_tf)
    query.query_set([(id, text, k)]) → DataFrame(phrase_id, rank, doc_id, phrase_tf)
    query.near(text, k, window)      → DataFrame(rank, doc_id, n_anchors)
    query.matches(text[, window])    → DataFrame(doc_id, phrase_tf) — ALL
                                       matches, unranked (filter shape)

    Plan per call: bucket-pruned postings scan (term IN pushed; on a
    persisted index term_bucket literals prune directories) →
    group_in_partitions on part_id (one shuffle) → per-shard numpy
    phrase intersection → TakeOrderedAndProject top-k (query/near: the
    rank window then sees ≤ k rows and needs no shuffle of its own).
    Document text is never read.
    """
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..plans.layout import group_in_partitions, sql_in, sql_lit

    span = block_span or DEFAULT_BLOCK_SPAN
    spark = postings.sparkSession
    bucketed = bool(n_buckets) and "term_bucket" in postings.columns
    # the scan projection, built once per binding: the columns the
    # per-shard matcher reads (+ term_bucket for the pruning filter)
    projected = postings.select(
        "part_id", "term", "block_id", "first_doc_id", "doc_ids_vb",
        "tfs_vb", "pos_vb", *(["term_bucket"] if bucketed else []),
    )

    def _scan(all_terms: list[str], stems: tuple = ()):
        preds = [sql_in("term", sorted(set(all_terms)))] if all_terms else []
        # an open prefix cannot bucket-prune (h32 buckets don't preserve
        # prefixes) — the StringStartsWith still pushes to Parquet and
        # prunes row groups on the term-sorted persisted layout
        preds += [f"startswith(term, {sql_lit(s)})" for s in sorted(set(stems))]
        pred = " OR ".join(preds)
        if bucketed and not stems:
            from ..functions.hashing import h32_py

            buckets = sorted({h32_py(t) % n_buckets for t in all_terms})
            pred = f"{sql_in('term_bucket', buckets)} AND {pred}"
        return projected.filter(pred)

    def _per_shard_matches(specs, window, count_col, out_schema, stem_of=None):
        """(phrase_id, doc_id, count) per shard — specs carry k=None for
        UNCAPPED full-match mode (the must-contain filter shape), an int
        k for shard-capped top-k mode. window may be None/int (one mode
        for the whole batch) or a per-spec dict {phrase_id: None|int} —
        mixed exact-phrase and proximity specs then share the single
        scan + shuffle (the boolean compiler's sloppy-phrase path).
        stem_of maps phrase_id → trailing prefix stem for PHRASE-PREFIX
        specs ("merge sha*"): the scan cannot push `term IN` for the
        open last position, so those specs switch the scan filter to an
        OR with startswith(stem)."""
        all_terms = sorted({t for _, q, _ in specs for t in q})
        win_of = (
            window
            if isinstance(window, dict)
            else {pid: window for pid, _, _ in specs}
        )
        stem_of = stem_of or {}

        def match_fn(pdf):
            import pandas as pd

            runs_by_term = _shard_term_runs(pdf)
            decoded_cache: dict = {}
            out_p, out_d, out_c = [], [], []
            for pid, q_terms, k in specs:
                arrays = _arrays_for(runs_by_term, q_terms, span, decoded_cache)
                if arrays is None:
                    continue
                win = win_of[pid]
                stem = stem_of.get(pid)
                if stem is not None:
                    # phrase-prefix: restrict the prefix union to the
                    # exact head's candidate blocks (None — no
                    # restriction — for an empty head)
                    pre = _prefix_union_arrays(
                        runs_by_term, stem, span, decoded_cache,
                        _candidate_blocks(runs_by_term, q_terms),
                    )
                    if pre is None:
                        continue
                    docs, counts = phrase_prefix_occurrences(arrays, q_terms, pre)
                elif win is None:
                    docs, counts = phrase_occurrences(arrays, q_terms)
                else:
                    docs, counts = proximity_docs(arrays, q_terms, win)
                if k is not None and docs.size > k:
                    # per-shard k-cap (the WAND heap's role here): the
                    # global top-k is a subset of the shard top-ks, so
                    # the downstream rank window sees ≤ k·n_shards rows
                    # per phrase — a hot phrase can never funnel every
                    # matching doc of the corpus into one reducer
                    sel = np.lexsort((docs, -counts))[:k]
                    docs, counts = docs[sel], counts[sel]
                out_p.extend([pid] * docs.size)
                out_d.extend(docs.tolist())
                out_c.extend(counts.tolist())
            return pd.DataFrame(
                {
                    "phrase_id": pd.Series(out_p, dtype="int32"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    count_col: pd.Series(out_c, dtype="int64"),
                }
            )

        scan = _scan(all_terms, stems=tuple(s for s in stem_of.values() if s))
        return group_in_partitions(scan, ["part_id"], match_fn, out_schema)

    def query_set(phrases, window: int | None = None):
        """All phrases in ONE plan (one scan, one shuffle), same
        amortization as wand.query_set. phrases: [(phrase_id, text, k)].
        window=None → exact phrase; window=w → proximity match."""
        specs = []
        for pid, text, k in phrases:
            q_terms = tokenize_py(text)
            if q_terms and k > 0:
                specs.append((int(pid), q_terms, int(k)))
        count_col = "phrase_tf" if window is None else "n_anchors"
        out_schema = f"phrase_id int, doc_id long, {count_col} long"
        if not specs:
            return local_rows(
                spark, [], f"phrase_id int, rank int, doc_id long, {count_col} long"
            )
        per_shard = _per_shard_matches(specs, window, count_col, out_schema)
        kmap = sql_lit({p: k for p, _, k in specs})
        return per_shard.selectExpr(
            "phrase_id",
            f"row_number() OVER (PARTITION BY phrase_id "
            f"ORDER BY {count_col} DESC, doc_id) AS rank",
            "doc_id",
            count_col,
        ).filter(f"rank <= element_at({kmap}, phrase_id)")

    def _top(text: str, k: int, window: int | None):
        """One phrase's top-k as a k-heap: orderBy().limit(k) plans as
        TakeOrderedAndProject, so the rank window sees ≤ k rows on one
        partition — no shuffle for it (query_set's per-phrase window
        needs one)."""
        count_col = "phrase_tf" if window is None else "n_anchors"
        q_terms, k = tokenize_py(text), int(k)
        if not q_terms or k <= 0:
            return local_rows(spark, [], f"rank int, doc_id long, {count_col} long")
        per_shard = _per_shard_matches(
            [(0, q_terms, k)],
            window,
            count_col,
            f"phrase_id int, doc_id long, {count_col} long",
        )
        return per_shard.orderBy(F.desc(count_col), F.asc("doc_id")).limit(k).selectExpr(
            f"row_number() OVER (ORDER BY {count_col} DESC, doc_id) AS rank",
            "doc_id",
            count_col,
        )

    def query(text: str, k: int):
        return _top(text, k, None)

    def near(text: str, k: int, window: int):
        return _top(text, k, window)

    def matches(text: str, window: int | None = None):
        """EVERY matching doc, unranked and uncapped — the must-contain
        FILTER shape (semi-join side): (doc_id, phrase_tf|n_anchors).
        No rank window at all, so a hot phrase costs one scan + one
        shuffle and streams straight into the consuming join."""
        q_terms = tokenize_py(text)
        count_col = "phrase_tf" if window is None else "n_anchors"
        if not q_terms:
            return local_rows(spark, [], f"doc_id long, {count_col} long")
        per_shard = _per_shard_matches(
            [(0, q_terms, None)],
            window,
            count_col,
            f"phrase_id int, doc_id long, {count_col} long",
        )
        return per_shard.select("doc_id", count_col)

    def matches_set(phrases):
        """Batch filter shape: EVERY matching doc for EVERY phrase, in
        ONE plan (one bucket-pruned scan + one shuffle for the whole
        set) — (phrase_id, doc_id, phrase_tf), unranked and uncapped.
        phrases: [(phrase_id, text)] for exact phrases, or
        [(phrase_id, text, window)] with window=None for exact /
        window=w for a ±w proximity (sloppy) match, or
        [(phrase_id, text, None, stem)] for a PHRASE-PREFIX match
        (exact head then any token starting with stem — search-as-you-
        type) — mixed specs share the single scan. The boolean-query
        compiler's phrase-leaf source (operators/boolquery.py); for
        proximity rows phrase_tf carries n_anchors."""
        specs = []
        win_of = {}
        stem_of = {}
        for spec in phrases:
            pid, text = spec[0], spec[1]
            win = spec[2] if len(spec) > 2 else None
            stem = spec[3] if len(spec) > 3 else None
            q_terms = tokenize_py(text)
            if q_terms or stem:
                specs.append((int(pid), q_terms, None))
                win_of[int(pid)] = win
                if stem:
                    stem_of[int(pid)] = stem
        if not specs:
            return local_rows(
                spark, [], "phrase_id int, doc_id long, phrase_tf long"
            )
        return _per_shard_matches(
            specs,
            win_of,
            "phrase_tf",
            "phrase_id int, doc_id long, phrase_tf long",
            stem_of=stem_of,
        )

    query.query_set = query_set
    query.near = near
    query.matches = matches
    query.matches_set = matches_set
    return query
