"""Query-time top-k over the compressed index with block-max WAND
pruning (SURVEY.md §4.3 item 2). EXACT: the same top-k and the same
float scores as the brute-force DataFrame path (tests/test_wand.py
asserts bit-equality), because

  * blocks are doc-range aligned, so a window's upper bound
    UB(w) = Σ_t qtf_t · idf⁺(t) · g(block_max_tf, block_min_dl) is a
    true bound on any doc score inside the window (g is the BM25 tf
    normalizer, increasing in tf and decreasing in doc_len; idf⁺ clamps
    negative floored idf to 0). The bound is derived HERE from the
    idf-free block metadata — blocks never bake in global stats, so an
    incrementally maintained index reuses untouched shards soundly;
  * a window is skipped only when UB(w) ≤ θ (current k-th best): a
    skipped doc could at best TIE θ, and windows are processed in
    ascending doc order with the (score DESC, doc_id ASC) tie-break,
    so a tying later doc never displaces an incumbent;
  * surviving windows are scored exactly, adding per-term contributions
    in ascending term order — the same accumulation order (and the
    same expression shape, left-associative) as the brute-force path
    and the oracle, so floats reproduce bit-for-bit.

Physical plan: postings ⋈ broadcast(query idf) [term filter pushed to
the Parquet scan; term_bucket prunes partitions on a persisted index]
→ union with the shard_meta rows (meta tagged by a null term, so the
doc_lens blob moves ONCE per shard, never once per posting row) →
group_in_partitions on part_id (hash exchange → sort → one
mapInPandas; numpy decode + WAND + per-shard k-heap per shard group) →
global orderBy/limit (planned as TakeOrderedAndProject — a distributed
k-heap, no full sort). Exactly one shuffle after the scan.
"""

from __future__ import annotations

from collections import Counter

from ..functions.tokenize import tokenize_py

_POST_COLS = [
    "part_id", "term", "block_id", "block_max_tf", "block_min_dl",
    "doc_ids_vb", "tfs_vb", "idf",
]


def _tagged_union(matched, shard_meta):
    """posts rows + meta rows in ONE relation keyed by part_id: meta
    rows carry (first_doc_id, doc_lens) with term null; posting rows
    carry null meta columns. Grouped on part_id, each shard group then
    holds every row the per-shard kernel needs, while the
    ~docs_per_shard·4-byte doc_lens blob is shipped exactly once per
    shard."""
    from pyspark.sql import functions as F

    posts = matched.select(
        *_POST_COLS,
        F.lit(None).cast("long").alias("_shard_first"),
        F.lit(None).cast("binary").alias("_shard_lens"),
    )
    meta = shard_meta.select(
        "part_id",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("block_id"),
        F.lit(None).cast("int").alias("block_max_tf"),
        F.lit(None).cast("int").alias("block_min_dl"),
        F.lit(None).cast("binary").alias("doc_ids_vb"),
        F.lit(None).cast("binary").alias("tfs_vb"),
        F.lit(None).cast("double").alias("idf"),
        F.col("first_doc_id").alias("_shard_first"),
        F.col("doc_lens").alias("_shard_lens"),
    )
    return posts.unionByName(meta)


def _split_shard(group):
    """One part_id group → (posts_pdf sorted by (block_id, term),
    first_doc, doc_lens_bytes), or None when the shard has no meta row
    or no postings (a one-sided shard scores nothing)."""
    is_meta = group["term"].isna().to_numpy()
    if is_meta.all() or not is_meta.any():
        return None
    meta = group[is_meta].iloc[0]
    posts = group[~is_meta].sort_values(["block_id", "term"])
    return posts, int(meta["_shard_first"]), meta["_shard_lens"]


def _wand_shard(shard, rows, qw, ub, k, prune, span, k1, b_, avgdl):
    """Exact block-max WAND over one shard for one query → (doc_ids,
    scores) of the shard's top-k, unordered.

    shard: _split_shard output; rows: the query's posting rows in
    (block_id, term) order; qw / ub: per-row query weight and block
    upper bound. Contributions are added per doc in ascending term
    order with the brute-force path's expression shape, so scores are
    bit-identical to it (test_wand)."""
    import numpy as np

    from local_search_engine_spark.functions.codec import decode_block, unpack_i32

    posts, first_doc, lens_bytes = shard
    doc_lens = unpack_i32(lens_bytes).astype(np.float64)
    bid_a = posts["block_id"].to_numpy(np.int64)[rows]
    dvb_a = posts["doc_ids_vb"].to_numpy()[rows]
    tvb_a = posts["tfs_vb"].to_numpy()[rows]
    idf_a = posts["idf"].to_numpy(np.float64)[rows]
    scores = np.zeros(doc_lens.size, dtype=np.float64)
    touched = np.zeros(doc_lens.size, dtype=bool)
    # running top-k as parallel numpy arrays: θ only matters at WINDOW
    # boundaries (a surviving window is always scored in full), so the
    # top-k is merged once per surviving window (one vectorized merge +
    # lexsort) — the same (score DESC, doc_id ASC) selection as a
    # per-doc heap.
    topk_s = np.empty(0, dtype=np.float64)
    topk_d = np.empty(0, dtype=np.int64)
    theta = -np.inf
    starts = np.flatnonzero(np.concatenate(([True], bid_a[1:] != bid_a[:-1])))
    ends = np.append(starts[1:], bid_a.size)
    for s_i, e_i in zip(starts, ends):
        if prune and topk_s.size == k and float(ub[s_i:e_i].sum()) <= theta:
            continue  # window cannot beat the k-th best
        base = int(bid_a[s_i]) * span
        for i in range(s_i, e_i):
            d, tf = decode_block(dvb_a[i], tvb_a[i], base)
            off = d - first_doc
            dl = doc_lens[off]
            tfd = tf.astype(np.float64)
            contrib = (
                idf_a[i]
                * qw[i]
                * tfd
                * (k1 + 1.0)
                / (tfd + k1 * (1.0 - b_ + b_ * dl / avgdl))
            )
            scores[off] += contrib
            touched[off] = True
        lo = max(base - first_doc, 0)
        hi = min(base + span - first_doc, doc_lens.size)
        offs = np.flatnonzero(touched[lo:hi]) + lo
        if offs.size:
            cand_s = np.concatenate((topk_s, scores[offs]))
            cand_d = np.concatenate((topk_d, offs + first_doc))
            touched[offs] = False
            scores[offs] = 0.0
            if cand_s.size > k:
                sel = np.lexsort((cand_d, -cand_s))[:k]
                topk_s, topk_d = cand_s[sel], cand_d[sel]
            else:
                topk_s, topk_d = cand_s, cand_d
            if topk_s.size == k:
                theta = float(topk_s.min())
    return topk_d, topk_s


def make_wand_topk(index, postings, shard_meta, block_span: int | None = None, n_buckets: int | None = None):
    """Bind a compressed index (operators/postings.py output) to a query
    function: query(text, k, prune=True) → DataFrame(rank, doc_id, score).

    n_buckets: pass the index's bucket count when postings come from a
    persisted index written partitionBy("term_bucket") — the query then
    adds term_bucket literals (computed driver-side via the portable h32
    hash, no Spark job) so the Parquet scan prunes whole bucket
    directories instead of reading the full index.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..plans.layout import group_in_partitions

    span = block_span or DEFAULT_BLOCK_SPAN
    k1, b_, avgdl = index.params.k1, index.params.b, index.avgdl
    spark = postings.sparkSession
    idf_small = index.idf.select("term", "idf")

    def query(text: str, k: int, prune: bool = True):
        qtf = dict(sorted(Counter(tokenize_py(text)).items()))
        if not qtf or k <= 0:
            return spark.createDataFrame([], "rank int, doc_id long, score double")
        terms = list(qtf)
        scan = postings
        if n_buckets and "term_bucket" in postings.columns:
            from ..functions.hashing import h32_py

            # bucket literals computed driver-side (hashlib) — zero jobs
            buckets = sorted({h32_py(t) % n_buckets for t in terms})
            scan = scan.filter(F.col("term_bucket").isin(buckets))
        matched = scan.filter(F.col("term").isin(terms)).join(
            F.broadcast(idf_small.filter(F.col("term").isin(terms))), "term"
        )

        def score_fn(group):
            import numpy as np
            import pandas as pd

            shard = _split_shard(group)
            if shard is None:
                return pd.DataFrame()
            posts = shard[0]
            # per-block upper bound from the idf-free metadata:
            # idf⁺·qtf·(k1+1)·max_tf / (max_tf + k1·(1−b+b·min_dl/avgdl))
            # — true bound (BM25 contribution increases in tf,
            # decreases in dl); idf clamped at 0 because a doc NOT
            # containing a negatively-scored term would otherwise
            # exceed the "bound" (negative floored idf is legal when
            # avg_idf < 0)
            qw = np.array([float(qtf[t]) for t in posts["term"]], dtype=np.float64)
            mt = posts["block_max_tf"].to_numpy(np.float64)
            md = posts["block_min_dl"].to_numpy(np.float64)
            idfp = np.maximum(posts["idf"].to_numpy(np.float64), 0.0)
            ub = idfp * qw * mt * (k1 + 1.0) / (mt + k1 * (1.0 - b_ + b_ * md / avgdl))
            d, sc = _wand_shard(
                shard, slice(None), qw, ub, k, prune, span, k1, b_, avgdl
            )
            return pd.DataFrame({"doc_id": d, "score": sc})

        per_shard = group_in_partitions(
            _tagged_union(matched, shard_meta),
            ["part_id"],
            score_fn,
            "doc_id long, score double",
        )
        topk = per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return topk.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score"
        )

    def query_set(queries, prune: bool = True):
        """Batch path: ALL queries against the index in ONE plan — one
        postings scan (filtered to the union of all query terms, bucket-
        pruned), one shuffle, one per-shard pandas pass that runs the
        same exact block-max WAND loop per query. Per-query results are
        identical to query() (tests assert it); wall cost amortizes the
        per-job overhead across the whole set, exactly like
        operators/query.run_query_set does for the brute-force path.

        queries: [(query_id, text, k)] → DataFrame(query_id, rank,
        doc_id, score).
        """
        qspecs = []
        for qid, text, k in queries:
            qtf = dict(sorted(Counter(tokenize_py(text)).items()))
            if qtf and k > 0:
                qspecs.append((int(qid), qtf, int(k)))
        if not qspecs:
            return spark.createDataFrame(
                [], "query_id int, rank int, doc_id long, score double"
            )
        all_terms = sorted({t for _, qtf, _ in qspecs for t in qtf})
        scan = postings
        if n_buckets and "term_bucket" in postings.columns:
            from ..functions.hashing import h32_py

            buckets = sorted({h32_py(t) % n_buckets for t in all_terms})
            scan = scan.filter(F.col("term_bucket").isin(buckets))
        matched = scan.filter(F.col("term").isin(all_terms)).join(
            F.broadcast(idf_small.filter(F.col("term").isin(all_terms))), "term"
        )

        def score_set_fn(group):
            import numpy as np
            import pandas as pd

            shard = _split_shard(group)
            if shard is None:
                return pd.DataFrame()
            posts = shard[0]
            # a term factorization so each query's row subset is an
            # int-code isin, not a per-query string isin
            codes, uniques = pd.factorize(posts["term"])
            term_list = list(uniques)
            # query-independent part of the block bound (score_fn) —
            # computed once per shard, scaled by each query's qtf
            mt = posts["block_max_tf"].to_numpy(np.float64)
            md = posts["block_min_dl"].to_numpy(np.float64)
            idfp = np.maximum(posts["idf"].to_numpy(np.float64), 0.0)
            ub1 = idfp * mt * (k1 + 1.0) / (mt + k1 * (1.0 - b_ + b_ * md / avgdl))
            out_q: list = []
            out_d: list = []
            out_s: list = []
            for qid, qtf, k in qspecs:
                pres = [ci for ci, t in enumerate(term_list) if t in qtf]
                if not pres:
                    continue
                idxs = np.flatnonzero(np.isin(codes, pres))
                qw = np.array(
                    [float(qtf[term_list[codes[i]]]) for i in idxs],
                    dtype=np.float64,
                )
                d, sc = _wand_shard(
                    shard, idxs, qw, ub1[idxs] * qw, k, prune, span, k1, b_, avgdl
                )
                out_q.extend([qid] * d.size)
                out_d.extend(d.tolist())
                out_s.extend(sc.tolist())
            return pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int32"),
                    "doc_id": pd.Series(out_d, dtype="int64"),
                    "score": pd.Series(out_s, dtype="float64"),
                }
            )

        per_shard = group_in_partitions(
            _tagged_union(matched, shard_meta),
            ["part_id"],
            score_set_fn,
            "query_id int, doc_id long, score double",
        )
        kmap = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(q) for q, _, _ in qspecs]),
                F.array(*[F.lit(k) for _, _, k in qspecs]),
            ),
            F.col("query_id"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kmap)
            .select("query_id", "rank", "doc_id", "score")
        )

    query.query_set = query_set
    return query
