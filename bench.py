"""Bench harness — headline engine queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Coverage (the north-rule headline path plus the training-data-pipeline
operators): full BM25 index build (tokenize → tf → df/idf two-pass
epsilon floor), compressed block-max postings build, brute-force batch
BM25 top-k, block-max WAND top-k, exact + MinHash-LSH dedup, embedding
cosine top-k, text quality/fingerprint scans.

Every timing forces a real materialization (count / collect of the final
small result), never a bare .explain. Scaling-efficiency evidence
(local[8] vs local[32] on the same input) is produced by
scripts/bench_scaling.py and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    try:
        return float(m.group(1).rstrip(".")) if m else -1.0
    except ValueError:
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from local_search_engine_spark.operators import dedup as D
    from local_search_engine_spark.operators import similarity as SIM
    from local_search_engine_spark.operators import textstats as TS
    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.operators.postings import build_postings
    from local_search_engine_spark.operators.query import run_query_set
    from local_search_engine_spark.operators.wand import make_wand_topk
    from local_search_engine_spark.session import get_spark

    spark = get_spark("bench", cores=cores)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs_in = docs.count()  # warm the scan outside any timed region
    emb.count()

    timings: dict[str, float] = {}

    def bench(name: str, fn, reps: int = 2):
        """Record MIN-of-reps wall time for fn. This box is a microVM on
        shared hardware: identical jobs measured 2-6x apart run-to-run
        from host noisy-neighbor contention (minhash_lsh 6.9s and 41.6s
        in back-to-back runs of the same plan). min-of-2 is the standard
        steady-state estimator under asymmetric external noise; every fn
        re-executes its full plan (nothing cached across reps unless the
        item's contract says so)."""
        best = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        return out

    # untimed warmup: run a miniature twin of EVERY timed plan shape so
    # the timed regions measure engine steady-state throughput, not
    # first-execution cost (whole-stage codegen compilation, Python/Arrow
    # worker spin-up, broadcast machinery) — the same protocol as
    # scripts/bench_scaling.py. Measured at sf0.1: the first execution of
    # each shape is 2-5x its steady state (bm25 batch 15.9s -> 3.8s), so
    # without this the bench grades JVM warmup, not the engine.
    mini = docs.limit(300).cache()
    mini.count()
    wi = build_index_from(mini, text_col="text", cache=False)
    wp, wm = build_postings(wi, docs_per_shard=200, block_span=64, n_buckets=8)
    wp = wp.cache()
    wm = wm.cache()
    wp.count()
    wm.count()
    wi.idf.count()
    run_query_set(wi, [(0, "warm table query", 3)]).collect()
    wwand = make_wand_topk(wi, wp, wm, block_span=64)
    wwand("warm merge query", 3, prune=True).collect()
    wwand.query_set([(0, "warm", 3), (1, "warm two", 3)], prune=True).collect()
    from local_search_engine_spark.operators.positional import (
        build_positional_postings as _bpp,
        make_phrase_topk as _mpt,
    )

    _wpos = _bpp(mini, docs_per_shard=200, block_span=64, n_buckets=8)
    _wq = _mpt(_wpos, block_span=64, n_buckets=8)
    _wq.query_set([(0, "warm table", 3)]).collect()
    _wq.near("warm table", 3, window=4).collect()
    from local_search_engine_spark.operators import boolquery as BQ

    BQ.matches(wi, "warm AND NOT table", phrase_query=_wq).count()
    BQ.topk(wi, '"warm table" OR warm', 3, phrase_query=_wq).collect()
    from local_search_engine_spark.operators import aggs as _AGG

    _AGG.facet_topn(wi, "(warm OR table OR query)~2", "lang", 3).collect()
    _AGG.group_stats(wi, "warm", "source", "n_chars").collect()
    _AGG.numeric_histogram(wi, "warm", "n_chars", 100).collect()
    from local_search_engine_spark.operators.morelike import more_like_this as _MLT

    _MLT(wi, 1, 3, max_query_terms=8).collect()
    from local_search_engine_spark.operators.build import (
        build_index_fields as _BIF,
    )
    from local_search_engine_spark.operators.query import score_all as _SAF

    _wf = _BIF(mini.select("doc_id", "text", "source"), {"text": 1.0, "source": 2.0})
    _SAF(_wf, "warm table").orderBy("doc_id").limit(3).collect()
    from local_search_engine_spark.streaming.percolate import percolate as _perc

    _perc(mini, [(0, "warm table")], "text", "doc_id").count()
    D.exact_dedup_groups(mini, "text", "doc_id").count()
    D.minhash_lsh_pairs(mini, "text", "doc_id", n=3, bands=4, threshold=0.7).count()
    D.simhash_pairs(mini, "text", "doc_id", max_hamming=3, n_bands=4).count()
    memb = emb.limit(300).cache()
    memb.count()
    D.embedding_neardup_lsh_pairs(memb, dim=64, threshold=0.9, bits=8).count()
    _wqv = [float(x) for x in memb.first()["embedding"]]
    SIM.cosine_topk(
        memb, _wqv, 3, allowed=BQ.matches(wi, "warm").select("doc_id")
    ).collect()
    wqv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    SIM.cosine_scores(memb, wqv).orderBy(F.desc("cosine")).limit(3).collect()
    TS.quality_scores(mini, "text", "doc_id").count()
    TS.doc_fingerprints(mini, "text", "doc_id").count()
    TS.repetition_scores(mini, "text", "doc_id").count()
    D.benchmark_contamination(
        mini, mini.filter(F.col("doc_id") % 37 == 0), "text", "doc_id"
    ).count()
    from local_search_engine_spark.functions.embed import embed_docs
    from local_search_engine_spark.operators.chunking import chunk_docs_separators
    from local_search_engine_spark.operators.retrieval import hybrid_search
    from local_search_engine_spark.operators.spell import correct_tokens

    embed_docs(mini, "text", "doc_id", dim=32).count()
    chunk_docs_separators(mini, "text", "doc_id").count()
    hybrid_search(wi, memb, "warm hybrid query", wqv, k=5)[0].collect()
    correct_tokens(wi.idf.select("term", "df"), ["warm"], max_d=2).collect()
    import datetime

    from local_search_engine_spark.operators.fusion import temporal_flexible

    wev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(300)
    temporal_flexible(
        wev,
        "ts",
        start=datetime.datetime(2024, 1, 8),
        end=datetime.datetime(2024, 1, 15),
        now=datetime.datetime(2024, 2, 1),
    ).count()
    mini.unpersist()
    memb.unpersist()
    wp.unpersist()
    wm.unpersist()

    # --- index build: the north-rule headline (docs/sec) ---------------
    def _build():
        i = build_index_from(docs, text_col="text")
        i.tf.count()
        i.idf.count()
        return i

    t0 = time.time()
    i1 = _build()
    t_a = time.time() - t0
    i1.tf.unpersist()
    i1.idf.unpersist()
    i1.docs.unpersist()
    t0 = time.time()
    idx = _build()
    t_b = time.time() - t0
    timings["index_build"] = round(min(t_a, t_b), 4)
    docs_per_sec = round(n_docs_in / max(timings["index_build"], 1e-9), 2)

    # --- compressed block-max postings over the built index ------------
    def _postings():
        p, m = build_postings(idx, docs_per_shard=200, block_span=64, n_buckets=8)
        p = p.cache()
        m = m.cache()
        p.count()
        m.count()
        return p, m

    t0 = time.time()
    p1, m1 = _postings()
    t_a = time.time() - t0
    p1.unpersist()
    m1.unpersist()
    t0 = time.time()
    postings, shard_meta = _postings()
    t_b = time.time() - t0
    timings["postings_build"] = round(min(t_a, t_b), 4)

    # --- query paths ----------------------------------------------------
    qset = [
        (0, "table", 10),
        (1, "fast merge join query", 10),
        (2, "spark window", 5),
        (3, "customer order line", 15),
    ]
    bench("bm25_batch_bruteforce", lambda: run_query_set(idx, qset).collect())

    wand = make_wand_topk(idx, postings, shard_meta, block_span=64)
    bench(
        "bm25_wand_topk",
        lambda: wand("fast merge join query", 20, prune=True).collect(),
    )
    bench("bm25_wand_batch", lambda: wand.query_set(qset, prune=True).collect())

    # --- positional index + phrase search (operators/positional.py) -----
    from local_search_engine_spark.operators.positional import (
        build_positional_postings,
        make_phrase_topk,
    )

    pos = build_positional_postings(
        docs, docs_per_shard=2000, block_span=256, n_buckets=16
    )
    bench("positional_index_build", lambda: pos.count())
    pos_c = pos.cache()
    pos_c.count()  # query benches read the cached index (contract: query
    # cost over a BUILT index, same as the wand items)
    pq = make_phrase_topk(pos_c, block_span=256, n_buckets=16)
    phrase_set = [
        (0, "table table", 20),
        (1, "fast table", 20),
        (2, "spark window", 20),
        (3, "customer order line", 10),
    ]
    bench("phrase_batch_topk", lambda: pq.query_set(phrase_set).collect())
    bench(
        "phrase_proximity_topk",
        lambda: pq.near("fast table", 20, window=4).collect(),
    )
    # boolean queries (operators/boolquery.py): filter shape over the
    # BM25 tf table (one scan + one doc_id shuffle), and the ranked
    # shape with phrase leaves resolved by the cached positional index
    bench(
        "bool_filter",
        lambda: BQ.matches(idx, "(table OR row) AND NOT (scan OR agg)").count(),
    )
    # aggregations over the match set (operators/aggs.py, r05d): terms
    # facet + per-group stats + numeric histogram, driven by an msm
    # group query — survivor set ⋈ pruned docs metadata, one combine-
    # reduced shuffle each; facet is TakeOrderedAndProject
    from local_search_engine_spark.operators import aggs as AGG

    def _aggs():
        q = "(table OR fast OR scan)~2 AND NOT merge"
        a = AGG.facet_topn(idx, q, "lang", 10).collect()
        b = AGG.group_stats(idx, q, "source", "n_chars").collect()
        c = AGG.numeric_histogram(idx, q, "n_chars", 100).collect()
        return len(a) + len(b) + len(c)

    bench("bool_aggs", _aggs)
    # more-like-this (operators/morelike.py, r05d): one-doc tf scan for
    # term selection + the standard broadcast BM25 OR plan
    bench(
        "more_like_this",
        lambda: _MLT(idx, 7, 10, max_query_terms=16).collect(),
    )
    # BM25F (build.build_index_fields, r05d): two-field blended build
    # (per-field tokenize+tf, union, one (doc_id, term) blend shuffle)
    # + one ranked query over the blended index — end-to-end cold
    from local_search_engine_spark.operators.build import build_index_fields

    def _bm25f():
        fi = build_index_fields(
            docs.select("doc_id", "text", "source"), {"text": 1.0, "source": 2.0}
        )
        return (
            score_all_fn(fi, "fast table")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .collect()
        )

    from local_search_engine_spark.operators.query import score_all as score_all_fn

    bench("bm25f_build_topk", _bm25f)
    bench(
        "bool_rank_topk",
        lambda: BQ.topk(
            idx,
            '("fast table" OR "spark window") AND NOT merge',
            20,
            phrase_query=pq,
        ).collect(),
    )
    # the full leaf zoo in one ranked query (r05c): sloppy phrase +
    # boost + prefix wildcard + trigram-pruned regex + NOT
    from local_search_engine_spark.operators.trigram import doc_trigrams

    rq = BQ.make_regex_matcher(
        docs.select("doc_id", "text"),
        text_col="text",
        trigram=doc_trigrams(docs, text_col="text"),
    )
    bench(
        "bool_leafzoo_topk",
        lambda: BQ.topk(
            idx,
            '"fast ta*" AND "fast table"~3^2 AND fas* AND '
            "/tab[a-z]+ [a-z]+ scan/ AND NOT merge",
            20,
            phrase_query=pq,
            regex_query=rq,
        ).collect(),
    )
    pos_c.unpersist()

    from local_search_engine_spark.streaming.percolate import percolate

    bench(
        "percolate_batch",
        lambda: percolate(
            docs,
            [(0, "table table"), (1, "fast table"), (2, "spark window")],
            "text",
            "doc_id",
        ).count(),
    )
    # boolean percolation (r05c): standing saved-searches in the full
    # query language, index-free, same zero-shuffle kernel family
    from local_search_engine_spark.streaming.percolate import percolate_bool

    bench(
        "percolate_bool_batch",
        lambda: percolate_bool(
            docs,
            [
                (0, "table AND fast AND NOT merge"),
                (1, '"fast table"~3 OR "spark window"'),
                (2, "tab* AND NOT scan"),
                (3, "/tab[a-z]+ [a-z]+ scan/ OR merge"),
            ],
            "text",
            "doc_id",
        ).count(),
    )

    # --- training-data-pipeline operators -------------------------------
    bench("dedup_exact", lambda: D.exact_dedup_groups(docs, "text", "doc_id").count())
    def _minhash_cold():
        # unpersist the operator's internal shingle cache after counting
        # so rep 2 re-runs the full pipeline (plan-equality cache matching
        # would otherwise hand rep 2 a pre-built shingle table)
        m: dict = {}
        n = D.minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, bands=4, threshold=0.7, metrics=m
        ).count()
        m["shingle_sets"].unpersist()
        return n

    bench("dedup_minhash_lsh", _minhash_cold)
    bench(
        "dedup_simhash_pairs",
        lambda: D.simhash_pairs(
            docs, "text", "doc_id", max_hamming=3, n_bands=4
        ).count(),
    )
    bench(
        "dedup_embedding_lsh",
        lambda: D.embedding_neardup_lsh_pairs(
            emb, dim=64, threshold=0.9, bits=8
        ).count(),
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    bench(
        "ann_cosine_topk",
        lambda: (
            SIM.cosine_scores(emb, qv)
            .filter(F.col("id") != 0)
            .orderBy(F.desc("cosine"), F.asc("id"))
            .limit(10)
            .collect()
        ),
    )
    # filtered vector search (r05d, ES knn+filter): boolean match set
    # as the allow-list, pre-filter semi-join before the scorer
    bench(
        "ann_filtered_topk",
        lambda: SIM.cosine_topk(
            emb, qv, 10,
            allowed=BQ.matches(idx, "fast AND NOT merge").select("doc_id"),
        ).collect(),
    )
    # persisted-ANN query latency: index build is UNTIMED (one-time
    # cost); the timed region is the pruned-scan query path — what a
    # 100 TB deployment pays per query
    import tempfile

    srp_dir = tempfile.mkdtemp(prefix="bench_srp_")
    SIM.persist_srp_index(emb.filter("vec_id <> 0"), 64, srp_dir, bits=8)
    SIM.srp_lsh_topk_persisted(spark, srp_dir, qv, 3).collect()  # warm shape
    bench(
        "ann_srp_persisted_query",
        lambda: SIM.srp_lsh_topk_persisted(
            spark, srp_dir, qv, 10, probe_hamming=1
        ).collect(),
    )
    ivf_dir = tempfile.mkdtemp(prefix="bench_ivf_")
    _cents = [
        [round(x, 6) for x in c]
        for c in SIM.ivf_train_centroids(emb, 16, 64, iters=1)
    ]
    SIM.persist_ivf_index(emb.filter("vec_id <> 0"), _cents, ivf_dir)
    bench(
        "ann_ivf_persisted_query",
        lambda: SIM.ivf_topk_persisted(spark, ivf_dir, qv, 10, nprobe=4).collect(),
    )
    # trigram-indexed exact substring search: index build untimed (the
    # one-time cost), timed region = bucket-pruned AND-count + verify
    from local_search_engine_spark.operators.trigram import (
        build_trigram_index,
        trigram_search,
    )

    tri_dir = tempfile.mkdtemp(prefix="bench_tri_")
    build_trigram_index(docs, tri_dir, text_col="text", id_col="doc_id")
    tri_index = spark.read.parquet(tri_dir)
    trigram_search(docs, "warm", index=tri_index, text_col="text").count()
    bench(
        "trigram_search",
        lambda: trigram_search(
            docs, "merge join", index=tri_index, text_col="text"
        ).count(),
    )
    from local_search_engine_spark.operators.trigram import trigram_search_regex

    # regex planner 'or' path: literal alternation -> union of trigram
    # AND-sets over the pruned scan, rlike verify on candidates only
    bench(
        "trigram_regex",
        lambda: trigram_search_regex(
            docs, "fast scan|slow merge", index=tri_index, text_col="text"
        ).count(),
    )
    bench("text_quality", lambda: TS.quality_scores(docs, "text", "doc_id").count())
    bench(
        "text_fingerprint", lambda: TS.doc_fingerprints(docs, "text", "doc_id").count()
    )
    bench(
        "text_repetition",
        lambda: TS.repetition_scores(docs, "text", "doc_id").count(),
    )
    bench(
        "benchmark_decontaminate",
        lambda: D.benchmark_contamination(
            docs, docs.filter(F.col("doc_id") % 37 == 0), "text", "doc_id"
        ).count(),
    )
    from local_search_engine_spark.functions.embed import embed_docs

    bench("embed_docs", lambda: embed_docs(docs, "text", "doc_id", dim=32).count())
    # PDF ingest seam: text -> real PDF binary -> parsed text, both
    # stages narrow Arrow mapInPandas (throughput = the binary decode
    # path a PDF corpus would pay at ingest)
    from local_search_engine_spark.operators.multimodal import (
        pdf_extract,
        synthesize_pdf_media,
    )

    pdf_extract(synthesize_pdf_media(docs.limit(200))).count()  # warm
    bench(
        "pdf_extract_roundtrip",
        lambda: pdf_extract(synthesize_pdf_media(docs)).count(),
    )
    from local_search_engine_spark.operators.chunking import chunk_docs_separators

    bench(
        "chunk_separators",
        lambda: chunk_docs_separators(docs, "text", "doc_id").count(),
    )
    import datetime

    from local_search_engine_spark.operators.fusion import temporal_flexible

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bench(
        "temporal_flexible",
        lambda: temporal_flexible(
            ev,
            "ts",
            start=datetime.datetime(2024, 1, 8),
            end=datetime.datetime(2024, 1, 15),
            now=datetime.datetime(2024, 2, 1),
        ).count(),
    )
    from local_search_engine_spark.operators.retrieval import hybrid_search

    bench(
        "hybrid_search",
        lambda: hybrid_search(idx, emb, "how to implement merge join", qv, k=20)[
            0
        ].collect(),
    )
    from local_search_engine_spark.operators.packing import pack_sequences
    from local_search_engine_spark.operators.symbols import extract_symbols

    # warm the two new shapes once (tiny), then time full-corpus passes
    pack_sequences(
        mini_tok := docs.limit(200).selectExpr(
            "doc_id", "length(text) as n_tokens"
        ),
        budget=4096,
    ).count()
    extract_symbols(docs.limit(200), text_col="text", lang_col="lang").count()
    bench(
        "pack_sequences",
        lambda: pack_sequences(
            docs.selectExpr("doc_id", "length(text) as n_tokens"), budget=4096
        ).count(),
    )
    bench(
        "symbols_extract",
        lambda: extract_symbols(docs, text_col="text", lang_col="lang").count(),
    )
    from local_search_engine_spark.operators.spell import correct_tokens

    bench(
        "spell_correct",
        lambda: correct_tokens(
            idx.idf.select("term", "df"),
            ["merg", "tabel", "windw", "query"],
            max_d=2,
        ).collect(),
    )
    # --- round-4: bench entries for the remaining round-3 operators ---
    from local_search_engine_spark.operators.cochange import co_change_edges

    cc_corpus = docs.selectExpr(
        "concat('r', doc_id % 3) AS repo",
        "concat('f', doc_id % 41) AS path",
        "concat('c', doc_id % 29) AS commit",
    )
    co_change_edges(cc_corpus.limit(500)).count()  # warm the shape
    bench("co_change_edges", lambda: co_change_edges(cc_corpus).count())
    from local_search_engine_spark.operators.graph import pagerank

    pr_edges = docs.selectExpr(
        "doc_id AS src", "(doc_id * 7 + 3) % 997 AS dst"
    ).filter("doc_id % 10 <> 0")
    pagerank(pr_edges.limit(200), exact_iters=2)  # warm the shape
    bench("pagerank_8iters", lambda: pagerank(pr_edges, exact_iters=8).count(), reps=1)
    from local_search_engine_spark.operators.feedback import search_with_feedback

    fb = {int(r["doc_id"]): 1 for r in
          run_query_set(idx, [(0, "fast merge join query", 5)]).collect()}
    search_with_feedback(idx, emb, "fast merge", qv, feedback=fb, k=10)[0].count()
    bench(
        "search_with_feedback",
        lambda: search_with_feedback(
            idx, emb, "fast merge join query", qv, feedback=fb, k=20
        )[0].collect(),
    )
    from local_search_engine_spark.operators.snippets import best_snippets

    top_docs = (
        run_query_set(idx, [(0, "fast merge join query", 50)])
        .join(docs.select("doc_id", "text"), "doc_id")
        .select("doc_id", "text")
    )
    best_snippets(top_docs.limit(5), ["warm"], text_col="text").count()
    bench(
        "best_snippets_top50",
        lambda: best_snippets(
            top_docs, ["fast", "merge", "join", "query"], text_col="text"
        ).count(),
    )
    # composed flagship CLI path (r04 VERDICT #4): persisted WAND +
    # persisted SRP ANN -> RRF -> snippets via scripts/code_search.py
    # cmd_search. First call builds ROOT/bm25 + ROOT/ann (untimed,
    # one-time cost); timed region = the full user-facing command incl.
    # the manifest-hit resume check, both persisted-index prunes, fusion
    # and snippet extraction.
    import argparse

    from scripts.code_search import cmd_search

    cs_corpus = docs.selectExpr(
        "concat('r', doc_id % 8) AS repo",
        "concat('src/f', doc_id, '.py') AS path",
        "'c0' AS commit",
        "'python' AS lang",
        "text AS content",
    )
    cs_args = argparse.Namespace(
        query="fast merge join query",
        index=tempfile.mkdtemp(prefix="bench_cs_"),
        k=20,
    )
    cmd_search(spark, cs_corpus, cs_args)  # builds the indexes, untimed
    bench(
        "code_search_composed",
        lambda: cmd_search(spark, cs_corpus, cs_args),
        reps=1,
    )

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "bm25_engine_bench_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_from_dir(sf_dir),
                "n_docs": n_docs_in,
                "docs_per_sec": docs_per_sec,
                "cores": cores,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
