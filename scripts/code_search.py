"""Code-search CLI over an input_hint corpus (repo, path, commit, lang,
content) — the grep/def/related/suggest/search surface on top of the
engine's operators.

  python scripts/code_search.py index   --corpus DIR --out IDX_DIR
  python scripts/code_search.py grep    --corpus DIR --query 'foo_bar(' [--index IDX_DIR] [--regex]
  python scripts/code_search.py def     --corpus DIR --symbol mergeShards
  python scripts/code_search.py related --corpus DIR --file 'org0/repo1:src/mod5/file_56.py'
  python scripts/code_search.py suggest --bm25-index IDX_DIR --prefix mer
  python scripts/code_search.py search  --corpus DIR --index ROOT --query '"merge shard" fast -test'
  python scripts/code_search.py phrase  --corpus DIR --index ROOT --query 'merge batch' [--near 4]
  python scripts/code_search.py bool    --corpus DIR --index ROOT --query '"merge batch"~3 AND lang:python AND merg*^2 AND /shard_[0-9]/ AND NOT test'
  python scripts/code_search.py like    --corpus DIR --index ROOT --file 'org0/repo1:src/mod5/file_56.py'

`index` persists the trigram inverted file plus the corpus fingerprint
(plans/checkpoint.corpus_fingerprint); `grep` uses the index when given
(bucket-pruned candidate AND + exact verify) and falls back to the full
verify scan without it — or when the fingerprint shows the index is
STALE relative to the corpus (docs added after indexing would otherwise
be silently missing from candidate sets; the no-silent-truncation
contract requires refusing the stale prune).

`search`, `phrase --index`, `bool` and `like` share one document-id
contract: the persisted BM25 index under ROOT/bm25 (built on first use;
build_persisted_index is manifest-keyed, so an unchanged corpus is a
one-scan no-op resume). Its doc_id is the dense rank of the unique
(repo, path, commit) key, and its docs table carries that key. File
names come from the docs table; a hit reaches its text by joining its
key against the corpus, and the corpus is never hashed for it.

The other persisted indexes use those ids. `search` alone builds ROOT/ann,
the SRP-LSH ANN index over stub embeddings (rebuilt only when its vectors
table is not committed). ROOT/pos, the positional index behind quoted
phrases, is built in one place (_ensure_phrase_filter). It records the
fingerprint of the BM25 build it was built from, and it is rebuilt
whenever that differs from the BM25 build the command has just checked,
so checking it costs no scan.

`search` is the composed flagship query path: persisted block-max WAND
(sparse) + persisted SRP-LSH ANN (dense) fused with RRF, then
best-snippet extraction on the fused top-k — one command, all
persisted-index pruning paths.

On a real cluster: the same commands via spark-submit --py-files
engine.zip.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_search_engine_spark.plans.store import (
    committed,
    read_json,
    read_table,
    write_json,
)
from local_search_engine_spark.session import get_spark
from local_search_engine_spark.sources.corpus import read_corpus

# underscore prefix: Spark's parquet file listing ignores _-prefixed
# files (same convention as _SUCCESS), so the sidecar can live inside a
# partitioned index directory without entering its file listing
FINGERPRINT_FILE = "_fingerprint.json"
# the corpus key the BM25 doc ids rank
KEY = ["repo", "path", "commit"]
POS_BUCKETS = 16
FUSED_SCHEMA = "fused_rank int, id long, rank_d int, rank_s int, rrf_score double"


def _with_file(corpus):
    from pyspark.sql import functions as F

    return corpus.withColumn("file", F.concat_ws(":", F.col("repo"), F.col("path")))


def _is_fresh(index_dir: str, fingerprint: str) -> bool:
    """The committed table at index_dir records this fingerprint."""
    return committed(index_dir) and read_json(
        os.path.join(index_dir, FINGERPRINT_FILE), None
    ) == {"fingerprint": fingerprint}


def _record_fingerprint(index_dir: str, fingerprint: str) -> None:
    write_json(os.path.join(index_dir, FINGERPRINT_FILE), {"fingerprint": fingerprint})


def _write_fingerprint(docs, out_dir: str) -> str:
    """Persist the corpus fingerprint next to a trigram index so grep
    can detect staleness."""
    from local_search_engine_spark.plans.checkpoint import corpus_fingerprint

    fp = corpus_fingerprint(docs)
    _record_fingerprint(out_dir, fp)
    return fp


def _load_fresh_index(spark, index_dir: str, docs):
    """(index_df | None, stale: bool): load the trigram index ONLY if
    its recorded fingerprint matches the corpus — a stale index's
    candidate AND-sets would silently miss docs added after indexing,
    so the no-silent-truncation contract requires refusing the prune
    (the caller falls back to the exact full scan). A missing
    fingerprint file counts as stale."""
    from local_search_engine_spark.plans.checkpoint import corpus_fingerprint

    if not _is_fresh(index_dir, corpus_fingerprint(docs)):
        return None, True
    return read_table(spark, index_dir), False


def _ensure_bm25(spark, corpus, root: str):
    """Build (or resume) ROOT/bm25 from the corpus and load it. Returns
    (load_index's tuple, the build's certified fingerprint)."""
    from local_search_engine_spark.plans.checkpoint import (
        build_persisted_index,
        load_index,
    )

    bm25_dir = os.path.join(root, "bm25")
    man = build_persisted_index(spark, corpus, bm25_dir, text_col="content")
    fingerprint = man.data["units"]["resume_probe"]["fingerprint"]
    return load_index(spark, bm25_dir), fingerprint


def _docs_with_ids(corpus, idx):
    """Corpus rows with the persisted BM25 index's doc_id, joined on the
    (repo, path, commit) key the ids rank. build_persisted_index raises
    on a duplicate key, so every corpus row gets exactly one id."""
    return corpus.join(idx.docs.select("doc_id", *KEY), KEY)


def _ensure_ann(corpus, idx, root: str) -> tuple[str, bool]:
    """Build ROOT/ann over the BM25 ids unless its vectors table is
    committed. Returns (its directory, whether it was built)."""
    from local_search_engine_spark.functions.embed import embed_docs
    from local_search_engine_spark.operators.similarity import persist_srp_index

    ann_dir = os.path.join(root, "ann")
    # the data decides, not a metadata file: persist_srp_index writes
    # meta.json before it commits the vectors table
    built = not committed(os.path.join(ann_dir, "vectors"))
    if built:
        emb = embed_docs(
            _docs_with_ids(corpus, idx).select("doc_id", "content"),
            "content",
            "doc_id",
            dim=64,
        )
        persist_srp_index(emb, 64, ann_dir, bits=8, id_col="doc_id")
    return ann_dir, built


def _ensure_phrase_filter(spark, corpus, idx, root: str, fingerprint: str):
    """Positional postings over the BM25 index's doc ids, persisted under
    ROOT/pos — the one place that writes it. ROOT/pos is fresh when it
    records the fingerprint of the BM25 build its ids come from;
    otherwise it is rebuilt. Returns (the bound phrase-query object,
    whether it was built)."""
    from local_search_engine_spark.operators.positional import (
        build_positional_postings,
        load_positional_postings,
        make_phrase_topk,
        persist_positional_postings,
    )

    pos_dir = os.path.join(root, "pos")
    built = not _is_fresh(pos_dir, fingerprint)
    if built:
        ids = _docs_with_ids(corpus, idx).select("doc_id", "content")
        persist_positional_postings(
            build_positional_postings(ids, text_col="content", n_buckets=POS_BUCKETS),
            pos_dir,
        )
        _record_fingerprint(pos_dir, fingerprint)
    pq = make_phrase_topk(
        load_positional_postings(spark, pos_dir), n_buckets=POS_BUCKETS
    )
    return pq, built


def cmd_search(spark, corpus, args) -> dict:
    """Persisted WAND + persisted ANN → RRF → snippets, end to end.

    Double-quoted spans in the query are MUST-MATCH phrases and
    `-term` words are hard EXCLUSIONS (standard search-box grammar):
    ranking runs over the full positive term set, then the
    fused candidates are semi-joined against the positional index's
    full-match set for every quoted phrase (operators/positional.py
    `matches` — uncapped filter shape) before the final top-k cut, so a
    result is returned only if it contains every quoted phrase
    verbatim. The fusion legs over-fetch a 4k buffer when phrases are
    present, since the filter can only shrink the candidate set."""
    import re

    from pyspark.sql import functions as F

    from local_search_engine_spark.functions.embed import stub_encoder_factory
    from local_search_engine_spark.functions.tokenize import tokenize_py
    from local_search_engine_spark.operators.fusion import rrf_fuse
    from local_search_engine_spark.operators.similarity import (
        srp_lsh_topk_persisted,
    )
    from local_search_engine_spark.operators.snippets import best_snippets
    from local_search_engine_spark.operators.wand import make_wand_topk
    from local_search_engine_spark.plans.layout import local_rows

    (idx, postings, shard_meta, stats), fingerprint = _ensure_bm25(
        spark, corpus, args.index
    )
    ann_dir, built_ann = _ensure_ann(corpus, idx, args.index)
    wand = make_wand_topk(
        idx, postings, shard_meta, n_buckets=stats.get("n_buckets")
    )
    k = args.k
    raw_query = args.query or ""
    # standard search-box minus syntax: `-term` at a word boundary is a
    # hard EXCLUSION (never applied inside hyphenated words like
    # foo-bar; quoted spans keep their own must-match grammar below)
    excl_words = re.findall(r'(?:^|\s)-([^\s"]+)', raw_query)
    excl_toks = sorted({t for w in excl_words for t in tokenize_py(w)})
    query = re.sub(r'(?:^|\s)-[^\s"]+', " ", raw_query)
    quoted = re.findall(r'"([^"]+)"', query)
    quoted = [p for p in quoted if tokenize_py(p)]
    free_query = re.sub(r'"', " ", query)  # rank over ALL positive terms
    fetch_k = max(k * 4, 50) if (quoted or excl_toks) else k
    sparse = wand(free_query, fetch_k, prune=True).select(
        F.col("doc_id").alias("id"), "rank"
    )
    qv = [float(x) for x in stub_encoder_factory(64)([free_query])[0]]
    # srp_lsh_topk_persisted already emits (rank, id, cosine)
    dense = srp_lsh_topk_persisted(
        spark, ann_dir, qv, fetch_k, probe_hamming=1
    ).select("id", "rank")
    fused = rrf_fuse(dense, sparse, topk=fetch_k)
    if excl_toks:
        # docs containing ANY excluded token leave the candidate pool
        # (and the phrase fallback pool below, which joins off fused's
        # survivors): one pushed term IN (...) scan + a broadcast
        # anti-join of the tiny excluded-id set
        excl_ids = (
            idx.tf.filter(F.col("term").isin(excl_toks))
            .select(F.col("doc_id").alias("id"))
            .distinct()
        )
        fused = fused.join(excl_ids, "id", "left_anti")
        if not quoted:
            # no quoted branch downstream to re-densify: cut the
            # over-fetched survivor pool at k with dense ranks here
            surv = fused.orderBy("fused_rank").limit(k).collect()
            fused = local_rows(
                spark,
                [
                    (i + 1, r["id"], r["rank_d"], r["rank_s"], float(r["rrf_score"]))
                    for i, r in enumerate(surv)
                ],
                FUSED_SCHEMA,
            )
    if quoted:
        from functools import reduce

        pq, _ = _ensure_phrase_filter(spark, corpus, idx, args.index, fingerprint)
        # docs containing EVERY quoted phrase, with the summed phrase tf
        # (one matches() row per phrase per doc; n_ph == len(quoted)
        # keeps only full conjunctions)
        legs = [pq.matches(ph).select("doc_id", "phrase_tf") for ph in quoted]
        allm = (
            reduce(lambda a, b: a.unionByName(b), legs)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_ph"), F.sum("phrase_tf").alias("tot_tf"))
            .filter(F.col("n_ph") == len(quoted))
        )
        if excl_toks:
            # the recall fallback tops up from allm directly, so the
            # exclusion must hold there too, not just on fused
            allm = allm.join(
                excl_ids.select(F.col("id").alias("doc_id")), "doc_id", "left_anti"
            )
        fused = fused.join(
            allm.select(F.col("doc_id").alias("id")), "id", "left_semi"
        )
        # re-densify ranks over the ≤fetch_k survivors, cut at k
        surv = fused.orderBy("fused_rank").limit(k).collect()
        rows = [
            (i + 1, r["id"], r["rank_d"], r["rank_s"], float(r["rrf_score"]))
            for i, r in enumerate(surv)
        ]
        # recall fallback (r05, ADVICE): the semi-join only sees the
        # fetch_k fusion buffer, so a phrase can match many docs that
        # never entered the fused pool. When survivors < k, top up from
        # the FULL phrase-match set ranked by (tot_tf DESC, doc_id) —
        # phrase recall must not depend on the fusion buffer. Fallback
        # rows carry rrf_score 0.0 (they were outside both fusion legs).
        if len(rows) < k:
            have = [r["id"] for r in surv]
            extra = (
                allm.filter(~F.col("doc_id").isin(have) if have else F.lit(True))
                .orderBy(F.desc("tot_tf"), F.asc("doc_id"))
                .limit(k - len(rows))
                .collect()
            )
            nd = len(rows)
            rows += [
                (nd + j + 1, r["doc_id"], None, None, 0.0)
                for j, r in enumerate(extra)
            ]
        fused = local_rows(spark, rows, FUSED_SCHEMA)
    # metadata + text for the fused TOP-K ONLY: the k-row fused side
    # broadcast against the index doc table names each hit's file and
    # key, and that k-row table broadcast against the corpus scan picks
    # the raw text by key — the corpus never shuffles for a query,
    # whatever its size
    hit_meta = _with_file(idx.docs.select("doc_id", *KEY)).join(
        F.broadcast(fused), F.col("doc_id") == fused["id"]
    )
    hits = corpus.select(*KEY, "content").join(F.broadcast(hit_meta), KEY)
    snips = best_snippets(
        hits.select("doc_id", "content"),
        tokenize_py(query),  # positive terms only — exclusions stripped
        text_col="content",
        id_col="doc_id",
    )
    out = (
        hit_meta.join(snips, "doc_id")
        .orderBy("fused_rank")
        .select("fused_rank", "file", "rrf_score", "n_hits", "snippet")
        .collect()
    )
    return {
        "cmd": "search",
        "query": args.query,
        "built_ann": built_ann,
        "results": [
            {
                "rank": int(r["fused_rank"]),
                "file": r["file"],
                "score": round(float(r["rrf_score"]), 6),
                "snippet_hits": int(r["n_hits"]),
                "snippet": r["snippet"],
            }
            for r in out
        ],
    }


def cmd_phrase(spark, corpus, args) -> dict:
    """Exact-phrase (or --near W proximity) top-k over the POSITIONAL
    index (operators/positional.py) — index-only matching, document text
    is never read at query time. With --index ROOT the postings are
    ROOT/pos (_ensure_phrase_filter: bucket-partitioned, scan-time
    directory pruning, rebuilt unless it records the current ROOT/bm25
    build) over the BM25 doc ids, and file names come from the BM25
    docs table. Without it they are built in memory over the same
    key-ranked ids."""
    from pyspark.sql import functions as F

    if args.index:
        (idx, _, _, _), fingerprint = _ensure_bm25(spark, corpus, args.index)
        q, built = _ensure_phrase_filter(spark, corpus, idx, args.index, fingerprint)
        files = idx.docs
        keys = None
    else:
        from local_search_engine_spark.operators.build import with_doc_ids
        from local_search_engine_spark.operators.positional import (
            build_positional_postings,
            make_phrase_topk,
        )

        files, keys = with_doc_ids(corpus)
        postings = build_positional_postings(
            files.select("doc_id", "content"), text_col="content", n_buckets=POS_BUCKETS
        )
        q = make_phrase_topk(postings, n_buckets=POS_BUCKETS)
        built = False
    if args.near is not None:
        res = q.near(args.query, args.k, window=args.near)
        count_col = "n_anchors"
    else:
        res = q(args.query, args.k)
        count_col = "phrase_tf"
    # k-row result broadcast against the id map — the map never shuffles
    rows = (
        _with_file(files.select("doc_id", "repo", "path"))
        .join(F.broadcast(res), "doc_id")
        .orderBy("rank")
        .select("rank", "file", count_col)
        .collect()
    )
    if keys is not None:
        # with_doc_ids' key table, unpersisted once the answer is in
        keys.unpersist()
    return {
        "cmd": "phrase",
        "query": args.query,
        "near": args.near,
        "built_index": built,
        "persisted": bool(args.index),
        "results": [
            {"rank": int(r["rank"]), "file": r["file"], count_col: int(r[count_col])}
            for r in rows
        ],
    }


def cmd_like(spark, corpus, args) -> dict:
    """Find-similar (operators/morelike.py, Lucene more-like-this):
    `--file REPO:PATH` names the source document; its top tf·idf terms
    (from the persisted index — the text is not re-tokenized) become a
    BM25 OR query and the k most similar OTHER files come back, with
    the derived terms disclosed so the result is explainable.

    The source resolves by key from the BM25 docs table alone: the
    (repo, path) rows there give its doc_id, and no corpus row is read.
    A path indexed at several commits is ambiguous and raises a
    ValueError naming them. Result files come from the docs table too,
    so documents with identical content keep their own names."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.operators.morelike import (
        interesting_terms,
        more_like_this,
    )

    repo, _, path = args.file.partition(":")
    if not path:
        raise ValueError(f"--file expects REPO:PATH, got {args.file!r}")
    (idx, _, _, _), _ = _ensure_bm25(spark, corpus, args.index)
    src = (
        idx.docs.filter((F.col("repo") == repo) & (F.col("path") == path))
        .select("doc_id", "commit")
        .collect()
    )
    if not src:
        raise ValueError(f"no corpus file {args.file!r} in the index")
    if len(src) > 1:
        commits = ", ".join(sorted(r["commit"] for r in src))
        raise ValueError(f"{args.file!r} is indexed at {len(src)} commits: {commits}")
    doc_id = int(src[0]["doc_id"])
    terms = interesting_terms(idx, doc_id, max_query_terms=args.terms)
    res = more_like_this(idx, doc_id, args.k, max_query_terms=args.terms)
    rows = (
        _with_file(idx.docs.select("doc_id", "repo", "path", "lang"))
        .join(F.broadcast(res), "doc_id")
        .orderBy("rank")
        .collect()
    )
    return {
        "cmd": "like",
        "file": args.file,
        "query_terms": [t for t, _, _, _ in terms],
        "results": [
            {
                "rank": int(r["rank"]),
                "file": r["file"],
                "lang": r["lang"],
                "score": round(float(r["score"]), 6),
            }
            for r in rows
        ],
    }


def cmd_bool(spark, corpus, args) -> dict:
    """Boolean search (operators/boolquery.py): AND/OR/NOT, parens,
    quoted exact phrases — `"a b"~3` sloppy/proximity phrases —
    trailing-star prefix wildcards (`merg*`, constant-score), `fuzzy~1`
    terms, `term^2` boosts, `/regex/` content leaves (trigram-pruned
    rlike, constant-score), and field predicates over the index
    metadata (`lang:python`, `repo:org0/repo1`, `doc_len:>200`) —
    ranked by BM25 over the positive-leaf terms. Reuses the persisted
    ROOT/bm25 index (built on first use, manifest-keyed) and builds
    ROOT/pos only when the query actually has phrase leaves."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.operators import boolquery as bq

    node = bq.parse_query(args.query)
    raw_syn = getattr(args, "synonyms", None)
    if raw_syn:
        # --synonyms "fast,quick,rapid;table,tbl" — ';'-separated
        # equivalence groups, ','-separated members (query-time
        # expansion: every member matches any other)
        groups = [
            [m.strip() for m in grp.split(",") if m.strip()]
            for grp in raw_syn.split(";")
            if grp.strip()
        ]
        node = bq.expand_synonyms(node, groups)
    sort_by = None
    raw_sort = getattr(args, "sort", None)
    if raw_sort:
        col, _, d = raw_sort.partition(":")
        if d not in ("", "asc", "desc"):
            raise ValueError(f"--sort direction must be asc|desc: {raw_sort!r}")
        sort_by = (col, d != "desc")
    search_after = None
    raw_after = getattr(args, "after", None)
    if raw_after:
        # --after SCORE:DOC_ID — keyset pagination: pass back the last
        # row of the previous page (printed as `next_after`)
        s, _, d = raw_after.rpartition(":")
        try:
            search_after = (float(s), int(d))
        except ValueError as e:
            raise ValueError(
                f"--after expects SCORE:DOC_ID (from next_after): {raw_after!r}"
            ) from e
    leaves = bq.collect_leaves(node)
    has_phrase = any(isinstance(l, (bq.Phrase, bq.Near)) for l in leaves)
    has_regex = any(isinstance(l, bq.Regex) for l in leaves)
    (idx, _, _, _), fingerprint = _ensure_bm25(spark, corpus, args.index)
    pq = (
        _ensure_phrase_filter(spark, corpus, idx, args.index, fingerprint)[0]
        if has_phrase
        else None
    )
    rq = None
    if has_regex:
        # /regex/ leaves read raw content: the corpus joined onto the
        # index's doc ids by key, then in-plan trigram pruning + rlike
        # verify
        from local_search_engine_spark.operators.trigram import doc_trigrams

        content = _docs_with_ids(corpus, idx).select("doc_id", "content")
        rq = bq.make_regex_matcher(content, trigram=doc_trigrams(content))
    res = bq.topk(
        idx, node, args.k, phrase_query=pq, regex_query=rq,
        sort_by=sort_by, search_after=search_after,
    )
    # ≤k result rows broadcast against the doc table — it never shuffles
    rows = (
        _with_file(idx.docs.select("doc_id", "repo", "path", "lang"))
        .join(F.broadcast(res), "doc_id")
        .orderBy("rank")
        .collect()
    )
    explain_by_doc: dict = {}
    if getattr(args, "explain", False) and rows:
        # per-term BM25 breakdown for the WHOLE page in one job
        # (Elasticsearch _explain); constant-score leaves contribute
        # nothing, exactly as they rank
        from local_search_engine_spark.operators.query import explain_score

        counts = bq.positive_token_counts(node)
        ex = explain_score(
            idx, dict(counts), [int(r["doc_id"]) for r in rows]
        ).orderBy("doc_id", "term").collect()
        for e in ex:
            explain_by_doc.setdefault(int(e["doc_id"]), []).append(
                {
                    "term": e["term"],
                    "tf": e["tf"],
                    "df": int(e["df"]),
                    "idf": round(float(e["idf"]), 6),
                    "contribution": round(float(e["contribution"]), 6),
                }
            )
    snippet_by_doc: dict = {}
    want_snippets = getattr(args, "snippets", False)
    if want_snippets and rows:
        # densest positive-term window per RESULT row (never per-corpus);
        # pure-negative/constant-score queries have no positive terms —
        # rows then carry an empty snippet
        from local_search_engine_spark.operators.snippets import best_snippets

        terms = list(bq.positive_token_counts(node))
        if terms:
            ids = [int(r["doc_id"]) for r in rows]
            content = (
                _docs_with_ids(corpus, idx)
                .filter(F.col("doc_id").isin(ids))
                .select("doc_id", "content")
            )
            snippet_by_doc = {
                int(r["doc_id"]): r["snippet"]
                for r in best_snippets(
                    content, terms, text_col="content"
                ).collect()
            }
    out = {
        "cmd": "bool",
        "query": args.query,
        "results": [
            {
                "rank": int(r["rank"]),
                "file": r["file"],
                "lang": r["lang"],
                "score": round(float(r["score"]), 6),
                **(
                    {"explain": explain_by_doc.get(int(r["doc_id"]), [])}
                    if getattr(args, "explain", False)
                    else {}
                ),
                **(
                    {"snippet": snippet_by_doc.get(int(r["doc_id"]), "")}
                    if want_snippets
                    else {}
                ),
            }
            for r in rows
        ],
    }
    if len(rows) == args.k and rows:
        # keyset-pagination cursor: feed back as --after for page N+1
        last = rows[-1]
        out["next_after"] = f'{round(float(last["score"]), 6)}:{int(last["doc_id"])}'
    facet = getattr(args, "facet", None)
    if facet:
        # facet counts run over the FULL boolean match set (uncapped —
        # facets describe the result space, not the top-k page)
        from local_search_engine_spark.operators.aggs import facet_topn

        fc = facet_topn(
            idx, node, facet, n=1 << 30, phrase_query=pq, regex_query=rq
        ).collect()
        out["facets"] = {r["value"]: int(r["n_docs"]) for r in fc}
    stats = getattr(args, "stats", None)
    if stats:
        # --stats GROUP_COL:STAT_COL — per-group numeric rollup of the
        # full match set (Elasticsearch stats sub-aggregation)
        from local_search_engine_spark.operators.aggs import group_stats

        group_col, _, stat_col = stats.partition(":")
        if not stat_col:
            raise ValueError("--stats expects GROUP_COL:STAT_COL")
        st = group_stats(
            idx, node, group_col, stat_col, phrase_query=pq, regex_query=rq
        ).collect()
        out["stats"] = {
            r["group"]: {
                "n": int(r["n_docs"]),
                "min": r["min"], "max": r["max"],
                "avg": None if r["avg"] is None else round(float(r["avg"]), 6),
                "sum": r["sum"],
            }
            for r in st
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "cmd",
        choices=[
            "index", "grep", "def", "related", "suggest", "search",
            "phrase", "bool", "like",
        ],
    )
    ap.add_argument("--corpus")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--out")
    ap.add_argument("--index")
    ap.add_argument("--bm25-index")
    ap.add_argument("--query")
    ap.add_argument("--regex", action="store_true")
    ap.add_argument("--symbol")
    ap.add_argument("--prefix")
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--near", type=int, default=None,
                    help="proximity window for `phrase` (tokens, ±)")
    ap.add_argument("--facet", default=None,
                    help="bool: also count the FULL match set by this "
                         "metadata column (e.g. --facet lang)")
    ap.add_argument("--sort", default=None,
                    help="bool: order results by a numeric doc column "
                         "instead of relevance (e.g. --sort doc_len:desc)")
    ap.add_argument("--stats", default=None,
                    help="bool: per-group numeric rollup of the FULL "
                         "match set, GROUP_COL:STAT_COL "
                         "(e.g. --stats lang:doc_len)")
    ap.add_argument("--after", default=None,
                    help="bool: keyset pagination cursor SCORE:DOC_ID — "
                         "pass the previous page's next_after to get "
                         "the next k results (offset-free deep paging)")
    ap.add_argument("--explain", action="store_true",
                    help="bool: attach the per-term BM25 contribution "
                         "breakdown to every result row")
    ap.add_argument("--snippets", action="store_true",
                    help="bool: attach the densest positive-term window "
                         "of each hit as a snippet")
    ap.add_argument("--synonyms", default=None,
                    help="bool: query-time synonym groups, "
                         "';'-separated groups of ','-separated terms "
                         "(e.g. --synonyms 'fast,quick;tbl,table')")
    ap.add_argument("--file", default=None,
                    help="related, like: source document as REPO:PATH")
    ap.add_argument("--terms", type=int, default=25,
                    help="like: max derived query terms (tf-idf top-M)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark(f"code-search-{args.cmd}", cores=args.cores)
    t0 = time.time()
    corpus = read_corpus(spark, args.corpus, fmt=args.format) if args.corpus else None

    if args.cmd == "index":
        from local_search_engine_spark.operators.trigram import build_trigram_index

        docs = _with_file(corpus)
        n = build_trigram_index(docs, args.out, text_col="content", id_col="file")
        # record what corpus this index describes, so grep can detect a
        # stale index instead of silently missing late-added docs
        fp = _write_fingerprint(docs, args.out)
        print(json.dumps({"cmd": "index", "postings": n, "fingerprint": fp,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "grep":
        from local_search_engine_spark.operators.trigram import (
            trigram_search,
            trigram_search_regex,
        )

        docs = _with_file(corpus)
        index, stale = (
            _load_fresh_index(spark, args.index, docs) if args.index else (None, False)
        )
        fn = trigram_search_regex if args.regex else trigram_search
        hits = fn(docs, args.query, index=index, text_col="content", id_col="file")
        rows = [r["doc_id"] for r in hits.orderBy("doc_id").limit(args.k).collect()]
        print(json.dumps({"cmd": "grep", "query": args.query,
                          "regex": args.regex, "pruned": index is not None,
                          "index_stale": stale,
                          "hits": rows, "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "def":
        from pyspark.sql import functions as F

        from local_search_engine_spark.operators.symbols import extract_symbols

        docs = _with_file(corpus)
        syms = extract_symbols(docs, text_col="content", lang_col="lang", id_col="file")
        hits = (
            syms.filter(F.col("symbol") == args.symbol)
            .orderBy("doc_id")
            .limit(args.k)
            .collect()
        )
        print(json.dumps({"cmd": "def", "symbol": args.symbol,
                          "defs": [{"file": r["doc_id"], "kind": r["kind"]} for r in hits],
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "related":
        from local_search_engine_spark.operators.cochange import (
            co_change_edges,
            related_files,
        )

        edges = co_change_edges(corpus)
        rows = [
            {"file": r["other"], "weight": r["weight"]}
            for r in related_files(edges, args.file, k=args.k).collect()
        ]
        print(json.dumps({"cmd": "related", "file": args.file, "related": rows,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "search":
        out = cmd_search(spark, corpus, args)
        out["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
    elif args.cmd == "phrase":
        out = cmd_phrase(spark, corpus, args)
        out["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
    elif args.cmd == "bool":
        out = cmd_bool(spark, corpus, args)
        out["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
    elif args.cmd == "like":
        out = cmd_like(spark, corpus, args)
        out["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(out))
    else:  # suggest
        from local_search_engine_spark.operators.query import suggest_terms
        from local_search_engine_spark.plans.checkpoint import load_index

        idx, _, _, _ = load_index(spark, args.bm25_index)
        rows = [
            {"term": r["term"], "df": r["df"]}
            for r in suggest_terms(idx, args.prefix, k=args.k).collect()
        ]
        print(json.dumps({"cmd": "suggest", "prefix": args.prefix,
                          "suggestions": rows,
                          "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
