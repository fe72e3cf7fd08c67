"""Top-k BM25 query — the DataFrame (brute-force) path.

Replaces the reference's per-document bm25.get_scores loop + np.argsort
top-k (reference retriever.py:363-415) with one broadcast equi-join plan:

  tf ⋈ broadcast(query_terms) ⋈ broadcast(idf ⋉ query_terms) ⋈ doc_len

Only the QUERY TERMS' idf rows are broadcast — never the full idf table
(the vocabulary can be millions of terms; the `term IN (...)` filter
also pushes into the idf scan when the index is read from Parquet).
    → per-(doc,term) contribution expression (pure built-ins, codegen'd)
    → groupBy(doc_id): deterministic ordered fold of contributions
    → filter(score > 0) → orderBy(score DESC, doc_id ASC) → limit(k)

Semantics pinned to rank_bm25 BM25Okapi (invoked by the reference at
preprocessing.py:513):
  * OR semantics — a doc scores on the terms it has; missing terms
    contribute 0 (reference retriever.py:388 scores every doc).
  * repeated query terms contribute once PER OCCURRENCE (qtf multiplier).
  * OOV terms contribute 0 (they simply don't join).
  * result domain = docs matching >=1 query term (posting-list driven);
    NO score-sign filter — the epsilon floor is legitimately negative on
    corpora with avg_idf < 0 (tiny vocabularies), and matched docs keep
    their (possibly negative) scores.
  * tie-break (score DESC, doc_id ASC) — the reference leaves ties
    unspecified (Python sort stability over dict order, SURVEY.md §2.5).

Float reproducibility (SURVEY.md §7.5 risk 1): per-doc score is folded
over contributions sorted by term — aggregate(sort_array(collect_list(
struct(term, contrib)))) — so engine and oracle sum in the same order
and engineered exact ties stay exactly equal.
"""

from __future__ import annotations

from collections import Counter

from ..functions.tokenize import tokenize_py
from .build import InvertedIndex


def contribution_col(k1: float, b: float, avgdl: float):
    """BM25 per-(doc, term) contribution as a built-in expression."""
    from pyspark.sql import functions as F

    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)
    )
    return F.col("idf") * F.col("qtf") * tf * F.lit(k1 + 1.0) / norm


def score_all(index: InvertedIndex, query: str):
    """(doc_id, score) for every doc matching ≥1 query term."""
    return score_terms(index, dict(Counter(tokenize_py(query))))


def score_terms(index: InvertedIndex, term_counts: dict):
    """Score from an explicit (term → qtf) multiset — the seam the
    spell-correction path uses (corrected terms replace raw tokens,
    reference retriever.py:886). qtf may be fractional: boolquery's
    boost syntax (`term^2.5`) scales the per-term weight, and qtf
    enters the BM25 product linearly, so an integer count scores
    bit-identically whether carried as int or double."""
    from pyspark.sql import functions as F

    spark = index.tf.sparkSession
    counts = sorted(term_counts.items())
    if not counts:
        return spark.createDataFrame([], "doc_id long, score double")
    qt = spark.createDataFrame(
        [(t, float(c)) for t, c in counts], "term string, qtf double"
    )
    terms = [t for t, _ in counts]
    # broadcast only the QUERY TERMS' idf rows — never the full idf
    # table (the vocabulary can be millions of terms; the term IN (...)
    # filter also pushes into the idf scan)
    idf_q = index.idf.select("term", "idf").filter(F.col("term").isin(terms))
    joined = (
        index.tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(idf_q), "term")
        .join(index.docs.select("doc_id", "doc_len"), "doc_id")
    )
    contrib = contribution_col(index.params.k1, index.params.b, index.avgdl)
    per_term = joined.select("doc_id", "term", contrib.alias("contrib"))
    # Deterministic summation order: fold contributions in ascending term
    # order (exact ties between identical docs survive float addition).
    return per_term.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )


def topk(index: InvertedIndex, query: str, k: int, with_doc_cols: bool = False):
    """T2/T3: global top-k — Spark plans orderBy+limit as per-partition
    TakeOrderedAndProject (a distributed k-heap), no full sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scores = (
        score_all(index, query)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    out = scores.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )
    if with_doc_cols:
        out = out.join(index.docs.select("doc_id", "repo", "path"), "doc_id").select(
            "rank", "doc_id", "score", "repo", "path"
        )
    return out


def run_query_set(index: InvertedIndex, queries: list[tuple[int, str, int]]):
    """All fixture queries in ONE Spark plan: union of per-query broadcast
    term tables → single join against tf → per-query window top-k.

    This is the batch-evaluation path the bench harness uses — it avoids
    one driver round-trip per query and lets AQE share the tf scan.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = index.tf.sparkSession
    rows = []
    for qid, text, k in queries:
        for term, qtf in sorted(Counter(tokenize_py(text)).items()):
            rows.append((int(qid), term, int(qtf), int(k)))
    if not rows:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    qt = spark.createDataFrame(rows, "query_id int, term string, qtf int, k int")
    all_terms = sorted({t for _, t, _, _ in rows})
    idf_q = index.idf.select("term", "idf").filter(F.col("term").isin(all_terms))
    joined = (
        index.tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(idf_q), "term")
        .join(index.docs.select("doc_id", "doc_len"), "doc_id")
    )
    contrib = contribution_col(index.params.k1, index.params.b, index.avgdl)
    per_term = joined.select(
        "query_id", "k", "doc_id", "term", contrib.alias("contrib")
    )
    scores = per_term.groupBy("query_id", "k", "doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )


def explain_score(index: InvertedIndex, query, doc_id):
    """Score explanation (Elasticsearch `_explain`): the per-term BM25
    contribution breakdown for one document — or a whole result page at
    once when `doc_id` is a list — why it scored what it scored.
    `query` is a free-text string (tokenized with the engine analyzer)
    or an explicit {term: qtf} multiset.

    Returns DataFrame(doc_id long, term, qtf double, tf double,
    df long, idf double, doc_len double, contribution double) with one
    row per query term PRESENT in the doc (absent terms contribute
    exactly 0 and are omitted, mirroring the posting-driven score
    domain); per doc, sum(contribution) in ascending term order equals
    the score_terms score bit-exactly (the engine's summation rule).

    Plan: the doc_id IN filter pushes into the tf scan, the ≤|query|
    idf rows broadcast — ONE job for the whole page, output
    O(|docs| · |query terms|), nothing corpus-sized moves."""
    from pyspark.sql import functions as F

    if isinstance(query, str):
        term_counts = dict(Counter(tokenize_py(query)))
    else:
        term_counts = dict(query)
    ids = (
        [int(doc_id)]
        if isinstance(doc_id, int)
        else [int(x) for x in doc_id]
    )
    spark = index.tf.sparkSession
    empty = (
        "doc_id long, term string, qtf double, tf double, df bigint, "
        "idf double, doc_len double, contribution double"
    )
    if not term_counts or not ids:
        return spark.createDataFrame([], empty)
    terms = sorted(term_counts)
    qt = spark.createDataFrame(
        [(t, float(term_counts[t])) for t in terms], "term string, qtf double"
    )
    idf_q = index.idf.select("term", "df", "idf").filter(F.col("term").isin(terms))
    joined = (
        index.tf.filter(F.col("doc_id").isin(ids))
        .join(F.broadcast(qt), "term")
        .join(F.broadcast(idf_q), "term")
        .join(index.docs.select("doc_id", "doc_len"), "doc_id")
    )
    contrib = contribution_col(index.params.k1, index.params.b, index.avgdl)
    return joined.select(
        "doc_id",
        "term",
        F.col("qtf").cast("double").alias("qtf"),
        F.col("tf").cast("double").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.col("idf").cast("double").alias("idf"),
        F.col("doc_len").cast("double").alias("doc_len"),
        contrib.alias("contribution"),
    )


def suggest_terms(index, prefix: str, k: int = 10):
    """Query autocomplete: top-k vocabulary terms starting with `prefix`
    (case-folded through the engine tokenizer's lowercase rule), ranked
    by document frequency desc, term asc. The StartsWith predicate
    pushes into the idf scan — on a persisted index whose idf table is
    sorted by term, Parquet min/max row-group stats prune most of the
    vocabulary before any row is read."""
    from pyspark.sql import functions as F

    p = (prefix or "").lower()
    if not p:
        return index.idf.select("term", "df").limit(0)
    return (
        index.idf.filter(F.col("term").startswith(p))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .select("term", "df")
    )
