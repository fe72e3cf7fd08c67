"""Top-k BM25 query — the DataFrame (brute-force) path.

Replaces the reference's per-document bm25.get_scores loop + np.argsort
top-k (reference retriever.py:363-415) with one broadcast equi-join plan:

  tf[term IN (...)] → exchange(doc_id) ⋈ broadcast(idf[term IN (...)]) ⋈ doc_len

Only the QUERY TERMS' idf rows are broadcast — never the full idf table
(the vocabulary can be millions of terms; the `term IN (...)` filter
pushes into both scans when the index is read from Parquet). The
per-query weights ride in the plan as a `map(term → qtf)` literal read
with element_at (plans/layout.sql_lit), not as a joined table.
    → per-(doc,term) contribution expression (pure built-ins, codegen'd)
    → groupBy(doc_id) (no second exchange): deterministic ordered fold
    → orderBy(score DESC, doc_id ASC) → limit(k)

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
from ..plans.layout import local_rows, sql_in, sql_lit
from .build import InvertedIndex


# the per-doc score over (term, contrib) structs `sc`: contributions
# folded in ascending term order (nulls are skipped by collect_list)
SCORE_FOLD = "aggregate(sort_array(collect_list(sc)), 0.0D, (acc, x) -> acc + x.contrib)"
SCORE_STRUCT = "named_struct('term', term, 'contrib', {})"


def contribution_sql(k1: float, b: float, avgdl: float, qtf: str = "qtf") -> str:
    """BM25 per-(doc, term) contribution as one SQL expression over the
    columns idf, tf and doc_len; `qtf` is the SQL of the query weight.
    Left-associative products in this order, constants folded
    driver-side — the association every scorer and oracle shares, so
    scores reproduce bit-for-bit."""
    tf = "CAST(tf AS DOUBLE)"
    norm = (
        f"{tf} + {sql_lit(float(k1))} * ({sql_lit(1.0 - b)} + "
        f"{sql_lit(float(b))} * doc_len / {sql_lit(float(avgdl))})"
    )
    return f"idf * {qtf} * {tf} * {sql_lit(k1 + 1.0)} / ({norm})"


def score_all(index: InvertedIndex, query: str):
    """(doc_id, score) for every doc matching ≥1 query term."""
    return score_terms(index, dict(Counter(tokenize_py(query))))


def _with_lookups(index: InvertedIndex, tf_rows, pred: str, idf_cols=("term", "idf")):
    """tf_rows ⋈ broadcast(idf rows passing `pred`) ⋈ doc_len. Callers
    put their aggregate's exchange on tf_rows first: the lookups then
    join after it, so the idf broadcast (and a broadcast doc_len side)
    run beside the tf map stage, not before it — one stage round less."""
    from pyspark.sql import functions as F

    idf_q = index.idf.select(*idf_cols).filter(pred)
    return tf_rows.join(F.broadcast(idf_q), "term").join(
        index.docs.select("doc_id", "doc_len"), "doc_id"
    )


def score_terms(index: InvertedIndex, term_counts: dict):
    """Score from an explicit (term → qtf) multiset — the seam the
    spell-correction path uses (corrected terms replace raw tokens,
    reference retriever.py:886). qtf may be fractional: boolquery's
    boost syntax (`term^2.5`) scales the per-term weight, and qtf
    enters the BM25 product linearly, so an integer count scores
    bit-identically whether carried as int or double."""
    from pyspark.sql import functions as F

    counts = sorted(term_counts.items())
    if not counts:
        return local_rows(index.tf.sparkSession, [], "doc_id long, score double")
    qtf = f"element_at({sql_lit({t: float(c) for t, c in counts})}, term)"
    pred = sql_in("term", [t for t, _ in counts])
    joined = _with_lookups(index, index.tf.filter(pred).repartition("doc_id"), pred)
    contrib = contribution_sql(index.params.k1, index.params.b, index.avgdl, qtf)
    per_term = joined.selectExpr("doc_id", SCORE_STRUCT.format(contrib) + " AS sc")
    # Deterministic summation order: fold contributions in ascending term
    # order (exact ties between identical docs survive float addition).
    return per_term.groupBy("doc_id").agg(F.expr(SCORE_FOLD).alias("score"))


def topk(index: InvertedIndex, query: str, k: int, with_doc_cols: bool = False):
    """T2/T3: global top-k — Spark plans orderBy+limit as per-partition
    TakeOrderedAndProject (a distributed k-heap), no full sort."""
    from pyspark.sql import functions as F

    scores = (
        score_all(index, query)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    out = scores.selectExpr(
        "row_number() OVER (ORDER BY score DESC, doc_id) AS rank", "doc_id", "score"
    )
    if with_doc_cols:
        out = out.join(index.docs.select("doc_id", "repo", "path"), "doc_id").select(
            "rank", "doc_id", "score", "repo", "path"
        )
    return out


def run_query_set(index: InvertedIndex, queries: list[tuple[int, str, int]]):
    """All fixture queries in ONE Spark plan: one tf scan over the union
    of the query terms, each row fanned out to the queries holding its
    term (a `map(term → array(struct(query_id, qtf, k)))` literal,
    inlined) → one exchange on query_id → per-query fold and window
    top-k. A query's scored docs meet in one partition for its rank
    window anyway; its (doc, term) rows now meet there one step earlier.

    This is the batch-evaluation path the bench harness uses — it avoids
    one driver round-trip per query and lets AQE share the tf scan.
    """
    from pyspark.sql import functions as F

    by_term: dict = {}
    for qid, text, k in queries:
        for term, qtf in sorted(Counter(tokenize_py(text)).items()):
            by_term.setdefault(term, []).append(
                f"named_struct('query_id', {sql_lit(int(qid))}, "
                f"'qtf', {sql_lit(int(qtf))}, 'k', {sql_lit(int(k))})"
            )
    if not by_term:
        return local_rows(
            index.tf.sparkSession, [], "query_id int, rank int, doc_id long, score double"
        )
    fan_out = ", ".join(
        f"{sql_lit(t)}, array({', '.join(qs)})" for t, qs in sorted(by_term.items())
    )
    pred = sql_in("term", sorted(by_term))
    # one exchange on query_id serves both the per-(query, doc) fold and
    # the per-query rank window
    fanned = index.tf.filter(pred).selectExpr(
        "*", f"inline(element_at(map({fan_out}), term))"
    )
    joined = _with_lookups(index, fanned.repartition("query_id"), pred)
    contrib = contribution_sql(index.params.k1, index.params.b, index.avgdl)
    per_term = joined.selectExpr("query_id", "k", "doc_id", SCORE_STRUCT.format(contrib) + " AS sc")
    scores = per_term.groupBy("query_id", "k", "doc_id").agg(
        F.expr(SCORE_FOLD).alias("score")
    )
    return scores.selectExpr(
        "query_id",
        "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank",
        "doc_id",
        "score",
        "k",
    ).filter("rank <= k").select("query_id", "rank", "doc_id", "score")


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

    Plan: the doc_id IN and term IN filters push into the tf scan, the
    ≤|query| idf rows broadcast — ONE job for the whole page, output
    O(|docs| · |query terms|), nothing corpus-sized moves."""
    if isinstance(query, str):
        term_counts = dict(Counter(tokenize_py(query)))
    else:
        term_counts = dict(query)
    ids = (
        [int(doc_id)]
        if isinstance(doc_id, int)
        else [int(x) for x in doc_id]
    )
    empty = (
        "doc_id long, term string, qtf double, tf double, df bigint, "
        "idf double, doc_len double, contribution double"
    )
    if not term_counts or not ids:
        return local_rows(index.tf.sparkSession, [], empty)
    terms = sorted(term_counts)
    qtf = f"element_at({sql_lit({t: float(term_counts[t]) for t in terms})}, term)"
    pred = sql_in("term", terms)
    joined = _with_lookups(
        index, index.tf.filter(f"{sql_in('doc_id', ids)} AND {pred}"), pred,
        ("term", "df", "idf"),
    )
    contrib = contribution_sql(index.params.k1, index.params.b, index.avgdl, qtf)
    return joined.selectExpr(
        "doc_id",
        "term",
        f"CAST({qtf} AS DOUBLE) AS qtf",
        "CAST(tf AS DOUBLE) AS tf",
        "CAST(df AS BIGINT) AS df",
        "CAST(idf AS DOUBLE) AS idf",
        "CAST(doc_len AS DOUBLE) AS doc_len",
        f"{contrib} AS contribution",
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
