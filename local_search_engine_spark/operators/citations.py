"""Citation phrase matching — the deterministic core of the reference's
answer-citation extraction (reference answer_generator.py:125-148):
for each of the top results, split its text into '.'-separated phrases,
keep phrases longer than 20 chars (stripped), and cite the result if ANY
of its phrases appears case-insensitively in the answer text — at most
one citation per result (the reference breaks on first hit; we emit the
matching-phrase count instead, which subsumes it).

The LLM that produces the answer is out of engine scope (SURVEY.md W6);
this operator is the pipeline seam it plugs into. Pure DataFrame ops:
split → explode → trim/length filter → substring containment.
"""

from __future__ import annotations

from ..plans.layout import local_rows

DEFAULT_MAX_RESULTS = 5  # reference max_context_length (answer_generator.py:40)
DEFAULT_MIN_PHRASE_LEN = 21  # reference: len(phrase.strip()) > 20


def phrase_citations(
    results,
    answer_text: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    score_col: str = "score",
    max_results: int = DEFAULT_MAX_RESULTS,
    min_phrase_len: int = DEFAULT_MIN_PHRASE_LEN,
):
    """results: ranked rows carrying (rank, doc_id, score, text).
    Returns (doc_id, rank, score, n_matching_phrases) for cited results.
    """
    from pyspark.sql import functions as F

    ans = (answer_text or "").lower()
    top = results.filter(F.col(rank_col) <= max_results)
    phrases = top.select(
        id_col,
        rank_col,
        score_col,
        F.explode(F.split(F.col(text_col), r"\.")).alias("phrase"),
    ).withColumn("phrase", F.trim(F.col("phrase")))
    sig = phrases.filter(F.length("phrase") >= min_phrase_len)
    hits = sig.filter(F.instr(F.lit(ans), F.lower(F.col("phrase"))) > 0)
    return hits.groupBy(id_col, rank_col, score_col).agg(
        F.count("*").cast("long").alias("n_matching_phrases")
    )


def answer_confidence(
    results,
    citations,
    rank_col: str = "rank",
    score_col: str = "score",
    max_context: int = DEFAULT_MAX_RESULTS,
):
    """A6: the reference's answer-confidence aggregate (reference
    answer_generator.py:148-176), as one row:

      citation_coverage = n_citations / min(n_results, max_context)
      result_scores     = sum(scores of top max_context results) / max_context
      citation_scores   = mean(cited results' scores)   (0 when none)
      confidence        = clamp(0.4·coverage + 0.3·results + 0.3·citations, 0, 1)

    results: ranked rows (rank, score, ...); citations: the
    phrase_citations output. Two tiny aggregates + scalar arithmetic.
    """
    from pyspark.sql import functions as F

    spark = results.sparkSession
    rrow = results.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col(rank_col) <= max_context, F.col(score_col))).alias("s"),
    ).first()
    crow = citations.agg(
        F.count("*").alias("n"), F.avg(score_col).alias("avg_s")
    ).first()
    n_results = int(rrow["n"] or 0)
    if n_results == 0:
        return local_rows(
            spark, [(0, 0, 0.0, 0.0, 0.0, 0.0)],
            "n_results int, n_citations int, citation_coverage double, "
            "result_scores double, citation_scores double, confidence double",
        )
    n_cit = int(crow["n"] or 0)
    coverage = n_cit / min(n_results, max_context)
    result_scores = float(rrow["s"] or 0.0) / max_context
    citation_scores = float(crow["avg_s"] or 0.0) if n_cit else 0.0
    conf = 0.4 * coverage + 0.3 * result_scores + 0.3 * citation_scores
    conf = min(max(conf, 0.0), 1.0)
    return local_rows(
        spark, [(n_results, n_cit, coverage, result_scores, citation_scores, conf)],
        "n_results int, n_citations int, citation_coverage double, "
        "result_scores double, citation_scores double, confidence double",
    )
