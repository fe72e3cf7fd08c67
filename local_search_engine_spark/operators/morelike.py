"""More-like-this: rank the corpus by similarity to one document
(Lucene MoreLikeThisQuery / Elasticsearch `more_like_this`).

The reference has no find-similar-documents surface (its retriever only
takes free-text queries — `/root/reference/retriever.py:330-470`); this
is an engine EXTENSION following Lucene's MLT algorithm:

  1. read the SOURCE doc's term frequencies from the inverted index
     (index.tf, doc_id filter pushed to the scan — the raw text is
     never re-tokenized),
  2. score each term's "interestingness" as tf · idf with the index's
     epsilon-floored idf (the same idf the ranker uses, so selection
     and scoring agree),
  3. keep the top `max_query_terms` terms (tf·idf DESC, term ASC — the
     deterministic tiebreak) after the `min_term_freq` / `min_doc_freq`
     noise gates,
  4. run those terms as a plain BM25 OR query (qtf=1 each, Lucene's
     boolean-query rewrite) and return the top-k, excluding the source
     doc itself.

Scale shape: step 1-3 touch ONE document's vocabulary (≤ a few hundred
rows — collected to the driver and re-broadcast as query literals, the
engine's standard driver-side probe-literal pattern; this is O(|doc|),
not O(corpus)). Step 4 is the engine's normal score_terms plan: the
query terms broadcast against the tf table, one partial-aggregated
doc_id shuffle, TakeOrderedAndProject for the k-heap. Nothing in the
plan grows with corpus size except the postings actually scanned.
"""

from __future__ import annotations

from ..plans.layout import local_rows

__all__ = ["interesting_terms", "more_like_this"]


def interesting_terms(index, doc_id: int, max_query_terms: int = 25,
                      min_term_freq: int = 1, min_doc_freq: int = 1):
    """The MLT term-selection step: the source doc's top terms by
    tf·idf. Returns a list of (term, tf, df, weight) tuples in selection
    order — driver-side (one doc's vocabulary), deterministic."""
    from pyspark.sql import functions as F

    rows = (
        index.tf.filter(F.col("doc_id") == int(doc_id))
        .join(index.idf.select("term", "df", "idf"), "term")
        .filter(
            (F.col("tf") >= int(min_term_freq))
            & (F.col("df") >= int(min_doc_freq))
        )
        .select("term", "tf", "df", (F.col("tf") * F.col("idf")).alias("w"))
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(int(max_query_terms))
        .collect()
    )
    if not rows:
        # distinguish "doc has no indexable terms" from "no such doc"
        if index.docs.filter(F.col("doc_id") == int(doc_id)).count() == 0:
            raise ValueError(f"doc_id {doc_id} is not in the index")
    return [(r["term"], int(r["tf"]), int(r["df"]), float(r["w"])) for r in rows]


def more_like_this(index, doc_id: int, k: int, max_query_terms: int = 25,
                   min_term_freq: int = 1, min_doc_freq: int = 1):
    """Top-k documents most similar to `doc_id` (excluded from its own
    results), scored by BM25 over the doc's `max_query_terms` most
    interesting terms. DataFrame(rank int, doc_id long, score double),
    score rounded to 6dp BEFORE ranking (the engine-wide rule); empty
    when the source doc has no indexable terms."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .query import score_terms

    terms = interesting_terms(
        index, doc_id, max_query_terms, min_term_freq, min_doc_freq
    )
    spark = index.tf.sparkSession
    if not terms:
        return local_rows(spark, [], "rank int, doc_id long, score double")
    scored = score_terms(index, {t: 1 for t, _, _, _ in terms}).filter(
        F.col("doc_id") != int(doc_id)
    )
    order = [F.desc("score"), F.asc("doc_id")]
    top = scored.withColumn("score", F.round("score", 6)).orderBy(*order).limit(int(k))
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "doc_id", "score"
    )
