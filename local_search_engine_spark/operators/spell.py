"""Spell correction against the corpus vocabulary — the Spark-first
re-expression of the reference's SymSpell lookup (reference
query_classifier.py:131-159, max_edit_distance, transfer_casing).

Semantics pinned for engine/oracle identity (SURVEY.md §7.3 spirit —
the reference defers to a third-party library; we define the rule):

  * vocabulary = the index's term table with document frequencies;
  * a query token corrects to the vocabulary term with minimum
    levenshtein distance ≤ max_d (default 1), ties broken by higher df
    then lexicographic term; an exact vocabulary hit always wins
    (distance 0);
  * tokens with no candidate within max_d stay uncorrected (matched=false).

Physical strategy — SymSpell's insight, distributed: brute force is
|tokens| × |vocab| levenshtein calls; instead both sides expand to
delete-1 variant keys and equi-join. For max_d=1 the candidate set is
EXACT-complete (lev(t,v)≤1 ⟺ they share a key: equality, t∈del1(v),
v∈del1(t), or del1∩del1 for substitution) and only over-generates a few
lev=2 pairs (transpositions), removed by the final levenshtein
verification — so results are identical to brute force, at the cost of
one equi-join on an unskewed key. The variant expansion is a pure JVM
array expression (transform over sequence), no Python.
"""

from __future__ import annotations

from ..plans.layout import local_rows


def _delete_variants(col):
    """Column[string] -> Column[array<string>]: the term plus every
    single-character-deletion variant (distinct)."""
    from pyspark.sql import functions as F

    dels = F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.concat(
            col.substr(F.lit(1), i - 1), col.substr(i + 1, F.length(col) - i)
        ),
    )
    return F.array_distinct(F.concat(F.array(col), dels))


def _variants(col, max_d: int):
    """Deletion variants up to depth max_d (self included). Depth-d
    deletion neighbourhoods intersect for every pair within levenshtein
    distance d (delete the edited positions from each side), so the
    candidate join stays EXACT-complete at any max_d; the final
    levenshtein filter removes over-generation."""
    from pyspark.sql import functions as F

    v = _delete_variants(col)
    for _ in range(max_d - 1):
        v = F.array_distinct(F.flatten(F.transform(v, _delete_variants)))
    return v


def delete_variants_py(term: str, max_d: int = 1) -> list[str]:
    """Driver-side twin of _variants (query tokens are tiny)."""
    seen = [term]
    frontier = [term]
    for _ in range(max_d):
        nxt = []
        for t in frontier:
            for i in range(len(t)):
                v = t[:i] + t[i + 1 :]
                if v not in seen:
                    seen.append(v)
                    nxt.append(v)
        frontier = nxt
    return seen


def correct_tokens(vocab, tokens: list[str], max_d: int = 1):
    """vocab: (term, df) DataFrame; tokens: query tokens (driver-side).

    Returns (token, corrected, distance, df, matched) — one row per
    distinct input token. matched=false rows carry corrected=token,
    distance=-1, df=0 (pass-through, like SymSpell returning the input
    when no suggestion exists).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = vocab.sparkSession
    toks = sorted(set(tokens))
    if not toks:
        return local_rows(
            spark, [], "token string, corrected string, distance int, df long, matched boolean"
        )
    qrows = [(t, v) for t in toks for v in delete_variants_py(t, max_d)]
    q = local_rows(spark, qrows, "token string, vkey string").distinct()

    # length pushdown BEFORE the |term|^max_d variant expansion:
    # lev(t, v) <= d forces |len(t) - len(v)| <= d, so only vocabulary
    # terms within max_d of some query token's length can ever match —
    # a plain scan filter that shrinks the expansion to a sliver of a
    # 10^8-term vocabulary (the expansion was the only superlinear-in-
    # |term| cost at max_d=2)
    lens = {len(t) for t in toks}
    lo, hi = min(lens) - max_d, max(lens) + max_d
    # widen a thin vocabulary relation before the interpreted |term|^d
    # variant expansion (a cached idf table often sits in 1-2 partitions
    # locally); candidate join + rank are deterministic per token, so
    # row placement cannot change the winner
    from ..plans.layout import widen_for_kernel

    vkeys = widen_for_kernel(
        vocab.filter(F.length("term").between(lo, hi)).select("term", "df")
    ).select(
        "term", "df", F.explode(_variants(F.col("term"), max_d)).alias("vkey")
    )
    # query side is tiny → broadcast it; the join key (deletion variant)
    # is near-uniform, no skew handling needed
    cand = (
        vkeys.join(F.broadcast(q), "vkey")
        .select("token", "term", "df")
        .distinct()
        .withColumn("distance", F.levenshtein("token", "term"))
        .filter(F.col("distance") <= max_d)
    )
    w = Window.partitionBy("token").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term")
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "token",
            F.col("term").alias("corrected"),
            F.col("distance").cast("int").alias("distance"),
            F.col("df").cast("long").alias("df"),
            F.lit(True).alias("matched"),
        )
    )
    all_toks = local_rows(spark, [(t,) for t in toks], "token string")
    return all_toks.join(best, "token", "left").select(
        "token",
        F.coalesce("corrected", F.col("token")).alias("corrected"),
        F.coalesce("distance", F.lit(-1)).cast("int").alias("distance"),
        F.coalesce("df", F.lit(0)).cast("long").alias("df"),
        F.coalesce("matched", F.lit(False)).alias("matched"),
    )
