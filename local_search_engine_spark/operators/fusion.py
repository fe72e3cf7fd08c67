"""Rank fusion and temporal scoring — the reference's hybrid-retrieval
surface re-expressed as DataFrame ops.

  * rrf_fuse: weighted Reciprocal Rank Fusion of two rankings
    (reference _merge_results, retriever.py:428-483: rank dicts at
    :448-449, weighted RRF w/(K+r) at :455-465, per-query-type K table
    at :417-426). The reference's dict union keyed on chunk_id is a
    full-outer join; absent ranks default to n+1 (retriever.py:450-453).
  * temporal_decay / temporal_filter: the reference's temporal scoring
    (strict filter retriever.py:1046-1052; exponential decay 0.95^days
    at :1044; flexible out-of-range 0.5*0.9^days_out at :1055-1061).

Both are pure built-in expressions over result DataFrames.
"""

from __future__ import annotations

# Per-query-type fusion K (reference retriever.py:417-426).
FUSION_K = {
    "factual": 40,
    "conceptual": 80,
    "procedural": 60,
    "exploratory": 100,
    "default": 50,
}


def rrf_fuse(dense, sparse, k_fusion: int = 50, w_dense: float = 0.5, w_sparse: float = 0.5, topk: int | None = None):
    """Weighted RRF over two (id, rank) DataFrames → (id, rrf_score).

    score(id) = w_d/(K + r_d) + w_s/(K + r_s), with r defaulting to
    (n_side + 1) when the id is missing from a side — exactly the
    reference's default rank len(results)+1 (retriever.py:450-453).
    Tie-break (score DESC, id ASC), pinned as everywhere in the engine.

    An id listed more than once on a side keeps its best (lowest) rank
    there, and the side's size counts distinct ids.

    The per-side sizes are unbounded-window counts over the JOINED
    relation (after the per-id min, count(rank_side) over the
    full-outer join == that side's distinct id count)
    — still one Spark job with zero driver actions, and each leg's
    pipeline now appears in the plan exactly ONCE. The previous 1x1
    scalar-aggregate crossJoin referenced every leg twice (size agg +
    join), and Catalyst re-executes duplicated subtrees — both retrieval
    legs ran twice per fused query (r06, found via the hybrid leg/total
    timing gap). The windows run over ≤ (n_d + n_s) already-ranked rows.
    With topk the cut is orderBy().limit() (TakeOrderedAndProject)
    BEFORE the rank window, so the single-partition window only ever
    sees ≤topk rows.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # an id listed twice on one side keeps its best rank there, so it is
    # fused once and counts once toward that side's default rank; the
    # aggregate is keyed on id, so its exchange is the one the join needs
    d = dense.groupBy("id").agg(F.min("rank").alias("rank_d"))
    s = sparse.groupBy("id").agg(F.min("rank").alias("rank_s"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    joined = d.join(s, "id", "full_outer").select(
        "id",
        F.coalesce(
            "rank_d", (F.count("rank_d").over(w_all) + 1).cast("int")
        ).alias("rank_d"),
        F.coalesce(
            "rank_s", (F.count("rank_s").over(w_all) + 1).cast("int")
        ).alias("rank_s"),
    )
    score = F.lit(w_dense) / (F.lit(k_fusion) + F.col("rank_d")) + F.lit(w_sparse) / (
        F.lit(k_fusion) + F.col("rank_s")
    )
    out = joined.withColumn("rrf_score", score)
    if topk is not None:
        out = out.orderBy(F.desc("rrf_score"), F.asc("id")).limit(topk)
    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    out = out.withColumn("fused_rank", F.row_number().over(w))
    return out.select("fused_rank", "id", "rank_d", "rank_s", "rrf_score")


def score_combine(dense, sparse, w_dense: float = 0.5, w_sparse: float = 0.5, topk: int | None = None):
    """J2/F10: normalized score-combination join (reference
    _combine_scores, retriever.py:684-717): each side's scores are
    max-normalized (score / max(score), reference :692-708), the sides
    are full-outer joined on id with 0.0 defaults for missing entries
    (:689), and blended w_d * nd + w_s * ns.

    Inputs: (id, score) DataFrames. The per-side maxima are
    unbounded-window aggregates over the JOINED relation (max ignores
    the other side's nulls, so it equals that side's max) — one Spark
    job, zero driver actions, and each leg's pipeline appears in the
    plan exactly once (the former 1x1 scalar-aggregate crossJoin
    referenced every leg twice and Catalyst re-executed both — same
    fix as rrf_fuse, r06). Non-positive or absent maxima leave that
    side's scores 0 (degenerate-corpus guard). With topk the cut is
    orderBy().limit() (TakeOrderedAndProject) before the ≤topk-row rank
    window. Output: (combined_rank, id, norm_d, norm_s, combined) with
    the pinned (score DESC, id ASC) tie-break.

    An id listed more than once on a side keeps its best (max) score
    there, so it is emitted once.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # keyed on id like rrf_fuse's per-id min: the join reuses its exchange
    d = dense.groupBy("id").agg(F.max("score").alias("score_d"))
    s = sparse.groupBy("id").agg(F.max("score").alias("score_s"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mx_d = F.max("score_d").over(w_all)
    mx_s = F.max("score_s").over(w_all)
    joined = d.join(s, "id", "full_outer").select(
        "id",
        F.when(
            mx_d > 0, F.coalesce("score_d", F.lit(0.0)) / mx_d
        ).otherwise(F.lit(0.0)).alias("norm_d"),
        F.when(
            mx_s > 0, F.coalesce("score_s", F.lit(0.0)) / mx_s
        ).otherwise(F.lit(0.0)).alias("norm_s"),
    )
    out = joined.withColumn(
        "combined",
        F.lit(w_dense) * F.col("norm_d") + F.lit(w_sparse) * F.col("norm_s"),
    )
    if topk is not None:
        out = out.orderBy(F.desc("combined"), F.asc("id")).limit(topk)
    w = Window.orderBy(F.desc("combined"), F.asc("id"))
    out = out.withColumn("combined_rank", F.row_number().over(w))
    return out.select("combined_rank", "id", "norm_d", "norm_s", "combined")


def results_by_source(results, docs, group_cols=("lang", "source"), id_col: str = "doc_id"):
    """A9: group result rows by their source document attributes
    (reference ui.py:408-412 groups hits into Dict[source -> list]).

    results: (doc_id, score, ...) — joined to docs on doc_id (broadcast:
    the results side is top-k small), grouped by group_cols, hits packed
    as an ascending-(rank) csv with count + best score per group.
    """
    from pyspark.sql import functions as F

    joined = results.join(docs.select(id_col, *group_cols), id_col)
    return joined.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_hits"),
        F.max("score").alias("best_score"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", F.col(id_col).alias("id")))),
                lambda x: x["id"].cast("string"),
            ),
        ).alias("doc_ids_by_rank"),
    )


def accumulate_iterations(iteration_results):
    """J6/U2: merge result sets across retrieval iterations (reference
    retriever.py:978-994): the FIRST iteration that finds an id pins its
    result row; later iterations only append to iterations_found.

    iteration_results: list of (iteration:int, DataFrame(id, score)).
    Returns (id, score, first_iteration, iterations_csv, n_iterations) —
    score is the pinning (earliest) iteration's score; iterations_csv is
    the ascending list of iterations that found the id.
    """
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tagged = [
        df.select(
            "id", "score", F.lit(int(it)).cast("int").alias("iteration")
        )
        for it, df in iteration_results
    ]
    all_rows = reduce(lambda a, b: a.unionByName(b), tagged)
    w = Window.partitionBy("id").orderBy("iteration")
    return (
        all_rows.withColumn("rn", F.row_number().over(w))
        .groupBy("id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("score"))).alias("score"),
            F.min("iteration").alias("first_iteration"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("iteration")),
                    lambda x: x.cast("string"),
                ),
            ).alias("iterations_csv"),
            F.count("*").cast("long").alias("n_iterations"),
        )
    )


def final_selection(metrics, n_iterations: int, top_k: int = 5):
    """A7/T5: the reference's final-selection blend (reference
    retriever.py:793-849):

      objective  = 0.3·retrieval + 0.2·semantic + 0.2·quality + 0.1·keyword
      subjective = 0.1·llm_confidence + 0.1·(iterations_found / n_iterations)
      total      = objective + subjective,  top_k by total DESC

    metrics: DataFrame(id, retrieval_score, semantic_relevance,
    text_quality, keyword_match, llm_confidence, n_iterations_found).
    Null retrieval/llm default to 0.5 (reference :810-818); other null
    metrics default to 0. llm_confidence is whatever the caller supplies
    — the LLM itself is out of engine scope (SURVEY.md W6), the seam
    takes a column. Tie-break (total DESC, id ASC), pinned.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    r = F.coalesce("retrieval_score", F.lit(0.5))
    llm = F.coalesce("llm_confidence", F.lit(0.5))
    sem = F.coalesce("semantic_relevance", F.lit(0.0))
    q = F.coalesce("text_quality", F.lit(0.0))
    kw = F.coalesce("keyword_match", F.lit(0.0))
    cons = F.coalesce("n_iterations_found", F.lit(0)).cast("double") / F.lit(
        float(n_iterations)
    )
    obj = 0.3 * r + 0.2 * sem + 0.2 * q + 0.1 * kw
    subj = 0.1 * llm + 0.1 * cons
    out = metrics.select(
        "id",
        obj.alias("objective_score"),
        subj.alias("subjective_score"),
        (obj + subj).alias("total_score"),
    )
    # limit-before-rank: TakeOrderedAndProject cuts to top_k rows first,
    # the single-partition rank window then sees ≤top_k rows
    top = out.orderBy(F.desc("total_score"), F.asc("id")).limit(top_k)
    w = Window.orderBy(F.desc("total_score"), F.asc("id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "id", "total_score", "objective_score", "subjective_score")
    )


def temporal_filter(df, ts_col: str, start=None, end=None):
    """P7 strict temporal predicate (reference retriever.py:1046-1052) —
    a plain pushdown-able filter, not a join."""
    from pyspark.sql import functions as F

    out = df
    if start is not None:
        out = out.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        out = out.filter(F.col(ts_col) <= F.lit(end))
    return out


def temporal_decay(df, ts_col: str, now, score_col: str = "value", rate: float = 0.95):
    """F8 exponential recency decay (reference retriever.py:1044):
    decayed = score * rate^days_old, days_old = floor days between now
    and the row timestamp (negative ages clamp to 0)."""
    from pyspark.sql import functions as F

    days_old = F.greatest(F.datediff(F.lit(now), F.col(ts_col)), F.lit(0))
    return df.withColumn(
        "decayed", F.col(score_col) * F.pow(F.lit(rate), days_old.cast("double"))
    )


# FLEXIBLE-mode constants (reference retriever.py:1054-1068): out-of-range
# results keep half weight decayed 0.9^days; in-range results get up to a
# 1.5x boost by their relative position inside the window.
FLEX_OUT_WEIGHT = 0.5
FLEX_OUT_RATE = 0.9
FLEX_IN_BASE = 1.0
FLEX_IN_BOOST = 0.5
# Out-of-range decay factors precomputed and QUANTIZED to 4 dp so that
# score-column products round identically across engines (same
# cross-engine round() rationale as temporal_nl_search — see
# __spark_entry__.q_temporal_nl_search). 256 days of 0.9-decay underflows
# 4 dp well before the table ends (0.5*0.9^81 < 5e-5 -> factor 0.0).
FLEX_N_FACTORS = 256


def flex_out_factors(n: int = FLEX_N_FACTORS) -> list[float]:
    return [round(FLEX_OUT_WEIGHT * FLEX_OUT_RATE**i, 4) for i in range(n)]


def temporal_flexible(
    df,
    ts_col: str,
    start,
    end,
    now,
    out_col: str = "temporal_score",
):
    """F8 FLEXIBLE temporal scoring (reference retriever.py:1054-1068,
    the default TimeFrame.FLEXIBLE branch of _apply_temporal_scoring):

      ts < start : 0.5 * 0.9^days_before   (days_before = (start-ts).days)
      ts > end   : 0.5 * 0.9^days_after    (days_after  = (ts-end).days)
      in range   : 1.0 + 0.5 * relative_position, where
                   relative_position = (ts - lo).total_seconds()
                                     / max(((end or now) - lo).total_seconds(), 1)
                   and lo = start or ts (so start=None pins rel_pos to 0).

    start / end / now are Python datetimes (start/end may be None, as in
    the reference's Optional constraints). All arithmetic runs on
    MICROSECOND integer epochs (unix_micros), matching datetime
    subtraction's full precision: `.days` floors toward -inf —
    reproduced with integer-division by 86400e6 (both branches only fire
    on positive deltas, matching the reference control flow) — and
    total_seconds() ratios are exact integer-ratio doubles, bit-identical
    across engines. Pure column expressions; the out-of-range decay
    factor is an element_at into a quantized (4 dp) literal array
    (cross-engine-stable rounding), clamped at the table tail where
    0.5*0.9^i has underflowed 4 dp to 0.0 anyway.
    """
    from pyspark.sql import functions as F

    us_per_day = 86_400_000_000
    # tz-independent epoch micros: TIMESTAMP_NTZ (parquet naive) diffs
    # against the naive epoch; TIMESTAMP uses unix_micros directly
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        ts_us = F.expr(
            f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {ts_col})"
        )
    else:
        ts_us = F.unix_micros(F.col(ts_col))
    facs = F.array(*[F.lit(x) for x in flex_out_factors()])

    def _fac(days_col):
        idx = F.least(days_col, F.lit(FLEX_N_FACTORS - 1)).cast("int")
        return F.element_at(facs, idx + 1)

    def _us(dt) -> int:
        # naive datetimes are UTC by convention (the engine stores naive
        # timestamps; unix_micros reads parquet's stored epoch directly)
        import datetime as _dt

        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        return int(dt.timestamp() * 1_000_000)

    now_us = _us(now)
    start_us = _us(start) if start is not None else None
    end_us = _us(end) if end is not None else None

    lo = F.lit(start_us).cast("long") if start_us is not None else ts_us
    hi = F.lit(end_us if end_us is not None else now_us).cast("long")
    rel = (ts_us - lo).cast("double") / F.greatest(
        (hi - lo).cast("double"), F.lit(1.0)
    )
    in_range = F.lit(FLEX_IN_BASE) + F.lit(FLEX_IN_BOOST) * rel

    def _days(delta_us):
        # exact positive floor-division on longs: subtract the remainder
        # first so the double division is over an exact multiple of the
        # day (no float rounding can cross an integer boundary)
        whole = delta_us - F.pmod(delta_us, F.lit(us_per_day))
        return (whole.cast("double") / F.lit(float(us_per_day))).cast("int")

    score = in_range
    if end_us is not None:
        score = F.when(ts_us > end_us, _fac(_days(ts_us - F.lit(end_us)))).otherwise(
            score
        )
    if start_us is not None:
        score = F.when(
            ts_us < start_us, _fac(_days(F.lit(start_us) - ts_us))
        ).otherwise(score)
    return df.withColumn(out_col, score)
