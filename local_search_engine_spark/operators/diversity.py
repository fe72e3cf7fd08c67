"""Diversity-aware top-k: result collapsing (per-group caps) and MMR
re-ranking — the two standard diversity tools a search engine applies
after scoring.

The reference groups results by source for PRESENTATION (reference
retriever.py results-by-source packaging, covered by
fusion.results_by_source); collapsing goes further and changes WHICH
results are returned: at most `cap` hits per group (repo / host / site)
survive into the final top-k, so one boilerplate-heavy repository
cannot monopolize the result page.

Collapsing is pure DataFrame windows. Batch MMR runs its greedy kernel
once per query through plans/layout.group_in_partitions (one shuffle on
qid, one mapInPandas), so queries rerank in parallel.
"""

from __future__ import annotations


def capped_topk(
    results,
    k: int,
    cap: int,
    group_col: str,
    score_col: str = "score",
    id_col: str = "doc_id",
    presplit: int | None = 32,
):
    """Top-k with at most `cap` rows per group: rank within group by
    (score desc, id asc — the engine's pinned tie-break), keep ranks
    <= cap, then global orderBy().limit(k) and final rank.

    MEGA-GROUP GUARD (presplit, default 32): a pathological group
    holding most of the relation (one giant repo) would otherwise land
    in ONE window partition — AQE cannot split a window. The guard
    pre-cuts each (group, salt) shard to its local top-cap first, salt
    = h32(id) mod presplit: any row in a group's TRUE top-cap has at
    most cap-1 better group rows in its own shard, so its shard rank is
    <= cap and the pre-cut never discards a survivor. The final
    per-group window then sees <= cap * presplit rows per group — a
    constant — instead of the raw group size. Results are identical for
    any presplit (deterministic salt; set presplit=None to skip the
    extra shuffle when groups are known-bounded).

    The global cut is TakeOrderedAndProject (per-partition k-heap +
    driver merge) and the final row_number runs over <= k rows — the
    limit-before-rank rule everywhere else in the engine.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.hashing import h32_col

    if presplit is not None and presplit > 1:
        w1 = Window.partitionBy(group_col, "_salt").orderBy(
            F.desc(score_col), F.asc(id_col)
        )
        results = (
            results.withColumn(
                "_salt",
                F.pmod(h32_col(F.col(id_col).cast("string")), F.lit(presplit)),
            )
            .withColumn("_shard_rank", F.row_number().over(w1))
            .filter(F.col("_shard_rank") <= cap)
            .drop("_salt", "_shard_rank")
        )
    wg = Window.partitionBy(group_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    capped = (
        results.withColumn("group_rank", F.row_number().over(wg))
        .filter(F.col("group_rank") <= cap)
        .orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return capped.withColumn("rank", F.row_number().over(w))


def mmr_rerank_py(candidates, sims, k: int, lam: float = 0.5):
    """Pure-python greedy Maximal Marginal Relevance over an ALREADY
    top-n-cut candidate list (n ~ 10^2, driver-side by design — MMR is
    inherently sequential, so the distributed part of the query ends at
    the top-n cut and this reranks the small remainder).

    candidates: list of (id, relevance) sorted any order;
    sims: dict[(id_a, id_b)] -> similarity (symmetric lookups);
    returns the ordered kept ids. Ties broken by ascending id — the
    engine's pinned rule (and the DuckDB recursive-CTE oracle's).
    """
    remaining = dict(candidates)
    picked: list = []
    while remaining and len(picked) < k:
        best_id, best_score = None, None
        for cid, rel in remaining.items():
            max_sim = max(
                (
                    sims.get((cid, p), sims.get((p, cid), 0.0))
                    for p in picked
                ),
                default=0.0,
            )
            score = lam * rel - (1.0 - lam) * max_sim
            if (
                best_score is None
                or score > best_score
                or (score == best_score and cid < best_id)
            ):
                best_id, best_score = cid, score
        picked.append(best_id)
        del remaining[best_id]
    return picked


def mmr_rerank_batch(
    candidates,
    embeddings,
    k: int,
    lam: float = 0.5,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rel_col: str = "score",
    vec_col: str = "embedding",
    emb_id_col: str = "vec_id",
    round_sims: int | None = None,
):
    """Distributed MMR over a BATCH of queries: candidates
    (qid, doc_id, score) — each query's already-cut top-n — join their
    embeddings, then group_in_partitions on qid runs the greedy numpy
    kernel once per query. MMR is inherently sequential WITHIN a query,
    so the right distribution axis is ACROSS queries: n queries rerank
    in parallel, each group is top-n-bounded (~10^2 rows) so no group
    can exceed a task. Returns (qid, rank, doc_id, mmr_score ordering implied by
    rank). Cosine similarity over the embedding columns; ties broken by
    ascending doc_id (the engine rule, matching mmr_rerank_py).

    round_sims: round pairwise similarities to N decimals before the
    greedy scores — makes the selection bit-reproducible across engines
    (cross-engine float summation order differs in the last ulp, enough
    to flip an argmax; 6-dp canonical similarity is the same contract
    every oracle-gated score in this engine uses)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ..plans.layout import group_in_partitions

    joined = candidates.join(
        embeddings.select(
            F.col(emb_id_col).alias(id_col), F.col(vec_col).alias("_vec")
        ),
        id_col,
    ).select(
        F.col(qid_col).alias("qid"),
        F.col(id_col).alias("doc_id"),
        F.col(rel_col).alias("rel"),
        "_vec",
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        v = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["_vec"]])
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        u = v / norms[:, None]
        sim = u @ u.T
        if round_sims is not None:
            sim = np.round(sim, round_sims)
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        n = len(pdf)
        picked: list[int] = []
        remaining = list(range(n))
        while remaining and len(picked) < k:
            best, best_s = None, None
            for i in remaining:
                ms = max((sim[i, j] for j in picked), default=0.0)
                s = lam * rel[i] - (1.0 - lam) * ms
                if best_s is None or s > best_s:
                    best, best_s = i, s
            picked.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "qid": pdf["qid"].iloc[:1].repeat(len(picked)).to_numpy(),
                "rank": range(1, len(picked) + 1),
                "doc_id": pdf["doc_id"].to_numpy()[picked],
            }
        )

    return group_in_partitions(
        joined, ["qid"], rerank, "qid long, rank int, doc_id long"
    )
