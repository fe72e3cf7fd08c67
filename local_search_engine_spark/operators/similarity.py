"""Similarity search over an embedding column (array<float>).

Replaces the reference's per-document FAISS IndexFlatL2 loop (reference
retriever.py:312-361, preprocessing.py:449-461) — which searches one
index per file and merges incomparable scores — with global distributed
top-k:

  * cosine_topk        — exact brute force, pure built-in expressions
                         (zip_with/aggregate fold, JVM codegen); the
                         correctness baseline.
  * srp_lsh_buckets /
    srp_lsh_topk       — signed-random-projection LSH bucketing; the
                         scale path (candidates from matching buckets
                         only). Hyperplanes are derived deterministically
                         from md5 so the oracle can reproduce them.

Top-k is orderBy+limit — Spark plans it as TakeOrderedAndProject (a
per-partition k-heap + driver merge), no global sort.

Persisted ANN indexes, under index_dir:

  vectors/bucket=B/    SRP inverted file (id, v)
  vectors/cluster=C/   IVF inverted file (id, v, centroid_dist)
  vectors/_schema.json read-back schema; the commit marker (plans/store.py)
  meta.json            SRP: dim, bits
  centroids.json       IVF: the coarse quantizer
  stats.json           IVF: train-time mean quantization error, global
                       and per cluster
"""

from __future__ import annotations

import os

from ..functions.hashing import h32_col
from ..plans.store import read_json, read_table, swap_dir, write_json, write_table

SRP_BITS = 8


def _as_double(col):
    from pyspark.sql import functions as F

    return F.transform(col, lambda x: x.cast("double"))


def _vectors(embeddings, id_col: str, vec_col: str):
    """(id, v): each row's id and its vector as array<double>."""
    from pyspark.sql import functions as F

    return embeddings.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))


def _ranked(scores, k: int):
    """(rank, id, cosine): the k best (id, cosine) rows, tie-break
    (cosine DESC, id ASC) — a k-heap, then a window over those k rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    order = (F.desc("cosine"), F.asc("id"))
    top = scores.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        "rank", "id", "cosine"
    )


def _dot(a, b):
    from pyspark.sql import functions as F

    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    from pyspark.sql import functions as F

    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _cosine_expr(query_vec):
    """Column expr: cosine(F.col("v"), literal query vector).

    Deliberately the interpreted aggregate/zip_with fold: an unrolled
    64-term codegen Add chain was measured 2.3x SLOWER at sf1.0 —
    janino emits one huge method that trips HotSpot's
    DontCompileHugeMethods limit, so the "codegen'd" expression runs as
    un-JIT-ed bytecode. The fold's per-element interpreter overhead is
    the cheaper of the two."""
    from pyspark.sql import functions as F

    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return _dot(F.col("v"), qcol) / (_norm(F.col("v")) * _norm(qcol))


def cosine_scores(embeddings, query_vec, id_col: str = "vec_id", vec_col: str = "embedding"):
    """(id, cosine) for every row vs a literal query vector."""
    v = _vectors(embeddings, id_col, vec_col)
    return v.select("id", _cosine_expr(query_vec).alias("cosine"))


def _apply_allowed(embeddings, allowed, id_col: str):
    """Filtered vector search, PRE-filter semantics (Elasticsearch
    `knn` + `filter`): semi-join the allow-list (any DataFrame whose
    FIRST column is the id — e.g. a boolean match set from
    boolquery.matches) onto the vectors BEFORE bucket pruning, scoring,
    and the k-heap. Pre-filtering guarantees k results whenever the
    filter admits ≥ k vectors; the post-filter alternative (top-k
    first, filter after) silently returns fewer — the classic filtered-
    ANN recall trap. The semi join is id-keyed (AQE picks broadcast
    when the match set is small); no vector payload ever moves for
    excluded rows."""
    if allowed is None:
        return embeddings
    from pyspark.sql import functions as F

    first = allowed.columns[0]
    aid = allowed.select(F.col(first).cast("long").alias(id_col)).distinct()
    return embeddings.join(aid, id_col, "left_semi")


def cosine_topk(embeddings, query_vec, k: int, id_col: str = "vec_id", vec_col: str = "embedding", exclude_id=None, allowed=None):
    """Exact top-k by cosine, tie-break (cosine DESC, id ASC).
    allowed: optional allow-list DataFrame — see _apply_allowed."""
    from pyspark.sql import functions as F

    s = cosine_scores(_apply_allowed(embeddings, allowed, id_col), query_vec, id_col, vec_col)
    if exclude_id is not None:
        s = s.filter(F.col("id") != exclude_id)
    return _ranked(s, k)


def srp_hyperplanes(dim: int, bits: int = SRP_BITS) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible by
    the SQL oracle: component (j, d) = (h32(f"srp:{j}:{d}") / 2^31) - 1,
    a value in [-1, 1)."""
    import hashlib

    planes = []
    for j in range(bits):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"srp:{j}:{d}".encode()).hexdigest()[:8], 16)
            row.append(h / 2147483648.0 - 1.0)
        planes.append(row)
    return planes


def _srp_bucket_udf(planes):
    """SRP bucket of each vector — bit j = 1 iff dot(v, plane_j) > 0 —
    as one Arrow-batched (batch, bits, dim) broadcast multiply +
    np.add.accumulate along dim. ufunc accumulate is STRICTLY sequential
    left-to-right, so each dot is the plain `s = 0.0; s += x*p` fold
    bit-for-bit (tests/test_similarity.py pins the buckets against that
    oracle). Null, too-short and too-long vectors bucket to 0."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (bits, dim)
    bits, dim = P.shape
    shifts = np.arange(bits, dtype=np.int64)

    def _kernel(vs):
        n = len(vs)
        out = np.zeros(n, dtype=np.int64)
        arrs = vs.to_numpy()
        ok = [
            i
            for i in range(n)
            if arrs[i] is not None and len(arrs[i]) == dim
        ]
        if ok:
            M = np.empty((len(ok), dim), dtype=np.float64)
            for r, i in enumerate(ok):
                M[r] = arrs[i]
            prod = M[:, None, :] * P[None, :, :]
            dots = np.add.accumulate(prod, axis=2)[:, :, -1]
            out[ok] = ((dots > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
        return pd.Series(out)

    _kernel.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "long")


def srp_lsh_buckets(embeddings, dim: int, bits: int = SRP_BITS, id_col: str = "vec_id", vec_col: str = "embedding"):
    """(id, bucket): signed-random-projection bucket per vector."""
    from pyspark.sql import functions as F

    planes = srp_hyperplanes(dim, bits)
    v = _vectors(embeddings, id_col, vec_col)
    return v.select("id", _srp_bucket_udf(planes)(F.col("v")).alias("bucket"))


def ivf_train_centroids(
    embeddings,
    n_centroids: int,
    dim: int,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeding: str = "hash",
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer, refined by `iters` Lloyd
    rounds, each one distributed pass: assign every vector to its
    nearest centroid (argmin L2, pure column exprs over broadcast
    centroid literals) → per-dimension mean per cluster (one groupBy) →
    collect the n_centroids×dim table (tiny). Empty clusters keep their
    previous centroid.

    seeding='hash' (default): seeds are the n_centroids vectors with the
    smallest (h32('ivfseed:' || id), id) — deterministic AND
    oracle-reproducible like lowest-id seeding, but a uniform sample of
    the corpus (kmeans||-style spread): with clustered or sorted ids the
    lowest-id seeds all land in one region and one Lloyd round cannot
    recover a degenerate quantizer. seeding='lowest_id' keeps the old
    behavior for comparison."""
    from pyspark.sql import functions as F

    v = _vectors(embeddings, id_col, vec_col)
    if seeding == "hash":
        seed_rows = (
            v.withColumn(
                "_hk",
                h32_col(F.concat(F.lit("ivfseed:"), F.col("id").cast("string"))),
            )
            .orderBy("_hk", "id")
            .limit(n_centroids)
            .collect()
        )
    elif seeding == "lowest_id":
        seed_rows = v.orderBy("id").limit(n_centroids).collect()
    else:
        raise ValueError(f"unknown seeding: {seeding!r}")
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    for _ in range(iters):
        assign = _ivf_assign_expr(centroids)
        sums = (
            v.withColumn("cluster", assign)
            .select("cluster", F.posexplode("v").alias("d", "x"))
            .groupBy("cluster", "d")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = [list(c) for c in centroids]
        acc: dict[int, dict[int, tuple]] = {}
        for r in sums:
            acc.setdefault(int(r["cluster"]), {})[int(r["d"])] = (
                float(r["s"]),
                int(r["n"]),
            )
        for c, dims in acc.items():
            for d, (s, n) in dims.items():
                new[c][d] = s / n
        centroids = new
    return centroids


def _ivf_assign_expr(centroids):
    """Column expr: index (0-based) of the L2-nearest centroid of `v`.
    Ties break to the LOWEST centroid index (array_position finds the
    first minimum)."""
    from pyspark.sql import functions as F

    dists = _centroid_dists(centroids)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _centroid_dists(centroids):
    """Column expr: the squared L2 distance of `v` to each centroid."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for c in centroids
        ]
    )


def ivf_topk(
    embeddings,
    query_vec,
    k: int,
    centroids,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed=None,
):
    """IVF-flat approximate top-k: probe the nprobe centroids nearest the
    query (driver-side — centroids are tiny), score ONLY vectors assigned
    to those clusters (exact cosine), TakeOrderedAndProject top-k. The
    candidate fraction is ~nprobe/n_centroids of the corpus — the
    standard IVF recall/cost dial.

    PRUNE BEFORE SCORE: assignment + cluster filter + cosine are all
    expressions over the same row — one narrow projection, the cosine
    evaluated ONLY on candidate-cluster survivors, no join. (An earlier
    version joined candidate ids onto a full-corpus cosine_scores
    projection, computing cosine for every vector.) For scan-time
    pruning on top, use persist_ivf_index + ivf_topk_persisted — the
    persisted layout is what survives 100 TB."""
    probes = _nearest_centroids(query_vec, centroids, nprobe)
    v = _vectors(_apply_allowed(embeddings, allowed, id_col), id_col, vec_col)
    cand = v.filter(_ivf_assign_expr(centroids).isin(probes))
    return _ranked(cand.select("id", _cosine_expr(query_vec).alias("cosine")), k)


def _nearest_centroids(query_vec, centroids, nprobe: int) -> list[int]:
    """Indexes of the nprobe centroids L2-nearest the query (driver-side;
    ties to the lower index)."""
    q = [float(x) for x in query_vec]
    dists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i) for i, c in enumerate(centroids)
    )
    return [i for _, i in dists[:nprobe]]


def _ivf_assign_with_dist(v_df, centroids):
    """(id, v, cluster, _d): nearest-centroid assignment PLUS the L2
    distance to it, sharing one `_dists` array so assignment and
    distance are a single evaluation of the centroid expressions."""
    from pyspark.sql import functions as F

    return (
        v_df.withColumn("_dists", _centroid_dists(centroids))
        .withColumn(
            "cluster",
            (F.array_position(F.col("_dists"), F.array_min("_dists")) - 1).cast("int"),
        )
        .withColumn("centroid_dist", F.sqrt(F.array_min("_dists")))
        .drop("_dists")
    )


def persist_ivf_index(
    embeddings,
    centroids,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Write the inverted file to parquet PARTITIONED BY cluster: a probe
    then prunes whole cluster directories at scan time (PartitionFilters
    in the FileScan — the ANN analog of the WAND term_bucket directory
    layout). Also persists the centroid table (cluster, centroid) beside
    it so a query planner needs no retraining, and stats.json with the
    TRAIN-TIME PER-CLUSTER mean nearest-centroid distance (quantization
    error) — the drift baseline append_ivf_index compares appended
    batches against, cluster by cluster (a global mean would conflate
    distribution drift with resolution imbalance: a region served by one
    coarse centroid quantizes worse than a finely covered one even with
    zero drift). Each vector's own distance is stored as a
    `centroid_dist` column in the inverted file (8 bytes/vector; query
    scans never read it — column-pruned), so the stats derive from a
    narrow 2-column scan of the freshly WRITTEN file, not a second pass
    over the source."""
    v = _vectors(embeddings, id_col, vec_col)
    write_json(os.path.join(index_dir, "centroids.json"), centroids)
    vec_dir = os.path.join(index_dir, "vectors")
    write_table(_ivf_assign_with_dist(v, centroids), vec_dir, partition_by=("cluster",))
    _write_ivf_stats(embeddings.sparkSession, index_dir, vec_dir)


def _dist_sums(assigned, *by) -> list:
    """(*by, n, s) rows: the count and the exact (DECIMAL(38,18)) sum of
    centroid_dist per `by` group (one row without `by`). _mean_dist
    divides on the driver (the avg_idf pattern of build.idf_table), so a
    mean depends neither on the partition layout nor on how the rows
    were grouped."""
    from pyspark.sql import functions as F

    from .build import exact_sum

    return (
        assigned.groupBy(*by)
        .agg(F.count("*").alias("n"), exact_sum(assigned, "centroid_dist").alias("s"))
        .collect()
    )


def _mean_dist(sums) -> float:
    """Σ s / Σ n over _dist_sums rows, summed without rounding."""
    import decimal

    n = sum(int(r["n"]) for r in sums)
    with decimal.localcontext() as ctx:
        ctx.prec = 80
        s = sum((r["s"] or 0 for r in sums), decimal.Decimal(0))
        return float(s / n) if n else 0.0


def _write_ivf_stats(spark, index_dir: str, vec_dir: str) -> dict:
    """Derive stats.json (global + per-cluster train-time mean
    quantization error) from a narrow 2-column scan of the written
    inverted file; shared by persist and retrain."""
    per_cluster = _dist_sums(read_table(spark, vec_dir), "cluster")
    stats = {
        "n_train": sum(int(r["n"]) for r in per_cluster),
        "train_mean_dist": _mean_dist(per_cluster),
        "cluster_mean_dist": {str(int(r["cluster"])): _mean_dist([r]) for r in per_cluster},
    }
    write_json(os.path.join(index_dir, "stats.json"), stats)
    return stats


def retrain_ivf_index(
    spark,
    index_dir: str,
    n_centroids: int | None = None,
    iters: int = 1,
    seeding: str = "hash",
) -> dict:
    """The retrain-and-swap operation append_ivf_index's
    retrain_recommended flag asks for: retrain the coarse quantizer on
    the FULL merged vector set (train + every appended batch, read back
    from the inverted file itself — no second copy of the corpus
    exists), re-assign every vector, and atomically swap the rewritten
    inverted file in. After the swap the index is bit-identical to a
    fresh persist_ivf_index over the union (same deterministic
    hash-seeded Lloyd training), so the drift baseline resets and a
    drifted region regains its own cluster(s) — recall@k at fixed
    nprobe returns to the pre-drift curve (test-pinned in
    tests/test_similarity.py).

    Swap protocol (single-writer): stage vectors.retrain, swap it in
    for vectors/ (plans/store.swap_dir), then rewrite centroids.json +
    stats.json. A crash before the swap leaves the old index intact;
    the orphan .retrain/.old dirs are inert (readers resolve only
    `vectors/`) and a re-run rewrites them.

    Returns {n, n_centroids, train_mean_dist_before, train_mean_dist_after}.
    """
    vec_dir = os.path.join(index_dir, "vectors")
    old_centroids = read_json(os.path.join(index_dir, "centroids.json"))
    if n_centroids is None:
        n_centroids = len(old_centroids)
    dim = len(old_centroids[0])
    # honest "before": mean quantization error of the CURRENT inverted
    # file (train + appended batches against the old centroids) — the
    # stored centroid_dist column makes this a narrow 1-column scan.
    # stats.json's train_mean_dist would understate it: appended drifted
    # batches are exactly what it excludes.
    vectors = read_table(spark, vec_dir)
    before = _mean_dist(_dist_sums(vectors))

    merged = vectors.select("id", "v")
    centroids = ivf_train_centroids(
        merged, n_centroids, dim, iters=iters,
        id_col="id", vec_col="v", seeding=seeding,
    )
    stage = os.path.join(index_dir, "vectors.retrain")
    n = write_table(
        _ivf_assign_with_dist(merged, centroids), stage, partition_by=("cluster",)
    )
    swap_dir(stage, vec_dir)
    write_json(os.path.join(index_dir, "centroids.json"), centroids)
    stats = _write_ivf_stats(spark, index_dir, vec_dir)
    return {
        "n": n,
        "n_centroids": n_centroids,
        "train_mean_dist_before": before,
        "train_mean_dist_after": stats["train_mean_dist"],
    }


def append_ivf_index(
    index_dir: str,
    new_embeddings,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float = 1.5,
) -> dict:
    """Incrementally add vectors to a persisted IVF inverted file:
    assign the NEW batch against the SAVED centroids (no retraining, no
    touch of existing data) and parquet-append into the
    cluster-partitioned layout — per-batch cost is O(batch), and
    queries keep pruning whole cluster directories. Caller contract:
    ids are new (same as the postings append path).

    Centroids DRIFT as the corpus grows, so every append measures it:
    the batch's mean nearest-centroid distance is compared against the
    TRAIN-TIME mean OF THE SAME CLUSTERS (per-cluster baselines from
    stats.json, weighted by where the batch actually lands — comparing
    against the global train mean would flag any batch that happens to
    land in a coarsely-covered region, and miss drift into a
    finely-covered one). drift_ratio = Σ n_c·(batch_mean_c /
    train_mean_c) / Σ n_c over batch clusters with a train baseline;
    clusters that were EMPTY at train time fall back to the global train
    mean as baseline. Returns {batch_n, batch_mean_dist,
    train_mean_dist, drift_ratio, retrain_recommended}: a
    shifted-distribution batch quantizes worse than the training data
    in its landing clusters, drift_ratio rises above drift_threshold
    and the flag tells the caller to retrain + rebalance (a fresh
    persist_ivf_index over the union — this layout makes it a straight
    rewrite; recall impact is observable via the ann_recall machinery
    before AND after). The batch is cached around the write so the
    per-cluster stats agg is a second action over O(batch) cached rows,
    never a second pass over the source."""
    centroids = read_json(os.path.join(index_dir, "centroids.json"))
    assigned = _ivf_assign_with_dist(_vectors(new_embeddings, id_col, vec_col), centroids).persist()
    try:
        write_table(
            assigned, os.path.join(index_dir, "vectors"), partition_by=("cluster",), mode="append"
        )
        per_cluster = _dist_sums(assigned, "cluster")
    finally:
        assigned.unpersist()
    train_mean = None
    ratio = None
    stats = read_json(os.path.join(index_dir, "stats.json"), None)
    if stats is not None:
        train_mean = stats.get("train_mean_dist")
        per_train = stats.get("cluster_mean_dist", {})
        num = den = 0.0
        for r in per_cluster:
            base = per_train.get(str(int(r["cluster"]))) or train_mean
            if base:
                num += int(r["n"]) * (_mean_dist([r]) / base)
                den += int(r["n"])
        ratio = (num / den) if den else None
    return {
        "batch_n": sum(int(r["n"]) for r in per_cluster),
        "batch_mean_dist": _mean_dist(per_cluster),
        "train_mean_dist": train_mean,
        "drift_ratio": ratio,
        "retrain_recommended": bool(ratio is not None and ratio > drift_threshold),
    }


def append_srp_index(
    index_dir: str,
    new_embeddings,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Incrementally add vectors to a persisted SRP inverted file: the
    hyperplanes are a pure function of (dim, bits) from meta.json, so
    appended vectors land in exactly the buckets a full rebuild would
    give them — unlike IVF there is no drift; the appended index is
    IDENTICAL to a from-scratch persist over the union (test-pinned)."""
    meta = read_json(os.path.join(index_dir, "meta.json"))
    write_table(
        _srp_vectors(new_embeddings, meta["dim"], meta["bits"], id_col, vec_col),
        os.path.join(index_dir, "vectors"),
        partition_by=("bucket",),
        mode="append",
    )


def ivf_topk_persisted(spark, index_dir: str, query_vec, k: int, nprobe: int = 4):
    """IVF-flat top-k over a persisted inverted file: load centroids,
    pick nprobe lists driver-side, scan ONLY those cluster directories
    (partition pruning — verify with .explain: PartitionFilters
    [cluster IN (...)]), exact cosine inside. Only the probed
    directories are listed, with the recorded schema: constructing the
    query runs no Spark job."""
    from pyspark.sql import functions as F

    centroids = read_json(os.path.join(index_dir, "centroids.json"))
    probes = _nearest_centroids(query_vec, centroids, nprobe)
    vec = read_table(
        spark, os.path.join(index_dir, "vectors"), parts=[("cluster", p) for p in probes]
    ).filter(F.col("cluster").isin(probes))
    return _ranked(vec.select("id", _cosine_expr(query_vec).alias("cosine")), k)


def query_bucket(query_vec, dim: int, bits: int = SRP_BITS) -> int:
    """The query vector's SRP bucket (driver-side, same hyperplanes)."""
    planes = srp_hyperplanes(dim, bits)
    qbucket = 0
    for j, plane in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, plane)) > 0:
            qbucket |= 1 << j
    return qbucket


def srp_lsh_topk(
    embeddings,
    query_vec,
    k: int,
    dim: int,
    bits: int = SRP_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_hamming: int = 0,
    allowed=None,
):
    """Approximate top-k: score only vectors whose SRP bucket is within
    `probe_hamming` bit-flips of the query's bucket — standard
    multi-probe LSH. probe_hamming=0 probes the single exact bucket;
    raise it when the bucket may hold < k vectors (each +1 multiplies
    candidate buckets by ~bits choose r, trading recall for work — the
    exactness contract stays with cosine_topk).

    PRUNE BEFORE SCORE: bucket + filter + cosine are all expressions
    over the same row, so the plan is one narrow projection — the
    bucket filter runs first and the dim-d cosine (the expensive part)
    is evaluated ONLY on candidates. No join, no shuffle until the
    top-k heap. (An earlier version joined candidate ids onto a
    full-corpus cosine_scores projection, which computed cosine for
    EVERY vector and threw the LSH saving away.) For scan-time pruning
    on top, use persist_srp_index + srp_lsh_topk_persisted.
    """
    from pyspark.sql import functions as F

    qbucket = query_bucket(query_vec, dim, bits)
    planes = srp_hyperplanes(dim, bits)
    v = _vectors(_apply_allowed(embeddings, allowed, id_col), id_col, vec_col)
    cand = v.filter(
        F.bit_count(
            _srp_bucket_udf(planes)(F.col("v")).bitwiseXOR(F.lit(qbucket))
        ) <= probe_hamming
    )
    return _ranked(cand.select("id", _cosine_expr(query_vec).alias("cosine")), k)


def probe_buckets(qbucket: int, bits: int, probe_hamming: int) -> list[int]:
    """All bucket ids within Hamming distance `probe_hamming` of the
    query bucket (driver-side enumeration — C(bits, ≤r) values)."""
    from itertools import combinations

    out = [qbucket]
    for r in range(1, probe_hamming + 1):
        for flips in combinations(range(bits), r):
            b = qbucket
            for j in flips:
                b ^= 1 << j
            out.append(b)
    return sorted(out)


def persist_srp_index(
    embeddings,
    dim: int,
    index_dir: str,
    bits: int = SRP_BITS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Write the SRP-LSH inverted file to parquet PARTITIONED BY bucket
    (plus a meta.json carrying dim/bits, written first: committed
    vectors always have their meta): a probe then prunes whole bucket
    directories at scan time (PartitionFilters in the FileScan — same
    layout trick as the IVF inverted file and the WAND term_bucket
    directories). Without this, every query re-derives buckets and
    scans the full embedding table."""
    write_json(os.path.join(index_dir, "meta.json"), {"dim": dim, "bits": bits})
    write_table(
        _srp_vectors(embeddings, dim, bits, id_col, vec_col),
        os.path.join(index_dir, "vectors"),
        partition_by=("bucket",),
    )


def _srp_vectors(embeddings, dim: int, bits: int, id_col: str, vec_col: str):
    """(id, v, bucket) rows of the persisted SRP inverted file; bucket
    is an int, the type its directory name reads back as."""
    from pyspark.sql import functions as F

    bucket = _srp_bucket_udf(srp_hyperplanes(dim, bits))(F.col("v")).cast("int")
    return _vectors(embeddings, id_col, vec_col).withColumn("bucket", bucket)


def srp_lsh_topk_persisted(
    spark, index_dir: str, query_vec, k: int, probe_hamming: int = 0
):
    """SRP-LSH top-k over a persisted bucket-partitioned inverted file:
    derive the probe bucket list driver-side (no Spark job), scan ONLY
    those bucket directories (partition pruning — verify with .explain:
    PartitionFilters [bucket IN (...)]), exact cosine inside. Only the
    probed directories are listed, with the recorded schema:
    constructing the query runs no Spark job."""
    from pyspark.sql import functions as F

    meta = read_json(os.path.join(index_dir, "meta.json"))
    qbucket = query_bucket(query_vec, meta["dim"], meta["bits"])
    probes = probe_buckets(qbucket, meta["bits"], probe_hamming)
    vec = read_table(
        spark, os.path.join(index_dir, "vectors"), parts=[("bucket", b) for b in probes]
    ).filter(F.col("bucket").isin(probes))
    return _ranked(vec.select("id", _cosine_expr(query_vec).alias("cosine")), k)
