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
"""

from __future__ import annotations

from ..functions.hashing import h32_col

SRP_BITS = 8


def _as_double(col):
    from pyspark.sql import functions as F

    return F.transform(col, lambda x: x.cast("double"))


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
    from pyspark.sql import functions as F

    v = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
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
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    s = cosine_scores(_apply_allowed(embeddings, allowed, id_col), query_vec, id_col, vec_col)
    if exclude_id is not None:
        s = s.filter(F.col("id") != exclude_id)
    top = s.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "id", "cosine")


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


def _srp_bucket_expr(planes):
    """Column expr: SRP bucket of F.col("v") — bit j = 1 iff
    dot(v, plane_j) > 0. Pure built-in expressions (interpreted fold) —
    kept as the reference twin of _srp_bucket_udf; an unrolled codegen
    chain was tried and overflows janino's 64 KB method limit at
    8 planes × 64 dims (codegen falls back to interpreted anyway)."""
    from pyspark.sql import functions as F

    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        pcol = F.array(*[F.lit(x) for x in plane])
        bit = F.when(_dot(F.col("v"), pcol) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit.cast("long")
    return bucket


def _srp_bucket_udf(planes):
    """Arrow-batched numpy twin of _srp_bucket_expr: one (batch, bits,
    dim) broadcast multiply + np.add.accumulate along dim. ufunc
    accumulate is STRICTLY sequential left-to-right, i.e. the exact
    float addition order of the Catalyst fold (the fold's extra leading
    `0.0 +` can only flip the sign of a zero dot, which `> 0` cannot
    see) — bit-identical buckets, asserted in tests. Null/short/long
    vectors bucket to 0 exactly like the null-padding zip_with fold."""
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
    v = embeddings.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
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

    v0 = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    if seeding == "hash":
        seed_rows = (
            v0.withColumn(
                "_hk",
                h32_col(F.concat(F.lit("ivfseed:"), F.col("id").cast("string"))),
            )
            .orderBy("_hk", "id")
            .limit(n_centroids)
            .collect()
        )
    elif seeding == "lowest_id":
        seed_rows = v0.orderBy("id").limit(n_centroids).collect()
    else:
        raise ValueError(f"unknown seeding: {seeding!r}")
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]
    v = embeddings.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
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

    dists = F.array(
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
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_assignments(embeddings, centroids, id_col: str = "vec_id", vec_col: str = "embedding"):
    """(id, cluster): inverted-file assignment of every vector."""
    from pyspark.sql import functions as F

    v = embeddings.select(F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"))
    return v.select("id", _ivf_assign_expr(centroids).alias("cluster"))


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
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    q = [float(x) for x in query_vec]
    dists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    )
    probes = [i for _, i in dists[:nprobe]]
    v = _apply_allowed(embeddings, allowed, id_col).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    cand = v.filter(_ivf_assign_expr(centroids).isin(probes))
    s = cand.select("id", _cosine_expr(q).alias("cosine"))
    top = s.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "id", "cosine")


def _ivf_assign_with_dist(v_df, centroids):
    """(id, v, cluster, _d): nearest-centroid assignment PLUS the L2
    distance to it, sharing one `_dists` array so assignment and
    distance are a single evaluation of the centroid expressions."""
    from pyspark.sql import functions as F

    dists = F.array(
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
    return (
        v_df.withColumn("_dists", dists)
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
    import json
    import os

    from pyspark.sql import functions as F

    v = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    assigned = _ivf_assign_with_dist(v, centroids)
    vec_dir = os.path.join(index_dir, "vectors")
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(vec_dir)
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(centroids, f)
    _write_ivf_stats(embeddings.sparkSession, index_dir, vec_dir)


def _write_ivf_stats(spark, index_dir: str, vec_dir: str) -> dict:
    """Derive stats.json (global + per-cluster train-time mean
    quantization error) from a narrow 2-column scan of the written
    inverted file; shared by persist and retrain."""
    import json
    import os

    from pyspark.sql import functions as F

    per_cluster = (
        spark.read.parquet(vec_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"), F.avg("centroid_dist").alias("mean_dist"))
        .collect()
    )
    n_train = sum(int(r["n"]) for r in per_cluster)
    total = sum(int(r["n"]) * float(r["mean_dist"] or 0.0) for r in per_cluster)
    stats = {
        "n_train": n_train,
        "train_mean_dist": (total / n_train) if n_train else 0.0,
        "cluster_mean_dist": {
            str(int(r["cluster"])): float(r["mean_dist"] or 0.0)
            for r in per_cluster
        },
    }
    with open(os.path.join(index_dir, "stats.json"), "w") as f:
        json.dump(stats, f)
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

    Swap protocol (single-writer, same as the postings checkpoint
    story): write vectors.retrain → rename vectors → vectors.old →
    rename vectors.retrain → vectors → rewrite centroids.json +
    stats.json → delete vectors.old. A crash before the first rename
    leaves the old index intact; between the renames the orphan
    .retrain/.old dirs are inert (readers resolve only `vectors/`) and
    a re-run rewrites them.

    Returns {n, n_centroids, train_mean_dist_before, train_mean_dist_after}.
    """
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    vec_dir = os.path.join(index_dir, "vectors")
    with open(os.path.join(index_dir, "centroids.json")) as f:
        old_centroids = json.load(f)
    if n_centroids is None:
        n_centroids = len(old_centroids)
    dim = len(old_centroids[0])
    # honest "before": mean quantization error of the CURRENT inverted
    # file (train + appended batches against the old centroids) — the
    # stored centroid_dist column makes this a narrow 1-column scan.
    # stats.json's train_mean_dist would understate it: appended drifted
    # batches are exactly what it excludes.
    before = float(
        spark.read.parquet(vec_dir).agg(F.avg("centroid_dist")).first()[0] or 0.0
    )

    merged = spark.read.parquet(vec_dir).select("id", "v")
    centroids = ivf_train_centroids(
        merged, n_centroids, dim, iters=iters,
        id_col="id", vec_col="v", seeding=seeding,
    )
    tmp_dir = os.path.join(index_dir, "vectors.retrain")
    old_dir = os.path.join(index_dir, "vectors.old")
    shutil.rmtree(tmp_dir, ignore_errors=True)
    shutil.rmtree(old_dir, ignore_errors=True)
    assigned = _ivf_assign_with_dist(merged, centroids)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(tmp_dir)
    n = spark.read.parquet(tmp_dir).count()
    os.rename(vec_dir, old_dir)
    os.rename(tmp_dir, vec_dir)
    with open(os.path.join(index_dir, "centroids.json"), "w") as f:
        json.dump(centroids, f)
    stats = _write_ivf_stats(spark, index_dir, vec_dir)
    shutil.rmtree(old_dir, ignore_errors=True)
    return {
        "n": int(n),
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
    import json
    import os

    from pyspark.sql import functions as F

    with open(os.path.join(index_dir, "centroids.json")) as f:
        centroids = json.load(f)
    v = new_embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    assigned = _ivf_assign_with_dist(v, centroids).persist()
    try:
        assigned.write.mode("append").partitionBy("cluster").parquet(
            os.path.join(index_dir, "vectors")
        )
        per_cluster = (
            assigned.groupBy("cluster")
            .agg(F.count("*").alias("n"), F.avg("centroid_dist").alias("mean_dist"))
            .collect()
        )
    finally:
        assigned.unpersist()
    batch_n = sum(int(r["n"]) for r in per_cluster)
    batch_total = sum(int(r["n"]) * float(r["mean_dist"] or 0.0) for r in per_cluster)
    batch_mean = (batch_total / batch_n) if batch_n else 0.0
    train_mean = None
    ratio = None
    stats_path = os.path.join(index_dir, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            stats = json.load(f)
        train_mean = stats.get("train_mean_dist")
        per_train = stats.get("cluster_mean_dist", {})
        num = den = 0.0
        for r in per_cluster:
            base = per_train.get(str(int(r["cluster"]))) or train_mean
            if base:
                num += int(r["n"]) * (float(r["mean_dist"] or 0.0) / base)
                den += int(r["n"])
        ratio = (num / den) if den else None
    return {
        "batch_n": batch_n,
        "batch_mean_dist": batch_mean,
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
    import json
    import os

    from pyspark.sql import functions as F

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    planes = srp_hyperplanes(meta["dim"], meta["bits"])
    v = new_embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    withb = v.withColumn("bucket", _srp_bucket_udf(planes)(F.col("v")))
    withb.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(index_dir, "vectors")
    )


def ivf_topk_persisted(spark, index_dir: str, query_vec, k: int, nprobe: int = 4):
    """IVF-flat top-k over a persisted inverted file: load centroids,
    pick nprobe lists driver-side, scan ONLY those cluster directories
    (partition pruning — verify with .explain: PartitionFilters
    [cluster IN (...)]), exact cosine inside."""
    import json
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    with open(os.path.join(index_dir, "centroids.json")) as f:
        centroids = json.load(f)
    q = [float(x) for x in query_vec]
    dists = sorted(
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i)
        for i, c in enumerate(centroids)
    )
    probes = [i for _, i in dists[:nprobe]]
    vec = spark.read.parquet(os.path.join(index_dir, "vectors")).filter(
        F.col("cluster").isin(probes)
    )
    qcol = F.array(*[F.lit(x) for x in q])
    s = vec.select(
        "id",
        (_dot(F.col("v"), qcol) / (_norm(F.col("v")) * _norm(qcol))).alias("cosine"),
    )
    top = s.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "id", "cosine")


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
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    qbucket = query_bucket(query_vec, dim, bits)
    planes = srp_hyperplanes(dim, bits)
    v = _apply_allowed(embeddings, allowed, id_col).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    cand = v.filter(
        F.bit_count(
            _srp_bucket_udf(planes)(F.col("v")).bitwiseXOR(F.lit(qbucket))
        ) <= probe_hamming
    )
    s = cand.select("id", _cosine_expr(query_vec).alias("cosine"))
    top = s.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "id", "cosine")


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
    (plus a meta.json carrying dim/bits): a probe then prunes whole
    bucket directories at scan time (PartitionFilters in the FileScan —
    same layout trick as the IVF inverted file and the WAND term_bucket
    directories). Without this, every query re-derives buckets and
    scans the full embedding table."""
    import json
    import os

    from pyspark.sql import functions as F

    planes = srp_hyperplanes(dim, bits)
    v = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    withb = v.withColumn("bucket", _srp_bucket_udf(planes)(F.col("v")))
    withb.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "vectors")
    )
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump({"dim": dim, "bits": bits}, f)


def srp_lsh_topk_persisted(
    spark, index_dir: str, query_vec, k: int, probe_hamming: int = 0
):
    """SRP-LSH top-k over a persisted bucket-partitioned inverted file:
    derive the probe bucket list driver-side (no Spark job), scan ONLY
    those bucket directories (partition pruning — verify with .explain:
    PartitionFilters [bucket IN (...)]), exact cosine inside."""
    import json
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    qbucket = query_bucket(query_vec, meta["dim"], meta["bits"])
    probes = probe_buckets(qbucket, meta["bits"], probe_hamming)
    vec = spark.read.parquet(os.path.join(index_dir, "vectors")).filter(
        F.col("bucket").isin(probes)
    )
    s = vec.select("id", _cosine_expr(query_vec).alias("cosine"))
    top = s.orderBy(F.desc("cosine"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "id", "cosine")
