"""ANN operators: multi-probe recall dominance and IVF-flat structure."""

from __future__ import annotations

from local_search_engine_spark.operators import similarity as SIM

SF0001 = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF0001}/embeddings.parquet")


def _qvec(spark, vid=0):
    row = _emb(spark).filter(f"vec_id = {vid}").first()
    return [float(x) for x in row["embedding"]]


def test_multiprobe_dominates_single_bucket(spark):
    """probe_hamming=1 candidates are a superset of probe_hamming=0, so
    top-k cosine at r=1 is pointwise >= the r=0 top-k."""
    emb = _emb(spark).cache()
    q = _qvec(spark)
    k = 10
    r0 = SIM.srp_lsh_topk(emb, q, k, dim=64, bits=4, probe_hamming=0).collect()
    r1 = SIM.srp_lsh_topk(emb, q, k, dim=64, bits=4, probe_hamming=1).collect()
    emb.unpersist()
    assert len(r1) >= len(r0)
    for a, b in zip(r1, r0):
        assert a["cosine"] >= b["cosine"] - 1e-12


def test_ivf_topk_structure_and_recall(spark):
    """IVF candidates come only from probed clusters; probing ALL
    clusters reproduces the exact brute-force top-k; nprobe=4/16 keeps
    reasonable recall on the fixture."""
    emb = _emb(spark).cache()
    q = _qvec(spark)
    k = 10
    cents = SIM.ivf_train_centroids(emb, 16, 64, iters=1)
    exact = [r["id"] for r in SIM.cosine_topk(emb, q, k, exclude_id=0).collect()]
    allprobe = [
        r["id"]
        for r in SIM.ivf_topk(
            emb.filter("vec_id <> 0"), q, k, cents, nprobe=16
        ).collect()
    ]
    assert allprobe == exact  # nprobe = n_centroids degenerates to exact
    approx = [
        r["id"]
        for r in SIM.ivf_topk(
            emb.filter("vec_id <> 0"), q, k, cents, nprobe=4
        ).collect()
    ]
    from .oracle import nearest_centroid

    assigns = {
        r["vec_id"]: nearest_centroid(r["embedding"], cents)
        for r in emb.select("vec_id", "embedding").collect()
    }
    # structure: every returned candidate sits in one of the 4 probed lists
    qd = sorted(
        (sum((a - b) * (a - b) for a, b in zip(q, c)), i)
        for i, c in enumerate(cents)
    )
    probed = {i for _, i in qd[:4]}
    assert all(assigns[i] in probed for i in approx)
    recall = len(set(approx) & set(exact)) / k
    assert recall >= 0.5, f"recall@10 collapsed: {recall}"
    emb.unpersist()


def test_ivf_persisted_prunes_partitions(spark, tmp_path):
    """The persisted inverted file is cluster-partitioned: a probe scan
    carries PartitionFilters (whole directories pruned), and results
    match the in-memory ivf_topk."""
    emb = _emb(spark).cache()
    q = _qvec(spark)
    cents = [[round(x, 6) for x in c] for c in SIM.ivf_train_centroids(emb, 16, 64, iters=1)]
    idx_dir = str(tmp_path / "ivf")
    SIM.persist_ivf_index(emb.filter("vec_id <> 0"), cents, idx_dir)
    out = SIM.ivf_topk_persisted(spark, idx_dir, q, 10, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan
    mem = SIM.ivf_topk(emb.filter("vec_id <> 0"), q, 10, cents, nprobe=4)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in mem.collect()]
    emb.unpersist()


def test_ann_probe_paths_prune_before_score(spark):
    """srp_lsh_topk and ivf_topk plan as ONE narrow projection — bucket/
    cluster filter below the cosine projection, NO join anywhere: the
    expensive cosine is evaluated only on candidate survivors. (The old
    shape joined candidate ids onto a full-corpus cosine projection,
    computing cosine for every vector.)"""
    emb = _emb(spark)
    q = _qvec(spark)
    p1 = (
        SIM.srp_lsh_topk(emb, q, 10, dim=64, bits=4, probe_hamming=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in p1, p1
    cents = [[0.0] * 64, [1.0] * 64]
    p2 = (
        SIM.ivf_topk(emb, q, 10, cents, nprobe=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in p2, p2


def test_probe_buckets_enumeration():
    got = SIM.probe_buckets(0b1010, bits=4, probe_hamming=1)
    assert got == sorted([0b1010, 0b1011, 0b1000, 0b1110, 0b0010])
    assert SIM.probe_buckets(5, bits=4, probe_hamming=0) == [5]
    assert len(SIM.probe_buckets(0, bits=8, probe_hamming=2)) == 1 + 8 + 28


def test_srp_persisted_prunes_partitions_and_roundtrips(spark, tmp_path):
    """The persisted SRP inverted file is bucket-partitioned: a probe
    scan carries PartitionFilters (whole bucket directories pruned), and
    results match the in-memory srp_lsh_topk at the same probe radius."""
    emb = _emb(spark).cache()
    q = _qvec(spark)
    idx_dir = str(tmp_path / "srp")
    SIM.persist_srp_index(emb.filter("vec_id <> 0"), 64, idx_dir, bits=4)
    for r in (0, 1):
        out = SIM.srp_lsh_topk_persisted(spark, idx_dir, q, 10, probe_hamming=r)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "bucket" in plan, plan
        mem = SIM.srp_lsh_topk(
            emb.filter("vec_id <> 0"), q, 10, dim=64, bits=4, probe_hamming=r
        )
        assert [tuple(x) for x in out.collect()] == [tuple(x) for x in mem.collect()]
    emb.unpersist()


def test_ivf_hash_seeding_spreads_and_keeps_recall(spark):
    """Hash-salted seeding is deterministic and its MEAN recall@10 over
    a spread of fixture queries is at least as good as lowest-id seeding
    (which degenerates when low ids cluster; per-query recall is far too
    noisy on a 500-vector fixture to compare seedings — measured 0.5 vs
    0.9 on one query and 0.625 vs 0.575 on the 8-query mean)."""
    from pyspark.sql import functions as F

    emb = _emb(spark).cache()
    k = 10
    qids = [0, 7, 23, 55, 101, 202, 303, 404]
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }

    def mean_recall(seeding):
        cents = SIM.ivf_train_centroids(emb, 16, 64, iters=1, seeding=seeding)
        total = 0.0
        for qid in qids:
            q = vecs[qid]
            exact = {
                r["id"] for r in SIM.cosine_topk(emb, q, k, exclude_id=qid).collect()
            }
            got = {
                r["id"]
                for r in SIM.ivf_topk(
                    emb.filter(f"vec_id <> {qid}"), q, k, cents, nprobe=4
                ).collect()
            }
            total += len(got & exact) / k
        return total / len(qids)

    r_hash, r_low = mean_recall("hash"), mean_recall("lowest_id")
    assert r_hash >= r_low - 1e-9, (r_hash, r_low)
    again = SIM.ivf_train_centroids(emb, 16, 64, iters=1, seeding="hash")
    assert again == SIM.ivf_train_centroids(emb, 16, 64, iters=1, seeding="hash")
    emb.unpersist()


def test_persisted_ann_incremental_append(spark, tmp_path):
    """Appending a batch of new vectors to a persisted SRP/IVF index
    gives query results identical to persisting the full set at once —
    SRP bucketing and IVF assignment are pure functions of the saved
    meta/centroids, so the appended layout is a strict superset write
    with no global invalidation (the ANN mirror of the idf-free
    postings append)."""
    emb = _emb(spark).cache()
    q = _qvec(spark)
    base = emb.filter("vec_id <> 0 AND vec_id % 5 <> 3")
    extra = emb.filter("vec_id <> 0 AND vec_id % 5 = 3")

    srp_inc = str(tmp_path / "srp_inc")
    SIM.persist_srp_index(base, 64, srp_inc, bits=4)
    SIM.append_srp_index(srp_inc, extra)
    srp_full = str(tmp_path / "srp_full")
    SIM.persist_srp_index(emb.filter("vec_id <> 0"), 64, srp_full, bits=4)
    for r in (0, 1):
        a = SIM.srp_lsh_topk_persisted(spark, srp_inc, q, 10, probe_hamming=r)
        b = SIM.srp_lsh_topk_persisted(spark, srp_full, q, 10, probe_hamming=r)
        assert [tuple(x) for x in a.collect()] == [tuple(x) for x in b.collect()]

    cents = [
        [round(x, 6) for x in c] for c in SIM.ivf_train_centroids(emb, 16, 64)
    ]
    ivf_inc = str(tmp_path / "ivf_inc")
    SIM.persist_ivf_index(base, cents, ivf_inc)
    SIM.append_ivf_index(ivf_inc, extra)
    ivf_full = str(tmp_path / "ivf_full")
    SIM.persist_ivf_index(emb.filter("vec_id <> 0"), cents, ivf_full)
    for p in (2, 4):
        a = SIM.ivf_topk_persisted(spark, ivf_inc, q, 10, nprobe=p)
        b = SIM.ivf_topk_persisted(spark, ivf_full, q, 10, nprobe=p)
        assert [tuple(x) for x in a.collect()] == [tuple(x) for x in b.collect()]
    emb.unpersist()


def test_ivf_append_drift_flag(spark, tmp_path):
    """r04 (VERDICT #5): IVF drift observability. A shifted-distribution
    batch quantizes far worse against the saved centroids than the
    training data did — append_ivf_index measures it (one Observation on
    the write job) and trips retrain_recommended; a same-distribution
    batch does not. After the recommended retrain+rebalance (fresh
    centroids over the union), (a) the same shifted distribution no
    longer trips the flag, and (b) a shifted-region query at nprobe=1
    finds its true neighbors — the recall story post-retrain."""
    import math

    def mk(ids, shift=0.0):
        rows = [
            (i, [shift + math.sin(i * 0.7 + d) for d in range(8)]) for i in ids
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    base = mk(range(64))
    shifted = mk(range(100, 132), shift=50.0)
    cents = SIM.ivf_train_centroids(base, 4, 8, iters=2)
    idx = str(tmp_path / "ivf")
    SIM.persist_ivf_index(base, cents, idx)

    m = SIM.append_ivf_index(idx, shifted)
    assert m["batch_n"] == 32 and m["train_mean_dist"] > 0
    assert m["drift_ratio"] > 1.5 and m["retrain_recommended"], m

    m2 = SIM.append_ivf_index(idx, mk(range(200, 232)))
    assert not m2["retrain_recommended"], m2

    # retrain + rebalance: fresh centroids over everything seen so far
    union = base.unionByName(shifted).unionByName(mk(range(200, 232)))
    cents2 = SIM.ivf_train_centroids(union, 4, 8, iters=2)
    idx2 = str(tmp_path / "ivf2")
    SIM.persist_ivf_index(union, cents2, idx2)
    m3 = SIM.append_ivf_index(idx2, mk(range(300, 332), shift=50.0))
    assert not m3["retrain_recommended"], m3
    # a shifted-region query now has its own cluster: nprobe=1 returns
    # only true (shifted) neighbors
    qv = [50.0 + math.sin(101 * 0.7 + d) for d in range(8)]
    got = {r["id"] for r in SIM.ivf_topk_persisted(spark, idx2, qv, 5, nprobe=1).collect()}
    assert got and all(100 <= i < 132 or 300 <= i < 332 for i in got), got


def test_ivf_empty_cluster_keeps_seed(spark):
    """Training with more centroids than distinct vectors must not
    divide by zero — empty clusters keep their previous centroid."""
    rows = [(i, [float(i)] * 4) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = SIM.ivf_train_centroids(df, 3, 4, iters=2)
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)


def test_filtered_vector_search(spark):
    """allowed= pre-filter (ES knn + filter): the filtered exact top-k
    equals brute force over the allow-list only; approximate paths stay
    inside the allow-list and degenerate to the filtered exact result
    at max probes; a filter admitting m < k vectors yields exactly m
    rows (the pre-filter guarantee post-filtering cannot give)."""
    from pyspark.sql import functions as F

    emb = _emb(spark).cache()
    q = _qvec(spark)
    k = 10
    allowed = emb.filter("vec_id % 3 = 1").select(F.col("vec_id").alias("doc_id"))
    got = [
        (r["rank"], r["id"], r["cosine"])
        for r in SIM.cosine_topk(emb, q, k, allowed=allowed).collect()
    ]
    # brute force over the allow-list only
    want_pool = [
        (r["id"], r["cosine"])
        for r in SIM.cosine_scores(emb.filter("vec_id % 3 = 1"), q).collect()
    ]
    want_pool.sort(key=lambda x: (-x[1], x[0]))
    assert [(d, pytest_approx(c)) for _, d, c in got] == [
        (d, pytest_approx(c)) for d, c in want_pool[:k]
    ]
    assert all(d % 3 == 1 for _, d, _ in got)

    # IVF all-probe over the allow-list == filtered exact
    cents = SIM.ivf_train_centroids(emb, 16, 64, iters=1)
    ivf_all = [
        r["id"]
        for r in SIM.ivf_topk(emb, q, k, cents, nprobe=16, allowed=allowed).collect()
    ]
    assert ivf_all == [d for _, d, _ in got]
    # SRP stays inside the allow-list at any radius
    srp = SIM.srp_lsh_topk(
        emb, q, k, dim=64, bits=4, probe_hamming=1, allowed=allowed
    ).collect()
    assert srp and all(r["id"] % 3 == 1 for r in srp)

    # pre-filter guarantee: m=3 admitted -> exactly 3 rows, ranks 1..3
    tiny = spark.createDataFrame([(1,), (4,), (7,)], "doc_id long")
    got3 = SIM.cosine_topk(emb, q, k, allowed=tiny).collect()
    assert sorted(r["id"] for r in got3) == [1, 4, 7]
    assert [r["rank"] for r in got3] == [1, 2, 3] or sorted(
        r["rank"] for r in got3
    ) == [1, 2, 3]
    emb.unpersist()


def pytest_approx(x, nd=9):
    return round(float(x), nd)


def test_filtered_by_boolean_match_set(spark):
    """End-to-end cross-modal filter: a boolean text query's match set
    (doc_id space) restricts the vector search (vec_id space, same ids
    in the driver testdata) — every returned vector's doc satisfies the
    boolean query."""
    from local_search_engine_spark.operators import boolquery as bq
    from local_search_engine_spark.operators.build import build_index_from

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    idx = build_index_from(docs, text_col="text")
    allowed = bq.matches(idx, "fast AND NOT merge").select("doc_id")
    allowed_ids = {r["doc_id"] for r in allowed.collect()}
    assert allowed_ids  # non-vacuous fixture query
    emb = _emb(spark)
    q = _qvec(spark)
    got = SIM.cosine_topk(emb, q, 10, allowed=allowed).collect()
    assert got and {r["id"] for r in got} <= allowed_ids


def test_srp_bucket_kernel_matches_oracle(spark):
    """_srp_bucket_udf (the Arrow np.add.accumulate kernel behind every
    bucket call site) must match the sequential `s += x*p` fold oracle
    bit-for-bit, including null, too-short and too-long vectors (all
    bucket 0) and the all-zero (sign-of-zero) edge."""
    from pyspark.sql import functions as F

    from . import oracle

    emb = _emb(spark)
    planes = SIM.srp_hyperplanes(64, 8)
    v = emb.select(
        F.col("vec_id").alias("id"),
        SIM._as_double(F.col("embedding")).alias("v"),
    )
    hostile = spark.createDataFrame(
        [
            (-1, None),
            (-2, [0.5] * 3),          # too short
            (-3, [0.5] * 70),         # too long
            (-4, [0.0] * 64),         # all-zero dots (sign-of-zero edge)
        ],
        "id long, v array<double>",
    )
    rows = (
        v.unionByName(hostile)
        .select("id", "v", SIM._srp_bucket_udf(planes)(F.col("v")).alias("b"))
        .collect()
    )
    assert len({r["b"] for r in rows}) > 1  # the planes split the fixture
    for r in rows:
        assert r["b"] == oracle.srp_bucket(r["v"], planes), r["id"]
