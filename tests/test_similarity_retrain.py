"""IVF retrain-and-swap (r05, VERDICT #6): the operation the
append-time drift flag asks for. Geometry is engineered so drift
GENUINELY degrades recall before the retrain:

  * base corpus = 4 tight clusters at (±2, ±2, 0…) → trained Voronoi
    boundaries pass through p1 = 0;
  * the drifted batch is TWO sub-clouds at p0 ≈ 50, p1 = ±10 — on
    opposite sides of that boundary, so the old quantizer splits them
    across two base clusters (16/16, asserted);
  * the query sits between the sub-clouds ([50, 0, …]); by cosine both
    sub-clouds contain true neighbors, but nprobe=1 probes a single old
    cluster and can only see one sub-cloud → recall@6 ≤ ~½ pre-retrain.

retrain_ivf_index retrains on the merged set read back from the
inverted file itself, atomically swaps the rewritten cluster layout in
place, and must: restore recall@6 to 1.0 at the same nprobe=1, keep
every id, reduce the measured quantization error, leave no orphan swap
dirs, and reset the drift baseline so the same shifted distribution no
longer trips the flag."""

from __future__ import annotations

import math
import os
from collections import Counter

from local_search_engine_spark.operators import similarity as SIM

from .oracle import nearest_centroid


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _base(spark):
    rows = []
    for i in range(64):
        cx = [(2, 2), (2, -2), (-2, 2), (-2, -2)][i % 4]
        rows.append(
            (
                i,
                [cx[0] + 0.3 * math.sin(i * 0.9), cx[1] + 0.3 * math.cos(i * 1.1)]
                + [0.3 * math.sin(i * 0.7 + d) for d in range(6)],
            )
        )
    return _mk(spark, rows)


def _shifted(spark, ids):
    rows = []
    for j, i in enumerate(ids):
        s = 10.0 if j % 2 == 0 else -10.0
        rows.append(
            (
                i,
                [50 + 0.1 * math.sin(i * 0.8), s]
                + [0.1 * math.sin(i * 0.8 + d) for d in range(6)],
            )
        )
    return _mk(spark, rows)


def test_ivf_retrain_and_swap_restores_recall(spark, tmp_path):
    base = _base(spark)
    shifted = _shifted(spark, range(100, 132))
    cents = SIM.ivf_train_centroids(base, 4, 8, iters=2)
    idx = str(tmp_path / "ivf")
    SIM.persist_ivf_index(base, cents, idx)

    m = SIM.append_ivf_index(idx, shifted)
    assert m["retrain_recommended"] and m["drift_ratio"] > 10, m
    # the drifted batch straddles two OLD clusters — the recall failure mode
    split = Counter(nearest_centroid(r["embedding"], cents) for r in shifted.collect())
    assert len(split) == 2 and all(v == 16 for v in split.values()), split

    qv = [50.0] + [0.0] * 7
    union = base.unionByName(shifted)
    exact = {r["id"] for r in SIM.cosine_topk(union, qv, 6).collect()}
    pre = {r["id"] for r in SIM.ivf_topk_persisted(spark, idx, qv, 6, nprobe=1).collect()}
    recall_pre = len(pre & exact) / 6
    assert recall_pre < 1.0, (sorted(pre), sorted(exact))

    info = SIM.retrain_ivf_index(spark, idx, iters=2)
    assert info["n"] == 96 and info["n_centroids"] == 4
    # quantization error improves: the shifted region gets own coverage
    assert info["train_mean_dist_after"] < info["train_mean_dist_before"], info

    post = {r["id"] for r in SIM.ivf_topk_persisted(spark, idx, qv, 6, nprobe=1).collect()}
    recall_post = len(post & exact) / 6
    assert recall_post == 1.0 and recall_post > recall_pre, (recall_pre, recall_post)

    # no vector lost in the swap; ids identical to pre-retrain
    got_ids = {
        r["id"]
        for r in spark.read.parquet(os.path.join(idx, "vectors")).select("id").collect()
    }
    assert got_ids == set(range(64)) | set(range(100, 132))
    # swap is complete: no orphan retrain/old dirs
    assert not os.path.exists(os.path.join(idx, "vectors.retrain"))
    assert not os.path.exists(os.path.join(idx, "vectors.old"))

    # drift baseline reset: the same shifted distribution no longer trips
    m2 = SIM.append_ivf_index(idx, _shifted(spark, range(300, 332)))
    assert not m2["retrain_recommended"], m2


def test_retrain_with_an_unchanged_quantizer_keeps_the_mean_distance(spark, tmp_path):
    """Persist, then retrain on the same set: the quantizer comes out
    unchanged, so the mean quantization error after the retrain equals
    the one before bit for bit. Both are one exact decimal sum and a
    count, divided on the driver; a mean of per-cluster means against
    Spark's avg was 1 ulp off for some of these sizes."""
    from local_search_engine_spark.plans.store import read_json

    from .test_similarity import _emb

    emb = _emb(spark)
    for n_centroids in (8, 10, 16):
        cents = SIM.ivf_train_centroids(emb, n_centroids, 64, iters=1)
        idx = str(tmp_path / f"ivf{n_centroids}")
        SIM.persist_ivf_index(emb, cents, idx)
        info = SIM.retrain_ivf_index(spark, idx, iters=1)
        assert read_json(os.path.join(idx, "centroids.json")) == cents
        assert info["train_mean_dist_after"] == info["train_mean_dist_before"], info
        stats = read_json(os.path.join(idx, "stats.json"))
        assert stats["train_mean_dist"] == info["train_mean_dist_before"]
