"""Build / append / query a persisted ANN index over an embedding table.

Local sandbox:
  python scripts/ann_index.py build  --embeddings /root/testdata/sf0.01/embeddings.parquet \
      --index /tmp/ann_idx --kind srp --bits 8
  python scripts/ann_index.py build  --embeddings ... --index ... --kind ivf --centroids 64
  python scripts/ann_index.py append --embeddings new_batch.parquet --index /tmp/ann_idx
  python scripts/ann_index.py query  --index /tmp/ann_idx --query-vec-id 0 \
      --embeddings ... --k 10 --probe 1

Real cluster: the same commands via spark-submit --py-files engine.zip;
the index directory is any parquet-capable URI (s3://... etc). `append`
and `query` auto-detect the index kind from the persisted metadata
(meta.json = SRP, centroids.json = IVF).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_search_engine_spark.operators import similarity as SIM
from local_search_engine_spark.plans.store import rows
from local_search_engine_spark.session import get_spark


def _kind(index_dir: str) -> str:
    if os.path.exists(os.path.join(index_dir, "meta.json")):
        return "srp"
    if os.path.exists(os.path.join(index_dir, "centroids.json")):
        return "ivf"
    raise SystemExit(f"no SRP meta.json or IVF centroids.json under {index_dir}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["build", "append", "query", "retrain"])
    ap.add_argument("--embeddings", help="parquet with (vec_id, embedding)")
    ap.add_argument("--index", required=True)
    ap.add_argument("--kind", choices=["srp", "ivf"], default="srp")
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--bits", type=int, default=8, help="SRP hyperplanes")
    ap.add_argument("--centroids", type=int, default=None,
                    help="IVF lists (build default 16; retrain default keeps current)")
    ap.add_argument("--iters", type=int, default=1, help="Lloyd rounds")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--probe", type=int, default=1, help="SRP Hamming radius / IVF nprobe")
    ap.add_argument("--query-vec-id", type=int, default=0)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark(f"ann-index-{args.cmd}", cores=args.cores)
    t0 = time.time()

    if args.cmd == "build":
        emb = spark.read.parquet(args.embeddings)
        if args.kind == "srp":
            SIM.persist_srp_index(emb, args.dim, args.index, bits=args.bits)
        else:
            cents = [
                [round(x, 6) for x in c]
                for c in SIM.ivf_train_centroids(
                    emb, args.centroids or 16, args.dim, iters=args.iters
                )
            ]
            SIM.persist_ivf_index(emb, cents, args.index)
        n = rows(os.path.join(args.index, "vectors"))
        print(json.dumps({"cmd": "build", "kind": args.kind, "vectors": n,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "append":
        emb = spark.read.parquet(args.embeddings)
        kind = _kind(args.index)
        drift = None
        if kind == "srp":
            SIM.append_srp_index(args.index, emb)
        else:
            m = SIM.append_ivf_index(args.index, emb)
            drift = {
                "drift_ratio": m["drift_ratio"],
                "retrain_recommended": m["retrain_recommended"],
            }
        n = rows(os.path.join(args.index, "vectors"))
        print(json.dumps({"cmd": "append", "kind": kind, "vectors": n,
                          "drift": drift,
                          "wall_sec": round(time.time() - t0, 2)}))
    elif args.cmd == "retrain":
        kind = _kind(args.index)
        if kind != "ivf":
            raise SystemExit(
                "retrain applies to IVF indexes only (SRP buckets are a pure "
                "function of (dim, bits) — appends never drift)"
            )
        info = SIM.retrain_ivf_index(
            spark, args.index, n_centroids=args.centroids, iters=args.iters
        )
        print(json.dumps({"cmd": "retrain", "kind": kind, **info,
                          "wall_sec": round(time.time() - t0, 2)}))
    else:
        kind = _kind(args.index)
        q_row = (
            spark.read.parquet(args.embeddings)
            .filter(f"vec_id = {args.query_vec_id}")
            .first()
        )
        q = [float(x) for x in q_row["embedding"]]
        if kind == "srp":
            out = SIM.srp_lsh_topk_persisted(
                spark, args.index, q, args.k, probe_hamming=args.probe
            )
        else:
            out = SIM.ivf_topk_persisted(
                spark, args.index, q, args.k, nprobe=args.probe
            )
        rows = [
            {"rank": r["rank"], "id": r["id"], "cosine": round(r["cosine"], 6)}
            for r in out.collect()
        ]
        print(json.dumps({"cmd": "query", "kind": kind, "k": args.k,
                          "probe": args.probe, "results": rows,
                          "wall_sec": round(time.time() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
