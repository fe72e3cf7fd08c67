"""Code-search benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload interactive_search --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The engine runs in
this one process on local[nproc] with one client: every workload is a
closed loop that sends its next op only after the previous answer came
back. Every answer is checked after the timed loop.

Output: one `metric <name> <value> <unit>` line per metric (the
workload's own named metrics, see perfbench/README.md), then, as the
last line, {"correct", "attempted", "failed", "metrics"} where metrics
are the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A traced run also writes its spans to
.perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = ("latency_s", "setup_s", "peak_rss_mb", "index_bytes_per_corpus_byte")

# (name, unit) of every per-layer metric, reported by every traced run;
# each is measured on one of the two workloads and reads 0 on the other
# (the spark.tasks.failed, index.bytes.* and build_persisted_index
# metrics on both).
# The traced clean op has no job or task count: AQE submits 17 or 18 jobs
# for it in two runs with the same seed, and counts must repeat exactly.
_OPS = ("ranked", "bool", "phrase", "search_cli", "wand_set", "bm25_set", "phrase_set", "refresh")
LAYER_METRICS = (
    [(f"spark.jobs.{op}", "count") for op in _OPS]
    + [(f"spark.tasks.{op}", "count") for op in _OPS]
    + [("spark.tasks.failed", "count")]
    + [
        (f"{name}.{k}", "s" if k == "self_s" else "count")
        for name in (
            "operators.wand.query",
            "operators.boolquery.topk",
            "operators.positional.query",
            "plans.checkpoint.build_persisted_index",
            "operators.build.build_index_from",
            "operators.postings.build_postings",
        )
        for k in ("self_s", "jobs")
    ]
    + [(f"action.{op}.s", "s") for op in ("ranked", "bool", "phrase")]
    + [
        (f"{name}.self_s", "s")
        for name in (
            "plans.checkpoint.load_index",
            "operators.similarity.srp_lsh_topk_persisted",
            "operators.fusion.rrf_fuse",
            "operators.snippets.best_snippets",
            "scripts.code_search.cmd_search",
        )
    ]
    + [
        (f"{name}.{k}", "count" if k in ("jobs", "tasks") else "s")
        for name in (
            "operators.wand.query_set",
            "operators.query.run_query_set",
            "operators.positional.query_set",
        )
        for k in ("self_s", "jobs", "tasks", "action_s")
    ]
    + [("plans.checkpoint.groups_reencoded", "count")]
    + [
        (f"plans.checkpoint.unit.{u}.wall_s", "s")
        for u in ("docs", "tf", "idf", "shard_meta", "postings")
    ]
    + [(f"index.bytes.{p}", "B") for p in ("postings", "tf", "docs", "idf")]
    + [
        (f"{name}.s", "s")
        for name in (
            "operators.dedup.exact_dedup_keep",
            "operators.textstats.quality_scores",
            "operators.textstats.repetition_scores",
            "operators.dedup.minhash_lsh_pairs",
            "operators.dedup.simhash_pairs",
        )
    ]
    + [
        ("operators.pipeline.clean_corpus.action_s", "s"),
        ("operators.pipeline.composition_s", "s"),
    ]
    + [
        (f"operators.dedup.minhash_lsh_pairs.{k}", "count")
        for k in ("n_buckets", "dropped_buckets", "dropped_pairs_ub", "max_bucket_size_seen")
    ]
)


def _wrap_layers(tracer) -> None:
    """Span every public function the workloads reach, from outside."""
    import scripts.code_search as code_search
    from local_search_engine_spark.operators import (
        boolquery,
        build,
        dedup,
        fusion,
        positional,
        postings,
        query,
        similarity,
        snippets,
        wand,
    )
    from local_search_engine_spark.plans import checkpoint

    tracer.wrap_factory(wand, "make_wand_topk", "operators.wand", ("query_set",))
    tracer.wrap_factory(positional, "make_phrase_topk", "operators.positional", ("query_set", "near"))
    for module, attrs in (
        (boolquery, ("topk",)),
        (checkpoint, ("build_persisted_index", "load_index")),
        (build, ("build_index_from",)),
        (postings, ("build_postings",)),
        (similarity, ("srp_lsh_topk_persisted",)),
        (fusion, ("rrf_fuse",)),
        (snippets, ("best_snippets",)),
        (query, ("run_query_set",)),
        (code_search, ("cmd_search",)),
        (dedup, ("minhash_lsh_pairs", "simhash_pairs")),
    ):
        for attr in attrs:
            tracer.wrap(module, attr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="corpus size override (smoke test)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import local_search_engine_spark  # noqa: F401
        import scripts.code_search  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.harness import PeakRss, Tracer, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # every scratch file of this run (Spark local dirs, JVM and Python
    # temp files, indexes) lives under the checkout and is removed at exit
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # also reaches the JVM spark-submit starts to build the driver command
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    rss = PeakRss()
    t0 = time.perf_counter()
    spark = start_spark(tmp, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark, bool(args.trace))
    run = Run(spark, tracer, rss, args.seed, args.seconds, work, args.docs)
    run.info["setup.session_s"] = round(session_s, 3)
    try:
        _wrap_layers(tracer)
        WORKLOADS[args.workload](run)
        rss.sample()
    finally:
        tracer.unwrap()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.metric("setup_s", session_s + run.setup_s, "s")
    run.metric("peak_rss_mb", rss.mb(), "MB")
    if tracer.enabled:
        trace_path = os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}_seed{args.seed}.jsonl"
        )
        tracer.dump(trace_path)
        run.info["trace"] = os.path.relpath(trace_path, ROOT)

    for key, value in sorted(run.info.items()):
        print(f"info {key} {value}")
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"metric {name} {value:.6g} {unit}")
    attempted = max(run.attempted, 1)
    failed = min(len(run.failures), attempted)
    print(f"metric failed_frac {failed / attempted:.6g} ratio")
    for f in run.failures[:20]:
        print(f"failure {f}")
    if tracer.enabled:
        metrics = {
            name: {"value": float(run.layers.get(name, 0.0)), "unit": unit}
            for name, unit in LAYER_METRICS
        }
    else:
        metrics = {
            name: {"value": run.metrics[name][0], "unit": run.metrics[name][1]}
            for name in E2E
            if name in run.metrics
        }
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
