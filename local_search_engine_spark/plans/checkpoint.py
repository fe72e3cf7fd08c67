"""Resumable index build: manifest-keyed stage/partition checkpoints +
lineage and row-count metrics (the tf unit's rows are the posting
count; north-rule requirement, SURVEY.md §4.3 item 5).

Spark's own df.checkpoint() is not resumable across applications, so
resumability is manifest-based: every stage (and, inside the postings
stage, every shard GROUP) writes idempotently to its own directory and
records (stage, group, input_fingerprint, rows, wall_ms) in
_manifest.json. A re-run with the same fingerprint skips completed
units; a changed fingerprint invalidates everything downstream.

A build is a prelude and one wave. The prelude fingerprints the corpus
(one scan; an unchanged corpus of a certified build ends there) and
assigns doc ids (build.assign_doc_ids: a range sample and one
count-per-partition job over the keys). Then every side unit that
misses — docs, tf, idf (+ stats.json), shard_meta — starts as its own
Spark job chain, all of them concurrently, while the calling thread
runs the wave's one docs aggregate: build.doc_len_stats grouped by
postings group, which returns n_docs and avgdl (idf_table's inputs,
the two steps of every in-memory build's assemble_index), each group's
content fingerprint, and the docs count that catches duplicate corpus
keys. When it returns, the postings groups that miss are chosen and
start too; each encodes only its own shards. When every side unit is
a hit but the build was not certified (an only_groups build, or an
older manifest), the group fingerprints come from the same formula over
the tokenize-free id projection instead, so finding nothing to do runs
no tf kernel. The manifest's row counts are read from the parquet
footers each unit just wrote.

Every table goes through plans/store.py: it is committed by the
`_schema.json` written after its data, and read back with that schema.

Replaces the reference's save_indices/load_indices JSON+pickle
persistence (reference preprocessing.py:597-671) with schema-checked
Parquet, and its incremental corpus append (reference
retriever.py:268-310) with deterministic re-build semantics (see
streaming/merge.py for the append path).

Layout under index_dir/:
  _manifest.json        stage/group completion + lineage
  _metrics.jsonl        one line per completed unit (run_id, stage, rows, wall_ms)
  stats.json            n_docs, avgdl, avg_idf, params
  docs/                 doc_id, repo, path, commit, lang, content_sha256, doc_len
  tf/                   doc_id, term, tf
  idf/                  term, df, idf_raw, idf
  postings/group=G/     compressed blocks (term_bucket, part_id, block_id, ...)
  shard_meta/           part_id, first_doc_id, n_docs, doc_lens
  <table>/_schema.json  the table's read-back schema; its commit marker

load_index reads every table with its recorded schema, so loading an
index runs no Spark job.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor

from .store import committed, read_json, read_table, write_json, write_table


class Manifest:
    def __init__(self, index_dir: str):
        self.dir = index_dir
        self.path = os.path.join(index_dir, "_manifest.json")
        self.metrics_path = os.path.join(index_dir, "_metrics.jsonl")
        self.data = read_json(self.path, {"units": {}})
        self._lock = threading.Lock()  # stages write concurrently

    def done(self, unit: str, fingerprint: str) -> bool:
        u = self.data["units"].get(unit)
        return bool(u and u["fingerprint"] == fingerprint and u["status"] == "done")

    def mark(self, unit: str, fingerprint: str, run_id: str, **metrics) -> None:
        with self._lock:
            self.data["units"][unit] = {
                "fingerprint": fingerprint,
                "status": "done",
                "run_id": run_id,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **metrics,
            }
            write_json(self.path, self.data)
            with open(self.metrics_path, "a") as f:
                f.write(json.dumps({"run_id": run_id, "unit": unit, **metrics}) + "\n")


def corpus_fingerprint(corpus, text_col: str = "content") -> str:
    """Cheap-but-honest input lineage in one scan: the row count, the
    order-independent XOR of per-row key hashes, and the same XOR over
    (key, text). The key is (repo, path, commit) when the corpus has a
    repo column, else its unique doc_id.

    Because doc-id assignment is a deterministic function of the keys
    and every stage/group fingerprint is a deterministic function of
    (ids, content, layout params), an unchanged fingerprint certifies a
    completed build outright — the whole-resume fast path. The trigram
    index's staleness sidecar (scripts/code_search.py) records the same
    value."""
    from pyspark.sql import functions as F

    key = "repo, path, commit" if "repo" in corpus.columns else "doc_id"
    row = corpus.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({key}))").alias("h"),
        F.expr(f"bit_xor(xxhash64({key}, {text_col}))").alias("ch"),
    ).first()
    return f"n={row['n']};h={row['h']};ch={row['ch']}"


# Part of every layout fingerprint: bump it whenever what a build writes
# changes shape, so an index written before misses the resume fast path
# and every unit and is rebuilt. 3: tables are plans/store.py tables.
INDEX_FORMAT = 3


def _in_caller_context(spark, fn):
    """fn, run under its own copy of the calling thread's Spark local
    properties (job group, scheduler pool) when PySpark pins Python
    threads to JVM threads, its default; fn itself otherwise."""
    from pyspark.util import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def build_persisted_index(
    spark,
    corpus,
    index_dir: str,
    params=None,
    docs_per_shard: int = 50_000,
    block_span: int | None = None,
    n_buckets: int = 64,
    n_groups: int = 8,
    only_groups: list[int] | None = None,
    text_col: str = "content",
):
    """Build (or resume) the full compressed index at index_dir.

    only_groups: restrict the postings stage to a subset of shard groups
    — used by the resume test to simulate a killed build; production use
    is per-group retry isolation.

    A corpus without a repo column (e.g. the testdata `documents` table)
    must carry a unique doc_id bigint and text_col, and is indexed by
    that doc_id; any other gets the canonical (repo, path, commit) ids.

    Returns the manifest (with per-unit skip/build lineage).
    """
    from pyspark.sql import functions as F

    from ..functions.codec import DEFAULT_BLOCK_SPAN
    from ..operators.build import (
        BM25Params,
        assign_doc_ids,
        check_unique_keys,
        doc_freqs,
        doc_len_stats,
        idf_table,
        index_tables,
    )
    from ..operators.postings import posting_blocks, shard_meta_table

    params = params or BM25Params()
    span = block_span or DEFAULT_BLOCK_SPAN
    os.makedirs(index_dir, exist_ok=True)
    man = Manifest(index_dir)
    run_id = uuid.uuid4().hex[:12]
    layout = (
        f"dps={docs_per_shard};span={span};nb={n_buckets};ng={n_groups};"
        f"format={INDEX_FORMAT}"
    )
    # the side tables — docs / tf / idf / stats / shard_meta — are keyed
    # on the global corpus fingerprint plus the params and layout: idf
    # and stats change with every append, a content-only edit under
    # unchanged keys changes tf/idf/doc_len, and shard_meta and stats
    # follow the layout
    probe_fp = (
        f"{corpus_fingerprint(corpus, text_col)};"
        f"k1={params.k1};b={params.b};eps={params.epsilon};{layout}"
    )
    side_units = ("docs", "tf", "idf", "shard_meta")

    def path(unit: str) -> str:
        return os.path.join(index_dir, unit)

    def on_disk(unit: str) -> bool:
        # a MANIFEST entry must never vouch for deleted data: the unit's
        # table is committed and its directory exists
        return committed(path(unit.split("/")[0])) and os.path.isdir(path(unit))

    def have(unit: str, fpr: str) -> bool:
        return man.done(unit, fpr) and on_disk(unit)

    # whole-build fast path: a build previously COMPLETED over exactly
    # this (keys, content, params, layout) — one scan-agg proves nothing
    # changed, so skip even the id-assignment jobs. Partial builds
    # (only_groups) never mark this unit.
    if man.done("resume_probe", probe_fp) and all(
        map(on_disk, (*side_units, *(f"postings/group={g}" for g in range(n_groups))))
    ):
        return man

    # Prelude: doc ids, which need no tokenizing. A table without a repo
    # column carries its own (corpus_fingerprint keys it the same way).
    keys = n_keys = None
    if "repo" not in corpus.columns:
        ids_df = corpus
        if "content_sha256" not in ids_df.columns:
            ids_df = ids_df.withColumn(
                "content_sha256", F.sha2(F.col(text_col), 256)
            )
    else:
        ids_df, keys, n_keys = assign_doc_ids(corpus)
    tf = docs = None
    try:
        # Each postings group is keyed on its OWN content fingerprint,
        # not the global one: posting blocks are idf/avgdl-free by design
        # (operators/postings.py), so a group's output depends only on
        # its shards' (doc_id, content) plus the layout. After an edit or
        # an append, every untouched group is a manifest HIT and only
        # groups containing changed shards re-encode.
        group_of = F.pmod(
            (F.col("doc_id") / F.lit(docs_per_shard)).cast("long"), F.lit(n_groups)
        )
        by = (group_of.alias("g"),)
        group_hash = (F.expr("bit_xor(xxhash64(doc_id, content_sha256))").alias("h"),)
        group_ids = list(only_groups) if only_groups is not None else list(range(n_groups))

        def group_fingerprints(rows) -> dict[str, str]:
            # rows: per group g, its doc count n and content hash h
            gfp = {g: f"n=0;h=0;{layout}" for g in range(n_groups)}
            for r in rows:
                gfp[int(r["g"])] = f"n={r['n']};h={r['h']};{layout}"
            return {f"postings/group={g}": gfp[g] for g in group_ids}

        fingerprints = {u: probe_fp for u in side_units}
        missing = [u for u in side_units if not have(u, probe_fp)]
        groups_from_stats = bool(missing)
        if not groups_from_stats:
            # Every side table is current but the build is not certified
            # (after an only_groups build, or an older manifest):
            # fingerprint the groups from the tokenize-free id
            # projection, so finding nothing to do runs no tf kernel.
            fingerprints.update(
                group_fingerprints(
                    ids_df.groupBy(*by).agg(F.count("*").alias("n"), *group_hash).collect()
                )
            )
            missing = [u for u, fpr in fingerprints.items() if not have(u, fpr)]
            if not missing:
                if only_groups is None:
                    # certify the completed build so the next invocation
                    # takes the one-scan fast path
                    man.mark("resume_probe", probe_fp, run_id)
                return man

        # The wave. tf and docs are cached and planned, not run: the
        # first unit to read them runs the tf kernel once, and the
        # others wait for its cached blocks.
        tf, docs = index_tables(ids_df, text_col=text_col)
        # n_docs, avgdl and the group fingerprints: one docs aggregate,
        # run by this thread once the side units are submitted
        stats_f = Future()

        def write_docs():
            return {"rows": write_table(docs, path("docs"))}

        def write_tf():
            return {"rows": write_table(tf, path("tf"))}

        def write_idf():
            stats = stats_f.result()
            n_docs, avgdl, _ = stats
            idf, avg_idf = idf_table(doc_freqs(tf), n_docs, params.epsilon)
            n_rows = write_table(idf, path("idf"))
            write_json(
                path("stats.json"),
                {
                    "n_docs": n_docs,
                    "avgdl": avgdl,
                    "avg_idf": avg_idf,
                    "k1": params.k1,
                    "b": params.b,
                    "epsilon": params.epsilon,
                    "docs_per_shard": docs_per_shard,
                    "block_span": span,
                    "n_buckets": n_buckets,
                    "bucket_hash": "h32",
                    "n_groups": n_groups,
                },
            )
            return {"rows": n_rows}

        def write_shard_meta():
            return {"rows": write_table(shard_meta_table(docs, docs_per_shard), path("shard_meta"))}

        def write_group(g: int):
            # only this group's shards reach the encode
            in_group = group_of == g
            blocks = posting_blocks(
                tf.filter(in_group), docs.filter(in_group), docs_per_shard, span, n_buckets
            )
            # term_bucket as a physical partition column: a query's
            # term-bucket literals prune whole directories at scan time
            # (make_wand_topk n_buckets arg), then Parquet min/max stats
            # on the sorted term column prune row groups within them
            n_rows = write_table(
                blocks, path("postings"), partition_by=("term_bucket",), part=("group", g)
            )
            return {"rows": n_rows, "group": g}

        writers = {
            "docs": write_docs,
            "tf": write_tf,
            "idf": write_idf,
            "shard_meta": write_shard_meta,
        }

        def run_unit(unit: str) -> None:
            t0 = time.time()
            if unit != "tf":
                # The docs readers first wait for the statistics: their
                # aggregate fills the tf and docs caches, so their plans
                # see materialized caches (no cache-materializing jobs of
                # their own), and the idf unit reads n_docs and avgdl.
                # tf reads only tf and starts at once.
                stats_f.result()
            if unit.startswith("postings/group="):
                metrics = write_group(int(unit.split("=")[1]))
            else:
                metrics = writers[unit]()
            man.mark(
                unit, fingerprints[unit], run_id,
                wall_ms=int((time.time() - t0) * 1000), **metrics,
            )

        # The units are independent Spark job chains: run them as
        # CONCURRENT jobs (Spark's scheduler interleaves their stages
        # across executors; sequential submission left executors idle
        # between small jobs, a measured ~2x overhead at 8 executors).
        # Each unit runs under its own copy of the caller's local
        # properties, so its jobs carry the caller's job group. The
        # side units start at once; the postings groups are chosen when
        # the docs aggregate has returned their fingerprints, unless the
        # id projection gave them above.
        with ThreadPoolExecutor(max_workers=len(side_units) + len(group_ids)) as pool:

            def submit(units):
                return [pool.submit(_in_caller_context(spark, run_unit), u) for u in units]

            futs = submit(missing)
            try:
                stats = doc_len_stats(docs, by, group_hash)
                if n_keys is not None:
                    check_unique_keys(stats[0], n_keys)
            except BaseException as e:
                stats_f.set_exception(e)
                raise
            stats_f.set_result(stats)
            if groups_from_stats:
                fingerprints.update(group_fingerprints(stats[2]))
                futs += submit(
                    u for u in fingerprints if u not in side_units and not have(u, fingerprints[u])
                )
            for f in futs:
                f.result()
    finally:
        for df in (tf, docs, keys):
            if df is not None:
                df.unpersist()
    if only_groups is None:
        man.mark("resume_probe", probe_fp, run_id)
    return man


def load_index(spark, index_dir: str):
    """Load a persisted index → (InvertedIndex, postings, shard_meta,
    stats dict). Query with operators.wand.make_wand_topk. Every table is
    read with its recorded schema, so no Spark job runs."""
    from ..operators.build import BM25Params, InvertedIndex

    stats = read_json(os.path.join(index_dir, "stats.json"))
    params = BM25Params(k1=stats["k1"], b=stats["b"], epsilon=stats["epsilon"])

    def read(name):
        return read_table(spark, os.path.join(index_dir, name))

    postings = read("postings")
    shard_meta = read("shard_meta")
    idx = InvertedIndex(
        docs=read("docs"),
        tf=read("tf"),
        idf=read("idf"),
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        avg_idf=stats["avg_idf"],
        params=params,
        postings=postings,
    )
    return idx, postings, shard_meta, stats
