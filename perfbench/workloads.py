"""The benchmark's workloads. Each one sets up, runs a closed loop of ops
for the requested time (whole cycles of a fixed op schedule, at least
one), checks every answer after the loop, and reports its metrics.

A workload function takes a Run and fills in run.metrics (every
end-to-end metric by name and unit), run.layers (per-layer numbers of a
traced run), run.attempted and run.failures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import time

from . import inputs
from .harness import closed_loop, digest, median, quantile

# Docs per corpus at full size; the smoke test passes a small --docs.
# 256 ingest docs fill its four shard groups equally, so every edit
# re-encodes the same amount of postings.
DOCS = {"interactive_search": 300, "ingest_refresh": 256}
QUERY_SET_SIZE = 10  # queries per batch plan
CLEAN_DOCS = 60  # docs of the batch the ingest workload's clean op cleans
POS_BUCKETS = 16  # term buckets of the interactive BM25 and positional indexes


class Run:
    def __init__(self, spark, tracer, rss, seed: int, seconds: float, work: str, docs: int | None):
        self.spark, self.tracer, self.rss = spark, tracer, rss
        self.seed, self.seconds, self.work = seed, seconds, work
        self.docs = docs
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {"seed": seed}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s = 0.0

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    @contextlib.contextmanager
    def step(self, name: str):
        """Time one set-up step (reported as info setup.<name>_s)."""
        t = time.perf_counter()
        yield
        self.info[f"setup.{name}_s"] = round(time.perf_counter() - t, 3)


def _corpus_df(spark, rows):
    import pandas as pd

    from local_search_engine_spark.sources.corpus import CORPUS_SCHEMA

    return spark.createDataFrame(pd.DataFrame(rows), CORPUS_SCHEMA)


def _docs_df(spark, rows, ids):
    """(doc_id, text) with the engine's doc ids, for index-free references."""
    return spark.createDataFrame(
        [(ids[r["path"]], r["content"]) for r in rows], "doc_id long, text string"
    )


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under path (no checksums or markers)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def _index_bytes(run: Run, index_dir: str, rows) -> None:
    corpus_bytes = sum(len(r["content"].encode()) for r in rows)
    parts = {p: _dir_bytes(os.path.join(index_dir, p)) for p in ("postings", "tf", "docs", "idf", "shard_meta")}
    run.metric("index_bytes_per_corpus_byte", sum(parts.values()) / corpus_bytes, "ratio")
    for p in ("postings", "tf", "docs", "idf"):
        run.layers[f"index.bytes.{p}"] = parts[p]


def _check_ids(run: Run, idx, ids) -> bool:
    got = {r["path"]: r["doc_id"] for r in idx.docs.select("path", "doc_id").collect()}
    if got != ids:
        run.fail("index doc ids differ from the (repo, path, commit) rank")
        return False
    return True


def _latency_metrics(run: Run, ops, shapes) -> None:
    """latency_s: each shape's median latency, weighted by the shape's
    share of the schedule (a median per shape resists single spikes)."""
    times = [o.seconds for o in ops]
    counted = [o for o in ops if o.shape in shapes]
    run.metric(
        "latency_s",
        sum(
            median([o.seconds for o in counted if o.shape == s]) * sum(o.shape == s for o in counted)
            for s in shapes
        ) / len(counted),
        "s",
    )
    run.metric("op_p50_s", median(times), "s")
    run.metric("op_p90_s", quantile(times, 0.9), "s")
    for shape in shapes:
        run.metric(f"{shape}_p50_s", median([o.seconds for o in ops if o.shape == shape]), "s")
    run.info["ops"] = len(ops)


def _op_layers(run: Run, ops, shapes, cycle: int) -> None:
    """Per-op Spark counts over the first schedule cycle (always run, so
    two traced runs with the same seed count the same ops)."""
    tr = run.tracer
    first = {o.index for o in ops if o.index < cycle}
    for shape in shapes:
        name = f"op.{shape}"
        run.layers[f"spark.jobs.{shape}"] = tr.per_call(name, "jobs", first)
        run.layers[f"spark.tasks.{shape}"] = tr.per_call(name, "tasks", first)
    run.layers["spark.tasks.failed"] = sum(
        s["failed_tasks"] for s in tr.spans if s["name"].startswith("op.") and "end" in s
    )


def _span_layers(run: Run, ops, cycle: int, names, with_tasks=False) -> None:
    tr = run.tracer
    first = {o.index for o in ops if o.index < cycle}
    for name in names:
        run.layers[f"{name}.self_s"] = tr.self_s(name)
        run.layers[f"{name}.jobs"] = tr.per_call(name, "jobs", first)
        if with_tasks:
            run.layers[f"{name}.tasks"] = tr.per_call(name, "tasks", first)


def _loop(run: Run, schedule, make_spec, run_op):
    """Whole cycles of the fixed schedule for run.seconds (at least one)."""

    def next_op(i):
        shape, form = schedule[i % len(schedule)]
        return shape, make_spec(shape, form)

    ops = closed_loop(next_op, run_op, run.seconds, len(schedule), run.tracer, run.rss)
    run.attempted = len(ops)
    for o in ops:
        if o.error:
            run.fail(f"op {o.index} {o.shape} raised {o.error}")
    return ops


# ---------------------------------------------------------------------------
# interactive_search
# ---------------------------------------------------------------------------

INTERACTIVE_SCHEDULE = (
    ("ranked", 0),
    ("bool", "phrase_not"),
    ("ranked", 1),
    ("phrase", "exact"),
    ("wand_set", None),
    ("ranked", 2),
    ("bool", "prefix_msm"),
    ("phrase", "near"),
    ("bm25_set", None),
    ("phrase_set", None),
)
INTERACTIVE_SHAPES = ("ranked", "bool", "phrase", "wand_set", "bm25_set", "phrase_set")
# A traced run also sends one composed search command per cycle. Its
# set-up (the command's own BM25, ANN and positional indexes) and its op
# cost 30-40 s, more than the 22 runs per workload of a benchmark check
# can afford, so untraced runs leave it out and latency_s never counts it.
CLI_SCHEDULE = (("search_cli", None),)
# batch op shape -> the traced layer that plans it
SET_LAYERS = {
    "wand_set": "operators.wand.query_set",
    "bm25_set": "operators.query.run_query_set",
    "phrase_set": "operators.positional.query_set",
}
# the layers the composed search command calls, besides WAND
CLI_LAYERS = (
    "plans.checkpoint.load_index",
    "operators.similarity.srp_lsh_topk_persisted",
    "operators.fusion.rrf_fuse",
    "operators.snippets.best_snippets",
    "scripts.code_search.cmd_search",
)


def interactive_search(run: Run) -> None:
    """One persisted BM25 index and one persisted positional index. Single ranked, boolean and phrase queries
    and one query set per batch scorer (plus, traced, the composed search
    command); each answer is collected before the next op is sent."""
    import scripts.code_search as cs
    from local_search_engine_spark.operators import boolquery, positional, query, wand
    from local_search_engine_spark.plans import checkpoint

    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    n = run.docs or DOCS["interactive_search"]
    rows = inputs.corpus_rows(run.seed, n)
    ids = inputs.doc_ids(rows)
    stream = inputs.Stream(run.seed, rows)
    corpus = _corpus_df(spark, rows).cache()
    docs = _docs_df(spark, rows, ids).cache()
    root = os.path.join(run.work, "search")  # the search command's index root
    bm25 = os.path.join(run.work, "bm25")
    pos_dir = os.path.join(run.work, "pos")
    shard = max(64, n // 4)

    def cli(text, k):
        return cs.cmd_search(spark, corpus, argparse.Namespace(index=root, query=text, k=k))["results"]

    with run.step("build"):
        checkpoint.build_persisted_index(
            spark, corpus, bm25, docs_per_shard=shard, n_groups=1, n_buckets=POS_BUCKETS
        )
        idx, postings, shard_meta, stats = checkpoint.load_index(spark, bm25)
        ranked = wand.make_wand_topk(idx, postings, shard_meta, n_buckets=stats["n_buckets"])
    with run.step("positional"):
        positional.persist_positional_postings(
            positional.build_positional_postings(docs, docs_per_shard=shard, n_buckets=POS_BUCKETS),
            pos_dir,
        )
        phrases = positional.make_phrase_topk(
            positional.load_positional_postings(spark, pos_dir), n_buckets=POS_BUCKETS
        )
    warm = stream.phrase()
    # one warm-up per plan shape: phrases.query_set is also the plan of an
    # exact phrase op, and one boolean query carries every leaf kind of
    # both bool forms
    batch = [(0, "kw1 parse", 3), (1, "merge kw2", 3)]
    with run.step("warmup"):
        ranked("kw1 parse", 3).collect()
        ranked.query_set(batch).collect()
        query.run_query_set(idx, batch).collect()
        boolquery.topk(
            idx, f'"{warm}" AND pars* AND (kw1 kw2 kw3)~2 AND NOT kw4', 3, phrase_query=phrases
        ).collect()
        phrases.query_set([(0, warm, 3)]).collect()
        phrases.near(warm, 3, 4).collect()
    schedule = INTERACTIVE_SCHEDULE
    if tr.enabled:
        with run.step("search_cli"):  # builds ROOT/bm25, ROOT/ann and ROOT/pos
            cli(f'"{warm}" kw1 -kw2', 3)
        schedule += CLI_SCHEDULE
    run.setup_s = time.perf_counter() - t0
    run.info["docs"] = n
    _index_bytes(run, bm25, rows)

    def make_spec(shape, form):
        if shape == "ranked":
            return stream.ranked(form)
        if shape == "bool":
            return stream.bool(form)
        if shape == "phrase":
            return stream.phrase_query(form)
        if shape == "search_cli":
            return stream.search_cli()
        if shape == "phrase_set":
            return tuple(stream.phrase_set(QUERY_SET_SIZE))
        return tuple(stream.query_set(QUERY_SET_SIZE))

    def run_op(shape, spec):
        if shape == "search_cli":  # eager: the command collects its answer
            return cli(*spec)
        if shape == "ranked":
            df = ranked(*spec)
        elif shape == "bool":
            df = boolquery.topk(idx, spec[0], spec[1], phrase_query=phrases)
        elif shape == "phrase":
            text, k, window = spec
            df = phrases(text, k) if window is None else phrases.near(text, k, window)
        elif shape == "wand_set":
            df = ranked.query_set(list(spec))
        elif shape == "bm25_set":
            df = query.run_query_set(idx, list(spec))
        else:
            df = phrases.query_set(list(spec))
            return tr.action(shape, lambda: sorted(
                (r["phrase_id"], r["rank"], r["doc_id"], r["phrase_tf"]) for r in df.collect()
            ))
        if shape in SET_LAYERS:
            return tr.action(shape, lambda: sorted(
                (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in df.collect()
            ))
        return tr.action(shape, lambda: [tuple(r) for r in df.collect()])

    ops = _loop(run, schedule, make_spec, run_op)
    _latency_metrics(run, ops, INTERACTIVE_SHAPES)
    if tr.enabled:
        tr.finish()
        cycle = len(schedule)
        run.metric("search_cli_p50_s", median([o.seconds for o in ops if o.shape == "search_cli"]), "s")
        _op_layers(run, ops, INTERACTIVE_SHAPES + ("search_cli",), cycle)
        _span_layers(
            run, ops, cycle,
            ("operators.wand.query", "operators.boolquery.topk", "operators.positional.query",
             "plans.checkpoint.build_persisted_index"),
        )
        _span_layers(run, ops, cycle, SET_LAYERS.values(), with_tasks=True)
        for shape in ("ranked", "bool", "phrase"):
            run.layers[f"action.{shape}.s"] = tr.dur_s(f"action.{shape}")
        for shape, name in SET_LAYERS.items():
            run.layers[f"{name}.action_s"] = tr.dur_s(f"action.{shape}")
        for name in CLI_LAYERS:
            run.layers[f"{name}.self_s"] = tr.self_s(name)
    if _check_ids(run, idx, ids):
        _check_queries(run, ops, idx, docs)
    _check_cli(run, ops, rows)
    docs.unpersist()
    corpus.unpersist()


def _check_queries(run: Run, ops, idx, docs) -> None:
    """Untimed answer checks, one reference plan per kind.

    ranked, wand_set, bm25_set: rank- and score-identical to the
    brute-force batch scorer. bool and near: the right number of hits,
    all inside the index-free boolean percolator's match set. exact
    phrase and phrase_set: the percolator's top-k by (phrase tf desc,
    doc_id)."""
    from local_search_engine_spark.operators.query import run_query_set
    from local_search_engine_spark.streaming.percolate import percolate, percolate_bool

    good = [o for o in ops if not o.error and o.shape != "search_cli"]
    sets = [o for o in good if o.shape in ("wand_set", "bm25_set")]
    rk = sorted(
        {o.spec for o in good if o.shape == "ranked"} | {(t, k) for o in sets for _, t, k in o.spec}
    )
    want: dict[int, list] = {i: [] for i in range(len(rk))}
    if rk:
        for r in run_query_set(idx, [(i, t, k) for i, (t, k) in enumerate(rk)]).collect():
            want[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    ref_ranked = {spec: sorted(want[i]) for i, spec in enumerate(rk)}

    near = {o.spec for o in good if o.shape == "phrase" and o.spec[2]}
    bq = sorted({o.spec[0] for o in good if o.shape == "bool"} | {f'"{t}"~{w}' for t, _, w in near})
    matched: dict[str, set] = {q: set() for q in bq}
    if bq:
        for r in percolate_bool(docs, list(enumerate(bq))).collect():
            matched[bq[r["query_id"]]].add(r["doc_id"])

    ph = sorted(
        {o.spec[0] for o in good if o.shape == "phrase" and o.spec[2] is None}
        | {t for o in good if o.shape == "phrase_set" for _, t, _ in o.spec}
    )
    tfs: dict[str, list] = {p: [] for p in ph}
    if ph:
        for r in percolate(docs, list(enumerate(ph))).collect():
            tfs[ph[r["query_id"]]].append((-r["phrase_tf"], r["doc_id"]))

    def top_phrase(text, k):
        return [(i + 1, d, -t) for i, (t, d) in enumerate(sorted(tfs[text])[:k])]

    for o in good:
        if o.shape == "ranked":
            ok = sorted(o.answer) == ref_ranked[o.spec]
        elif o.shape in ("wand_set", "bm25_set"):
            ok = o.answer == sorted(
                (qid, *hit) for qid, t, k in o.spec for hit in ref_ranked[(t, k)]
            )
        elif o.shape == "phrase_set":
            ok = o.answer == sorted((pid, *hit) for pid, t, k in o.spec for hit in top_phrase(t, k))
        elif o.shape == "bool" or o.spec[2]:
            q = o.spec[0] if o.shape == "bool" else f'"{o.spec[0]}"~{o.spec[2]}'
            ref = matched[q]
            got = [d for _, d, _ in o.answer]
            ok = (
                len(got) == min(o.spec[1], len(ref))
                and set(got) <= ref
                and [r for r, _, _ in o.answer] == list(range(1, len(got) + 1))
            )
        else:
            ok = o.answer == top_phrase(o.spec[0], o.spec[1])
        if not ok:
            run.fail(f"op {o.index} {o.shape} {o.spec!r}: wrong answer")


def _check_cli(run: Run, ops, rows) -> None:
    """search_cli: ranks 1..n <= k, every hit holds the quoted phrase and
    none holds the excluded term."""
    from local_search_engine_spark.functions.tokenize import tokenize_py

    text = {f"{r['repo']}:{r['path']}": tokenize_py(r["content"]) for r in rows}
    for o in ops:
        if o.error or o.shape != "search_cli":
            continue
        q, k = o.spec
        p = tokenize_py(q.split('"')[1])
        excluded = q.rsplit("-", 1)[1]

        def holds(toks):
            return excluded not in toks and any(
                toks[i : i + len(p)] == p for i in range(len(toks) - len(p) + 1)
            )

        ok = (
            len(o.answer) <= k
            and [h["rank"] for h in o.answer] == list(range(1, len(o.answer) + 1))
            and all(holds(text[h["file"]]) for h in o.answer)
        )
        if not ok:
            run.fail(f"op {o.index} search_cli {q!r}: wrong answer")


# ---------------------------------------------------------------------------
# ingest_refresh
# ---------------------------------------------------------------------------

# index layout sized so one edited file re-encodes one shard group
INGEST_LAYOUT = {"docs_per_shard": 64, "n_groups": 4, "n_buckets": 8}
INGEST_SCHEDULE = (("refresh", None),)
# A traced run also cleans a batch of incoming docs once per cycle (about
# 12 s with its check), which untimed runs leave out for the same budget
# reason as the interactive search command; latency_s never counts it.
CLEAN_SCHEDULE = (("clean", None),)
CLEAN_PARTS = (
    "operators.dedup.exact_dedup_keep",
    "operators.textstats.quality_scores",
    "operators.textstats.repetition_scores",
)


def _unit_runs(index_dir: str) -> dict[str, str]:
    path = os.path.join(index_dir, "_manifest.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return {u: v["run_id"] for u, v in json.load(f)["units"].items()}


def _unit_walls(index_dir: str, run_ids: set) -> dict[str, float]:
    walls: dict[str, float] = {}
    with open(os.path.join(index_dir, "_metrics.jsonl")) as f:
        for line in f:
            m = json.loads(line)
            if m["run_id"] in run_ids and "wall_ms" in m:
                unit = m["unit"].split("/")[0]
                walls[unit] = walls.get(unit, 0.0) + m["wall_ms"] / 1000.0
    return walls


def _clean(batch, observed: list | None = None) -> dict:
    """One clean op over a batch of docs: the cleaning pipeline's kept
    docs, then MinHash and SimHash near-dup pairs, every output column
    collected. Returns the answers and the seconds of each part."""
    from local_search_engine_spark.operators import dedup, pipeline

    out: dict = {}
    t = time.perf_counter()
    out["kept"] = sorted(tuple(r) for r in pipeline.clean_corpus(batch).filter("keep").collect())
    out["clean_s"] = time.perf_counter() - t
    m: dict = {}
    t = time.perf_counter()
    out["minhash"] = sorted(tuple(r) for r in dedup.minhash_lsh_pairs(batch, expand_exact=False, metrics=m).collect())
    out["minhash_s"] = time.perf_counter() - t
    if observed is not None:
        try:
            observed.append(m["observation"].get)
        except Exception as e:  # the counters are optional output
            observed.append({"unreadable": type(e).__name__})
    if "shingle_sets" in m:
        m["shingle_sets"].unpersist()
    t = time.perf_counter()
    out["simhash"] = sorted(tuple(r) for r in dedup.simhash_pairs(batch).collect())
    out["simhash_s"] = time.perf_counter() - t
    return out


def ingest_refresh(run: Run) -> None:
    """A cold build, then cycles of edit -> rebuild -> load -> query: the
    time from an applied edit until a query finds it (plus, traced,
    cleaning a batch of incoming docs: pipeline, MinHash, SimHash)."""
    from local_search_engine_spark.operators import dedup, textstats, wand
    from local_search_engine_spark.plans import checkpoint

    spark, tr = run.spark, run.tracer
    t0 = time.perf_counter()
    n = run.docs or DOCS["ingest_refresh"]
    rows = inputs.corpus_rows(run.seed, n)
    stream = inputs.Stream(run.seed, rows)
    index_dir = os.path.join(run.work, "ingest")
    state = {"rows": rows}
    m = min(CLEAN_DOCS, n)
    batch = None

    def searchable(idx, postings, shard_meta, stats, token):
        q = wand.make_wand_topk(idx, postings, shard_meta, n_buckets=stats["n_buckets"])
        return [tuple(r) for r in q(token, 5).collect()]

    # the cold build of the full corpus, then one load and query of it
    tb = time.perf_counter()
    with run.step("build"):
        checkpoint.build_persisted_index(spark, _corpus_df(spark, rows), index_dir, **INGEST_LAYOUT)
    build_s = time.perf_counter() - tb
    with run.step("warmup"):
        searchable(*checkpoint.load_index(spark, index_dir), "kw1")
    if tr.enabled:
        batch = _docs_df(spark, rows[:m], inputs.doc_ids(rows[:m])).cache()
        batch.count()
    run.setup_s = time.perf_counter() - t0
    run.metric("build_docs_per_s", n / build_s, "1/s")
    run.info["docs"] = n
    run.info["clean_docs"] = m
    _index_bytes(run, index_dir, rows)

    def make_spec(shape, form):
        if shape == "clean":
            return None
        rows_now, path, token = stream.edit(state["rows"])
        state["rows"] = rows_now
        return path, token, rows_now

    reencoded: list[int] = []  # postings groups rewritten per refresh
    walls: list[dict] = []  # manifest unit wall times per refresh
    observed: list[dict] = []  # MinHash Observation counters per clean

    def run_op(shape, spec):
        if shape == "clean":
            return _clean(batch, observed)
        # edit applied -> searchable: rebuild, reload, query
        _, token, rows_now = spec
        before = _unit_runs(index_dir)
        checkpoint.build_persisted_index(spark, _corpus_df(spark, rows_now), index_dir, **INGEST_LAYOUT)
        answer = tr.action("refresh", lambda: searchable(*checkpoint.load_index(spark, index_dir), token))
        after = _unit_runs(index_dir)
        changed = {u for u, r in after.items() if before.get(u) != r}
        reencoded.append(sum(u.startswith("postings/") for u in changed))
        walls.append(_unit_walls(index_dir, {after[u] for u in changed}))
        return answer

    schedule = INGEST_SCHEDULE + (CLEAN_SCHEDULE if tr.enabled else ())
    ops = _loop(run, schedule, make_spec, run_op)
    _latency_metrics(run, ops, ("refresh",))
    cleans = [o.answer for o in ops if o.shape == "clean" and not o.error]
    if cleans:
        run.metric("clean_docs_per_s", m / median([c["clean_s"] for c in cleans]), "1/s")
        run.metric(
            "neardup_docs_per_s", m / median([c["minhash_s"] + c["simhash_s"] for c in cleans]), "1/s"
        )
    if tr.enabled:
        tr.finish()
        cycle = len(schedule)
        run.metric("clean_p50_s", median([o.seconds for o in ops if o.shape == "clean"]), "s")
        _op_layers(run, ops, ("refresh",), cycle)
        _span_layers(
            run, ops, cycle,
            ("plans.checkpoint.build_persisted_index", "operators.build.build_index_from",
             "operators.postings.build_postings"),
        )
        run.layers["plans.checkpoint.load_index.self_s"] = tr.self_s("plans.checkpoint.load_index")
        run.layers["plans.checkpoint.groups_reencoded"] = median(reencoded)
        for unit in ("docs", "tf", "idf", "shard_meta", "postings"):
            run.layers[f"plans.checkpoint.unit.{unit}.wall_s"] = median(
                [w.get(unit, 0.0) for w in walls]
            )
        # each part of the pipeline alone, fully consumed, after the loop
        parts = 0.0
        for name, part in zip(
            CLEAN_PARTS, (dedup.exact_dedup_keep, textstats.quality_scores, textstats.repetition_scores)
        ):
            t = time.perf_counter()
            digest(part(batch))
            run.layers[f"{name}.s"] = time.perf_counter() - t
            parts += run.layers[f"{name}.s"]
        clean_s = median([c["clean_s"] for c in cleans])
        run.layers["operators.pipeline.clean_corpus.action_s"] = clean_s
        run.layers["operators.pipeline.composition_s"] = clean_s - parts
        run.layers["operators.dedup.minhash_lsh_pairs.s"] = median([c["minhash_s"] for c in cleans])
        run.layers["operators.dedup.simhash_pairs.s"] = median([c["simhash_s"] for c in cleans])
        for key in ("n_buckets", "dropped_buckets", "dropped_pairs_ub", "max_bucket_size_seen"):
            run.layers[f"operators.dedup.minhash_lsh_pairs.{key}"] = (observed or [{}])[0].get(key, 0)
    if observed and "unreadable" in observed[0]:
        run.info["minhash_observation"] = f"unreadable ({observed[0]['unreadable']})"

    # ---- answer checks (untimed) ----
    for o in ops:
        if o.error or o.shape != "refresh":
            continue
        path, token, rows_now = o.spec
        want = inputs.doc_ids(rows_now)[path]
        if not o.answer or o.answer[0][0] != 1 or o.answer[0][1] != want:
            run.fail(f"op {o.index}: edit {token} not at rank 1 (got {o.answer[:1]})")
    if batch is not None:
        _check_clean(run, ops, batch, m)
        batch.unpersist()


def _check_clean(run: Run, ops, batch, m: int) -> None:
    """The exact-dup count equals the generator's tie group (rows with
    i % 13 == 0 share one content) minus one; no kept doc is a duplicate;
    every MinHash pair has a < b and Jaccard >= 0.5, every SimHash pair
    Hamming <= 3; every clean op returns the same answers."""
    from local_search_engine_spark.operators import dedup

    ties = inputs.tie_group_size(run.seed, m)
    dups = {r["doc_id"] for r in dedup.exact_dedup_keep(batch).filter("is_dup").select("doc_id").collect()}
    if len(dups) != max(ties - 1, 0):
        run.fail(f"exact dups {len(dups)} != tie group size {ties} - 1")
    first = None
    for o in ops:
        if o.error or o.shape != "clean":
            continue
        a = o.answer
        answer = (a["kept"], a["minhash"], a["simhash"])
        first = first or answer
        ok = (
            all(r[-1] and not r[1] for r in a["kept"])
            and not dups & {r[0] for r in a["kept"]}
            and all(x < y and j >= 0.5 for x, y, j in a["minhash"])
            and all(x < y and h <= 3 for x, y, h in a["simhash"])
            and answer == first
        )
        if not ok:
            run.fail(f"op {o.index} clean: wrong answer")


WORKLOADS = {
    "interactive_search": interactive_search,
    "ingest_refresh": ingest_refresh,
}
