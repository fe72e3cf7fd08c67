"""plans/layout.group_in_partitions: the per-partition group iterator
(Spark-free), batch-size independence of the operators built on it, and
the physical plans they produce."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from local_search_engine_spark.plans.layout import iter_groups


def _batches(keys, sizes):
    """Split sorted (k, v) rows into pandas batches of the given sizes
    (0 = an empty batch)."""
    out, lo = [], 0
    for n in sizes:
        out.append(
            pd.DataFrame(
                {"k": np.asarray(keys[lo : lo + n], dtype=np.int64),
                 "v": np.arange(lo, lo + n, dtype=np.int64)}
            )
        )
        lo += n
    assert lo == len(keys)
    return out


def _drive(batches, keys=("k",)):
    """Run iter_groups and record every group handed to fn, plus the
    rows held at each moment: rows pulled from the input minus rows of
    groups already delivered to fn."""
    pulled = [0]
    delivered = [0]
    held = []
    seen = []

    def source():
        for b in batches:
            held.append(pulled[0] - delivered[0])
            pulled[0] += len(b)
            yield b

    def fn(g):
        held.append(pulled[0] - delivered[0])
        seen.append(g.copy())
        delivered[0] += len(g)
        return g.assign(n=len(g))

    outs = list(iter_groups(source(), list(keys), fn))
    return seen, outs, held


@pytest.mark.parametrize(
    "keys,sizes",
    [
        # one group straddling three batches, with empty batches between
        ([1] * 10 + [2] * 3, [4, 0, 4, 0, 5]),
        # a one-group partition
        ([5] * 9, [2, 3, 4]),
        # many one-row and small groups, boundaries on and off batch edges
        (sorted([i // 3 for i in range(40)] + [7, 7, 7, 7]), [7, 7, 0, 7, 7, 7, 7, 2]),
        # every group exactly one batch
        ([0, 0, 1, 1, 2, 2], [2, 2, 2]),
        # group change exactly at a batch start
        ([0, 0, 0, 1, 1, 1], [3, 3]),
        # only empty batches
        ([], [0, 0]),
    ],
)
def test_groups_whole_once_in_order(keys, sizes):
    batches = _batches(keys, sizes)
    seen, outs, held = _drive(batches)
    want = pd.concat(batches, ignore_index=True) if batches else None
    expected_keys = list(dict.fromkeys(keys))
    assert [int(g["k"].iloc[0]) for g in seen] == expected_keys
    for g in seen:
        assert g["k"].nunique() == 1
        k = int(g["k"].iloc[0])
        assert g["v"].tolist() == want.loc[want["k"] == k, "v"].tolist()
    assert sum(len(g) for g in seen) == len(keys)
    # outputs: at most one frame per input batch, plus the final group
    assert len(outs) <= len([b for b in batches if len(b)]) + 1
    got = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame()
    assert got.get("v", pd.Series(dtype=int)).tolist() == list(range(len(keys)))
    # memory bound: never more than the largest group plus one batch
    largest = max((len(g) for g in seen), default=0)
    assert max(held) <= largest + max(sizes)


def test_many_groups_hold_one_batch_not_the_partition():
    """A forced many-group partition: 2 000 groups of 1-5 rows in
    64-row batches. The rows held never exceed the largest group plus
    one batch — far below the partition's size."""
    rng = np.random.default_rng(3)
    keys = np.repeat(np.arange(2000), rng.integers(1, 6, 2000)).tolist()
    sizes = [64] * (len(keys) // 64) + [len(keys) % 64]
    seen, _, held = _drive(_batches(keys, sizes))
    assert len(seen) == 2000
    assert max(held) <= 5 + 64 < len(keys)


def test_composite_keys_and_empty_outputs():
    """Groups cut on ANY key column change; fn outputs with no rows are
    dropped before concatenation."""
    pdf = pd.DataFrame(
        {"a": [0, 0, 0, 1, 1], "b": [0, 0, 1, 1, 1], "v": [1, 2, 3, 4, 5]}
    )
    seen = []

    def fn(g):
        seen.append(g["v"].tolist())
        return g if g["v"].iloc[0] != 3 else g.iloc[:0]

    outs = list(iter_groups([pdf.iloc[:2], pdf.iloc[2:4], pdf.iloc[4:]], ["a", "b"], fn))
    assert seen == [[1, 2], [3], [4, 5]]
    assert pd.concat(outs)["v"].tolist() == [1, 2, 4, 5]


# ---- Spark: batch-size independence and plans -----------------------------

VOCAB = ["table", "scan", "agg", "row", "part", "fast", "slow", "io"]


def _docs(spark, n=60, seed=17):
    import random

    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(0, 30))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_results_independent_of_arrow_batch_size(spark):
    """Seven-row Arrow batches split nearly every group across batches;
    postings, positional postings and the phrase query_set must equal a
    run at the default batch size, byte for byte."""
    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.operators.positional import (
        build_positional_postings,
        make_phrase_topk,
    )
    from local_search_engine_spark.operators.postings import build_postings

    docs = _docs(spark)
    phrases = [(i, p, 10) for i, p in enumerate(["table scan", "agg row", "io", "fast slow io"])]

    def run():
        idx = build_index_from(docs, text_col="text", cache=False)
        postings, shard_meta = build_postings(idx, docs_per_shard=16, block_span=4, n_buckets=4)
        pos = build_positional_postings(docs, docs_per_shard=16, block_span=4, n_buckets=4)
        q = make_phrase_topk(pos, block_span=4, n_buckets=4)
        return (
            _sorted_rows(postings),
            _sorted_rows(shard_meta),
            _sorted_rows(pos),
            _sorted_rows(q.query_set(phrases)),
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = run()
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        small = run()
    finally:
        spark.conf.set(key, old)
    assert all(default), [len(x) for x in default]
    assert small == default


_SHUFFLE = re.compile(r"(?<!Broadcast)Exchange\s")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_plans_use_one_mapinpandas_per_grouping(spark, tmp_path, monkeypatch):
    """No grouped-map node (FlatMapGroupsInPandas) under WAND query,
    phrase query, compaction or batch MMR; WAND query keeps exactly one
    shuffle after the scan."""
    from local_search_engine_spark.operators.diversity import mmr_rerank_batch
    from local_search_engine_spark.operators.positional import (
        append_positional_postings,
        build_positional_postings,
        compact_positional_postings,
        load_positional_postings,
        make_phrase_topk,
        persist_positional_postings,
    )
    from local_search_engine_spark.operators.wand import make_wand_topk
    from local_search_engine_spark.plans.checkpoint import (
        build_persisted_index,
        load_index,
    )
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    d = str(tmp_path / "idx")
    build_persisted_index(
        spark, gen_corpus_spark(spark, 40, partitions=4), d,
        docs_per_shard=16, block_span=8, n_buckets=4, n_groups=2,
    )
    idx, postings, shard_meta, stats = load_index(spark, d)
    wand = make_wand_topk(
        idx, postings, shard_meta, block_span=stats["block_span"],
        n_buckets=stats["n_buckets"],
    )
    wplan = _plan(wand("table merge shard", 5))
    assert "MapInPandas" in wplan and "FlatMapGroupsInPandas" not in wplan, wplan
    assert len(_SHUFFLE.findall(wplan)) == 1, wplan

    path = str(tmp_path / "pos")
    params = {"docs_per_shard": 16, "block_span": 8, "n_buckets": 4}
    docs = _docs(spark, 50)
    persist_positional_postings(
        build_positional_postings(docs.filter("doc_id < 30"), **params), path, params=params
    )
    append_positional_postings(spark, path, docs.filter("doc_id >= 30"))
    q = make_phrase_topk(load_positional_postings(spark, path), block_span=8, n_buckets=4)
    for df in (q("table scan", 5), q.query_set([(0, "table scan", 5), (1, "agg row", 3)])):
        p = _plan(df)
        assert "MapInPandas" in p and "FlatMapGroupsInPandas" not in p, p

    written = []
    cls = type(spark.range(1))
    orig = cls.write
    monkeypatch.setattr(
        cls, "write",
        property(lambda self: (written.append(_plan(self)), orig.fget(self))[1]),
    )
    compact_positional_postings(spark, path)
    monkeypatch.undo()
    assert written and all(
        "MapInPandas" in p and "FlatMapGroupsInPandas" not in p for p in written
    ), written

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cands = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 0.5)], "qid long, doc_id long, score double"
    )
    p = _plan(mmr_rerank_batch(cands, emb, k=2))
    assert "MapInPandas" in p and "FlatMapGroupsInPandas" not in p, p


def _index_bits(idx):
    """Every statistic of an index as exact bits: n_docs, avgdl and
    avg_idf, every idf row and every doc_len."""
    idf = tuple(
        (r["term"], r["df"], r["idf_raw"].hex(), r["idf"].hex())
        for r in idx.idf.orderBy("term").collect()
    )
    doc_lens = tuple(
        (r["doc_id"], float(r["doc_len"]).hex())
        for r in idx.docs.select("doc_id", "doc_len").orderBy("doc_id").collect()
    )
    return idx.n_docs, idx.avgdl.hex(), idx.avg_idf.hex(), idf, doc_lens


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_idf_is_bit_identical_across_layouts(spark, sf, tmp_path):
    """An index's statistics do not depend on how the corpus is
    partitioned: input repartition(1) vs repartition(7), each under two
    shuffle-partition counts, for every builder — the single-field
    build, a three-field BM25F build with weights that are not binary
    fractions, merge_index and PersistedIndexState."""
    import os
    import uuid

    from __spark_entry__ import SF0001
    from local_search_engine_spark.operators.build import (
        build_index_fields,
        build_index_from,
    )
    from local_search_engine_spark.streaming.merge import PersistedIndexState, merge_index

    path = os.path.join(os.path.dirname(SF0001), sf, "documents.parquet")
    docs = spark.read.parquet(path).select("doc_id", "text", "source", "lang")

    def halves(d):
        text = d.select("doc_id", "text")
        return text.filter("doc_id % 2 = 0"), text.filter("doc_id % 2 = 1")

    def persisted(d):
        state = PersistedIndexState(spark, str(tmp_path / uuid.uuid4().hex))
        for batch_id, half in enumerate(halves(d)):
            state.append_batch(half, batch_id, text_col="text")
        return state.load_index()

    def merged(d):
        even, odd = halves(d)
        return merge_index(build_index_from(even, text_col="text", cache=False), odd, text_col="text")

    builders = {
        "bm25": lambda d: build_index_from(d.select("doc_id", "text"), text_col="text", cache=False),
        "bm25f": lambda d: build_index_fields(d, {"text": 0.3, "source": 1.7, "lang": 0.9}),
        "merge": merged,
        "persisted": persisted,
    }
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    seen = {}
    try:
        for parts in (1, 7):
            for shuffle in (4, 13):
                spark.conf.set(key, str(shuffle))
                layout = docs.repartition(parts)
                for name, build in builders.items():
                    seen[(name, parts, shuffle)] = _index_bits(build(layout))
    finally:
        spark.conf.set(key, saved)
    for name in builders:
        bits = {k[1:]: v for k, v in seen.items() if k[0] == name}
        assert len(set(bits.values())) == 1, (name, {k: v[:3] for k, v in bits.items()})
    # the merged and persisted indexes equal the single-field build
    assert seen[("merge", 1, 4)] == seen[("persisted", 1, 4)] == seen[("bm25", 1, 4)]
