"""plans/layout.local_rows: driver-built rows as an Arrow LocalTableScan.

Exact schemas (DDL or StructType, empty or not, nested columns), and no
`Scan ExistingRDD` — the leaf that ran defaultParallelism Python tasks
per driver-built table — left under the query operators that build
tables on the driver.
"""

from __future__ import annotations

import pytest

from local_search_engine_spark.plans.layout import local_rows

VOCAB = ["table", "scan", "agg", "row", "part", "fast", "slow", "io"]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _leaf_is_local(df):
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_empty_rows_exact_schema(spark):
    from pyspark.sql import types as T

    ddl = "rank int, doc_id long, score double, hit boolean, term string"
    df = local_rows(spark, [], ddl)
    assert df.schema == T._parse_datatype_string(ddl)
    assert df.collect() == []
    _leaf_is_local(df)


def test_rows_exact_schema_and_values(spark):
    from pyspark.sql import types as T

    ddl = "query_id int, term string, qtf double, k long"
    rows = [(0, "table", 2.0, 10), (1, "scan", 1.0, 5)]
    df = local_rows(spark, rows, ddl)
    assert df.schema == T._parse_datatype_string(ddl)
    assert [tuple(r) for r in df.collect()] == rows
    _leaf_is_local(df)


@pytest.mark.parametrize("rows", [[], [(1, [2, 3], ["a"], (4, "x")), (2, None, [], None)]])
def test_struct_type_and_nested_columns(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.IntegerType(), False),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("terms", T.ArrayType(T.StringType(), False)),
        T.StructField("s", T.StructType([
            T.StructField("n", T.IntegerType()),
            T.StructField("t", T.StringType()),
        ])),
    ])
    df = local_rows(spark, rows, schema)
    assert df.schema == schema
    got = [(r["id"], r["ids"], r["terms"], None if r["s"] is None else tuple(r["s"]))
           for r in df.collect()]
    assert got == rows
    _leaf_is_local(df)


@pytest.fixture(scope="module")
def indexes(spark):
    import random

    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.operators.positional import (
        build_positional_postings,
        make_phrase_topk,
    )
    from local_search_engine_spark.operators.postings import build_postings
    from local_search_engine_spark.operators.wand import make_wand_topk

    rng = random.Random(5)
    docs = local_rows(
        spark,
        [(i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 20))))
         for i in range(40)],
        "doc_id long, text string",
    ).cache()
    idx = build_index_from(docs, text_col="text")
    postings, shard_meta = build_postings(idx, docs_per_shard=16, block_span=4, n_buckets=4)
    wand = make_wand_topk(idx, postings.cache(), shard_meta.cache(), block_span=4, n_buckets=4)
    pos = build_positional_postings(docs, docs_per_shard=16, block_span=4, n_buckets=4)
    phrases = make_phrase_topk(pos.cache(), block_span=4, n_buckets=4)
    return idx, wand, phrases


def _jobs_of(spark, df):
    """Collect df under a fresh job group; (rows, number of jobs)."""
    sc = spark.sparkContext
    group = f"local-rows-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_no_existing_rdd_under_query_operators(spark, indexes):
    from local_search_engine_spark.operators import boolquery
    from local_search_engine_spark.operators.query import run_query_set, score_terms

    idx, wand, phrases = indexes
    oov = "zzqoov qqzzoov"
    plans = {
        "wand k=0": wand("table scan", 0),
        "wand oov": wand(oov, 5),
        "wand": wand("table scan", 5),
        "wand query_set oov": wand.query_set([(0, oov, 5), (1, "zzqoov", 3)]),
        "run_query_set": run_query_set(idx, [(0, "table scan", 5), (1, "agg io", 3)]),
        "score_terms": score_terms(idx, {"table": 1, "scan": 2}),
        "bool constant-false": boolquery.topk(idx, "(table scan io)~2", 5),
        "bool terms": boolquery.topk(idx, "table AND NOT scan", 5),
        "phrase oov": phrases(oov, 5),
        "near oov": phrases.near(oov, 5, 3),
        "phrase query_set oov": phrases.query_set([(0, oov, 5), (1, "zzqoov io", 3)]),
    }
    for name, df in plans.items():
        assert "ExistingRDD" not in _plan(df), (name, _plan(df))
    # the empty and constant-false answers are folded on the driver
    for name in ("wand k=0", "bool constant-false"):
        rows, jobs = _jobs_of(spark, plans[name])
        assert rows == [] and jobs == 0, (name, rows, jobs)
    rows, jobs = _jobs_of(spark, plans["bool terms"])
    assert rows and jobs > 0
