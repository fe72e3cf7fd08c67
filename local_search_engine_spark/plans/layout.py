"""Scale-adaptive input layout for expensive per-row kernels.

The classic input-skew failure (optimization guide §2.5): a corpus that
arrives as one unsplittable unit — a single-row-group Parquet file, one
gzip part, a tiny table AQE never needed to spread — scans as 1-2
partitions, and every Arrow kernel downstream (tokenize/hash/PDF/embed)
then runs on 1-2 cores of the whole cluster. The fix is the guide's:
"repartition immediately after the read", but ONLY when the input is
actually thin — a healthy 100 TB scan with thousands of splits must not
pay a full extra shuffle of the corpus.

`widen_for_kernel` is that conditional: shuffle-free plan + fewer scan
partitions than half the session's default parallelism → round-robin
repartition to default parallelism; anything else is returned untouched
(post-shuffle layouts are already spread by shuffle.partitions plus
AQE's parallelism-first coalescing). Callers apply it only where row
placement cannot change results: per-row kernels, exact aggregations,
per-pair verification. build.exact_sum is the index's exact sum: an
integer column as it is, a double as DECIMAL(38,18), so doc_len, avgdl,
avg_idf and BM25F's blended tf do not depend on the layout for any
field weights. A double sum depends on summation order, so never widen
upstream of one whose value feeds a result.

`group_in_partitions` is the engine's one way to run a Python kernel
per key group (postings encode, shard_meta pack, WAND and phrase
scoring, positional compaction, batch MMR): hash repartition on the
keys, sort within partitions, then ONE mapInPandas whose iterator cuts
each Arrow batch at key boundaries. Grouped-map applyInPandas would
pay an Arrow round trip per group (measured ~1 s per ~2 000 groups);
concatenating the whole partition before a pandas groupby would make
task memory scale with the partition. Here a task holds at most the
largest group plus one batch.

`local_rows` is the engine's one way to turn driver-built rows (empty
answers, small fixed tables) into a DataFrame: an Arrow table planned as
a LocalTableScan. A Python-list `createDataFrame` would plan a Scan
ExistingRDD that runs defaultParallelism Python tasks even for zero
rows; the Arrow leaf runs none, and an empty one lets the optimizer fold
the plan above it away.

`sql_lit` is the engine's one way to put a per-query constant (query
terms, bucket ids, qtf/boost weights, leaf ids, per-query k) into a
plan: SQL text the analyzer parses back to exactly that value. A query
filter is then one `filter(str)` call and a term -> weight table is one
`map(...)` literal read with element_at — one JVM round trip each,
where a Column built literal by literal costs one per literal, and a
driver-built table costs a LocalTableScan plus a broadcast join.
"""

from __future__ import annotations

import re

_SHUFFLE_EXCHANGE = re.compile(r"(?<!Broadcast)Exchange\s")


def widen_for_kernel(df, min_factor: int = 2):
    """Return `df`, round-robin repartitioned to the session default
    parallelism iff its physical plan is shuffle-free AND its scan
    yields fewer than defaultParallelism/min_factor partitions.

    The partition probe (`df.rdd.getNumPartitions`) is free exactly when
    the plan has no shuffle Exchange (no job is run to build the RDD),
    which is why the plan is string-checked first — probing a shuffled
    plan under AQE executes the upstream stages. Row-set identical by
    construction: repartition only moves rows."""
    try:
        # executedPlan, not sparkPlan: exchanges are inserted by the
        # EnsureRequirements preparation phase, so the pre-preparation
        # sparkPlan NEVER contains them and the guard would not fire.
        # Building executedPlan is planning only — no job runs.
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return df
    if _SHUFFLE_EXCHANGE.search(plan):
        return df
    sc = df.sparkSession.sparkContext
    target = int(sc.defaultParallelism)
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if parts * min_factor <= target:
        return df.repartition(target)
    return df


def iter_groups(batches, keys, fn):
    """The per-partition iterator of group_in_partitions, Spark-free.

    batches: pandas frames sorted by `keys` (consecutive batches may
    split a group). Calls fn(group_pdf) once per complete key group, in
    key order, and yields the non-empty outputs concatenated once per
    input batch. Only the unfinished last group of a batch is carried
    to the next one, so the rows held at any moment are at most the
    largest group plus one batch."""
    import numpy as np
    import pandas as pd

    def concat(frames):
        return frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    def run(groups):
        outs = [out for out in map(fn, groups) if len(out)]
        if outs:
            yield concat(outs)

    pending: list = []  # slices of the group still open at the last batch end
    last_key = None
    for pdf in batches:
        n = len(pdf)
        if not n:
            continue
        cols = [pdf[k].to_numpy() for k in keys]
        starts = np.zeros(n, dtype=bool)
        starts[0] = last_key is None or any(c[0] != v for c, v in zip(cols, last_key))
        for c in cols:
            starts[1:] |= c[1:] != c[:-1]
        last_key = [c[-1] for c in cols]
        cut = np.flatnonzero(starts)
        if cut.size == 0:
            pending.append(pdf)
            continue
        if cut[0] > 0:
            pending.append(pdf.iloc[: cut[0]])
        groups = [concat(pending)] if pending else []
        groups.extend(pdf.iloc[s:e] for s, e in zip(cut[:-1], cut[1:]))
        pending = [pdf.iloc[cut[-1] :]]
        yield from run(groups)
    if pending:
        yield from run([concat(pending)])


def group_in_partitions(df, keys, fn, schema, lookup=None):
    """Run fn(group_pdf) → pandas frame once per distinct `keys` value
    of `df`; returns the outputs as a DataFrame of `schema`.

    Plan: Exchange hashpartitioning(keys) → Sort(keys) within
    partitions → MapInPandas — the same exchange and sort grouped-map
    plans, without the per-group Arrow round trip. Each group reaches
    fn whole and exactly once (see iter_groups). Key columns must be
    non-null: a null integer key arrives as NaN, which never compares
    equal, so its rows would split into one-row groups.

    lookup=(table, on): a small table (unique `on`, non-null other
    columns) whose columns are added to every row of `df` by a
    broadcast join placed AFTER the exchange, so its broadcast runs as a
    sibling stage of the map stage that feeds the exchange instead of
    before it. Inner-join semantics for rows with a non-null `on` (no
    match → row dropped); rows whose `on` is null pass through with null
    lookup columns (the tagged side of a union, e.g. WAND's shard
    rows)."""
    keys = list(keys)

    def kernel(batches):
        return iter_groups(batches, keys, fn)

    out = df.repartition(*keys)
    if lookup is not None:
        from pyspark.sql import functions as F

        table, on = lookup
        value = next(c for c in table.columns if c != on)
        out = out.join(F.broadcast(table), on, "left").filter(
            f"{on} IS NULL OR {value} IS NOT NULL"
        )
    return out.sortWithinPartitions(*keys).mapInPandas(kernel, schema)


def sql_lit(value) -> str:
    """SQL text that Spark's analyzer parses back to exactly `value`.

    str → a quoted literal (backslash and quote escaped; every other
    character verbatim); bool → true/false; int → INT, or BIGINT (`L`)
    outside the 32-bit range; float → a DOUBLE literal from repr, which
    round-trips bit-exactly (±inf and NaN as casts); None → NULL;
    list/tuple → array(...); dict → map(...) in iteration order."""
    import math
    import numbers

    if value is None:
        return "NULL"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, numbers.Integral):
        v = int(value)
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(value, numbers.Real):
        v = float(value)
        if math.isfinite(v):
            return f"{v!r}D"
        word = {"inf": "Infinity", "-inf": "-Infinity", "nan": "NaN"}[repr(v)]
        return f"CAST('{word}' AS DOUBLE)"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(map(sql_lit, value)) + ")"
    if isinstance(value, dict):
        return "map(" + ", ".join(
            f"{sql_lit(k)}, {sql_lit(v)}" for k, v in value.items()
        ) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__}")


def sql_in(column: str, values) -> str:
    """`column IN (v1, v2, ...)` over sql_lit literals — a predicate
    Spark pushes into Parquet scans (partition pruning on a partition
    column). `values` must be non-empty."""
    return f"{column} IN ({', '.join(map(sql_lit, values))})"


def local_rows(spark, rows, schema):
    """DataFrame of exactly `schema` (a DDL string or a StructType)
    holding `rows` (tuples in schema order; may be empty; array and
    struct columns allowed), built driver-side as a pyarrow Table so
    its plan leaf is a LocalTableScan — no Python task, no job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
