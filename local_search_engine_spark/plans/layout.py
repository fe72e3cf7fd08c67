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
placement cannot change results: per-row kernels, integer/exact
aggregations, per-pair verification — never upstream of a float
aggregate whose summation order feeds a result (avgdl/avg_idf-style
scalars).

`group_in_partitions` is the engine's one way to run a Python kernel
per key group (postings encode, shard_meta pack, WAND and phrase
scoring, positional compaction, batch MMR): hash repartition on the
keys, sort within partitions, then ONE mapInPandas whose iterator cuts
each Arrow batch at key boundaries. Grouped-map applyInPandas would
pay an Arrow round trip per group (measured ~1 s per ~2 000 groups);
concatenating the whole partition before a pandas groupby would make
task memory scale with the partition. Here a task holds at most the
largest group plus one batch.
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


def group_in_partitions(df, keys, fn, schema):
    """Run fn(group_pdf) → pandas frame once per distinct `keys` value
    of `df`; returns the outputs as a DataFrame of `schema`.

    Plan: Exchange hashpartitioning(keys) → Sort(keys) within
    partitions → MapInPandas — the same exchange and sort grouped-map
    plans, without the per-group Arrow round trip. Each group reaches
    fn whole and exactly once (see iter_groups). Key columns must be
    non-null: a null integer key arrives as NaN, which never compares
    equal, so its rows would split into one-row groups."""
    keys = list(keys)

    def kernel(batches):
        return iter_groups(batches, keys, fn)

    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(kernel, schema)
    )
