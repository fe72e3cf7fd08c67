"""Inverted-index build as DataFrame aggregations.

Replaces the reference's per-document in-memory rank_bm25.BM25Okapi
construction (reference preprocessing.py:513) with a GLOBAL index: the
reference computes IDF within each file only and then merges scores from
different files as if comparable (SURVEY.md §4.1 defect 5); the north
rule pins a global inverted index with global df/idf/avgdl.

Dataflow (one Python kernel for the analyzer, then built-in Catalyst
aggregation, broadcast joins, pushdown, AQE):

  corpus (repo,path,commit,lang,content)
    → tf        (doc_id, term) → tf                 [one mapInPandas, no shuffle]
    → docs      doc_id, content_sha256, doc_len     [with_doc_lens: sum(tf) per doc]
    → stats     n_docs, avgdl                       [doc_len_stats: tiny agg, collected]
    → dfreq     term → df                           [map-side partial agg]
    → idf       two-pass epsilon floor (needs the global mean of raw idf)

Every sum is exact (exact_sum), so no value depends on the partition
layout. Every builder derives doc_len with with_doc_lens, n_docs and
avgdl with doc_len_stats and idf with idf_table; every in-memory index
is built by assemble_index, which runs the last two.

BM25Okapi semantics reproduced exactly (SURVEY.md §2.10):
  idf_raw(t) = ln(N - df + 0.5) - ln(df + 0.5)
  idf(t)     = epsilon * mean(idf_raw over vocabulary)   if idf_raw < 0
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .. import BM25_B, BM25_EPSILON, BM25_K1
from ..functions.tokenize import tokenize_py


# Broadcast the doc_id table when the corpus has at most this many rows
# (~100 B/row of key strings → ≤ ~200 MB broadcast). Above it, the id
# join is a key-shuffle join.
BROADCAST_IDS_MAX_ROWS = 2_000_000


@dataclass
class BM25Params:
    k1: float = BM25_K1  # BASELINE.json pins 1.2 (rank_bm25 default is 1.5)
    b: float = BM25_B
    epsilon: float = BM25_EPSILON


@dataclass
class InvertedIndex:
    """Logical index: a bundle of DataFrames + collected scalar stats."""

    docs: object  # doc_id, repo, path, commit, lang, content_sha256, doc_len
    tf: object  # doc_id, term, tf
    idf: object  # term, df, idf_raw, idf
    n_docs: int
    avgdl: float
    avg_idf: float
    params: BM25Params = field(default_factory=BM25Params)
    postings: object | None = None  # compressed blocks (operators/postings.py)


# monotonically_increasing_id keeps a row's position in its partition
# in the low 33 bits and the partition index above them
LOCAL_BITS = 33


def assign_doc_ids(corpus, partitions: int | None = None):
    """Deterministic doc_id = 0-based global rank by the unique corpus
    key (repo, path, commit) — the identity contract shared with the
    oracle (SURVEY.md §7.2) — computed scalably:

      range-shuffle on the key into P ordered partitions
        → sortWithinPartitions(key)
        → persist  (pins the partitioning: the counting pass and the
           id pass must see identical partition boundaries — range
           sampling must not re-run per action)
        → one tokenize-free count-per-partition job, which also fills
           the cache and checks the enumeration → driver prefix sums
        → JVM enumeration: each row's position within its range
           partition (parallel) + the prefix offset via a literal map;
           doc_id = offset + local row position.

    The v0 shape — row_number() over a global ORDER BY window — funneled
    every byte of content through ONE task and left the result
    single-partitioned, serializing tokenization downstream (measured:
    index build speedup 8→32 cores was 1.3× before, because the only
    parallel stages were post-shuffle aggregations). Rank arithmetic
    here is boundary-independent: any disjoint ordered ranges give the
    same global rank, since within-partition order + prefix offsets
    reconstruct the total order.

    Only the KEY COLUMNS flow through the rank machinery: ids are
    computed over a (repo, path, commit) projection — Parquet column
    pruning keeps content out of that scan entirely — and joined back
    to the corpus JVM-side. (An earlier mapInPandas enumeration shipping
    full rows measured ~2x SLOWER at 8 executors than at 2: the Arrow
    round trip of the content column was the whole cost, and it
    anti-scaled; the keys-only JVM rank is also what survives 10^12
    files — the persisted rank state is keys, not corpus.)

    The local position is monotonically_increasing_id's low LOCAL_BITS
    bits and the partition is spark_partition_id(), both projected over
    the cached key table, so both come from the task reading one cached
    partition: no window, no exchange of the key table. (A row_number()
    over Window.partitionBy(partition) was semantically identical, but
    Catalyst cannot see that the column matches the physical
    partitioning, so it hash-exchanged the whole key table first.)

    The enumeration check is sound and needs no second action. The one
    job that counts the partitions also aggregates, per partition, the
    min and max of the local position, projected first (Spark rejects a
    nondeterministic expression inside an aggregate). Within one
    partition monotonically_increasing_id is strictly increasing from
    0, so a partition of count < 2^LOCAL_BITS rows has local positions
    exactly 0..count−1; doc_id_offsets raises unless every partition
    shows count < 2^LOCAL_BITS, min == 0 and max == count − 1, which is
    what dense, distinct ids [0, n_keys) need (a larger partition wraps
    its positions into repeats, and max falls short). The id pass reads
    the same cached blocks; an evicted block recomputes the same rows in
    the same order, because the unique key totally orders a partition.

    Returns (the corpus with doc_id + content_sha256, the persisted key
    table, n_keys, the number of key rows). Every action over the first
    re-reads the second, so the caller unpersists the key table once
    those actions have run or their results are cached. A key that
    names several corpus rows gets several ids and the join fans out, so
    such a corpus yields more than n_keys docs: check_unique_keys
    catches it from a count the caller runs anyway.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    spark = corpus.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    key = ["repo", "path", "commit"]
    k = (
        corpus.select(*key)
        .repartitionByRange(partitions, *key)
        .sortWithinPartitions(*key)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << LOCAL_BITS) - 1))
    parts = (
        k.select(F.spark_partition_id().alias("pid"), local.alias("local"))
        .groupBy("pid")
        .agg(F.count("*"), F.min("local"), F.max("local"))
        .collect()
    )
    offsets, n_keys = doc_id_offsets(map(tuple, parts))

    off = F.create_map(
        *[F.lit(x) for pid, o in sorted(offsets.items()) for x in (pid, o)]
    )
    ids = k.withColumn("doc_id", off[F.spark_partition_id()] + local)
    # n_keys is known exactly — broadcast the id table outright when it
    # is small so the CONTENT never shuffles: tokenize then runs
    # straight off the (column-pruned) source scan at full width. Past
    # the threshold this is a sort-merge join on the key — the same cost
    # class as the range shuffle, and cluster-scalable.
    if n_keys <= BROADCAST_IDS_MAX_ROWS:
        ids = F.broadcast(ids)
    out = corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    return out.join(ids, key), k, n_keys


def with_doc_ids(corpus, partitions: int | None = None):
    """(the corpus with doc_id + content_sha256, the persisted key
    table): assign_doc_ids without the key count."""
    out, keys, _ = assign_doc_ids(corpus, partitions)
    return out, keys


def doc_id_offsets(parts) -> tuple[dict[int, int], int]:
    """(first doc id of each partition, total rows) from the
    (partition, count, min, max) of the local positions of every
    non-empty partition. Raises RuntimeError unless each partition's
    positions are exactly 0..count−1 (assign_doc_ids argues why these
    three numbers prove it)."""
    offsets: dict[int, int] = {}
    total = 0
    for pid, n, lo, hi in sorted(parts):
        if not (n < 1 << LOCAL_BITS and lo == 0 and hi == n - 1):
            raise RuntimeError(
                f"doc-id enumeration invariant violated in partition {pid}: "
                f"{n} rows at local positions [{lo}, {hi}], expected [0, {n - 1}] "
                f"— a partition likely reached 2^{LOCAL_BITS} rows or a cache "
                "recompute changed the layout"
            )
        offsets[pid] = total
        total += n
    return offsets, total


def check_unique_keys(n_docs: int, n_keys: int) -> None:
    """Raise ValueError when an index over assign_doc_ids' corpus has
    more docs than the key table has rows: a (repo, path, commit) key
    names several corpus rows, and the id join fanned them out."""
    if n_docs != n_keys:
        raise ValueError(
            f"duplicate corpus keys: {n_keys} (repo, path, commit) rows "
            f"became {n_docs} docs — each key must name one corpus row"
        )


def term_frequencies(docs, text_col: str = "content"):
    """Per-doc term frequencies (doc_id, term, tf) — tokenize_py's one
    index-time path; positional postings, percolate and the query side
    call the same analyzer.

    One mapInPandas kernel: per doc, tokenize_py(text) → Counter → one row
    per distinct term, in ascending term order (code point order, which
    is Spark's string order), so a doc's rows and the written parquet do
    not depend on the analyzer's token order. A doc with null text or no tokens emits
    no row. No token array is materialized, nothing is exchanged, and
    the output stays clustered by doc_id in input order. Measured (4
    vCPU, 20 k docs, median of 8): 0.42 s on local[4] and 0.47 s on
    local-cluster[2,2,1536], against 0.87 / 0.91 s for a pandas-UDF
    tokens column counted by an array_sort run-length lambda plan and
    0.97 / 1.02 s for the same column through explode + groupBy."""
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            docs.schema["doc_id"],
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.LongType()),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            rows, terms, tfs = [], [], []
            for i, text in enumerate(pdf[text_col].tolist()):
                if text is None:
                    continue
                for term, n in sorted(Counter(tokenize_py(text)).items()):
                    rows.append(i)
                    terms.append(term)
                    tfs.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[rows],
                    "term": terms,
                    "tf": np.asarray(tfs, dtype=np.int64),
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(kernel, schema)


def doc_freqs(tf):
    """A2: df(t) = distinct docs containing t — count over the (doc_id,
    term)-unique tf table, so a plain count, no countDistinct shuffle."""
    from pyspark.sql import functions as F

    return tf.groupBy("term").agg(F.count("*").alias("df"))


def exact_sum(df, col: str):
    """sum(col) whose value does not depend on the summation order, so
    not on the partition layout: an integer column sums as it is, any
    other as DECIMAL(38,18), which is exact and associative."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(col)
    if not isinstance(df.schema[col].dataType, T.IntegralType):
        c = c.cast("decimal(38,18)")
    return F.sum(c)


def idf_table(dfreq, n_docs: int, epsilon: float = BM25_EPSILON):
    """A5: two-pass epsilon-floored IDF (SURVEY.md §4.3 item 3).

    Pass 1 computes raw idf per term; pass 2 needs the global mean of raw
    idf (a one-row aggregate collected to the driver) to floor negatives
    at epsilon * avg_idf. Returns (idf DataFrame, avg_idf scalar).
    """
    from pyspark.sql import functions as F

    raw = dfreq.withColumn(
        "idf_raw",
        F.log(F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        - F.log(F.col("df") + F.lit(0.5)),
    )
    # summed exactly and divided on the driver
    total, n = raw.agg(exact_sum(raw, "idf_raw"), F.count("*")).first()
    avg_idf = float(total / n) if n else 0.0
    eps = epsilon * avg_idf
    idf = raw.withColumn(
        "idf",
        F.when(F.col("idf_raw") < 0, F.lit(eps)).otherwise(F.col("idf_raw")),
    )
    return idf, avg_idf


def with_doc_lens(meta, tf):
    """The docs table: meta (one row per doc_id) plus doc_len, the exact
    sum of the doc's tf (tf counts every kept token), 0 for a doc
    without tf rows. doc_len is an int over an integer tf and a double
    otherwise (BM25F's blended tf).

    The join is a sort-merge join whatever the planner would pick, so
    the rows always land in doc_id hash partitions, each in doc_id
    order: a broadcast join would keep meta's layout instead, and the
    written docs table's bytes would follow the join strategy."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    integral = isinstance(tf.schema["tf"].dataType, T.IntegralType)
    lens = tf.groupBy("doc_id").agg(
        exact_sum(tf, "tf").cast("int" if integral else "double").alias("doc_len")
    )
    return meta.join(lens.hint("merge"), "doc_id", "left").withColumn(
        "doc_len", F.coalesce(F.col("doc_len"), F.lit(0))
    )


def doc_len_stats(docs, by, aggs) -> tuple[int, float, list]:
    """(n_docs, avgdl, rows) of a docs table (with_doc_lens) from one
    aggregate grouped by the columns `by` (none: one group): per group
    its row count `n`, its exact doc_len total `len` and the extra
    aggregates `aggs`, which are the collected rows. The driver sums
    the groups exactly and divides, correctly rounded, so n_docs and
    avgdl do not depend on the grouping."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    rows = (
        docs.groupBy(*by)
        .agg(F.count("*").alias("n"), exact_sum(docs, "doc_len").alias("len"), *aggs)
        .collect()
    )
    n_docs = sum(r["n"] for r in rows)
    total = sum(Fraction(r["len"]) for r in rows if r["n"])
    avgdl = float(total / n_docs) if n_docs else 0.0
    return n_docs, avgdl, rows


def assemble_index(docs, tf, params: BM25Params) -> InvertedIndex:
    """The index over a docs table (with_doc_lens) and its tf table:
    n_docs and avgdl from doc_len_stats, then df and the
    epsilon-floored idf from tf. Every in-memory builder ends here, so
    no statistic depends on the partition layout or on how the tables
    were assembled."""
    n_docs, avgdl, _ = doc_len_stats(docs, (), ())
    idf, avg_idf = idf_table(doc_freqs(tf), n_docs, params.epsilon)
    return InvertedIndex(
        docs=docs,
        tf=tf,
        idf=idf,
        n_docs=n_docs,
        avgdl=avgdl,
        avg_idf=avg_idf,
        params=params,
    )


def index_tables(docs_with_id, text_col: str = "content", cache: bool = True):
    """The (tf, docs) tables of build_index_from, planned but not run:
    no Spark job starts here. With cache=True both are cached, so the
    first action that reads them runs the tf kernel and every later
    reader (idf, postings, the persisted writes) shares that one run.

    Tokenization happens exactly ONCE, inside the term_frequencies
    kernel; the docs side-table is a tokenize-free projection (sha256 +
    metadata) with_doc_lens."""
    from pyspark.sql import functions as F

    # widen a thin scan before the tf kernel (single-row-group inputs
    # otherwise run the whole build on 1-2 cores). Row placement changes
    # no result: every sum downstream is exact.
    from ..plans.layout import widen_for_kernel

    tf = term_frequencies(
        widen_for_kernel(docs_with_id.select("doc_id", text_col)),
        text_col=text_col,
    )
    if cache:
        tf = tf.cache()
    meta = docs_with_id
    if "content_sha256" not in meta.columns:
        meta = meta.withColumn("content_sha256", F.sha2(F.col(text_col), 256))
    docs = with_doc_lens(meta.drop(text_col), tf)
    if cache:
        docs = docs.cache()
    return tf, docs


def build_index_from(
    docs_with_id,
    text_col: str = "content",
    params: BM25Params | None = None,
    cache: bool = True,
) -> InvertedIndex:
    """Index build over ANY table that already carries a unique doc_id
    bigint column + a text column (e.g. the testdata `documents` table).
    The InvertedIndex.docs keeps every input column except the raw text
    (column pruning — content is never carried past here).

    index_tables plans tf and docs; assemble_index adds the collected
    scalars (n_docs, avgdl, avg_idf) and the idf table."""
    tf, docs = index_tables(docs_with_id, text_col, cache)
    idx = assemble_index(docs, tf, params or BM25Params())
    if cache:
        idx.idf.cache()
    return idx


def build_index_fields(
    docs_with_id,
    field_weights: dict,
    params: BM25Params | None = None,
) -> InvertedIndex:
    """BM25F multi-field index (Robertson & Zaragoza's simplified BM25F;
    Elasticsearch `combined_fields`): the fields are treated as ONE
    combined field where each field's term occurrences count
    `field_weights[f]` times — per-field tf is blended BEFORE the BM25
    saturation, which is what distinguishes BM25F from naively summing
    per-field BM25 scores (a term saturates once across fields, so two
    mediocre fields cannot outscore one strong one):

        tf_blend(t, d)  = Σ_f  w_f · tf_f(t, d)
        dl_blend(d)     = Σ_f  w_f · len_f(d)     (= Σ_t tf_blend(t, d))
        score(q, d)     = Σ_t idf(t) · tf_blend·(k1+1)
                              / (tf_blend + k1·(1 − b + b·dl_blend/avgdl_blend))

    with df(t) = #docs containing t in ANY field and the same two-pass
    epsilon-floored idf as the single-field build.

    Returns a standard InvertedIndex whose tf and doc_len are DOUBLE —
    every downstream consumer (score_terms, topk, the boolean language,
    more_like_this, aggregations) works unchanged, because tf only ever
    enters the score as a double. The reference engine is single-field
    (`/root/reference/preprocessing.py:505-515` indexes one combined
    text blob with no per-field weighting); this is the engine EXTENSION
    a code-search deployment wants (`path^3 + content` makes filename
    hits outrank body hits).

    Scale shape: one tf kernel PER FIELD (each the same plan as the
    single-field build over that column), one
    unionByName (no shuffle), one (doc_id, term) groupBy — the blend
    shuffle replaces the single-field build's none, but it is keyed by
    (doc_id, term) so hot terms do not skew it. The blend, doc_len and
    avgdl are exact decimal sums of the w·tf products, so tf, doc_len,
    avgdl and idf are bit-identical across partitionings for any
    weights."""
    from pyspark.sql import functions as F

    if not field_weights:
        raise ValueError("field_weights must name at least one column")
    for fcol in sorted(field_weights):
        w = float(field_weights[fcol])
        if w <= 0:
            raise ValueError(f"field weight must be positive: {fcol}={w}")
        if fcol not in docs_with_id.columns:
            raise ValueError(
                f"unknown field column {fcol!r} — input has: "
                f"{sorted(docs_with_id.columns)}"
            )
    # same thin-scan widening rationale as build_index_from: the
    # per-field tf kernels are the cost
    from ..plans.layout import widen_for_kernel

    tok_src = widen_for_kernel(
        docs_with_id.select("doc_id", *sorted(field_weights))
    )
    blended = None
    for fcol in sorted(field_weights):
        w = float(field_weights[fcol])
        tf_f = term_frequencies(tok_src, text_col=fcol).select(
            "doc_id", "term", (F.col("tf") * F.lit(w)).alias("wtf")
        )
        blended = tf_f if blended is None else blended.unionByName(tf_f)
    # the blended tf is consumed by FIVE downstream subtrees (doc_lens,
    # the stats aggregate, doc_freqs→avg_idf, and the caller's scoring
    # join references tf + idf + docs — each a full copy of this
    # pipeline when uncached). Materialize it exactly ONCE with an
    # eager localCheckpoint (guide §5: cheap lineage cut): unlike
    # .cache() this never registers with the CacheManager, so a
    # repeated cold build re-executes the whole pipeline instead of
    # silently reusing a previous run's plan-equality cache entry.
    tf = (
        blended.groupBy("doc_id", "term")
        .agg(exact_sum(blended, "wtf").cast("double").alias("tf"))
        .localCheckpoint(eager=True)
    )
    meta = docs_with_id
    if "content_sha256" not in meta.columns:
        # per-row invariant over the COMBINED content: fields joined by
        # NUL in deterministic (sorted-name) order
        meta = meta.withColumn(
            "content_sha256",
            F.sha2(
                F.concat_ws("\x00", *[F.col(c) for c in sorted(field_weights)]),
                256,
            ),
        )
    docs = with_doc_lens(meta.drop(*field_weights), tf)
    return assemble_index(docs, tf, params or BM25Params())


def build_index(corpus, params: BM25Params | None = None) -> InvertedIndex:
    """End-to-end logical index build over an input_hint-shaped corpus
    (repo, path, commit, lang, content): assigns the canonical doc_id,
    then delegates to a cached build_index_from. The compressed
    block-max postings layer is added by operators/postings.py on top
    of this. Raises ValueError when two corpus rows share a key."""
    ids, keys, n_keys = assign_doc_ids(corpus)
    idx = build_index_from(ids, text_col="content", params=params)
    # the n_docs aggregate has filled the docs and tf caches, and idf
    # reads tf: nothing reads the key table again
    keys.unpersist()
    try:
        check_unique_keys(idx.n_docs, n_keys)
    except ValueError:
        for df in (idx.tf, idx.docs, idx.idf):
            df.unpersist()
        raise
    return idx
