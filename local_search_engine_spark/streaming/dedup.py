"""Content deduplication by first arrival: which arrival of each
distinct content a corpus keeps when copies stream in.

  * first_seen — one row per distinct content digest, the (min
    event-time, then min doc_id) arrival, with the arrival count.
    SQL-expressible, hence the driver gate's oracle. One digest-keyed
    shuffle (uniform 16-byte key, map-side combinable struct-min).

On a stream, Spark's own `withWatermark(ts)` +
`dropDuplicatesWithinWatermark` over `md5(text)` drops re-arrivals with
bounded state; the package does not wrap it.

No reference analogue (the reference's incremental add re-indexes
whatever it is given, reference retriever.py:268-310); part of the
beyond-reference training-data-pipeline surface.
"""

from __future__ import annotations


def first_seen(docs, text_col: str = "text", id_col: str = "doc_id", ts_col: str = "ts"):
    """(text_md5, doc_id, ts, n_arrivals): the earliest
    (ts, doc_id) arrival per distinct content, with the arrival count.
    min_by over a (ts, doc_id) struct keeps winner selection in ONE
    map-side-combinable aggregation (no join back)."""
    from pyspark.sql import functions as F

    keyed = docs.select(
        F.md5(F.col(text_col)).alias("text_md5"),
        F.struct(F.col(ts_col).alias("ts"), F.col(id_col).alias("doc_id")).alias("arr"),
    )
    return (
        keyed.groupBy("text_md5")
        .agg(
            F.min("arr").alias("w"),
            F.count("*").cast("long").alias("n_arrivals"),
        )
        .select(
            "text_md5",
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.ts").alias("ts"),
            "n_arrivals",
        )
    )

