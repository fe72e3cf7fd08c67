"""Composed corpus-cleaning pipeline — the end-to-end training-data
prep flow a 100 TB pipeline runs before indexing/training:

    exact dedup (keep min-id)  ∧  quality floor  ∧  repetition filter
    ∧  benchmark decontamination  →  keep verdict per doc, with the
    failing reason(s) visible (never a silent drop).

One pass over the docs: a JVM md5 digest, carried through one per-doc
kernel that runs textstats' own quality_of and repetition_of, then one
window for exact dedup (dedup.with_canonical_id). The only join left is
decontamination's broadcast probe, made only when a benchmark is given.
Null text is cleaned as "". No reference analogue (the reference
indexes everything it is given); required by the task's
training-data-pipeline brief.
"""

from __future__ import annotations

from .dedup import benchmark_contamination, text_md5, with_canonical_id
from .textstats import REPETITION_SCHEMA, per_doc, quality_of, repetition_of, repetition_verdict


def _clean_signals(text: str, toks: list[str]) -> tuple:
    return quality_of(text, toks)[-1:] + repetition_of(text, toks)


def clean_corpus(
    docs,
    benchmark=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.30,
    contamination_n: int = 3,
    contamination_min_ratio: float = 0.1,
):
    """(doc_id, is_dup, quality_ok, repetition_pass, decontam_ok, keep):
    one verdict row per input doc; `filter(keep)` joined back to the
    source IS the cleaned corpus. benchmark=None skips decontamination
    (decontam_ok = true)."""
    from pyspark.sql import functions as F

    keyed = docs.select(
        F.col(id_col).alias("doc_id"), text_md5(F.col(text_col)).alias("_digest"), text_col
    )
    signals = per_doc(
        keyed, _clean_signals, "quality double, " + REPETITION_SCHEMA, text_col, carry=("_digest",)
    )
    out = with_canonical_id(signals, "_digest").select(
        "doc_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
        # threshold the ROUNDED score: the 6-dp canonical form is the
        # cross-engine-stable value (raw float64 sums can differ in the
        # last ulp between engines and flip a doc sitting on the floor)
        (F.round("quality", 6) >= min_quality).alias("quality_ok"),
        repetition_verdict(max_dup_line_frac, max_dup_ngram_frac).alias("repetition_pass"),
    )
    if benchmark is not None:
        dec = benchmark_contamination(
            docs,
            benchmark,
            text_col,
            id_col,
            text_col,
            n=contamination_n,
            min_ratio=contamination_min_ratio,
        ).select("doc_id", (~F.col("is_contaminated")).alias("decontam_ok"))
        out = out.join(dec, "doc_id")
    else:
        out = out.withColumn("decontam_ok", F.lit(True))
    return out.withColumn(
        "keep",
        ~F.col("is_dup")
        & F.col("quality_ok")
        & F.col("repetition_pass")
        & F.col("decontam_ok"),
    )
