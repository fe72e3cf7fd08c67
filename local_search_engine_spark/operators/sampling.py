"""Deterministic corpus sampling for training-data pipelines.

Web-scale pipelines never use RNG sampling (`df.sample`) for dataset
construction: it is irreproducible across retries/partitionings and
cannot be joined against later. The standard tool is HASH sampling —
keep a row iff h(key, salt) falls under the rate cutoff — which is
deterministic, stable under repartitioning, consistent across engines,
and lets two datasets sampled with the same salt stay join-compatible
(the "consistent sampling" property). Built on the portable md5-derived
h32 (functions/hashing.py), so a DuckDB oracle reproduces every verdict
bit-for-bit.

No reference analogue (the reference indexes everything); this is one of
the beyond-reference pipeline operators the task brief names. All pure
column expressions — zero shuffle, embarrassingly parallel.
"""

from __future__ import annotations

from ..functions.hashing import h32_col

# h32 is uniform on [0, 2^32); the cutoff is rate * 2^32
_H32_SPAN = float(2**32)


def hash_sample(docs, rate: float, salt: str = "s0", id_col: str = "doc_id"):
    """Deterministic rate-sample: keep rows with
    h32(salt || ':' || id) < rate * 2^32.

    Reproducible across runs, partitionings, and engines; changing the
    salt draws an independent sample. rate is the EXPECTED fraction —
    the realized fraction concentrates tightly around it (binomial).
    """
    from pyspark.sql import functions as F

    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    cutoff = int(rate * _H32_SPAN)
    key = F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    return docs.filter(h32_col(key) < F.lit(cutoff))


def stratified_hash_sample(
    docs,
    rates: dict,
    strata_col: str,
    default_rate: float = 0.0,
    salt: str = "s0",
    id_col: str = "doc_id",
):
    """Per-stratum deterministic sampling — the mixture-weighting
    primitive (e.g. keep 100% of high-quality docs, 10% of medium, 1%
    of boilerplate; or re-weight languages/sources). rates maps stratum
    value -> rate; unlisted strata use default_rate. The cutoff is a
    broadcast-free inline CASE expression (the rates table is a query
    literal, not a relation — no join at all)."""
    from pyspark.sql import functions as F

    for v, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for stratum {v!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    cutoff = F.lit(int(default_rate * _H32_SPAN))
    for v, r in sorted(rates.items()):
        cutoff = F.when(F.col(strata_col) == v, F.lit(int(r * _H32_SPAN))).otherwise(
            cutoff
        )
    key = F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
    return docs.filter(h32_col(key) < cutoff)
