"""Portable deterministic hashing — identical results from Spark SQL
expressions, plain Python and ANSI-ish SQL (the DuckDB oracles).

Everything the dedup / fingerprint / LSH operators need reduces to one
primitive: a 32-bit unsigned integer hash of a string that every engine
computes bit-identically. We derive it from md5 (hex output is identical
everywhere) instead of engine-native hashes (Spark xxhash64 and DuckDB
hash() disagree):

    h32(s) = int(hex_to_dec(substr(md5(s), 1, 8)))        ∈ [0, 2^32)

On top of h32:
  * universal-hash permutations for MinHash:  (a*h + b) mod P,
    P = 2^31 - 1 (Mersenne). a,b < P and h < 2^32 so a*h < 2^62 — no
    int64 overflow in either engine.
  * polynomial rolling fingerprint: fold acc = (acc*B + h mod P) mod P.

SimHash uses a wider hash, h60(s) = the first 15 md5 hex digits
∈ [0, 2^60), and packs a 60-bit signature: bit j, for j in 0..59, is the
majority vote of (h60(token) >> j) & 1 over the doc's tokens. The
plain-Python h60 and occurrence-stream pack that the SimHash kernel is
tested against live in tests/oracle.py.

The reference has no content hashing at all (nearest analogue: chunk-id
identity, reference retriever.py:191); these power the dedup operators a
training-data pipeline needs at 100 TB.
"""

from __future__ import annotations

MERSENNE_P = 2_147_483_647  # 2^31 - 1
FINGERPRINT_B = 131

# MinHash permutation constants: fixed literals (NOT runtime-random) so
# engine, oracle, and any re-run agree. Generated once from the digits of
# pi/e (public, arbitrary, odd, < P).
MINHASH_A = [
    1_000_003, 1_299_709, 1_500_007, 1_700_021, 1_900_037, 2_100_001,
    314_159, 271_829, 161_803, 141_421, 173_205, 223_607,
    577_215, 693_147, 301_029, 434_294,
]
MINHASH_B = [
    12_345, 67_891, 23_457, 89_013, 45_679, 1_235,
    98_765, 43_211, 87_655, 32_099, 76_543, 21_087,
    65_431, 9_877, 54_321, 98_761,
]
N_PERMS = 16


def h32_py(s: str) -> int:
    """Driver-side twin of h32_col — lets query planning derive bucket
    literals WITHOUT a Spark job (hashlib only)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def h32_col(col):
    """Spark Column[string] -> Column[long] in [0, 2^32)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def np_minhash_sigs(hh):
    """The per-row MinHash signature: given the h32 values of one doc's
    shingle set, return the N_PERMS min((a*h+b) mod P) signature. Exact
    int64 arithmetic (max a*h ≈ 2^53 < 2^63), so it equals the
    plain-Python min over MINHASH_A/MINHASH_B/MERSENNE_P bit-for-bit
    (tests/test_dedup.py's MinHash oracle test). Vectorized: one
    (16, n) broadcast per row."""
    import numpy as np

    h = np.asarray(hh, dtype=np.int64)
    a = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
    b = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
    return ((a * h[None, :] + b) % MERSENNE_P).min(axis=1)


def np_simhash_pack_weighted(hh, weights, bits: int):
    """Tf-weighted majority-vote pack over DISTINCT term hashes:
    bit_j = 1 iff 2 · Σ_t w_t · bit_j(h_t) > Σ_t w_t. With w_t = tf of
    term t this is EXACTLY the majority-vote pack over the raw
    occurrence stream (summing a term's ±1 votes tf times ≡ one
    tf-weighted vote; all-integer arithmetic, so no float-order
    concerns) — asserted in tests/test_dedup.py against
    tests/oracle.py's np_simhash_pack. Hashing per distinct term instead
    of per occurrence is what makes the text kernel linear in
    vocabulary, not corpus length."""
    import numpy as np

    arr = np.asarray(hh, dtype=np.int64)
    w = np.asarray(weights, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)
    ones = (((arr[:, None] >> shifts) & 1) * w[:, None]).sum(axis=0)
    return int(
        ((2 * ones > w.sum()).astype(np.int64) << shifts).sum()
    )


def minhash_sigs_udf():
    """Arrow-batched pandas UDF: array<long> h32 shingle hashes ->
    array<long> N_PERMS MinHash signature. The W1-pattern vectorized
    kernel behind minhash_wide."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(hh):
        return hh.map(np_minhash_sigs)

    # this module uses `from __future__ import annotations`; pandas_udf
    # needs REAL type objects, so set them explicitly
    _kernel.__annotations__ = {"hh": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "array<long>")


# Worker-persistent h60 memo for the simhash text kernel: the corpus
# token stream is Zipf-distributed, so hashing each DISTINCT term once
# per worker (the module is shipped via addPyFile, so reused Python
# workers keep this dict across tasks — guide §4.5 pattern) replaces
# tens of millions of per-occurrence md5 calls with ~vocabulary-many.
# Size-capped so a pathological unbounded vocabulary cannot exhaust
# worker memory (past the cap terms are hashed without being stored).
_H60_MEMO: dict = {}
_H60_MEMO_MAX = 4_000_000


def simhash_text_udf(bits: int):
    """Arrow-batched pandas UDF: text -> packed SimHash long (null for
    token-less docs). tokenize_py + per-distinct-term h60 + the
    tf-weighted majority-vote pack in one kernel pass. Each distinct
    term is md5-hashed at most once per worker and the pack is one
    (vocab, bits) numpy pass. Bit-identical to tests/oracle.py's
    simhash_signature (tests/test_dedup.py's SimHash oracle test); the
    simhash dedup gates check it end to end."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .tokenize import tokenize_py

    def _kernel(s):
        from collections import Counter
        from hashlib import md5

        import numpy as np

        memo = _H60_MEMO

        def one(x):
            toks = tokenize_py(x) if x is not None else []
            if not toks:
                return None
            cnt = Counter(toks)
            hh = np.empty(len(cnt), dtype=np.int64)
            w = np.fromiter(cnt.values(), dtype=np.int64, count=len(cnt))
            for i, t in enumerate(cnt):
                h = memo.get(t)
                if h is None:
                    # first 15 hex chars == high 60 bits of the first 8
                    # digest bytes (h60, without a hex parse)
                    h = int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big") >> 4
                    if len(memo) < _H60_MEMO_MAX:
                        memo[t] = h
                hh[i] = h
            return np_simhash_pack_weighted(hh, w, bits)

        return s.map(one)

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "long")
