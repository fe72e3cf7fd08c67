"""Portable deterministic hashing — identical results from Spark SQL
expressions and ANSI-ish SQL (DuckDB oracle side).

Everything the dedup / fingerprint / LSH operators need reduces to one
primitive: a 32-bit unsigned integer hash of a string that BOTH engines
compute bit-identically. We derive it from md5 (hex output is identical
everywhere) instead of engine-native hashes (Spark xxhash64 and DuckDB
hash() disagree):

    h32(s) = int(hex_to_dec(substr(md5(s), 1, 8)))        ∈ [0, 2^32)

On top of h32:
  * universal-hash permutations for MinHash:  (a*h + b) mod P,
    P = 2^31 - 1 (Mersenne). a,b < P and h < 2^32 so a*h < 2^62 — no
    int64 overflow in either engine.
  * SimHash bit extraction: (h >> j) & 1 for j in 0..31.
  * polynomial rolling fingerprint: fold acc = (acc*B + h mod P) mod P.

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


def h32_sql(expr: str) -> str:
    """Same hash as h32_col, as DuckDB SQL over a string expression."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::bigint)"


def h60_col(col):
    """Spark Column[string] -> Column[long] in [0, 2^60) — 15 md5 hex
    chars; 60 bits is the widest md5 prefix that stays safely inside a
    signed 64-bit long on every engine (16 hex chars can set the sign
    bit). Used where hash WIDTH buys collision headroom (SimHash bands)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_py(s: str) -> int:
    """Python twin of h60_col (hashlib only) — used by the Arrow simhash
    text kernel so tokenize+hash+pack run in ONE pass per doc."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def minhash_col(h_col, perm: int):
    """Spark: permuted hash (a*h + b) mod P for permutation index."""
    from pyspark.sql import functions as F

    a, b = MINHASH_A[perm], MINHASH_B[perm]
    return F.pmod(F.lit(a) * h_col + F.lit(b), F.lit(MERSENNE_P))


def minhash_sql(h_expr: str, perm: int) -> str:
    a, b = MINHASH_A[perm], MINHASH_B[perm]
    return f"(({a}::bigint * {h_expr} + {b}) % {MERSENNE_P})"


def np_minhash_sigs(hh, out_dtype=None):
    """Numpy twin of the per-row MinHash signature: given the h32 values
    of one doc's shingle set, return the N_PERMS array_min((a*h+b)%P)
    signature. Exact int64 arithmetic (max a*h ≈ 2^53 < 2^63) — matches
    minhash_col / minhash_sql bit-for-bit. Vectorized: one (16, n)
    broadcast instead of 16 interpreted Catalyst lambda passes per row
    (the expr formulation measured 16x the scan cost at sf0.1)."""
    import numpy as np

    h = np.asarray(hh, dtype=np.int64)
    a = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
    b = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
    return ((a * h[None, :] + b) % MERSENNE_P).min(axis=1)


def np_simhash_pack(hh, bits: int):
    """Numpy twin of the per-row SimHash majority-vote pack: given the
    h60 values of one doc's token array, return the packed `bits`-wide
    signature long. bit_j = 1 iff 2 * (#tokens with bit j set) > n —
    identical to the Catalyst `filter per bit` formulation but one
    vectorized (n, bits) pass instead of `bits` interpreted array scans."""
    import numpy as np

    arr = np.asarray(hh, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)
    ones = ((arr[:, None] >> shifts) & 1).sum(axis=0)
    return int(
        ((2 * ones > arr.size).astype(np.int64) << shifts).sum()
    )


def np_simhash_pack_weighted(hh, weights, bits: int):
    """Tf-weighted majority-vote pack over DISTINCT term hashes:
    bit_j = 1 iff 2 · Σ_t w_t · bit_j(h_t) > Σ_t w_t. With w_t = tf of
    term t this is EXACTLY np_simhash_pack over the raw occurrence
    stream (summing a term's ±1 votes tf times ≡ one tf-weighted vote;
    all-integer arithmetic, so no float-order concerns) — asserted in
    tests/test_dedup.py. Hashing per distinct term instead of per
    occurrence is what makes the text kernel linear in vocabulary, not
    corpus length."""
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
    kernel behind minhash_wide(impl='pandas')."""
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
    tf-weighted majority-vote pack in one kernel pass — bit-identical
    to transform(tokenize_expr, h60_col) fed through simhash_pack_udf
    (asserted in tests), but each distinct term is md5-hashed at most
    once per worker and the pack is one (vocab, bits) numpy pass."""
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
                    # digest bytes (identical to h60_py, no hex parse)
                    h = int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big") >> 4
                    if len(memo) < _H60_MEMO_MAX:
                        memo[t] = h
                hh[i] = h
            return np_simhash_pack_weighted(hh, w, bits)

        return s.map(one)

    _kernel.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "long")


def simhash_pack_udf(bits: int):
    """Arrow-batched pandas UDF: array<long> h60 token hashes -> packed
    SimHash long. Factory (bits is closure-bound) so dedup.SIMHASH_BITS
    stays the single source of truth for signature width."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(hh):
        return hh.map(lambda a: np_simhash_pack(a, bits))

    _kernel.__annotations__ = {"hh": pd.Series, "return": pd.Series}
    return pandas_udf(_kernel, "long")
