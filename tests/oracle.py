"""Pure-Python oracles — no Spark, no external deps.

BM25Oracle stands in for the unavailable rank_bm25 package: reimplements the
BM25Okapi semantics the reference invokes at preprocessing.py:513 /
retriever.py:388 (formula restated in SURVEY.md §2.10), with the engine's
pinned parameters (k1=1.2, b=0.75, epsilon=0.25 per BASELINE.json), the
SAME tokenizer (local_search_engine_spark.functions.tokenize.tokenize_py)
and the SAME tie-break (score DESC, doc_id ASC) and summation order
(ascending term) — the rank-identity contract is engine vs this oracle.

The functions after it are the references for the dedup, LSH, sampling,
IVF, diversity and posting-codec kernels, and the query-language printer
behind the parse_query round-trip property.
"""

from __future__ import annotations

import math
from collections import Counter

from local_search_engine_spark import BM25_B, BM25_EPSILON, BM25_K1
from local_search_engine_spark.functions.tokenize import tokenize_py
from local_search_engine_spark.sources.corpus import gen_row


class BM25Oracle:
    def __init__(
        self,
        docs_tokens: list[list[str]],
        k1: float = BM25_K1,
        b: float = BM25_B,
        epsilon: float = BM25_EPSILON,
    ):
        self.k1, self.b, self.epsilon = k1, b, epsilon
        self.n_docs = len(docs_tokens)
        self.doc_len = [len(t) for t in docs_tokens]
        self.avgdl = sum(self.doc_len) / self.n_docs if self.n_docs else 0.0
        self.tf: list[Counter] = [Counter(t) for t in docs_tokens]
        df: Counter = Counter()
        for c in self.tf:
            for term in c:
                df[term] += 1
        self.df = dict(df)
        idf_raw = {
            t: math.log(self.n_docs - d + 0.5) - math.log(d + 0.5)
            for t, d in self.df.items()
        }
        self.avg_idf = (
            sum(idf_raw.values()) / len(idf_raw) if idf_raw else 0.0
        )
        eps = self.epsilon * self.avg_idf
        self.idf = {t: (v if v >= 0 else eps) for t, v in idf_raw.items()}
        self.idf_raw = idf_raw

    def score(self, query_tokens: list[str], doc_id: int) -> float:
        # ascending-term fold — same order as the engine's sorted aggregate
        s = 0.0
        dl = self.doc_len[doc_id]
        qt = sorted(Counter(query_tokens).items())
        for term, qtf in qt:
            tf = self.tf[doc_id].get(term, 0)
            if tf == 0:
                continue
            idf = self.idf.get(term, 0.0)
            s += (
                idf
                * qtf
                * tf
                * (self.k1 + 1.0)
                / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
            )
        return s

    def topk(self, query: str, k: int) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] — docs matching >=1 query term (the
        posting-list-driven domain; NO score-sign filter, because the
        BM25Okapi epsilon floor is legitimately negative on corpora with
        avg_idf < 0), (score DESC, doc_id ASC) tie-break, 1-based rank."""
        qtoks = tokenize_py(query)
        qterms = set(qtoks)
        scored = []
        for d in range(self.n_docs):
            if not any(self.tf[d].get(t, 0) for t in qterms):
                continue
            scored.append((d, self.score(qtoks, d)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return [(r + 1, d, s) for r, (d, s) in enumerate(scored[:k])]


def oracle_for_corpus(n_docs: int) -> BM25Oracle:
    """Build the oracle over the deterministic fixture corpus with the
    engine's doc_id contract: row_number over ORDER BY (repo, path,
    commit) — ASCII-only strings, so Python sort == Spark UTF8 sort."""
    rows = [gen_row(i) for i in range(n_docs)]
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    return BM25Oracle([tokenize_py(r["content"]) for r in rows])


def sorted_corpus_rows(n_docs: int) -> list[dict]:
    rows = [gen_row(i) for i in range(n_docs)]
    rows.sort(key=lambda r: (r["repo"], r["path"], r["commit"]))
    return rows


# References for the Arrow kernels in operators/dedup.py,
# operators/similarity.py and functions/hashing.py.


def shingle_set(text: str | None, n: int = 3) -> list[str]:
    """Distinct space-joined word n-grams of tokenize_py(text), in
    first-occurrence order; [] for null text or fewer than n tokens."""
    toks = tokenize_py(text) if text is not None else []
    seen: set = set()
    out = []
    for i in range(len(toks) - n + 1):
        sh = " ".join(toks[i : i + n])
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


def minhash_signature(shingles: list[str]) -> list[int]:
    """Per permutation p: min over the shingles of
    (MINHASH_A[p] * h32(s) + MINHASH_B[p]) mod MERSENNE_P."""
    from local_search_engine_spark.functions.hashing import (
        MERSENNE_P,
        MINHASH_A,
        MINHASH_B,
        h32_py,
    )

    hs = [h32_py(s) for s in shingles]
    return [min((a * h + b) % MERSENNE_P for h in hs) for a, b in zip(MINHASH_A, MINHASH_B)]


def h60_py(s: str) -> int:
    """h60(s) ∈ [0, 2^60): the first 15 md5 hex digits — the widest md5
    prefix that stays inside a signed 64-bit long on every engine."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def np_simhash_pack(hh, bits: int) -> int:
    """The SimHash majority-vote pack over one doc's token occurrence
    stream of h60 values: bit_j = 1 iff 2 * (#tokens with bit j set) > n."""
    import numpy as np

    arr = np.asarray(hh, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.int64)
    ones = ((arr[:, None] >> shifts) & 1).sum(axis=0)
    return int(((2 * ones > arr.size).astype(np.int64) << shifts).sum())


def simhash_signature(text: str | None, bits: int = 60) -> int | None:
    """Majority-vote pack of h60 over the token occurrence stream; None
    for a doc without tokens."""
    toks = tokenize_py(text) if text is not None else []
    if not toks:
        return None
    return np_simhash_pack([h60_py(t) for t in toks], bits)


def srp_bucket(v, planes) -> int:
    """Bit j = 1 iff the sequential fold s = 0.0; s += x * p over plane j
    is > 0. Null vectors and vectors of the wrong length bucket to 0."""
    if v is None or len(v) != len(planes[0]):
        return 0
    bucket = 0
    for j, plane in enumerate(planes):
        s = 0.0
        for x, p in zip(v, plane):
            s += x * p
        if s > 0:
            bucket |= 1 << j
    return bucket


def connected_components(pairs) -> dict:
    """{node: min node id of its component} by union-find over (a, b)
    edges; only nodes that appear in an edge are labelled."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def hash_sampled(ids, rate: float, salt: str) -> list:
    """The ids hash_sample keeps: h32(f"{salt}:{id}") < int(rate * 2^32)."""
    from local_search_engine_spark.functions.hashing import h32_py

    cutoff = int(rate * 2**32)
    return sorted(i for i in ids if h32_py(f"{salt}:{i}") < cutoff)


def nearest_centroid(v, centroids) -> int:
    """Index of the L2-nearest centroid, by the sequential fold
    s = 0.0; s += (a - b)^2; ties go to the lowest index."""
    best, best_d = 0, None
    for i, c in enumerate(centroids):
        d = 0.0
        for a, b in zip(v, c):
            d += (a - b) * (a - b)
        if best_d is None or d < best_d:
            best, best_d = i, d
    return best


def capped_topk(rows, k: int, cap: int) -> list[tuple]:
    """[(rank, doc_id, group, score)]: the best `cap` rows of each group
    by (score desc, doc_id asc), then the best k of those in the same
    order. rows: (doc_id, group, score)."""
    order = sorted(rows, key=lambda r: (-r[2], r[0]))
    seen: Counter = Counter()
    kept = []
    for doc_id, group, score in order:
        seen[group] += 1
        if seen[group] <= cap:
            kept.append((doc_id, group, score))
    return [(rank, *r) for rank, r in enumerate(kept[:k], 1)]


def mmr_rerank_py(candidates, sims, k: int, lam: float = 0.5) -> list:
    """Greedy Maximal Marginal Relevance over one query's candidates.
    candidates: (id, relevance) in any order; sims: {(id_a, id_b):
    similarity}, looked up both ways. Returns the kept ids in order;
    ties go to the lower id (the engine's rule)."""
    remaining = dict(candidates)
    picked: list = []
    while remaining and len(picked) < k:
        best_id, best_score = None, None
        for cid, rel in remaining.items():
            max_sim = max(
                (sims.get((cid, p), sims.get((p, cid), 0.0)) for p in picked),
                default=0.0,
            )
            score = lam * rel - (1.0 - lam) * max_sim
            if (
                best_score is None
                or score > best_score
                or (score == best_score and cid < best_id)
            ):
                best_id, best_score = cid, score
        picked.append(best_id)
        del remaining[best_id]
    return picked


def encode_vb(values) -> bytes:
    """Varbyte encode, one value at a time: little-endian 7-bit groups,
    the high bit set on every byte but a value's last."""
    out = bytearray()
    for v in values:
        v = int(v)
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)
    return bytes(out)


def to_query_string(node) -> str:
    """Print a query AST back as query-language text, such that
    parse_query(to_query_string(n)) == n for any tree in the parser's
    normal form (And/Or flattened, double-NOT and Bool constants folded,
    boosts merged)."""
    import re

    from local_search_engine_spark.operators.boolquery import (
        And,
        AtLeast,
        Bool,
        Boost,
        Field,
        Fuzzy,
        Near,
        Not,
        Or,
        Phrase,
        PhrasePrefix,
        Prefix,
        Regex,
        Term,
    )

    def wrap(n, tight: bool = False) -> str:
        s = go(n)
        if isinstance(n, (And, Or)) or (tight and isinstance(n, Not)):
            return f"({s})"
        return s

    def go(n) -> str:
        if isinstance(n, Bool):
            if n.value:
                return ""  # parse("") == Bool(True)
            raise ValueError("Bool(False) has no surface syntax")
        if isinstance(n, Term):
            return n.term
        if isinstance(n, Phrase):
            return '"' + " ".join(n.tokens) + '"'
        if isinstance(n, Near):
            return '"' + " ".join(n.tokens) + f'"~{n.window}'
        if isinstance(n, PhrasePrefix):
            return '"' + " ".join((*n.tokens, n.stem)) + '*"'
        if isinstance(n, Prefix):
            return n.stem + "*"
        if isinstance(n, Fuzzy):
            return f"{n.stem}~{n.max_d}"
        if isinstance(n, Regex):
            return "/" + n.pattern + "/"
        if isinstance(n, Field):
            op = "" if n.op == "=" else n.op
            if re.search(r'[\s()"]', n.value):
                return f'{n.name}:"{n.value}"'
            return f"{n.name}:{op}{n.value}"
        if isinstance(n, Boost):
            return f"{wrap(n.child, tight=True)}^{n.factor:g}"
        if isinstance(n, Not):
            return f"NOT {wrap(n.child)}"
        if isinstance(n, And):
            return " AND ".join(wrap(c) for c in n.children)
        if isinstance(n, Or):
            return " OR ".join(wrap(c) for c in n.children)
        if isinstance(n, AtLeast):
            inner = " OR ".join(wrap(c) for c in n.children)
            return f"({inner})~{n.n}"
        raise TypeError(f"unknown node {n!r}")

    return go(node)
