"""Text analysis operators: language ID, quality scoring, token stats,
document fingerprinting, repetition signals.

The reference computes ad-hoc per-result text metrics driver-side with
the tokenizer it indexes with (unique-word ratio reference
retriever.py:754-755, keyword-match ratio :758-760); these lift that
capability to corpus-scale DataFrame operators plus the standard
training-data-pipeline additions (language ID, quality score,
fingerprint, repetition).

Every token-based operator reads the engine's one analyzer,
functions/tokenize.tokenize_py. Each is a plain per-doc function
`(text, tokens) -> tuple` run by `per_doc` as one mapInPandas kernel
over the docs, row-local on the scan's partitions (no exchange), with
one tokenize pass per doc. Null text counts as "" (tokenize_py's rule).
6-dp rounding stays a Spark F.round over the kernel's raw double:
Spark rounds HALF_UP on the value's decimal string, while Python's
round is half-even on the binary value and can flip the 6th digit.
bpe_ish_counts uses no tokenizer and stays one JVM regex. Every
operator has an exact SQL oracle (see __spark_entry__.py).
"""

from __future__ import annotations

import re
from collections import Counter
from functools import lru_cache

from ..functions.hashing import FINGERPRINT_B, MERSENNE_P, h32_py
from ..functions.tokenize import tokenize_py

# Deterministic marker lists for the n-gram/stopword language heuristic.
# Scores are hit-counts of language-marker tokens; argmax with
# alphabetical tie-break. (On synthetic corpora whose text is all
# English-ish this degenerates to 'en'/'und' — the contract is
# engine==oracle determinism, not linguistic accuracy.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "of", "is", "to", "in"),
    "es": ("el", "la", "de", "que", "los", "una", "es"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour"),
}

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "on", "for")

_STOPSET = frozenset(STOPWORDS)
# the SQL oracles' parity rules: Spark trim strips U+0020 only, Java's
# \s is ASCII [ \t\n\x0B\f\r], and the alpha count is ASCII letters
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")
_NOT_ALPHA = re.compile("[^A-Za-z]")
# pandas dtype per kernel output type (Int64 holds a null long)
_DTYPES = {"int": "int32", "bigint": "Int64", "double": "float64", "string": object}


def per_doc(docs, fn, schema: str, text_col: str = "text", id_col: str = "doc_id", carry=()):
    """(doc_id, *carry, *schema columns): fn(text, tokenize_py(text)) ->
    one tuple per doc, in `schema` (a DDL string) order, as one
    mapInPandas kernel. Null text is passed as ""."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fields = T._parse_datatype_string(schema).fields
    src = docs.select(F.col(id_col).alias("doc_id"), *carry, F.col(text_col).alias("_text"))
    out = T.StructType(src.schema.fields[:-1] + fields)

    def kernel(batches):
        for pdf in batches:
            texts = [t or "" for t in pdf.pop("_text").tolist()]
            cols = list(zip(*[fn(t, tokenize_py(t)) for t in texts])) or [()] * len(fields)
            for f, col in zip(fields, cols):
                pdf[f.name] = pd.Series(col, index=pdf.index, dtype=_DTYPES[f.dataType.simpleString()])
            yield pdf

    return src.mapInPandas(kernel, out)


def _token_stats_of(text: str, toks: list[str]) -> tuple:
    trimmed = text.strip(" ")
    n_ws = len(_JAVA_WS.split(trimmed)) if trimmed else 0
    return len(toks), n_ws, len(set(toks)), len(text)


def token_stats(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-doc token accounting: regex-token count, whitespace-split
    count, distinct terms, chars (code points)."""
    return per_doc(
        docs, _token_stats_of, "n_tokens int, n_ws_tokens int, n_distinct int, n_chars int", text_col, id_col
    )


# GPT-2-style pretokenizer classes (contraction suffixes, space-prefixed
# word / number runs, punctuation runs), ASCII-restricted so the Java
# (Spark) and RE2 (DuckDB) regex dialects agree; whitespace between
# matches is skipped, not counted.
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_counts(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_bpe_ish): subword-ish token count via the BPE-style
    pretokenizer regex — the cheap cross-engine stand-in for a real BPE
    vocabulary count (a real tokenizer plugs in through the
    functions/embed.py worker-factory pattern)."""
    from pyspark.sql import functions as F

    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), 0))
        .cast("int")
        .alias("n_bpe_ish"),
    )


def quality_of(text: str, toks: list[str]) -> tuple:
    n = len(toks)
    unique = len(set(toks)) / n if n else 0.0
    stop = sum(t in _STOPSET for t in toks) / n if n else 0.0
    alpha = len(_NOT_ALPHA.sub("", text)) / len(text) if text else 0.0
    len_score = min(1.0, n / 100.0)
    quality = 0.3 * unique + 0.2 * (1.0 - stop) + 0.3 * alpha + 0.2 * len_score
    return unique, stop, alpha, len_score, quality


def quality_scores(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Per-doc quality features + a blended score in [0,1]:
      unique_ratio   = |distinct tokens| / |tokens|      (reference
                       retriever.py:754-755 lifted to corpus scale)
      stop_ratio     = stopword tokens / tokens
      alpha_ratio    = alphabetic chars / chars
      len_score      = min(1, n_tokens / 100)
      quality        = 0.3*unique + 0.2*(1-stop) + 0.3*alpha + 0.2*len
    Raw doubles; rounded by the caller for cross-engine hash.
    """
    return per_doc(
        docs,
        quality_of,
        "unique_ratio double, stop_ratio double, alpha_ratio double, len_score double, quality double",
        text_col,
        id_col,
    )


def _language_of(text: str, toks: list[str]) -> tuple:
    counts = Counter(toks)
    best, hits = "und", 0
    for lang in sorted(LANG_MARKERS):  # strictly greater wins: alphabetical tie-break
        n = sum(counts[m] for m in LANG_MARKERS[lang])
        if n > hits:
            best, hits = lang, n
    return best, hits


def language_id(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, pred_lang): marker-token hit-count argmax, alphabetical
    tie-break, 'und' when no marker hits."""
    return per_doc(docs, _language_of, "pred_lang string, marker_hits int", text_col, id_col)


def keyword_match(docs, query_tokens, text_col: str = "text", id_col: str = "doc_id"):
    """F15: keyword-match ratio (reference retriever.py:758-760) —
    matched DISTINCT query terms / total distinct query terms, per doc."""
    qt = frozenset(query_tokens)

    def ratio(text, toks):
        return (len(qt.intersection(toks)) / len(qt) if qt else 0.0,)

    return per_doc(docs, ratio, "keyword_match double", text_col, id_col)


@lru_cache(maxsize=1 << 16)
def _token_hash(tok: str) -> int:
    # a pure function of the token: a bounded cache is shared by all docs
    return h32_py(tok) % MERSENNE_P


def _fingerprint_of(text: str, toks: list[str]) -> tuple:
    # acc stays below P·B + P < 2^63, so Python ints equal Spark longs
    hashes = [_token_hash(t) for t in toks]
    acc = 0
    for h in hashes:
        acc = (acc * FINGERPRINT_B + h) % MERSENNE_P
    return acc, min(hashes, default=None)


def doc_fingerprints(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, fingerprint, min_token_hash):
      fingerprint    = polynomial rolling hash over the token sequence:
                       fold acc = (acc*B + (h32(tok) mod P)) mod P
      min_token_hash = min over tokens of h32 mod P (a 1-perm minhash) —
                       cheap content identity robust to reordering; null
                       for a doc with no tokens.
    """
    return per_doc(
        docs, _fingerprint_of, "fingerprint bigint, min_token_hash bigint", text_col, id_col
    )


def _dup_frac(items: list) -> float:
    return 1.0 - len(set(items)) / len(items) if items else 0.0


REPETITION_SCHEMA = (
    "n_lines bigint, dup_line_frac double, dup_2gram_frac double, "
    "dup_3gram_frac double, mean_word_len double"
)


def repetition_of(text: str, toks: list[str]) -> tuple:
    lines = [s for s in (line.strip(" ") for line in text.split("\n")) if s]
    return (
        len(lines),
        _dup_frac(lines),
        _dup_frac(list(zip(toks, toks[1:]))),
        _dup_frac(list(zip(toks, toks[1:], toks[2:]))),
        sum(map(len, toks)) / len(toks) if toks else 0.0,
    )


def repetition_verdict(max_dup_line_frac: float, max_dup_ngram_frac: float):
    """Column: the rounded raw fractions of REPETITION_SCHEMA within
    their caps."""
    from pyspark.sql import functions as F

    return (
        (F.round("dup_line_frac", 6) <= max_dup_line_frac)
        & (F.round("dup_2gram_frac", 6) <= max_dup_ngram_frac)
        & (F.round("dup_3gram_frac", 6) <= max_dup_ngram_frac)
    )


def repetition_scores(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_ngram_frac: float = 0.30,
):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1 —
    the standard repetition filters for web-scale training corpora),
    computed entirely WITHIN the row (zero shuffle, embarrassingly
    parallel — the same 100 TB shape as quality_scores):

      n_lines, dup_line_frac   — 1 - distinct_lines/lines (lines split
                                 on \\n, trimmed of spaces, blank lines
                                 dropped; a page of repeated boilerplate
                                 lines scores high);
      dup_2gram_frac,
      dup_3gram_frac           — 1 - distinct_ngrams/ngrams over the
                                 token stream (count-fraction variant of
                                 Gopher's char-weighted measure — same
                                 monotonicity, cheaper and oracle-exact);
      mean_word_len            — mean token length in chars;
      repetition_pass          — dup_line_frac <= max_dup_line_frac AND
                                 both ngram fracs <= max_dup_ngram_frac
                                 (docs with < 2 lines / too few ngrams
                                 trivially pass that signal: frac 0).

    Fractions are round(·, 6) for cross-engine comparability.
    """
    from pyspark.sql import functions as F

    raw = per_doc(docs, repetition_of, REPETITION_SCHEMA, text_col, id_col)
    rounded = ("dup_line_frac", "dup_2gram_frac", "dup_3gram_frac", "mean_word_len")
    return raw.select(
        "doc_id",
        "n_lines",
        *[F.round(c, 6).alias(c) for c in rounded],
        repetition_verdict(max_dup_line_frac, max_dup_ngram_frac).alias("repetition_pass"),
    )
