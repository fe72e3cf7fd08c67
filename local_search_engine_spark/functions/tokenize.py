"""The engine's single tokenizer — applied identically at index time and
query time.

The reference is self-inconsistent: index-time spaCy lemmatization
(reference tokenizer.py:38-75) vs query-time nltk word_tokenize
(reference retriever.py:380) — lemmatized index terms often can't match
raw query tokens (SURVEY.md §4.1 defect 4). For a *code* corpus English
lemmatization is wrong anyway, so per SURVEY.md §7.3 we pin ONE
deterministic rule, shared verbatim with the pure-Python oracle:

  split on non-[A-Za-z0-9_], lowercase, drop tokens of length < 2
  (mirrors reference tokenizer.py:69-70) unless in the preserve-list of
  short tech terms (mirrors reference tokenizer.py:29-33).

Three implementations with identical semantics (tests assert equality):
  tokenize_py    — pure Python (oracle + driver-side query tokenization)
  tokenize_expr  — Spark built-in expressions (JVM-side; used by the
                   text-statistics and dedup operators)
  tokenize_udf   — Arrow-vectorized pandas UDF (the index-build path;
                   also the extension point for tokenizers that
                   built-ins can't express, e.g. BPE)
"""

# NOTE: no `from __future__ import annotations` here — PySpark resolves
# pandas_udf type hints at definition time and stringified hints break it.
import re

# Reference keeps short tech terms verbatim (tokenizer.py:29-33); all are
# 2 chars so with the len>=2 rule the list is belt-and-braces — kept as
# declared API because a caller may lower the length cutoff.
PRESERVE_TERMS = frozenset({"ai", "ml", "js", "ip", "db", "os", "io"})
MIN_TOKEN_LEN = 2

TOKEN_SPLIT_RE = "[^a-z0-9_]+"
_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokenize_py(text: str) -> list[str]:
    """Pure-Python tokenizer — the oracle's and the query-side's."""
    if not text:
        return []
    return [
        t
        for t in _SPLIT.split(text.lower())
        if len(t) >= MIN_TOKEN_LEN or t in PRESERVE_TERMS
    ]


def tokenize_expr(col):
    """Built-in-expression tokenizer: Column[string] → Column[array<string>].

    Entirely JVM-side (split/lower/filter), no serialization to Python
    workers.
    """
    from pyspark.sql import functions as F

    toks = F.split(F.lower(col), TOKEN_SPLIT_RE)
    preserve = [F.lit(t) for t in sorted(PRESERVE_TERMS)]
    return F.filter(
        toks,
        lambda t: (F.length(t) >= MIN_TOKEN_LEN) | t.isin(*preserve),
    )


def tokenize_udf():
    """Arrow-vectorized pandas UDF with semantics identical to
    tokenize_py/tokenize_expr (asserted in tests/test_tokenizer.py)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(s: pd.Series) -> pd.Series:
        return s.map(lambda x: tokenize_py(x) if x is not None else [])

    return _tok


# --- code-aware identifier subtokenization (opt-in analyzer) ---------------
#
# The pinned engine tokenizer treats `mergeShards` / `merge_shards` as
# single terms (reference-identical, gate-locked). Real code search also
# wants the SUBTOKENS — query `merge` should hit `mergeShards` — so this
# opt-in analyzer emits, per identifier, the lowercased full token plus
# its camelCase/snake_case/digit-boundary parts (only when the
# identifier actually compounds; plain words are not double-counted).
# Standard technique (Lucene-style word-delimiter filtering). py/expr
# twins with asserted-identical semantics, same as the base tokenizer.

_CAMEL_RUN = re.compile(r"([A-Z]+)([A-Z][a-z])")   # HTTPServer -> HTTP Server
_CAMEL_LOW = re.compile(r"([a-z0-9])([A-Z])")       # mergeShards -> merge Shards
_ALPHA_DIG = re.compile(r"([A-Za-z])([0-9])")
_DIG_ALPHA = re.compile(r"([0-9])([A-Za-z])")
_RAW_SPLIT = re.compile(r"[^A-Za-z0-9_]+")


def split_identifier_py(token: str) -> list[str]:
    """Lowercased subtoken parts of one (case-preserved) identifier,
    length-filtered by the engine rule."""
    s = _CAMEL_RUN.sub(r"\1 \2", token)
    s = _CAMEL_LOW.sub(r"\1 \2", s)
    s = _ALPHA_DIG.sub(r"\1 \2", s)
    s = _DIG_ALPHA.sub(r"\1 \2", s)
    s = s.replace("_", " ")
    return [
        p.lower()
        for p in s.split()
        if len(p) >= MIN_TOKEN_LEN or p.lower() in PRESERVE_TERMS
    ]


def tokenize_code_py(text: str) -> list[str]:
    """Code-aware token stream: for every identifier, the lowercased
    full token (engine length rule) plus — when it compounds — its
    subtoken parts."""
    if not text:
        return []
    out: list[str] = []
    for t in _RAW_SPLIT.split(text):
        if not t:
            continue
        low = t.lower()
        if len(low) >= MIN_TOKEN_LEN or low in PRESERVE_TERMS:
            out.append(low)
        subs = split_identifier_py(t)
        if len(subs) > 1 or (subs and subs[0] != low):
            out.extend(subs)
    return out


def tokenize_code_expr(col):
    """JVM-expression twin of tokenize_code_py (codegen'd; asserted
    identical in tests/test_tokenizer.py)."""
    from pyspark.sql import functions as F

    raw = F.filter(F.split(col, r"[^A-Za-z0-9_]+"), lambda t: t != "")
    preserve = [F.lit(t) for t in sorted(PRESERVE_TERMS)]

    def keep(t):
        return (F.length(t) >= MIN_TOKEN_LEN) | t.isin(*preserve)

    def expand(t):
        spaced = F.regexp_replace(t, r"([A-Z]+)([A-Z][a-z])", r"$1 $2")
        spaced = F.regexp_replace(spaced, r"([a-z0-9])([A-Z])", r"$1 $2")
        spaced = F.regexp_replace(spaced, r"([A-Za-z])([0-9])", r"$1 $2")
        spaced = F.regexp_replace(spaced, r"([0-9])([A-Za-z])", r"$1 $2")
        spaced = F.regexp_replace(spaced, r"_", " ")
        subs = F.filter(
            F.split(F.lower(spaced), r" +"), lambda p: (p != "") & keep(p)
        )
        low = F.lower(t)
        full = F.when(keep(low), F.array(low)).otherwise(
            F.array().cast("array<string>")
        )
        compound = (F.size(subs) > 1) | (
            (F.size(subs) == 1) & (F.element_at(subs, 1) != low)
        )
        return F.when(compound, F.concat(full, subs)).otherwise(full)

    return F.flatten(F.transform(raw, expand))
