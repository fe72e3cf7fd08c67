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

tokenize_py is the engine's only analyzer and its own oracle: index
time (operators/build.term_frequencies' kernel), query time, and the
per-doc kernels of the text-statistics and cleaning operators
(operators/textstats.py) all call it.

An analyzer is any `Callable[[str], list[str]]` (tokenize_py, or the
opt-in code analyzer tokenize_code_py below): the index builders,
positional postings and percolate all take one, and the caller scores
with the same callable on the query side.
"""

import re

# Reference keeps short tech terms verbatim (tokenizer.py:29-33); all are
# 2 chars so with the len>=2 rule the list is belt-and-braces — kept as
# declared API because a caller may lower the length cutoff.
PRESERVE_TERMS = frozenset({"ai", "ml", "js", "ip", "db", "os", "io"})
MIN_TOKEN_LEN = 2

TOKEN_SPLIT_RE = "[^a-z0-9_]+"
_SPLIT = re.compile(TOKEN_SPLIT_RE)


def tokenize_py(text: str) -> list[str]:
    """Pure-Python tokenizer — the oracle, and the default analyzer at
    index time and query time."""
    if not text:
        return []
    return [
        t
        for t in _SPLIT.split(text.lower())
        if len(t) >= MIN_TOKEN_LEN or t in PRESERVE_TERMS
    ]


# --- code-aware identifier subtokenization (opt-in analyzer) ---------------
#
# The pinned engine tokenizer treats `mergeShards` / `merge_shards` as
# single terms (reference-identical, gate-locked). Real code search also
# wants the SUBTOKENS — query `merge` should hit `mergeShards` — so this
# opt-in analyzer emits, per identifier, the lowercased full token plus
# its camelCase/snake_case/digit-boundary parts (only when the
# identifier actually compounds; plain words are not double-counted).
# Standard technique (Lucene-style word-delimiter filtering). Pass
# tokenize_code_py as `tokenizer=` to the index build and tokenize the
# query with it too.

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

