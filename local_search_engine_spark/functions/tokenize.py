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
time (operators/build.term_frequencies' kernel, positional postings),
query time, percolation, and the per-doc kernels of the
text-statistics and cleaning operators (operators/textstats.py) all
call it directly. No operator takes an analyzer argument, so an index
cannot be built with one analyzer and queried with another.
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
    """Pure-Python tokenizer — the oracle, and the analyzer at index
    time and query time."""
    if not text:
        return []
    return [
        t
        for t in _SPLIT.split(text.lower())
        if len(t) >= MIN_TOKEN_LEN or t in PRESERVE_TERMS
    ]
