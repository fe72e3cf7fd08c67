"""Seeded inputs for the benchmark: corpus rows, query streams and edits.

Every input is a pure function of the seed. Corpus rows come from the
engine's own fixture generator (`sources.corpus.gen_row`) at row offset
``seed * 10**6``, so two seeds never share a row index. Query, phrase,
boolean and edit streams come from ``random.Random(seed)``; phrases are
adjacent tokens of generated rows, so they match at least one document.
The engine only ever receives the generated rows and query strings.
"""

from __future__ import annotations

import random

from local_search_engine_spark.functions.tokenize import tokenize_py
from local_search_engine_spark.sources.corpus import HOT_TERMS, MED_TERMS, N_KW, gen_row

ROW_OFFSET = 10**6
REPEAT_FRAC = 0.2  # share of queries that repeat an earlier query
KEY = ("repo", "path", "commit")


def first_row(seed: int) -> int:
    return seed * ROW_OFFSET


def corpus_rows(seed: int, n: int) -> list[dict]:
    base = first_row(seed)
    return [gen_row(base + j) for j in range(n)]


def doc_ids(rows: list[dict]) -> dict[str, int]:
    """path -> doc_id as the engine assigns it: 0-based rank by
    (repo, path, commit). Paths are unique in generated corpora."""
    order = sorted(rows, key=lambda r: tuple(r[c] for c in KEY))
    return {r["path"]: i for i, r in enumerate(order)}


def tie_group_size(seed: int, n: int) -> int:
    """Rows with i % 13 == 0 share one content (the generator's tie doc)."""
    base = first_row(seed)
    return sum(1 for i in range(base, base + n) if i % 13 == 0)


class Stream:
    """Seeded query/edit generator over one corpus."""

    def __init__(self, seed: int, rows: list[dict]):
        self.rng = random.Random(seed)
        self.rows = rows
        self.rare = sorted(
            {t for r in rows for t in tokenize_py(r["content"]) if t.startswith("uniq_")}
        )
        self.history: dict[tuple, list] = {}
        self._n_oov = 0
        self._n_edit = 0
        self._n_sets = 0
        self.seed = seed

    # -- terms and phrases ------------------------------------------------
    def term(self, kind: str) -> str:
        """One term of a class: hot (df ~ 1), med (df ~ 1), kw (the
        long-tail kw0..199, df ~ 0.5), rare (a uniq_ tag, df 1) or oov."""
        if kind == "oov":
            self._n_oov += 1
            return f"zzoov{self.seed}x{self._n_oov}"
        if kind == "hot":
            return self.rng.choice(HOT_TERMS)
        if kind == "med":
            return self.rng.choice(MED_TERMS)
        if kind == "rare" and self.rare:
            return self.rng.choice(self.rare)
        return self.kw()

    def kw(self) -> str:
        return f"kw{self.rng.randrange(N_KW)}"

    def phrase(self, n_tokens: int = 2) -> str:
        """Adjacent tokens of one generated row: always matches it."""
        while True:
            toks = tokenize_py(self.rng.choice(self.rows)["content"])
            if len(toks) > n_tokens:
                s = self.rng.randrange(len(toks) - n_tokens)
                return " ".join(toks[s : s + n_tokens])

    # -- query shapes -----------------------------------------------------
    # Each shape has a fixed list of forms and the op schedule names the
    # form, so every run sends the same mix; the seed picks the terms.
    # A repeat re-sends an earlier query of the same shape and form.
    def _repeat_or(self, key: tuple, make):
        past = self.history.setdefault(key, [])
        if past and self.rng.random() < REPEAT_FRAC:
            return self.rng.choice(past)
        spec = make()
        past.append(spec)
        return spec

    # ranked forms: the term classes of the query and its k
    RANKED_FORMS = (("med kw", 10), ("hot kw kw", 20), ("kw oov", 5), ("rare med", 10))

    def ranked(self, form: int) -> tuple[str, int]:
        classes, k = self.RANKED_FORMS[form]
        return self._repeat_or(
            ("ranked", form), lambda: (" ".join(self.term(c) for c in classes.split()), k)
        )

    def bool(self, form: str) -> tuple[str, int]:
        def make():
            a, b, c = self.kw(), self.kw(), self.kw()
            if form == "phrase_not":
                q = f'"{self.phrase()}" AND {a} AND NOT {b}'
            else:
                stem = self.rng.choice(MED_TERMS)[:4]
                q = f"{stem}* AND ({a} {b} {c})~2"
            return q, 10

        return self._repeat_or(("bool", form), make)

    def phrase_query(self, form: str) -> tuple[str, int, int | None]:
        """(text, k, window): a two-token phrase; window None is an exact
        phrase, else a proximity (near) query."""
        return self._repeat_or(
            ("phrase", form), lambda: (self.phrase(), 10, None if form == "exact" else 4)
        )

    def search_cli(self) -> tuple[str, int]:
        """Free terms, one quoted must-match phrase and one exclusion:
        every branch of the composed search path."""
        return self._repeat_or(
            ("search_cli",),
            lambda: (f'"{self.phrase()}" {self.kw()} {self.term("med")} -{self.kw()}', 10),
        )

    # the term classes of a batch query, in turn: every set of ten has
    # the same mix (one query in twenty carries an out-of-vocabulary term)
    SET_FORMS = (
        "kw", "med kw", "hot kw kw", "kw kw", "rare", "med kw kw", "kw", "hot med", "kw rare", "med",
        "kw", "med kw", "hot kw kw", "kw kw", "rare", "med kw oov", "kw", "hot med", "kw rare", "med",
    )

    def query_set(self, n: int) -> list[tuple[int, str, int]]:
        """n distinct ranked queries for one batch plan."""
        out, seen = [], set()
        while len(out) < n:
            classes = self.SET_FORMS[(self._n_sets + len(out)) % len(self.SET_FORMS)]
            text = " ".join(self.term(c) for c in classes.split())
            if text not in seen:
                seen.add(text)
                out.append((len(out), text, 10))
        self._n_sets += n
        return out

    def phrase_set(self, n: int) -> list[tuple[int, str, int]]:
        """n distinct phrases, two and three tokens in turn."""
        out, seen = [], set()
        while len(out) < n:
            text = self.phrase(2 + len(out) % 2)
            if text not in seen:
                seen.add(text)
                out.append((len(out), text, 10))
        return out

    # -- edits ------------------------------------------------------------
    def edit(self, rows: list[dict]) -> tuple[list[dict], str, str]:
        """Change one seeded file. Returns (new rows, edited path, token).

        The file gains a line with a token no other file has, so a query
        for it must rank that file first once the edit is searchable; the
        edit lands as a new commit of the file."""
        self._n_edit += 1
        token = f"edit_s{self.seed}_n{self._n_edit}"
        rows = list(rows)
        i = self.rng.randrange(len(rows))
        row = dict(rows[i])
        lines = row["content"].split("\n")
        lines.insert(self.rng.randrange(len(lines) + 1), f"{token} {self.kw()}")
        row["content"] = "\n".join(lines)
        row["commit"] = f"{self.seed:04x}{self._n_edit:08x}"
        rows[i] = row
        return rows, row["path"], token
