"""Boolean query language over the inverted/positional indexes.

The reference exposes only free-text BM25 ("OR of terms",
reference retriever.py:363-415) plus a post-hoc quoted-phrase substring
filter (reference retriever.py:1040-1072). A full-text index, however,
is queried with BOOLEAN structure — `fast AND scan AND NOT merge`,
`"spark window" OR table` — so this module adds the classic operator
the reference's users reach for first when free text is too loose:

    expr  := or ;  or := and (OR and)* ;  and := not (AND? not)*
    not   := NOT not | atom ;  atom := '(' expr ')' | "phrase" | term

(implicit AND between adjacent atoms, keywords case-insensitive,
quoted strings are exact-phrase leaves matched by the POSITIONAL
index — with a trailing `~N` they become SLOPPY phrases (`"fast
scan"~3`): unordered proximity within a ±N token radius of the first
term, the same positional plan — bare terms run through the shared
engine tokenizer,
`field:value` / `field:>N` atoms are METADATA predicates — keyword
semantics, verbatim value — evaluated against index.docs with the
comparison pushed into the Parquet scan; all field leaves share ONE
scan whose filter is the pushed disjunction of their predicates, and
`merg*` atoms are PREFIX wildcards — Lucene PrefixQuery semantics —
compiled as one StringStartsWith-pushed tf range scan shared by all
prefix leaves, constant-score at rank time; leading/inner stars are
rejected, a reversed-term index being the one structure this engine
does not build. `fast~1` / `tabel~` atoms are FUZZY terms — Lucene
FuzzyQuery semantics, vocabulary expansion via the SymSpell
deletion-hash join of operators/spell.py, constant-score. Any atom —
or parenthesised group — takes a trailing `^N` BOOST (`fast^2`,
`"spark window"^0.5`, `(a OR b)^3`): matching-transparent, it scales
the BM25 weight of the positive tokens beneath it at rank time.
`/pattern/` atoms are REGEX leaves over the raw document content —
Lucene RegexpQuery's slash syntax, rlike semantics, trigram-pruned
verify scan via make_regex_matcher — constant-score).

Spark-first compilation — the whole query is THREE narrow stages and
ONE shuffle, regardless of how many leaves it has:

  1. every TERM leaf in one plan: one index.tf scan (the `term IN
     (...)` filter pushes into the Parquet scan), each row tagged with
     its leaf ids by a `map(term → leaf ids)` literal;
  2. every PHRASE leaf in one plan: positional matches_set — one
     bucket-pruned postings scan + one part_id shuffle for the whole
     phrase set (operators/positional.py);
  3. union → groupBy(doc_id).agg(collect_set(leaf_id)) — the ONLY
     query-shaped shuffle — then the boolean tree is evaluated as a
     pure built-in Column over the per-doc matched-leaf set
     (array_contains AND/OR/NOT), fully codegen'd, no Python at
     match time.

NOT needs a universe: a doc matching ZERO leaves never reaches the
aggregate, so if the expression is satisfiable with all leaves false
(`NOT foo`, `a OR NOT b`) the plan left-joins from index.docs (a full
doc-id scan — unavoidable for a non-restrictive predicate, and the
docs projection is two columns). Restrictive queries (the common
case) never touch the docs table: the result domain is driven
entirely by the index. At 100 TB this means a boolean query costs
O(postings of its leaves) + one shuffle of the candidate doc set —
the same asymptotics as a hand-written intersection, but AQE-planned.

OOV leaves simply never match (they don't join): `fast AND zzz` is
empty, `fast OR zzz` ≡ `fast`, `fast AND NOT zzz` ≡ `fast` — the
Lucene semantics. Atoms whose analysis is empty (e.g. a 1-char token
the shared tokenizer drops) are PRUNED as Lucene prunes stopword-only
clauses: an AND loses the clause, an OR loses the branch, a query
that prunes to nothing matches everything restricted by what remains
(match-all if nothing remains).

Ranking: topk() scores the boolean survivors by BM25 over the
POSITIVE leaves' token multiset (terms + phrase constituents; leaves
under an odd number of NOTs contribute nothing) with the expression
and term-ordered fold of operators/query.score_terms — so `"fast
scan" AND NOT merge` ranks exactly like the free-text query `fast
scan` restricted to the boolean doc set. The ranking terms ride the
term-leaf tf scan, so the leaf-hit set and the score come out of the
ONE doc_id aggregate. Docs matching only by NOT (no positive token)
score 0.0 and tie-break by doc_id.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from ..functions.tokenize import tokenize_py
from ..plans.layout import local_rows, sql_in, sql_lit

# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class Phrase:
    tokens: tuple  # tuple[str, ...]


@dataclass(frozen=True)
class Near:
    """Sloppy-phrase leaf — `"fast scan"~3` (Lucene's `"..."~N` syntax).
    Matches docs where every constituent term occurs within ±window
    tokens of some occurrence of the FIRST term (the anchor) — the
    unordered-NEAR semantics of the engine's proximity kernel
    (operators/positional.proximity_docs), deliberately simpler than
    Lucene's move-count slop: the window is a hard positional radius,
    which is what code search means by "these identifiers appear
    together". `~0` folds to an exact Phrase (Lucene's slop-0 rule);
    a one-token sloppy phrase folds to its Term. Rank-time the
    constituent tokens join the positive multiset exactly as Phrase
    tokens do."""

    tokens: tuple  # tuple[str, ...]
    window: int


@dataclass(frozen=True)
class PhrasePrefix:
    """Phrase-prefix leaf — `"merge sha*"` (search-as-you-type;
    Elasticsearch match_phrase_prefix). The head tokens match exactly
    at consecutive positions and the NEXT position holds any indexed
    token starting with the stem — the positional kernel intersects
    the head's composite keys with the union of every stem-matching
    term's postings (operators/positional.phrase_prefix_occurrences).
    An empty analyzed head folds to a plain Prefix. Rank-time the HEAD
    tokens join the positive multiset; the open stem contributes
    nothing (the Prefix constant-score rationale). Slop cannot combine
    with a trailing star."""

    tokens: tuple  # exact head, tuple[str, ...]
    stem: str


@dataclass(frozen=True)
class Prefix:
    """Trailing-star wildcard leaf — `merg*`. Matches every indexed
    term that starts with the stem (Lucene PrefixQuery). The stem is
    analyzer-normalized (lowercased, single-token charset enforced);
    leading/inner stars are rejected — a leading wildcard needs a
    reversed-term index, which this engine does not build. Like
    Lucene's default CONSTANT_SCORE multi-term rewrite, a prefix leaf
    contributes NOTHING to BM25 ranking: it filters, it does not
    score (the expansion set is unbounded, so any per-term scoring
    would make the clause count data-dependent)."""

    stem: str


@dataclass(frozen=True)
class Fuzzy:
    """Fuzzy term leaf — `fast~1`, `tabel~` (distance defaults to 2,
    Lucene FuzzyQuery's default). Matches docs containing ANY indexed
    term within levenshtein distance ≤ max_d of the stem (the exact
    term is distance 0, so a fuzzy leaf subsumes its Term). Expansion
    runs against the index VOCABULARY via the SymSpell deletion-hash
    join (operators/spell.py — one vocab scan for all fuzzy leaves in
    the query, length-window pushed), then the expanded (leaf_id,
    term) pairs ride the same single tf scan as exact Term leaves.
    Constant-score at rank time, same rationale as Prefix."""

    stem: str
    max_d: int


@dataclass(frozen=True)
class Regex:
    """Regex leaf — `/merge_\\d+/` (Lucene RegexpQuery's slash syntax).
    Matches docs whose raw CONTENT matches the pattern, unanchored
    (rlike semantics) — the one leaf kind that reads document text, so
    it needs a content source bound via make_regex_matcher(...) passed
    as `regex_query=`. The matcher prunes with the trigram index when
    one is provided (Cox trigram analysis, operators/trigram.py) and
    always verifies with an exact rlike, so results equal a full-scan
    rlike regardless of the index. Constant-score at rank time (same
    CONSTANT_SCORE rationale as Prefix: the match set is not a term).
    The pattern must be valid in BOTH Python re and Java regex — the
    parser validates with Python's re.compile; stick to the common
    subset (no lookbehind quirks, no Java-only constructs)."""

    pattern: str


@dataclass(frozen=True)
class Field:
    """Metadata predicate leaf — `lang:en`, `n_chars:>300`,
    `source:"web crawl"`. The VALUE is verbatim (keyword semantics, no
    text analysis, case-sensitive); op is one of = > >= < <=. Compiled
    to a column-pruned, predicate-pushed scan of index.docs — never a
    postings lookup."""

    name: str
    op: str
    value: str


@dataclass(frozen=True)
class Boost:
    """Query-time boost — `term^2`, `"spark window"^0.5`, `(a OR b)^3`
    (Lucene boost syntax; the factor is a non-negative decimal).
    TRANSPARENT for matching: a boosted subtree matches exactly the
    docs its child matches. At rank time the factor multiplies the
    positive-token weights of everything beneath it (nested boosts
    multiply), which is exactly Lucene's per-clause score scaling —
    BM25's qtf enters the score product linearly, so weight w on a
    term scores w × the unboosted contribution. Constant-score leaves
    (Prefix/Fuzzy/Field) stay constant-score under a boost."""

    child: object
    factor: float


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class AtLeast:
    """Minimum-should-match group — `(a OR b OR c)~2` (the classic
    Lucene query parser's `~N` suffix on a parenthesized group,
    Elasticsearch `minimum_should_match`). Matches docs satisfying at
    least n of the children. The group's top-level OR disjuncts are the
    countable clauses, so the clauses must be joined by OR: adjacent
    atoms are an implicit AND here (not Lucene's default OR), which
    makes `(a b c)` ONE clause and `(a b c)~2` fold to match-none.
    Folds: n≤0 → match-all, n=1 → Or, n=len(children) → And,
    n>len(children) → match-none — so a surviving AtLeast always has
    1 < n < len(children). Rank-time the children contribute to the
    positive multiset exactly as Or children do; matching-wise it
    compiles to a codegen'd count-of-matched-clauses ≥ n over the
    per-doc leaf bitmask (never a combinatorial OR-of-ANDs expansion)."""

    children: tuple
    n: int


@dataclass(frozen=True)
class Not:
    child: object


@dataclass(frozen=True)
class Bool:
    """Constant node — the residue of pruning empty-analysis atoms."""

    value: bool


_TOKEN_RE = re.compile(r'/((?:\\.|[^/\\])+)/|"([^"]*)"|(\()|(\))|([^\s()"]+)')
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.*)$", re.S)
# trailing boost suffix on a word token: `term^2`, `fast~1^0.5`, or a
# bare `^3` (which the lexer emits standalone so it can follow a
# phrase/paren atom: `"spark window"^2`, `(a OR b)^3`)
_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$", re.S)


_STEM_RE = re.compile(r"[a-z0-9_]+")


def _mk_field(name: str, raw: str) -> Field:
    if "*" in raw:
        # no silent verbatim-no-match: field values are keyword
        # (exact) semantics, wildcards exist only on term leaves
        raise BoolQuerySyntaxError(
            f"wildcards are not supported in field values ('{name}:{raw}')"
        )
    for op in (">=", "<=", ">", "<"):
        if raw.startswith(op):
            return Field(name, op, raw[len(op) :])
    return Field(name, "=", raw)


def _mk_prefix(word: str) -> Prefix:
    """`merg*` → Prefix('merg'). Only a single trailing star; the stem
    must normalize (lowercase) to one analyzable token."""
    if word == "*":
        raise BoolQuerySyntaxError("bare '*' is not a query")
    if word.count("*") > 1 or not word.endswith("*"):
        raise BoolQuerySyntaxError(
            f"only trailing-star prefix wildcards are supported: {word!r}"
        )
    stem = word[:-1].lower()
    if not _STEM_RE.fullmatch(stem):
        raise BoolQuerySyntaxError(
            f"prefix stem must be a single term ([a-z0-9_]+): {word!r}"
        )
    return Prefix(stem)


def _mk_fuzzy(word: str):
    """`fast~1` → Fuzzy('fast', 1); bare `fast~` defaults to distance 2
    (Lucene). `~0` is exact and folds to a plain Term."""
    base, _, dstr = word.rpartition("~")
    if dstr == "":
        d = 2
    elif dstr in ("0", "1", "2"):
        d = int(dstr)
    else:
        raise BoolQuerySyntaxError(
            f"fuzzy distance must be 0, 1 or 2: {word!r}"
        )
    stem = base.lower()
    if not _STEM_RE.fullmatch(stem):
        raise BoolQuerySyntaxError(
            f"fuzzy stem must be a single term ([a-z0-9_]+): {word!r}"
        )
    return Term(stem) if d == 0 else Fuzzy(stem, d)


class BoolQuerySyntaxError(ValueError):
    pass


def parse_query(text: str):
    """Parse the boolean query language into an AST (see module doc).

    Raises BoolQuerySyntaxError on unbalanced parens / dangling
    operators; returns Bool(True) for a query that analyzes to nothing
    (match-all, mirroring Lucene's pruned-clause behavior).
    """
    toks: list[tuple[str, str]] = []
    pos = 0
    for m in _TOKEN_RE.finditer(text):
        if text[pos : m.start()].strip():
            raise BoolQuerySyntaxError(
                f"unexpected character at {pos}: {text[pos:m.start()]!r}"
            )
        pos = m.end()
        if m.group(1) is not None:
            toks.append(("regex", m.group(1)))
        elif m.group(2) is not None:
            toks.append(("phrase", m.group(2)))
        elif m.group(3):
            toks.append(("(", "("))
        elif m.group(4):
            toks.append((")", ")"))
        else:
            w = m.group(5)
            up = w.upper()
            if up in ("AND", "OR", "NOT"):
                toks.append((up, w))
            elif "^" in w:
                bm = _BOOST_RE.match(w)
                if not bm:
                    raise BoolQuerySyntaxError(
                        f"'^' must introduce a numeric boost (term^2): {w!r}"
                    )
                base, factor = bm.group(1), float(bm.group(2))
                if base:
                    if "^" in base:
                        raise BoolQuerySyntaxError(
                            f"only one boost per atom: {w!r}"
                        )
                    toks.append(("word", base))
                toks.append(("boost", factor))
            else:
                toks.append(("word", w))
    if text[pos:].strip():
        raise BoolQuerySyntaxError(f"unexpected character at {pos}")

    i = 0

    def peek():
        return toks[i][0] if i < len(toks) else None

    def expr():
        nonlocal i
        node = and_expr()
        parts = [node]
        while peek() == "OR":
            i += 1
            parts.append(and_expr())
        return _mk_or(parts) if len(parts) > 1 else node

    def and_expr():
        nonlocal i
        parts = [not_expr()]
        while True:
            t = peek()
            if t == "AND":
                i += 1
                parts.append(not_expr())
            elif t in ("NOT", "word", "phrase", "regex", "("):
                parts.append(not_expr())  # implicit AND
            else:
                break
        return _mk_and(parts) if len(parts) > 1 else parts[0]

    def not_expr():
        nonlocal i
        if peek() == "NOT":
            i += 1
            return _mk_not(not_expr())
        node = atom()
        if peek() == "boost":  # boost binds tightest: NOT a^2 ≡ NOT (a^2)
            node = _mk_boost(node, toks[i][1])
            i += 1
        return node

    def atom():
        nonlocal i
        t = peek()
        if t == "boost":
            raise BoolQuerySyntaxError(
                f"dangling boost '^{toks[i][1]:g}' — a boost must follow an atom"
            )
        if t == "(":
            i += 1
            node = expr()
            if peek() != ")":
                raise BoolQuerySyntaxError("unbalanced '('")
            i += 1
            # `(a OR b OR c)~2` — minimum-should-match on the group
            # (classic Lucene parser); the clauses are the group's OR
            # disjuncts, so `(a b c)~2` (implicit AND: one clause) is
            # match-none. The `~N` may carry a boost (`(a OR b)~2^3`):
            # the lexer already split that into word `~2` + boost 3,
            # so not_expr applies the boost after this returns.
            if peek() == "word" and re.fullmatch(r"~\d+", toks[i][1]):
                node = _mk_atleast(node, int(toks[i][1][1:]))
                i += 1
            return node
        if t == "regex":
            pat = toks[i][1]
            i += 1
            try:
                re.compile(pat)  # early, driver-side validation
            except re.error as e:
                raise BoolQuerySyntaxError(f"invalid regex /{pat}/: {e}") from e
            return Regex(pat)
        if t == "phrase":
            raw = toks[i][1]
            i += 1
            stem = None
            if raw.rstrip().endswith("*"):
                # "merge sha*" — phrase-prefix (search-as-you-type):
                # the LAST word is an open prefix stem
                head, _, last = raw.rstrip()[:-1].rpartition(" ")
                stem = last.lower()
                if not _STEM_RE.fullmatch(stem):
                    raise BoolQuerySyntaxError(
                        "phrase-prefix stem must be a single term "
                        f"([a-z0-9_]+): {raw!r}"
                    )
                raw = head
            analyzed = tuple(tokenize_py(raw))
            slop = None
            if peek() == "word" and re.fullmatch(r"~\d+", toks[i][1]):
                slop = int(toks[i][1][1:])  # "phrase"~N sloppy match
                i += 1
            if stem is not None:
                if slop:
                    raise BoolQuerySyntaxError(
                        'a trailing star cannot combine with slop ("a b*"~2)'
                    )
                if not analyzed:  # '"mer*"' ≡ mer*
                    return Prefix(stem)
                return PhrasePrefix(analyzed, stem)
            if not analyzed:
                return Bool(True)  # pruned clause
            if len(analyzed) == 1:
                return Term(analyzed[0])  # slop on one term is vacuous
            if slop:  # ~0 is Lucene's exact-phrase slop
                return Near(analyzed, slop)
            return Phrase(analyzed)
        if t == "word":
            word = toks[i][1]
            fm = _FIELD_RE.match(word)
            if fm:
                name, raw = fm.group(1), fm.group(2)
                i += 1
                if raw:
                    return _mk_field(name, raw)
                # `field:` followed by a quoted value: source:"web crawl"
                if peek() == "phrase":
                    val = toks[i][1]
                    i += 1
                    return Field(name, "=", val)
                raise BoolQuerySyntaxError(f"field '{name}:' has no value")
            if "*" in word:
                i += 1
                return _mk_prefix(word)
            if "~" in word:
                i += 1
                return _mk_fuzzy(word)
            analyzed = tokenize_py(word)
            i += 1
            if not analyzed:
                return Bool(True)  # pruned clause
            if len(analyzed) == 1:
                return Term(analyzed[0])
            # a bare word the analyzer splits (e.g. "foo-bar") is an
            # implicit phrase, as Lucene's query parser does
            return Phrase(tuple(analyzed))
        raise BoolQuerySyntaxError(f"expected a term, got {toks[i] if i < len(toks) else 'end of query'}")

    if not toks:
        return Bool(True)
    node = expr()
    if i != len(toks):
        raise BoolQuerySyntaxError(f"trailing tokens at {i}: {toks[i:]}")
    return node


def _mk_and(parts):
    kept = []
    for p in parts:
        if isinstance(p, Bool):
            if not p.value:
                return Bool(False)
            continue  # True is the AND identity — pruned clause
        kept.extend(p.children if isinstance(p, And) else (p,))
    if not kept:
        return Bool(True)
    return And(tuple(kept)) if len(kept) > 1 else kept[0]


def _mk_or(parts):
    kept = []
    for p in parts:
        if isinstance(p, Bool):
            if p.value:
                return Bool(True)
            continue  # False is the OR identity
        kept.extend(p.children if isinstance(p, Or) else (p,))
    if not kept:
        return Bool(False)
    return Or(tuple(kept)) if len(kept) > 1 else kept[0]


def _mk_not(child):
    if isinstance(child, Bool):
        return Bool(not child.value)
    if isinstance(child, Not):
        return child.child
    return Not(child)


def _mk_atleast(node, n: int):
    """Fold a `(group)~n` into normal form (see AtLeast docstring).
    The countable clauses are the group's top-level OR disjuncts; a
    pruned (Bool) group counts as one always/never-matching clause."""
    if isinstance(node, Bool):
        # `("" the)~1`: one clause that always (or never) matches
        return Bool(n <= (1 if node.value else 0))
    children = node.children if isinstance(node, Or) else (node,)
    if n <= 0:
        return Bool(True)  # Lucene msm=0: all clauses optional
    if n > len(children):
        return Bool(False)
    if n == len(children):
        return _mk_and(list(children))
    if n == 1:
        return node  # already the Or (or the single clause)
    return AtLeast(children, n)


def _mk_boost(child, factor: float):
    """^1 is the identity; nested boosts multiply; a boosted constant
    stays constant (boost never affects matching)."""
    if isinstance(child, Bool) or factor == 1.0:
        return child
    if isinstance(child, Boost):
        return Boost(child.child, child.factor * factor)
    return Boost(child, factor)


def expand_synonyms(node, groups):
    """Query-time synonym expansion (Elasticsearch search-time
    `synonym` filter, equivalence-class mode): each group is an
    iterable of terms that mean the same thing; every Term leaf whose
    term belongs to a group is rewritten to the OR of the group's
    terms. Returns a new AST; the input is untouched.

    Semantics (documented choices, all Lucene/Elasticsearch defaults):
      * expansion applies to TERM leaves only — phrase/prefix/fuzzy/
        regex/field leaves pass through (multi-token synonym graphs
        need a graph phrase matcher this engine does not build);
      * group members are analyzer-normalized on entry; a member that
        analyzes to nothing (stopword) is dropped; a group with < 2
        surviving members is a no-op;
      * expansion applies under NOT too (`NOT fast` with fast≡quick
        excludes docs containing either — negation distributes over
        the equivalence class);
      * inside an AtLeast group the expanded OR still counts as ONE
        clause (Lucene: a synonym-expanded SHOULD clause is one
        clause for minimum_should_match);
      * rank-time each synonym scores as its own term with the original
        weight (Elasticsearch query-time expansion semantics — blended
        SynonymQuery df is an index-time feature, deliberately not
        reproduced);
      * expanded trees are for EVALUATION, not for printing back to
        query text (an Or child inside an AtLeast re-flattens on
        parse).

    Overlapping groups are rejected — transitively merge them yourself
    if that is what you mean."""
    term_to_group: dict = {}
    for g in groups:
        terms = []
        for raw in g:
            analyzed = tokenize_py(str(raw))
            if len(analyzed) > 1:
                raise ValueError(
                    f"synonym entries must analyze to a single term: {raw!r}"
                )
            if analyzed:
                terms.append(analyzed[0])
        uniq = tuple(dict.fromkeys(terms))
        if len(uniq) < 2:
            continue
        for t in uniq:
            if t in term_to_group and term_to_group[t] != uniq:
                raise ValueError(
                    f"term {t!r} appears in two synonym groups — merge them"
                )
            term_to_group[t] = uniq
    if not term_to_group:
        return node

    def walk(n):
        if isinstance(n, Term):
            g = term_to_group.get(n.term)
            if g is None:
                return n
            return Or(tuple(Term(t) for t in g))
        if isinstance(n, Not):
            return _mk_not(walk(n.child))
        if isinstance(n, Boost):
            return _mk_boost(walk(n.child), n.factor)
        if isinstance(n, And):
            return _mk_and([walk(c) for c in n.children])
        if isinstance(n, Or):
            return _mk_or([walk(c) for c in n.children])
        if isinstance(n, AtLeast):
            # children rewritten in place: clause COUNT is preserved
            return AtLeast(tuple(walk(c) for c in n.children), n.n)
        return n  # Bool and every non-Term leaf kind pass through

    return walk(node)


# --------------------------------------------------------------------------
# analysis helpers
# --------------------------------------------------------------------------


def collect_leaves(node) -> list:
    """Unique Term/Phrase leaves in first-appearance order — the leaf_id
    assignment shared by the compiler and any oracle."""
    out: list = []
    seen: set = set()

    def walk(n):
        if isinstance(n, (Term, Phrase, Near, PhrasePrefix, Prefix, Fuzzy, Field, Regex)):
            if n not in seen:
                seen.add(n)
                out.append(n)
        elif isinstance(n, Not):
            walk(n.child)
        elif isinstance(n, Boost):
            walk(n.child)
        elif isinstance(n, (And, Or, AtLeast)):
            for c in n.children:
                walk(c)

    walk(node)
    return out


def positive_token_counts(node) -> Counter:
    """Token WEIGHT multiset of leaves under an EVEN number of NOTs —
    what topk() ranks by. Phrase leaves contribute each constituent
    token; Prefix and Field leaves contribute nothing (constant-score —
    see the Prefix docstring). A Boost multiplies the weight of every
    token beneath it (nested boosts compound), so values are ints for
    boost-free queries and floats once a boost appears — score_terms
    accepts both, and int weights score bit-identically either way."""
    counts: Counter = Counter()

    def walk(n, neg: bool, w):
        if isinstance(n, Term):
            if not neg:
                counts[n.term] += w
        elif isinstance(n, (Phrase, Near, PhrasePrefix)):
            if not neg:
                for t in n.tokens:
                    counts[t] += w
        elif isinstance(n, Not):
            walk(n.child, not neg, w)
        elif isinstance(n, Boost):
            walk(n.child, neg, w * n.factor)
        elif isinstance(n, (And, Or, AtLeast)):
            for c in n.children:
                walk(c, neg, w)

    walk(node, False, 1)
    # a token whose weights cancel to 0.0 (e.g. `a^0`) still matched —
    # drop it from the RANKING multiset only
    for t in [t for t, w in counts.items() if not w]:
        del counts[t]
    return counts


def satisfiable_all_false(node) -> bool:
    """Evaluate the AST with every leaf false — True means the query is
    NON-RESTRICTIVE (a doc matching no leaf can satisfy it) and the
    plan must range over the full doc universe."""
    if isinstance(node, Bool):
        return node.value
    if isinstance(node, (Term, Phrase, Near, PhrasePrefix, Prefix, Fuzzy, Field, Regex)):
        return False
    if isinstance(node, Boost):
        return satisfiable_all_false(node.child)
    if isinstance(node, Not):
        return not satisfiable_all_false(node.child)
    if isinstance(node, And):
        return all(satisfiable_all_false(c) for c in node.children)
    if isinstance(node, Or):
        return any(satisfiable_all_false(c) for c in node.children)
    if isinstance(node, AtLeast):
        return sum(satisfiable_all_false(c) for c in node.children) >= node.n
    raise TypeError(f"unknown node {node!r}")


# --------------------------------------------------------------------------
# compilation
# --------------------------------------------------------------------------


def _field_pred(docs, leaf: Field):
    """A Field leaf as a pushable Column predicate over index.docs.
    The literal is coerced to the COLUMN's type (never the column cast
    to string — a cast on the column would defeat Parquet filter
    pushdown and row-group pruning)."""
    from pyspark.sql import functions as F

    dtypes = dict(docs.dtypes)
    if leaf.name not in dtypes:
        raise ValueError(
            f"unknown field '{leaf.name}' — index.docs has: "
            f"{sorted(dtypes)}"
        )
    dt = dtypes[leaf.name]
    val: object = leaf.value
    if dt in ("tinyint", "smallint", "int", "bigint"):
        try:
            val = int(leaf.value)
        except ValueError as e:
            raise ValueError(
                f"field '{leaf.name}' is {dt}; {leaf.value!r} is not an integer"
            ) from e
    elif dt in ("float", "double") or dt.startswith("decimal"):
        try:
            val = float(leaf.value)
        except ValueError as e:
            raise ValueError(
                f"field '{leaf.name}' is {dt}; {leaf.value!r} is not a number"
            ) from e
    col = F.col(leaf.name)
    if leaf.op == "=":
        return col == F.lit(val)
    if leaf.op == ">":
        return col > F.lit(val)
    if leaf.op == ">=":
        return col >= F.lit(val)
    if leaf.op == "<":
        return col < F.lit(val)
    return col <= F.lit(val)


def _fuzzy_expand(index, fuzzy_leaves) -> list:
    """Expand [(leaf_id, stem, max_d)] against the index vocabulary —
    ONE vocab scan for all fuzzy leaves: length-window filter (lev ≤ d
    forces |len(term) − len(stem)| ≤ d), SymSpell deletion-variant
    equi-join (exact-complete, operators/spell.py), levenshtein
    verification. Returns [(leaf_id, term)] collected driver-side —
    the engine's standard query-literal derivation (the expansion is
    term strings only, bounded by the stems' d-neighbourhoods in the
    vocabulary), so the downstream tf scan gets a pushable
    `term IN (...)` exactly like exact Term leaves."""
    from pyspark.sql import functions as F

    from .spell import _variants, delete_variants_py

    max_d = max(d for _, _, d in fuzzy_leaves)
    # deletion variant → the (leaf_id, stem, max_d) specs producing it,
    # as a map literal read per vocabulary variant
    by_vkey: dict = {}
    for i, s, d in sorted(set(fuzzy_leaves)):
        for v in sorted(set(delete_variants_py(s, d))):
            by_vkey.setdefault(v, []).append(
                f"named_struct('leaf_id', {sql_lit(i)}, 'stem', {sql_lit(s)}, "
                f"'max_d', {sql_lit(d)})"
            )
    specs = ", ".join(
        f"{sql_lit(v)}, array({', '.join(rows)})" for v, rows in sorted(by_vkey.items())
    )
    lens = [(len(s), d) for _, s, d in fuzzy_leaves]
    lo = min(n - d for n, d in lens)
    hi = max(n + d for n, d in lens)
    vkeys = index.idf.filter(F.length("term").between(lo, hi)).select(
        "term", F.explode(_variants(F.col("term"), max_d)).alias("vkey")
    )
    cand = (
        vkeys.filter(sql_in("vkey", sorted(by_vkey)))
        .selectExpr("term", f"inline(element_at(map({specs}), vkey))")
        .select("leaf_id", "stem", "max_d", "term")
        .distinct()
        .filter(F.levenshtein("term", "stem") <= F.col("max_d"))
    )
    return sorted(
        (int(r["leaf_id"]), r["term"])
        for r in cand.select("leaf_id", "term").collect()
    )


def make_regex_matcher(content, text_col: str = "content", trigram=None):
    """Bind a content source (DataFrame with doc_id + `text_col`) — and
    optionally a trigram index (operators/trigram.build_trigram_index)
    — into the callable the Regex leaf compiler consumes:
    matcher(pattern) → DataFrame(doc_id). Pruned by Cox trigram
    analysis when the index is given, always rlike-verified."""
    from .trigram import trigram_search_regex

    def matcher(pattern: str):
        return trigram_search_regex(
            content, pattern, index=trigram, text_col=text_col, id_col="doc_id"
        )

    return matcher


_NO_SCORE = "CAST(NULL AS STRUCT<term: STRING, contrib: DOUBLE>)"


def _leaf_hits(index, node, phrase_query, regex_query=None, counts=None):
    """(leaf_id int, doc_id long, sc struct<term, contrib>) rows: one
    per (leaf, matching doc) — terms in ONE tf scan, phrases in ONE
    positional plan — plus, when `counts` (term → BM25 weight) is
    given, the BM25 contribution of each (doc, weighted term) in `sc`,
    carried by the SAME tf scan (a weighted term that is no leaf rides
    with a null leaf_id). Returns (leaves, DataFrame)."""
    from pyspark.sql import functions as F

    from .query import SCORE_STRUCT, contribution_sql

    spark = index.tf.sparkSession
    leaves = collect_leaves(node)
    term_leaves = [(i, l.term) for i, l in enumerate(leaves) if isinstance(l, Term)]
    # exact phrases (window None) and sloppy phrases (window ±w) share
    # the ONE positional matches_set plan — per-spec windows
    phrase_leaves = [
        (i, " ".join(l.tokens), None)
        for i, l in enumerate(leaves)
        if isinstance(l, Phrase)
    ] + [
        (i, " ".join(l.tokens), l.window)
        for i, l in enumerate(leaves)
        if isinstance(l, Near)
    ] + [
        (i, " ".join(l.tokens), None, l.stem)
        for i, l in enumerate(leaves)
        if isinstance(l, PhrasePrefix)
    ]
    field_leaves = [(i, l) for i, l in enumerate(leaves) if isinstance(l, Field)]
    prefix_leaves = [
        (i, l.stem) for i, l in enumerate(leaves) if isinstance(l, Prefix)
    ]
    fuzzy_leaves = [
        (i, l.stem, l.max_d)
        for i, l in enumerate(leaves)
        if isinstance(l, Fuzzy)
    ]
    regex_leaves = [
        (i, l.pattern) for i, l in enumerate(leaves) if isinstance(l, Regex)
    ]
    if fuzzy_leaves:
        # fuzzy expansions become plain (leaf_id, term) pairs and ride
        # the SAME single tf scan as the exact Term leaves below
        term_leaves = term_leaves + _fuzzy_expand(index, fuzzy_leaves)
    parts = []
    if field_leaves:
        # ALL field leaves in ONE docs scan: filter(OR of predicates)
        # pushes the disjunction into the Parquet scan, then each
        # surviving row emits the leaf ids it satisfies
        preds = [(i, _field_pred(index.docs, l)) for i, l in field_leaves]
        any_pred = preds[0][1]
        for _, p in preds[1:]:
            any_pred = any_pred | p
        tagged = F.array_compact(
            F.array(*[F.when(p, F.lit(i)) for i, p in preds])
        )
        parts.append(
            index.docs.filter(any_pred).select(
                F.explode(tagged).alias("leaf_id"), "doc_id", F.expr(_NO_SCORE).alias("sc")
            )
        )
    if prefix_leaves:
        # ALL prefix leaves in ONE additional tf scan: the OR of
        # startswith predicates pushes to Parquet as StringStartsWith —
        # on the term-sorted persisted tf file that IS the classic
        # term-dictionary range scan, distributed (row groups outside
        # [stem, stem+1) never decompress). No expansion ever happens:
        # unlike Lucene's rewrite-to-BooleanQuery there is no clause
        # count to cap, so a hot prefix costs exactly its postings.
        # A doc matching several expansions of one stem emits
        # duplicate (leaf_id, doc_id) rows; the downstream
        # collect_set aggregate absorbs them without an extra shuffle.
        preds = [
            (i, F.col("term").startswith(stem)) for i, stem in prefix_leaves
        ]
        any_pred = preds[0][1]
        for _, p in preds[1:]:
            any_pred = any_pred | p
        tagged = F.array_compact(
            F.array(*[F.when(p, F.lit(i)) for i, p in preds])
        )
        parts.append(
            index.tf.filter(any_pred).select(
                F.explode(tagged).alias("leaf_id"), "doc_id", F.expr(_NO_SCORE).alias("sc")
            )
        )
    if term_leaves or counts:
        # ONE tf scan for every term leaf and weighted term: the term IN
        # (...) filter pushes to Parquet (prunes row groups on a
        # term-sorted persisted tf), a map(term → leaf ids) literal tags
        # each row. tf is unique per (doc_id, term): no distinct needed.
        leaf_ids: dict = {}
        for i, t in sorted(term_leaves):
            leaf_ids.setdefault(t, []).append(i)
        tf = index.tf.filter(sql_in("term", sorted(set(leaf_ids) | set(counts or ()))))
        sc = _NO_SCORE
        if counts:
            weights = sql_lit({t: float(w) for t, w in sorted(counts.items())})
            idf_q = index.idf.select("term", "idf").filter(sql_in("term", sorted(counts)))
            tf = tf.join(F.broadcast(idf_q), "term", "left").join(
                index.docs.select("doc_id", "doc_len"), "doc_id"
            )
            contrib = contribution_sql(
                index.params.k1, index.params.b, index.avgdl,
                f"element_at({weights}, term)",
            )
            # the contribution rides on the first of the row's leaf ids
            # only, so the fold sees each (doc, term) exactly once
            sc = (
                "CASE WHEN idf IS NOT NULL AND coalesce(pos, 0) = 0 THEN "
                f"{SCORE_STRUCT.format(contrib)} END"
            )
        tags = (
            f"element_at({sql_lit(leaf_ids)}, term)" if leaf_ids else "CAST(NULL AS ARRAY<INT>)"
        )
        parts.append(
            tf.selectExpr("*", f"posexplode_outer({tags}) AS (pos, leaf_id)")
            .selectExpr("leaf_id", "doc_id", f"{sc} AS sc")
        )
    if regex_leaves:
        if regex_query is None:
            raise ValueError(
                "query has /regex/ leaves but no content source was "
                "provided (pass regex_query=make_regex_matcher(...))"
            )
        # one verify scan per distinct pattern (regex leaves are rare
        # per query; each is trigram-pruned when the matcher has an
        # index, so the scan is the candidate set, not the corpus)
        for i, pat in regex_leaves:
            parts.append(
                regex_query(pat).selectExpr(
                    f"CAST({i} AS INT) AS leaf_id", "doc_id", f"{_NO_SCORE} AS sc"
                )
            )
    if phrase_leaves:
        if phrase_query is None:
            raise ValueError(
                "query has quoted-phrase leaves but no positional index "
                "was provided (pass phrase_query=make_phrase_topk(...))"
            )
        parts.append(
            phrase_query.matches_set(phrase_leaves).selectExpr(
                "phrase_id AS leaf_id", "doc_id", f"{_NO_SCORE} AS sc"
            )
        )
    if not parts:
        return leaves, local_rows(
            spark, [], "leaf_id int, doc_id long, sc struct<term: string, contrib: double>"
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return leaves, df


def _expr_sql(node) -> str:
    """The AST as a pure built-in boolean SQL expression over the
    matched-leaf set column `hits` (leaf_id indices into collect_leaves
    order)."""
    leaves = collect_leaves(node)
    idx_of = {leaf: i for i, leaf in enumerate(leaves)}

    def walk(n):
        if isinstance(n, Bool):
            return "true" if n.value else "false"
        if isinstance(n, (Term, Phrase, Near, PhrasePrefix, Prefix, Fuzzy, Field, Regex)):
            return f"array_contains(hits, {idx_of[n]})"
        if isinstance(n, Boost):  # matching-transparent
            return walk(n.child)
        if isinstance(n, Not):
            return f"(NOT {walk(n.child)})"
        if isinstance(n, And):
            return "(" + " AND ".join(map(walk, n.children)) + ")"
        if isinstance(n, Or):
            return "(" + " OR ".join(map(walk, n.children)) + ")"
        if isinstance(n, AtLeast):
            # count of matched clauses ≥ n — one codegen'd integer sum,
            # never an OR-of-ANDs expansion (C(len, n) clauses)
            cnt = " + ".join(f"CAST({walk(c)} AS INT)" for c in n.children)
            return f"(({cnt}) >= {n.n})"
        raise TypeError(f"unknown node {n!r}")

    return walk(node)


def matches(index, query: str, phrase_query=None, regex_query=None):
    """FILTER shape: every doc satisfying the boolean query —
    DataFrame(doc_id long, n_hits int) where n_hits = number of
    distinct leaves (any polarity) occurring in the doc. Unranked,
    uncapped; feeds joins or topk()."""
    node = parse_query(query) if isinstance(query, str) else query
    if isinstance(node, Bool) and not node.value:
        return local_rows(index.tf.sparkSession, [], "doc_id long, n_hits int")
    return _survivors(index, node, phrase_query, regex_query).selectExpr(
        "doc_id", "CAST(size(hits) AS INT) AS n_hits"
    )


def _survivors(index, node, phrase_query, regex_query, counts=None):
    """(doc_id, hits, score) of every doc satisfying `node`: ONE
    groupBy(doc_id) over _leaf_hits yields the matched-leaf set and the
    BM25 score over `counts` (contributions folded in ascending term
    order, 0.0 for a doc without weighted terms)."""
    from pyspark.sql import functions as F

    from .query import SCORE_FOLD

    _, leaf_df = _leaf_hits(index, node, phrase_query, regex_query, counts)
    hits = leaf_df.groupBy("doc_id").agg(
        F.expr("collect_set(leaf_id)").alias("hits"),
        F.expr(SCORE_FOLD).alias("score"),
    )
    if satisfiable_all_false(node):
        # non-restrictive (NOT-dominated) query: range over the full
        # doc universe; docs with no leaf hit carry the empty set
        universe = index.docs.select("doc_id")
        hits = universe.join(hits, "doc_id", "left").selectExpr(
            "doc_id",
            "coalesce(hits, CAST(array() AS ARRAY<INT>)) AS hits",
            "coalesce(score, 0.0D) AS score",
        )
    return hits.filter(_expr_sql(node))


def topk(index, query: str, k: int, phrase_query=None, regex_query=None,
         sort_by=None, search_after=None):
    """Boolean filter + BM25 rank: top-k of the boolean survivors scored
    as score_terms scores the positive-leaf token multiset (module doc).
    DataFrame(rank int, doc_id long, score double) — score rounded to
    6dp BEFORE ranking (the engine-wide rounded-rank rule).

    sort_by=(column, ascending) replaces relevance with a NUMERIC
    index.docs metadata column (Elasticsearch's sort clause): survivors
    order by the field (doc_id tiebreak) and `score` carries the field
    value cast to double. Still limit-before-rank — the field join is
    two columns, the heap is k.

    search_after=(score, doc_id) — keyset pagination (Elasticsearch
    `search_after`): return the k rows strictly AFTER that sort key in
    the total order (score, then doc_id tiebreak; in sort_by mode the
    first element is the FIELD value). The predicate is applied BEFORE
    the k-heap, so page N costs the same one TakeOrderedAndProject as
    page 1 — never an OFFSET (a global sort of N·k rows) and never a
    growing skip-list on the driver. The doc_id tiebreak makes the
    order total, so pages never overlap or drop ties. `rank` restarts
    at 1 per page (the page concatenation is the global ranking).
    Scores compare post-rounding (6dp), matching what page 1 returned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    node = parse_query(query) if isinstance(query, str) else query
    if sort_by is not None:
        survivors = matches(index, node, phrase_query=phrase_query, regex_query=regex_query)
        col, asc = sort_by
        dtypes = dict(index.docs.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        if col not in dtypes:
            raise ValueError(
                f"unknown sort column '{col}' — index.docs has: {sorted(dtypes)}"
            )
        if dtypes[col] not in numeric and not dtypes[col].startswith("decimal"):
            raise ValueError(
                f"sort_by requires a numeric doc column; '{col}' is {dtypes[col]}"
            )
        scored = survivors.join(index.docs.select("doc_id", col), "doc_id")
        order = [
            F.asc(col) if asc else F.desc(col),
            F.asc("doc_id"),
        ]
        if search_after is not None:
            av, ad = search_after
            fc = F.col(col)
            beyond = (fc > av) if asc else (fc < av)
            scored = scored.filter(
                beyond | ((fc == av) & (F.col("doc_id") > ad))
            )
        top = scored.orderBy(*order).limit(k)
        w = Window.orderBy(*order)
        return top.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", F.col(col).cast("double").alias("score")
        )
    if isinstance(node, Bool) and not node.value:
        return local_rows(index.tf.sparkSession, [], "rank int, doc_id long, score double")
    # the boolean filter and the BM25 score of the positive tokens in
    # ONE aggregate (the ranking terms ride the leaf tf scan)
    scored = _survivors(
        index, node, phrase_query, regex_query, dict(positive_token_counts(node))
    ).selectExpr("doc_id", "round(score, 6) AS score")
    # limit-BEFORE-rank (engine-wide shape): orderBy().limit(k) plans as
    # TakeOrderedAndProject (a distributed k-heap); the rank window then
    # sees ≤ k rows, never the full survivor domain
    order = [F.desc("score"), F.asc("doc_id")]
    if search_after is not None:
        av, ad = search_after
        scored = scored.filter(
            (F.col("score") < av)
            | ((F.col("score") == av) & (F.col("doc_id") > ad))
        )
    return scored.orderBy(*order).limit(k).selectExpr(
        "row_number() OVER (ORDER BY score DESC, doc_id) AS rank", "doc_id", "score"
    )
