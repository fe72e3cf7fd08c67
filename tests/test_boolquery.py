"""Boolean query language (operators/boolquery.py): parser shape,
pruning, precedence; match sets ≡ a brute-force per-doc Python
evaluator (independent matcher) including n_hits; ranked topk ≡
boolean-filtered BM25 recomputed driver-side; syntax errors raise."""

from __future__ import annotations

import random

import pytest

from local_search_engine_spark.functions.tokenize import tokenize_py
from local_search_engine_spark.operators.boolquery import (
    And,
    AtLeast,
    Bool,
    BoolQuerySyntaxError,
    Boost,
    Field,
    Near,
    Not,
    Or,
    Fuzzy,
    Phrase,
    PhrasePrefix,
    Prefix,
    Regex,
    Term,
    collect_leaves,
    make_regex_matcher,
    matches,
    parse_query,
    positive_token_counts,
    satisfiable_all_false,
    topk,
)
from local_search_engine_spark.operators.build import build_index_from
from local_search_engine_spark.operators.positional import (
    build_positional_postings,
    make_phrase_topk,
)
from local_search_engine_spark.operators.query import score_terms

VOCAB = ["table", "scan", "agg", "row", "part", "fast", "slow", "io", "x1"]
N_DOCS = 80

QUERIES = [
    "table AND scan",
    "table scan",  # implicit AND
    "table OR io",
    "fast AND NOT slow",
    "NOT table",  # non-restrictive
    "NOT NOT table",  # double negation
    "(table OR io) AND NOT (scan OR agg)",
    "slow OR fast AND row",  # precedence: OR < AND
    '"table scan" OR io',  # phrase leaf
    '"fast slow" AND table',
    '"table table" AND NOT "table table table"',
    "table AND zzzznotaterm",  # OOV conjunct -> empty
    "table OR zzzznotaterm",  # OOV disjunct -> identity
    "table AND NOT zzzznotaterm",  # OOV negation -> identity
    "NOT zzzznotaterm",  # OOV non-restrictive -> everything
    "a table",  # 'a' analyzes empty -> pruned clause
    "x1 AND (io OR (fast AND NOT (slow OR agg)))",
    # field leaves (metadata predicates)
    "lang:en AND table",
    "n_chars:>40 AND NOT lang:de",
    'lang:fr OR "table scan"',
    "NOT lang:en",  # non-restrictive field negation
    "n_chars:<=0",  # matches only the empty doc
    "lang:xx AND table",  # unmatched field value -> empty
    # prefix leaves (r05b)
    "ta* AND NOT agg",  # restrictive prefix
    "s* OR io",  # one stem, several expansions (scan+slow)
    "fast AND NOT s*",  # negated prefix
    "NOT zz*",  # OOV prefix, non-restrictive -> everything
    "x1* OR x1",  # stem equal to a full term; same leaf twice is fine
    # fuzzy leaves (r05b)
    "fasr~1 AND NOT agg",  # d=1 typo of 'fast' (also matches 'part'? no: lev=3)
    "tabel~ OR io",  # d=2 default: matches table
    "scan AND NOT slo~1",  # negated fuzzy (slo->slow d=1)
    "NOT zzzz~1",  # OOV fuzzy, non-restrictive -> everything
    "fast~1",  # exact term is distance 0; also picks up 'past' etc if present
    # boosts (r05c): matching-transparent, so match sets ≡ unboosted
    "fast^2 AND NOT slow",
    '"table scan"^0.5 OR io^3',
    "(table OR io)^2 AND scan",
    "NOT fast^2",  # boost under NOT: still non-restrictive
    "ta*^2 AND fast",  # boosted prefix: constant-score, still matches
    # sloppy phrases (r05c): ±window proximity on the positional index
    '"table scan"~2',
    '"fast slow"~1 AND NOT agg',
    '"table io"~3 OR "table scan"',  # sloppy + exact share one plan
    'NOT "fast slow"~2',  # non-restrictive sloppy negation
    '"table zzzz"~4',  # OOV constituent -> empty
    '"fast slow"~1^2 AND table',  # slop then boost on the same leaf
    # phrase-prefix leaves (r05c): search-as-you-type
    '"table sc*"',
    '"table s*" AND NOT agg',  # several expansions (scan+slow)
    '"fast zz*" OR io',  # dead stem -> identity
    '"table scan ta*"',  # 2-token head
    'NOT "table sc*"',  # non-restrictive
    # regex leaves (r05c): content rlike, constant-score
    "/table scan/",  # substring-ish regex over the raw text
    "/fa.t (slow|table)/ AND NOT agg",
    "NOT /x1/",  # non-restrictive regex negation
    "/zzqq[0-9]+/ OR io",  # no content matches -> identity
    # minimum-should-match groups (r05d): (a OR b OR c)~n
    "(table OR fast OR io)~2",
    "(table OR fast OR scan OR agg)~3 AND NOT slow",
    '(io OR "table scan" OR ta*)~2',  # mixed leaf kinds count as clauses
    "NOT (table OR fast OR io)~2",  # ≤1 of the clauses
    "(table OR NOT fast OR io)~2",  # negated clause counts when absent
    "(zzzz OR qqqq OR table)~2",  # two dead clauses -> empty
]

LANGS = ["en", "de", "fr"]


def _gen_rows(n_docs: int, seed: int = 13):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(0, 30))]
        text = " ".join(words)
        rows.append((i, text, LANGS[i % 3], len(text)))
    extra = ["", "table", "table table table table", "fast slow fast slow"]
    for j, text in enumerate(extra):
        rows.append((n_docs + j, text, LANGS[j % 3], len(text)))
    return rows


@pytest.fixture(scope="module")
def setup(spark):
    rows = _gen_rows(N_DOCS)
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).repartition(8)
    idx = build_index_from(df, text_col="text")
    pos = build_positional_postings(
        df, docs_per_shard=16, block_span=8, n_buckets=8
    )
    pq = make_phrase_topk(pos, block_span=8, n_buckets=8)
    # regex matcher bound to the raw text + an in-plan trigram index
    # (the pruned path; correctness is index-independent by contract)
    from local_search_engine_spark.operators.trigram import doc_trigrams

    content = df.select("doc_id", "text")
    rq = make_regex_matcher(content, text_col="text", trigram=doc_trigrams(content, text_col="text"))
    return rows, idx, pq, rq


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------


def test_parse_shapes():
    assert parse_query("table AND scan") == And((Term("table"), Term("scan")))
    assert parse_query("table scan") == And((Term("table"), Term("scan")))
    assert parse_query("not table") == Not(Term("table"))
    # precedence: OR binds loosest
    assert parse_query("slow OR fast AND row") == Or(
        (Term("slow"), And((Term("fast"), Term("row"))))
    )
    assert parse_query('"table scan" OR io') == Or(
        (Phrase(("table", "scan")), Term("io"))
    )
    # analyzer runs inside the parser: case-fold + short-token drop
    assert parse_query("TABLE") == Term("table")
    assert parse_query("a") == Bool(True)
    assert parse_query("a AND table") == Term("table")
    assert parse_query("a OR table") == Bool(True)
    # a bare word the analyzer splits becomes an implicit phrase
    assert parse_query("fast-slow") == Phrase(("fast", "slow"))
    # double negation collapses
    assert parse_query("NOT NOT table") == Term("table")
    assert parse_query("") == Bool(True)
    # field leaves: verbatim value, optional comparison op, quoted value
    assert parse_query("lang:en") == Field("lang", "=", "en")
    assert parse_query("lang:EN") == Field("lang", "=", "EN")  # no case-fold
    assert parse_query("n_chars:>300") == Field("n_chars", ">", "300")
    assert parse_query("n_chars:<=0") == Field("n_chars", "<=", "0")
    assert parse_query('source:"web crawl"') == Field("source", "=", "web crawl")
    assert parse_query("lang:en AND table") == And(
        (Field("lang", "=", "en"), Term("table"))
    )
    # prefix wildcards: trailing star only, analyzer case-fold on stem
    assert parse_query("merg*") == Prefix("merg")
    assert parse_query("MERG*") == Prefix("merg")
    assert parse_query("s* AND NOT table") == And(
        (Prefix("s"), Not(Term("table")))
    )
    for bad in ["*", "*foo", "f*o", "fo**", "foo-bar*"]:
        with pytest.raises(BoolQuerySyntaxError):
            parse_query(bad)
    with pytest.raises(BoolQuerySyntaxError, match="field values"):
        parse_query("lang:py*")
    # fuzzy: ~ defaults to d=2, ~0 folds to Term, bad distances raise
    assert parse_query("fast~1") == Fuzzy("fast", 1)
    assert parse_query("FAST~") == Fuzzy("fast", 2)
    assert parse_query("fast~0") == Term("fast")
    for bad in ["fast~3", "fast~x", "~", "~1", "a~b~c"]:
        with pytest.raises(BoolQuerySyntaxError):
            parse_query(bad)
    # boosts: bind to the preceding atom, ^1 is identity, nesting
    # multiplies, constants fold, matching shape is untouched
    assert parse_query("fast^2") == Boost(Term("fast"), 2.0)
    assert parse_query("fast^1") == Term("fast")
    assert parse_query('"table scan"^0.5') == Boost(Phrase(("table", "scan")), 0.5)
    assert parse_query("(table OR io)^3") == Boost(
        Or((Term("table"), Term("io"))), 3.0
    )
    assert parse_query("(fast^2)^3") == Boost(Term("fast"), 6.0)
    assert parse_query("NOT fast^2") == Not(Boost(Term("fast"), 2.0))
    assert parse_query("tabel~1^2") == Boost(Fuzzy("tabel", 1), 2.0)
    assert parse_query("ta*^2") == Boost(Prefix("ta"), 2.0)
    assert parse_query("a^2 AND table") == Term("table")  # pruned boosted clause
    for bad in ["^2", "fast^", "fast^x", "fast^2^3", '"x y"^2^3', "fast ^2 ^3"]:
        with pytest.raises(BoolQuerySyntaxError):
            parse_query(bad)
    # sloppy phrases: ~N after a quoted phrase; ~0 folds to exact
    # phrase, one-token slop folds to Term, slop composes with boost
    assert parse_query('"table scan"~2') == Near(("table", "scan"), 2)
    assert parse_query('"table scan"~0') == Phrase(("table", "scan"))
    assert parse_query('"table"~3') == Term("table")
    assert parse_query('"a b"~2') == Bool(True)  # analyzes empty
    assert parse_query('"table scan"~2^4') == Boost(Near(("table", "scan"), 2), 4.0)
    assert parse_query('NOT "fast slow"~1') == Not(Near(("fast", "slow"), 1))
    # phrase-prefix: trailing star inside the quotes; empty head folds
    # to Prefix; star+slop is rejected; boost composes
    assert parse_query('"table sc*"') == PhrasePrefix(("table",), "sc")
    assert parse_query('"table scan ta*"') == PhrasePrefix(("table", "scan"), "ta")
    assert parse_query('"mer*"') == Prefix("mer")
    assert parse_query('"table sc*"^2') == Boost(PhrasePrefix(("table",), "sc"), 2.0)
    for bad in ['"table sc*"~2', '"table s-c*"', '"table *"']:
        with pytest.raises(BoolQuerySyntaxError):
            parse_query(bad)
    # regex leaves: /.../ verbatim body (no analysis), escapes allowed,
    # invalid patterns raise at parse time
    # minimum-should-match groups (r05d): `(a OR b OR c)~n` counts the
    # group's top-level OR disjuncts; folds at the boundaries
    assert parse_query("(table OR fast OR io)~2") == AtLeast(
        (Term("table"), Term("fast"), Term("io")), 2
    )
    assert parse_query("(table OR fast)~1") == Or((Term("table"), Term("fast")))
    assert parse_query("(table OR fast)~2") == And((Term("table"), Term("fast")))
    assert parse_query("(table OR fast)~0") == Bool(True)
    assert parse_query("(table OR fast)~3") == Bool(False)
    assert parse_query("(table OR fast)~3 OR io") == Term("io")  # never-match clause folds
    assert parse_query("(table fast)~1") == And((Term("table"), Term("fast")))
    assert parse_query("(table fast)~2") == Bool(False)  # one AND clause, n=2
    assert parse_query('(a OR the)~1') == Bool(True)  # pruned group, 1 true clause
    assert parse_query('(fast OR "table scan" OR NOT io)~2') == AtLeast(
        (Term("fast"), Phrase(("table", "scan")), Not(Term("io"))), 2
    )
    # a boost after the ~n binds to the whole msm group
    assert parse_query("(table OR fast OR io)~2^3") == Boost(
        AtLeast((Term("table"), Term("fast"), Term("io")), 2), 3.0
    )
    # regex leaves: /.../ verbatim body (no analysis), escapes allowed,
    assert parse_query("/table scan/") == Regex("table scan")
    assert parse_query(r"/fa.t (slow|x)/ AND io") == And(
        (Regex(r"fa.t (slow|x)"), Term("io"))
    )
    assert parse_query(r"/a\/b/") == Regex(r"a\/b")  # escaped slash
    with pytest.raises(BoolQuerySyntaxError, match="invalid regex"):
        parse_query("/foo(/")
    assert parse_query("/table/^2") == Boost(Regex("table"), 2.0)


def test_field_errors(setup):
    _, idx, _, _ = setup
    with pytest.raises(BoolQuerySyntaxError):
        parse_query("lang: AND table")  # bare 'field:' with no value
    with pytest.raises(ValueError, match="unknown field"):
        matches(idx, "nosuchcol:en").collect()
    with pytest.raises(ValueError, match="not an integer"):
        matches(idx, "n_chars:abc").collect()


def test_parse_errors():
    for bad in ["(table", "table)", "table AND", "OR table", "AND", "NOT", "table AND OR scan"]:
        with pytest.raises(BoolQuerySyntaxError):
            parse_query(bad)


def test_static_analysis():
    n = parse_query('fast AND NOT (slow OR "table scan")')
    assert collect_leaves(n) == [
        Term("fast"),
        Term("slow"),
        Phrase(("table", "scan")),
    ]
    assert positive_token_counts(n) == {"fast": 1}
    assert not satisfiable_all_false(n)
    assert satisfiable_all_false(parse_query("NOT table"))
    assert satisfiable_all_false(parse_query("io OR NOT table"))
    assert not satisfiable_all_false(parse_query("io AND NOT table"))
    # NOT NOT phrase is positive again
    assert positive_token_counts(parse_query('NOT NOT "table scan"')) == {
        "table": 1,
        "scan": 1,
    }
    # prefix leaves collect but never score (constant-score rewrite)
    n2 = parse_query("fast AND merg*")
    assert collect_leaves(n2) == [Term("fast"), Prefix("merg")]
    assert positive_token_counts(n2) == {"fast": 1}
    assert not satisfiable_all_false(n2)
    assert satisfiable_all_false(parse_query("NOT merg*"))
    n3 = parse_query("fast AND tabel~1")
    assert collect_leaves(n3) == [Term("fast"), Fuzzy("tabel", 1)]
    assert positive_token_counts(n3) == {"fast": 1}
    assert satisfiable_all_false(parse_query("NOT tabel~"))
    # boosts scale the positive-token weights; matching analysis is
    # untouched (fast and fast^2 are the SAME leaf)
    n4 = parse_query('fast^2 AND "table scan"^0.5 AND fast')
    assert collect_leaves(n4) == [Term("fast"), Phrase(("table", "scan"))]
    assert positive_token_counts(n4) == {"fast": 3.0, "table": 0.5, "scan": 0.5}
    assert not satisfiable_all_false(n4)
    assert satisfiable_all_false(parse_query("NOT fast^2"))
    # a weight that cancels to zero leaves the ranking multiset
    assert positive_token_counts(parse_query("fast^0 AND table")) == {"table": 1}
    # boost under NOT still contributes nothing
    assert positive_token_counts(parse_query("table AND NOT fast^9")) == {
        "table": 1
    }
    # sloppy phrases rank by their constituent tokens, like Phrase
    n5 = parse_query('"table scan"~2 AND fast')
    assert collect_leaves(n5) == [Near(("table", "scan"), 2), Term("fast")]
    assert positive_token_counts(n5) == {"table": 1, "scan": 1, "fast": 1}
    assert satisfiable_all_false(parse_query('NOT "table scan"~2'))
    # msm groups (r05d): children rank like Or children; a NOT-wrapped
    # msm is non-restrictive only when enough clauses are all-false
    n6 = parse_query("(table OR fast OR io)~2 AND scan")
    assert collect_leaves(n6) == [
        Term("table"), Term("fast"), Term("io"), Term("scan"),
    ]
    assert positive_token_counts(n6) == {
        "table": 1, "fast": 1, "io": 1, "scan": 1,
    }
    assert not satisfiable_all_false(n6)
    assert satisfiable_all_false(parse_query("NOT (table OR fast OR io)~2"))
    # two of the three clauses are all-false-satisfiable -> the group is
    assert satisfiable_all_false(
        parse_query("(NOT table OR NOT fast OR io)~2")
    )
    assert not satisfiable_all_false(
        parse_query("(NOT table OR fast OR io)~2")
    )


def test_expand_synonyms_shapes():
    from local_search_engine_spark.operators.boolquery import expand_synonyms

    g = [["fast", "quick"], ["table", "tbl"]]
    assert expand_synonyms(parse_query("fast AND io"), g) == And(
        (Or((Term("fast"), Term("quick"))), Term("io"))
    )
    # symmetric: any member of the group expands to the whole group
    assert expand_synonyms(parse_query("quick"), g) == Or(
        (Term("fast"), Term("quick"))
    )
    # under NOT: negation distributes over the equivalence class
    assert expand_synonyms(parse_query("NOT fast"), g) == Not(
        Or((Term("fast"), Term("quick")))
    )
    # boost carries through
    assert expand_synonyms(parse_query("fast^2"), g) == Boost(
        Or((Term("fast"), Term("quick"))), 2.0
    )
    # inside an msm group the expanded OR is still ONE clause
    got = expand_synonyms(parse_query("(fast OR io OR agg)~2"), g)
    assert got == AtLeast(
        (Or((Term("fast"), Term("quick"))), Term("io"), Term("agg")), 2
    )
    # non-Term leaves pass through untouched
    q = '"fast scan" AND fas* AND /fast/ AND lang:fast'
    assert expand_synonyms(parse_query(q), g) == parse_query(q)
    # analyzer on entries: stopword members drop; <2 survivors = no-op
    assert expand_synonyms(parse_query("fast"), [["fast", "a"]]) == Term("fast")
    assert expand_synonyms(parse_query("fast"), [["FAST", "Quick"]]) == Or(
        (Term("fast"), Term("quick"))
    )
    with pytest.raises(ValueError, match="single term"):
        expand_synonyms(Term("x"), [["fast", "two words"]])
    with pytest.raises(ValueError, match="two synonym groups"):
        expand_synonyms(Term("x"), [["fast", "quick"], ["fast", "slow"]])


def test_synonym_matches_and_rank(setup):
    """Expanded query evaluates exactly like its hand-expanded twin,
    both for the match set and the ranked top-k."""
    from local_search_engine_spark.operators.boolquery import expand_synonyms

    rows, idx, pq, rq = setup
    g = [["fast", "slow"]]  # both in-vocab: the match set genuinely widens
    node = expand_synonyms(parse_query("fast AND NOT agg"), g)
    got = {r["doc_id"] for r in matches(idx, node).collect()}
    want = set(_brute_matches(rows, "(fast OR slow) AND NOT agg"))
    assert got == want
    assert got > set(_brute_matches(rows, "fast AND NOT agg"))
    got_rank = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk(idx, node, 10).collect()
    ]
    want_rank = _brute_topk(rows, idx, "(fast OR slow) AND NOT agg", 10)
    assert [(r, d) for r, d, _ in got_rank] == [(r, d) for r, d, _ in want_rank]
    # a dead (OOV) synonym is a no-op on the match set
    node2 = expand_synonyms(parse_query("fast"), [["fast", "zzzznotaterm"]])
    assert {r["doc_id"] for r in matches(idx, node2).collect()} == set(
        _brute_matches(rows, "fast")
    )


def test_sloppy_contains_exact(setup):
    """An exact phrase occurrence IS a ±w proximity occurrence for any
    w ≥ 1 (the second token sits at anchor+1), so the exact match set
    must be a subset of the sloppy one — and the sloppy set must be
    genuinely larger on a corpus with scrambled co-occurrences."""
    rows, idx, pq, rq = setup
    exact = {r["doc_id"] for r in matches(idx, '"table scan"', phrase_query=pq).collect()}
    sloppy = {
        r["doc_id"]
        for r in matches(idx, '"table scan"~3', phrase_query=pq).collect()
    }
    assert exact and exact <= sloppy
    assert sloppy - exact  # window actually widens the set


# --------------------------------------------------------------------------
# brute-force twin
# --------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    """Plain Levenshtein, the test's independent implementation."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_OPS = {
    "=": lambda a, b: a == b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
}


def _eval(node, toks: list[str], meta: dict) -> bool:
    if isinstance(node, Bool):
        return node.value
    if isinstance(node, Term):
        return node.term in toks
    if isinstance(node, Phrase):
        q = list(node.tokens)
        return any(
            toks[i : i + len(q)] == q for i in range(len(toks) - len(q) + 1)
        )
    if isinstance(node, Regex):
        import re as _re

        return _re.search(node.pattern, meta["_raw"]) is not None
    if isinstance(node, PhrasePrefix):
        q = list(node.tokens)
        L = len(q)
        return any(
            toks[i : i + L] == q
            and i + L < len(toks)
            and toks[i + L].startswith(node.stem)
            for i in range(len(toks) - L)
        )
    if isinstance(node, Near):
        # independent twin of proximity_docs: anchor = first UNIQUE
        # term; match iff some anchor position has every other unique
        # term within ±window
        uniq = list(dict.fromkeys(node.tokens))
        anchors = [p for p, t in enumerate(toks) if t == uniq[0]]
        others = [
            {p for p, t in enumerate(toks) if t == u} for u in uniq[1:]
        ]
        return any(
            all(
                any(a - node.window <= p <= a + node.window for p in posns)
                for posns in others
            )
            for a in anchors
        )
    if isinstance(node, Prefix):
        return any(t.startswith(node.stem) for t in toks)
    if isinstance(node, Fuzzy):
        return any(_lev(t, node.stem) <= node.max_d for t in toks)
    if isinstance(node, Field):
        v = meta[node.name]
        want = type(v)(node.value) if isinstance(v, (int, float)) else node.value
        return _OPS[node.op](v, want)
    if isinstance(node, Boost):
        return _eval(node.child, toks, meta)
    if isinstance(node, Not):
        return not _eval(node.child, toks, meta)
    if isinstance(node, And):
        return all(_eval(c, toks, meta) for c in node.children)
    if isinstance(node, Or):
        return any(_eval(c, toks, meta) for c in node.children)
    if isinstance(node, AtLeast):
        return sum(_eval(c, toks, meta) for c in node.children) >= node.n
    raise TypeError(node)


def _brute_matches(rows, query: str) -> dict[int, int]:
    node = parse_query(query)
    leaves = collect_leaves(node)
    out = {}
    for doc_id, text, lang, n_chars in rows:
        toks = tokenize_py(text)
        meta = {"lang": lang, "n_chars": n_chars, "_raw": text}
        if _eval(node, toks, meta):
            out[doc_id] = sum(1 for l in leaves if _eval(l, toks, meta))
    return out


@pytest.mark.parametrize("query", QUERIES)
def test_matches_equals_bruteforce(setup, query):
    rows, idx, pq, rq = setup
    got = {
        r["doc_id"]: r["n_hits"]
        for r in matches(idx, query, phrase_query=pq, regex_query=rq).collect()
    }
    assert got == _brute_matches(rows, query), query


def test_oov_identities(setup):
    rows, idx, pq, rq = setup
    base = set(_brute_matches(rows, "table"))
    assert {r["doc_id"] for r in matches(idx, "table OR zzzz").collect()} == base
    assert {r["doc_id"] for r in matches(idx, "table AND NOT zzzz").collect()} == base
    assert matches(idx, "table AND zzzz").count() == 0
    # non-restrictive OOV negation matches the full universe
    assert matches(idx, "NOT zzzz").count() == len(rows)


# --------------------------------------------------------------------------
# ranked topk
# --------------------------------------------------------------------------


def _brute_topk(rows, idx, query: str, k: int):
    node = parse_query(query)
    survivors = set(_brute_matches(rows, query))
    counts = positive_token_counts(node)
    scores = {}
    if counts:
        scores = {
            r["doc_id"]: r["score"]
            for r in score_terms(idx, dict(counts)).collect()
        }
    scored = [(d, round(scores.get(d, 0.0), 6)) for d in survivors]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(scored[:k])]


@pytest.mark.parametrize(
    "query",
    [
        "fast AND NOT slow",
        '"table scan" OR io',
        "(table OR io) AND NOT (scan OR agg)",
        "NOT table",  # pure negative: all scores 0.0, doc_id order
        "table AND zzzznotaterm",  # empty
        "fast AND s*",  # prefix is constant-score: ranks like 'fast'
        "s* OR ta*",  # all-prefix query: every score 0.0
        "fast AND tabel~",  # fuzzy is constant-score too
        "fast^3 OR slow",  # boost: weighted BM25 reorders vs unboosted
        'fast^0.25 OR "table scan"^4',  # fractional + phrase boost
        "(table OR io)^2 AND scan^0.5",  # group boost distributes
        '"table scan"~2 AND NOT agg',  # sloppy phrase ranks by tokens
        '"fast slow"~1^2 OR io',  # sloppy + boost
        "/table scan/ AND fast",  # regex constant-score: ranks like 'fast'
        "/fa.t (slow|table)/",  # pure regex: all scores 0.0, doc_id order
        # msm groups (r05d): clauses rank like Or children
        "(table OR fast OR io)~2",
        '(fast OR "table scan" OR agg)~2 AND NOT slow',
        "(ta* OR io OR fast)~2",  # constant-score clause inside the group
    ],
)
def test_topk_equals_filtered_bm25(setup, query):
    rows, idx, pq, rq = setup
    k = 12
    got = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk(idx, query, k, phrase_query=pq, regex_query=rq).collect()
    ]
    assert got == _brute_topk(rows, idx, query, k), query


def test_phrase_without_positional_index_raises(setup):
    _, idx, _, _ = setup
    with pytest.raises(ValueError, match="positional"):
        matches(idx, '"table scan"').collect()


def test_regex_without_matcher_raises(setup):
    _, idx, _, _ = setup
    with pytest.raises(ValueError, match="regex"):
        matches(idx, "/table/").collect()


def test_regex_pruned_equals_unpruned(setup, spark):
    """The trigram index is pure pruning: a matcher WITH the index and
    one WITHOUT must produce identical doc sets for a literal-bearing
    pattern (Cox AND-claim) and for an index-unusable pattern."""
    rows, idx, pq, rq = setup
    df = spark.createDataFrame(
        [(d, t) for d, t, _, _ in rows], "doc_id long, text string"
    )
    bare = make_regex_matcher(df, text_col="text")
    for pat in ["table scan", "fa.t (slow|table)", "x1( table)+"]:
        q = f"/{pat}/"
        with_idx = {r["doc_id"] for r in matches(idx, q, regex_query=rq).collect()}
        without = {r["doc_id"] for r in matches(idx, q, regex_query=bare).collect()}
        assert with_idx == without, pat


def test_boost_score_linearity(setup):
    """Independent semantics check (not via positive_token_counts):
    BM25 is linear in qtf, so every doc's score under `fast^2` must be
    exactly 2 × its score under `fast`, over the identical match set —
    and a boost must never change WHICH docs match."""
    _, idx, pq, _ = setup
    base = {
        r["doc_id"]: r["score"]
        for r in topk(idx, "fast", 1000, phrase_query=pq).collect()
    }
    boosted = {
        r["doc_id"]: r["score"]
        for r in topk(idx, "fast^2", 1000, phrase_query=pq).collect()
    }
    assert set(base) == set(boosted)
    assert base  # non-vacuous
    for d, s in base.items():
        assert boosted[d] == pytest.approx(2.0 * s, abs=2e-6)  # 6dp rounding


def test_boost_reorders_topk(setup):
    """The point of a boost: `fast OR slow` and `fast^9 OR slow^0.1`
    must produce genuinely different orderings whenever both terms
    discriminate (docs heavy in one term outrank under its boost)."""
    _, idx, pq, _ = setup
    plain = [r["doc_id"] for r in topk(idx, "fast OR slow", 10, phrase_query=pq).collect()]
    slowed = [
        r["doc_id"]
        for r in topk(idx, "fast^0.1 OR slow^9", 10, phrase_query=pq).collect()
    ]
    assert set() != set(plain)
    assert plain != slowed


def test_bool_leaf_filters_push_to_parquet(spark, tmp_path):
    """Scale contract: on a PERSISTED index, term leaves reach the tf
    parquet scan as an In(term, ...) pushed filter and prefix leaves as
    StringStartsWith — row groups outside the leaves' term ranges never
    decompress. Pinned on the physical plan text."""
    import contextlib
    import io

    from local_search_engine_spark.operators import boolquery as bq
    from local_search_engine_spark.plans.checkpoint import (
        build_persisted_index,
        load_index,
    )
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    corpus = gen_corpus_spark(spark, 80, partitions=4)
    d = str(tmp_path / "idx")
    build_persisted_index(spark, corpus, d, text_col="content")
    idx, _, _, _ = load_index(spark, d)

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        return buf.getvalue()

    p1 = plan_of(bq.matches(idx, "merge AND shard"))
    assert "PushedFilters" in p1
    assert "In(term, [merge,shard])" in p1 or "In(term, [shard,merge])" in p1, p1[-3000:]

    p2 = plan_of(bq.matches(idx, "mer* AND NOT batch"))
    assert "StringStartsWith(term,mer)" in p2, p2[-3000:]


# --------------------------------------------------------------------------
# parse_query round-trip through the oracle printer (hypothesis)
# --------------------------------------------------------------------------


def _ast_strategy():
    """Parser-normal-form ASTs: And/Or flattened (no same-type direct
    child), no double-NOT, no Bool constants, boosts merged (no nested
    Boost) with round-trippable factors, analyzable term charset."""
    import hypothesis.strategies as st

    word = st.from_regex(r"[a-z][a-z0-9_]{1,7}", fullmatch=True).filter(
        lambda w: w.upper() not in ("AND", "OR", "NOT")
        and tokenize_py(w) == [w]
    )
    words = st.lists(word, min_size=2, max_size=4).map(tuple)
    factor = st.sampled_from([0.5, 2.0, 3.0, 0.25, 8.0, 0.0])

    leaf = st.one_of(
        word.map(Term),
        words.map(Phrase),
        st.tuples(words, st.integers(1, 5)).map(lambda t: Near(*t)),
        st.tuples(words, word).map(lambda t: PhrasePrefix(*t)),
        word.map(Prefix),
        st.tuples(word, st.integers(1, 2)).map(lambda t: Fuzzy(*t)),
        st.from_regex(r"[a-z][a-z ]{0,6}[a-z]", fullmatch=True).map(Regex),
        st.tuples(
            st.sampled_from(["lang", "source", "n_chars"]),
            st.sampled_from(["=", ">", ">=", "<", "<="]),
            st.from_regex(r"[a-z0-9]{1,6}", fullmatch=True),
        ).map(lambda t: Field(*t)),
    )

    def boostable(children):
        return st.one_of(
            children,
            st.tuples(children, factor).map(lambda t: _mk(Boost, t)),
        )

    def _mk(cls, t):
        node, f = t
        if isinstance(node, (Bool, Boost)) or f == 1.0:
            return node
        return cls(node, f)

    def flat(cls):
        # a same-type child's children are spliced in, the parser's
        # flattening: a filter rejecting such lists would make hypothesis
        # print the whole recursive strategy on every retried draw
        return lambda cs: tuple(
            g for c in cs for g in (c.children if isinstance(c, cls) else (c,))
        )

    def extend(children):
        # children never yields a Not (only And children are negated),
        # so no double NOT is built
        flat_and = st.lists(
            st.one_of(children, children.map(Not)), min_size=2, max_size=3
        ).map(flat(And)).map(And)
        flat_or = st.lists(children, min_size=2, max_size=3).map(flat(Or)).map(Or)
        # AtLeast normal form: children OR-flattened, 1 < n < len
        at_least = st.lists(children, min_size=3, max_size=4).map(flat(Or)).flatmap(
            lambda cs: st.integers(2, len(cs) - 1).map(lambda n: AtLeast(cs, n))
        )
        return st.one_of(
            boostable(flat_and), boostable(flat_or), boostable(at_least)
        )

    return st.recursive(boostable(leaf), extend, max_leaves=8)


def test_to_query_string_roundtrip():
    import hypothesis
    from hypothesis import given

    from .oracle import to_query_string

    @given(_ast_strategy())
    @hypothesis.settings(max_examples=300, deadline=None)
    def check(ast):
        assert parse_query(to_query_string(ast)) == ast

    check()


def test_topk_sort_by_field(setup):
    """sort_by replaces relevance with a numeric doc column: the rows
    equal the brute-force survivors ordered by (field desc, doc_id),
    score carries the field value; string columns and unknown columns
    raise."""
    rows, idx, pq, rq = setup
    q = "fast AND NOT slow"
    k = 8
    got = [
        (r["rank"], r["doc_id"], r["score"])
        for r in topk(idx, q, k, phrase_query=pq, sort_by=("n_chars", False)).collect()
    ]
    nchars = {d: n for d, _, _, n in rows}
    surv = sorted(_brute_matches(rows, q))
    want = sorted(surv, key=lambda d: (-nchars[d], d))[:k]
    assert got == [(i + 1, d, float(nchars[d])) for i, d in enumerate(want)]
    # ascending flips the order
    got_asc = [r["doc_id"] for r in topk(idx, q, k, sort_by=("n_chars", True)).collect()]
    want_asc = sorted(surv, key=lambda d: (nchars[d], d))[:k]
    assert got_asc == want_asc
    with pytest.raises(ValueError, match="unknown sort column"):
        topk(idx, q, k, sort_by=("nope", False)).collect()
    with pytest.raises(ValueError, match="numeric"):
        topk(idx, q, k, sort_by=("lang", False)).collect()


def _walk_pages(idx, q, k, total, **kw):
    """Paginate with search_after until exhaustion; return the
    concatenated (doc_id, score) sequence."""
    out, after = [], None
    while True:
        page = topk(idx, q, k, search_after=after, **kw).collect()
        assert [r["rank"] for r in page] == list(range(1, len(page) + 1))
        out.extend((r["doc_id"], r["score"]) for r in page)
        if len(page) < k:
            return out
        after = (page[-1]["score"], page[-1]["doc_id"])
        assert len(out) <= total + k, "pagination did not terminate"


def test_search_after_pagination(setup):
    """Keyset pagination: the page concatenation equals the full
    ordering, pages never overlap or drop rows — including across TIE
    groups (equal scores split mid-page), the case OFFSET-free paging
    classically gets wrong."""
    rows, idx, pq, rq = setup
    q = "table OR fast"
    full = [
        (r["doc_id"], r["score"])
        for r in topk(idx, q, 10_000).collect()
    ]
    assert len(full) > 20
    for k in (7, 3):  # k=3 forces splits inside equal-score runs
        assert _walk_pages(idx, q, k, len(full)) == full
    # all-constant-score query: every score 0.0 — one giant tie group,
    # pagination must walk purely on the doc_id tiebreak
    qz = "ta* OR s*"
    fullz = [(r["doc_id"], r["score"]) for r in topk(idx, qz, 10_000).collect()]
    assert fullz and all(s == 0.0 for _, s in fullz)
    assert _walk_pages(idx, qz, 5, len(fullz)) == fullz
    # a search_after beyond the last row returns an empty page
    last = (fullz[-1][1], fullz[-1][0])
    assert topk(idx, qz, 5, search_after=last).count() == 0


def test_search_after_sort_by_field(setup):
    """Pagination composes with the sort-by-field mode (after-tuple =
    (field value, doc_id)), both directions."""
    rows, idx, pq, rq = setup
    for asc in (False, True):
        full = [
            (r["doc_id"], r["score"])
            for r in topk(idx, "fast", 10_000, sort_by=("n_chars", asc)).collect()
        ]
        assert len(full) > 10
        assert _walk_pages(
            idx, "fast", 4, len(full), sort_by=("n_chars", asc)
        ) == full
