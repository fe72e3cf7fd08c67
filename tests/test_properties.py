"""Hypothesis property tests for the pure-Python engine functions
(no Spark session — these are the worker-side kernels, so property
coverage here is cheap and broad; SURVEY.md §5.2 item 3).

Chunker invariants (both modes), tokenizer algebraic properties, and
the split/pack laws of the separator-aware splitter.
"""

from __future__ import annotations

import pytest

hyp = pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from local_search_engine_spark.functions.tokenize import tokenize_py  # noqa: E402
from local_search_engine_spark.operators.chunking import (  # noqa: E402
    chunk_spans,
    pack_units,
    split_units,
)

texts = st.text(
    alphabet=st.sampled_from(list("ab z\n._09'!ü")), max_size=400
)
sizes = st.integers(min_value=2, max_value=60)


@given(texts, sizes)
@settings(max_examples=200, deadline=None)
def test_split_units_partition_text(text, size):
    """Units are a contiguous partition of the text: concatenation is the
    identity, each unit is non-empty and <= chunk_size."""
    units = split_units(text, size)
    assert "".join(text[s:e] for s, e in units) == text
    pos = 0
    for s, e in units:
        assert s == pos and e > s and e - s <= size
        pos = e
    assert pos == len(text)


@given(texts, sizes, st.integers(min_value=0, max_value=30))
@settings(max_examples=200, deadline=None)
def test_chunk_spans_invariants(text, size, overlap):
    if overlap >= size:
        overlap = size - 1
    spans = chunk_spans(text, size, overlap)
    # coverage: every char in >=1 chunk; chunks respect the size budget;
    # spans are sorted and overlap only by < size
    covered = set()
    prev_start = -1
    for s, e in spans:
        assert 0 <= s < e <= len(text)
        assert e - s <= size
        assert s > prev_start
        prev_start = s
        covered.update(range(s, e))
    assert covered == set(range(len(text)))


@given(texts, sizes, st.integers(min_value=0, max_value=30))
@settings(max_examples=200, deadline=None)
def test_pack_preserves_unit_boundaries(text, size, overlap):
    """Every chunk starts and ends exactly on unit boundaries."""
    if overlap >= size:
        overlap = size - 1
    units = split_units(text, size)
    starts = {s for s, _ in units}
    ends = {e for _, e in units}
    for s, e in pack_units(units, size, overlap):
        assert s in starts and e in ends


@given(st.lists(st.text(alphabet=st.sampled_from(list("abcxyz09_")), min_size=2, max_size=8), max_size=30))
@settings(max_examples=200, deadline=None)
def test_tokenizer_roundtrip_on_token_material(tokens):
    """Joining valid tokens with any separator and re-tokenizing gives
    the tokens back (lowercased) — the stability law the BM25 oracle
    relies on."""
    text = " ".join(tokens)
    assert tokenize_py(text) == [t.lower() for t in tokens]


@given(texts)
@settings(max_examples=200, deadline=None)
def test_tokenizer_idempotent_and_clean(text):
    """tokenize(join(tokenize(x))) == tokenize(x); every token is
    lowercase and either >= MIN_TOKEN_LEN or a preserved term."""
    from local_search_engine_spark.functions.tokenize import (
        MIN_TOKEN_LEN,
        PRESERVE_TERMS,
    )

    toks = tokenize_py(text)
    assert tokenize_py(" ".join(toks)) == toks
    for t in toks:
        assert t == t.lower()
        assert len(t) >= MIN_TOKEN_LEN or t in PRESERVE_TERMS


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=200_000), min_size=1,
                 max_size=20, unique=True).map(sorted),
        min_size=0, max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_position_codec_roundtrip_property(postings):
    """decode_positions ∘ (per-posting delta encode) is the identity for
    ANY list of sorted position lists — the positional index's codec
    law (operators/positional.py)."""
    import numpy as np

    from local_search_engine_spark.functions.codec import encode_vb_sliced
    from local_search_engine_spark.operators.positional import decode_positions

    flat, starts = [], []
    for p in postings:
        starts.append(len(flat))
        flat.append(p[0])
        flat.extend(p[j] - p[j - 1] for j in range(1, len(p)))
    bufs = encode_vb_sliced(
        np.asarray(flat, np.uint64), np.asarray(starts, np.int64)
    )
    tfs = np.asarray([len(p) for p in postings], np.int64)
    got = decode_positions(b"".join(bufs), tfs)
    want = (
        np.concatenate([np.asarray(p, np.int64) for p in postings])
        if postings
        else np.empty(0, np.int64)
    )
    assert np.array_equal(got, want)


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=30),
        min_size=1, max_size=25,
    ),
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_phrase_kernel_matches_bruteforce_property(doc_tokens, phrase):
    """phrase_occurrences (composite-key intersection) equals the naive
    sliding-window count on ANY corpus of token streams — tiny alphabet
    maximizes collisions/overlaps (e.g. self-adjacent phrases)."""
    import numpy as np

    from local_search_engine_spark.operators.positional import (
        phrase_occurrences,
    )

    arrays: dict = {}
    per: dict = {}
    for d, toks in enumerate(doc_tokens):
        for i, t in enumerate(toks):
            per.setdefault(t, []).append((d, i))
    arrays = {
        t: (
            np.asarray([d for d, _ in v], np.int64),
            np.asarray([p for _, p in v], np.int64),
        )
        for t, v in per.items()
    }
    docs, counts = phrase_occurrences(arrays, phrase)
    got = dict(zip(docs.tolist(), counts.tolist()))
    want = {}
    L = len(phrase)
    for d, toks in enumerate(doc_tokens):
        c = sum(1 for i in range(len(toks) - L + 1) if toks[i : i + L] == phrase)
        if c:
            want[d] = c
    assert got == want


def test_repetition_scores_known_values(spark):
    """Hand-computed Gopher repetition fractions."""
    from local_search_engine_spark.operators import textstats as TS

    docs = spark.createDataFrame(
        [
            # 3 non-blank lines, one dup -> dup_line 1/3. Tokens span
            # lines: [spam spam spam eggs spam spam] -> 5 2-grams with
            # 3 distinct (dup 2/5); 4 3-grams all distinct (dup 0)
            (1, "spam spam\nspam eggs\n\nspam spam"),
            (2, ""),  # empty: all zero, passes
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in TS.repetition_scores(docs).collect()}
    r1 = rows[1]
    assert r1["n_lines"] == 3
    assert abs(r1["dup_line_frac"] - round(1 / 3, 6)) < 1e-9
    assert abs(r1["dup_2gram_frac"] - 0.4) < 1e-9
    assert r1["dup_3gram_frac"] == 0.0
    assert abs(r1["mean_word_len"] - 4.0) < 1e-9
    assert not r1["repetition_pass"]  # 1/3 > 0.30 on lines and 2-grams
    r2 = rows[2]
    assert r2["n_lines"] == 0 and r2["repetition_pass"]


def test_repetition_scores_zero_shuffle(spark):
    from local_search_engine_spark.operators import textstats as TS

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        TS.repetition_scores(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_doc_id_enumeration_dense_deterministic_no_window(spark):
    """with_doc_ids assigns the dense 0-based global rank by the unique
    (repo, path, commit) key, deterministically across evaluations, and
    the enumeration itself plans NO Window and NO Exchange above the
    cached sorted key table (the monotonically_increasing_id low-bits
    local rank replaces the old row_number window, which forced a full
    hash Exchange of the key table)."""
    from local_search_engine_spark.operators.build import with_doc_ids
    from local_search_engine_spark.sources.corpus import gen_corpus_spark

    corpus = gen_corpus_spark(spark, 300)
    ids, keys = with_doc_ids(corpus)
    rows = ids.select("repo", "path", "commit", "doc_id").collect()
    expect = sorted(rows, key=lambda r: (r["repo"], r["path"], r["commit"]))
    assert [r["doc_id"] for r in expect] == list(range(len(rows)))
    again = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"] for r in ids.collect()
    }
    assert all(
        again[(r["repo"], r["path"], r["commit"])] == r["doc_id"] for r in rows
    )
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only Exchange allowed in the doc-id plan is the join back to
    # the corpus (broadcast at this size → none at all) — the cached
    # range shuffle is below the InMemoryTableScan and does not re-plan
    above_cache = plan.split("InMemoryTableScan")[0]
    assert "Exchange hashpartitioning" not in above_cache, plan
    keys.unpersist()


def test_doc_id_offsets_check():
    """The driver-side enumeration check (no Spark): good per-partition
    (partition, count, min, max) rows give prefix offsets and the total
    in partition order; a gap, a repeat, a counter not starting at 0 and
    a partition of 2^33 rows each raise."""
    from local_search_engine_spark.operators.build import LOCAL_BITS, doc_id_offsets

    assert doc_id_offsets([(2, 4, 0, 3), (0, 3, 0, 2), (5, 1, 0, 0)]) == ({0: 0, 2: 3, 5: 7}, 8)
    assert doc_id_offsets([]) == ({}, 0)
    big = 1 << LOCAL_BITS
    assert doc_id_offsets([(0, big - 1, 0, big - 2)]) == ({0: 0}, big - 1)
    for bad in (
        (1, 3, 0, 3),  # gap: positions 0, 1, 3
        (1, 3, 0, 1),  # repeat: positions 0, 1, 1
        (1, 3, 1, 2),  # min != 0
        (1, big, 0, big - 1),  # 2^33 rows: positions wrap
    ):
        with pytest.raises(RuntimeError, match="enumeration invariant violated in partition 1"):
            doc_id_offsets([(0, 2, 0, 1), bad])


def test_term_frequencies_kernel_matches_oracle(spark):
    """The index-time tf kernel emits, per doc and in ascending term
    order, exactly sorted(Counter(tokenize_py(text)).items()); docs with
    null text or no tokens emit no row; and the plan is one MapInPandas
    over the scan — no Exchange, no token-array UDF."""
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from __spark_entry__ import SF0001
    from local_search_engine_spark.operators.build import term_frequencies

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), F.col("text").alias("content")
    )
    extra = spark.createDataFrame(
        [
            (-1, ""),
            (-2, None),
            (-3, "a b"),
            (-4, "ip os io a b z9 db db"),
            (-5, "Ümlaut straße 中文 naïve café CAFÉ zz zz yy"),
        ],
        "doc_id long, content string",
    )
    docs = docs.unionByName(extra)
    tf = term_frequencies(docs)
    want = {
        r["doc_id"]: sorted(Counter(tokenize_py(r["content"] or "")).items())
        for r in docs.collect()
    }
    got: dict = {}
    order = []
    for r in tf.collect():
        if not order or order[-1] != r["doc_id"]:
            order.append(r["doc_id"])
        got.setdefault(r["doc_id"], []).append((r["term"], r["tf"]))
    assert len(order) == len(set(order)), "a doc's rows are not contiguous"
    assert got == {d: w for d, w in want.items() if w}
    assert not {-1, -2, -3} & set(got)
    assert got[-4] == [("db", 2), ("io", 1), ("ip", 1), ("os", 1), ("z9", 1)]
    assert len(got) > 5
    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"(?<![A-Za-z])MapInPandas", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# plans/layout.sql_lit: per-query constants written as SQL text must come
# back from Spark's analyzer exactly — strings character for character,
# doubles bit for bit.
# ---------------------------------------------------------------------------

_NASTY = ["", "x') OR ('1'='1", "a'b", "back\\slash", "\\'", "new\nline", "ü中", "\x00", "\\u0041"]


def _analyzed(spark, values):
    from local_search_engine_spark.plans.layout import sql_lit

    row = spark.range(1).selectExpr(
        *[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    return [row[f"c{i}"] for i in range(len(values))]


@given(st.lists(st.one_of(st.text(max_size=30), st.sampled_from(_NASTY)), min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_sql_lit_strings_roundtrip_through_analyzer(spark, values):
    assert _analyzed(spark, values) == values


@given(st.lists(st.floats(allow_nan=False), min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_sql_lit_doubles_roundtrip_bit_exact(spark, values):
    import struct

    got = _analyzed(spark, values)
    assert [struct.pack("<d", v) for v in got] == [struct.pack("<d", v) for v in values]


def test_sql_lit_known_constants_and_containers(spark):
    import math
    import struct

    from local_search_engine_spark.operators.build import build_index_from
    from local_search_engine_spark.plans.layout import sql_in, sql_lit

    docs = spark.createDataFrame(
        [(0, "table scan merge"), (1, "scan io io"), (2, "merge shard table fast")],
        "doc_id long, text string",
    )
    idx = build_index_from(docs, text_col="text", cache=False)
    p = idx.params
    doubles = [1.0, 2.5, 1 / 3, -0.0, p.k1, p.b, idx.avgdl, p.k1 + 1.0, 1.0 - p.b]
    got = _analyzed(spark, doubles)
    assert [struct.pack("<d", v) for v in got] == [struct.pack("<d", float(v)) for v in doubles]
    inf, ninf, nan = _analyzed(spark, [math.inf, -math.inf, math.nan])
    assert inf == math.inf and ninf == -math.inf and math.isnan(nan)
    assert _analyzed(spark, [0, 2**31 - 1, 2**31, -(2**40), True, None]) == [
        0, 2**31 - 1, 2**31, -(2**40), True, None,
    ]
    quoted, slashed = "it's", "a\\b"
    weights = {quoted: 1.0, slashed: 1 / 3}
    row = spark.range(1).selectExpr(
        f"element_at({sql_lit(weights)}, {sql_lit(quoted)}) AS w",
        f"{sql_lit(['x', 'y'])} AS arr",
        f"{sql_in(sql_lit(slashed), [slashed, 'z'])} AS hit",
    ).first()
    assert (row["w"], row["arr"], row["hit"]) == (1.0, ["x", "y"], True)
