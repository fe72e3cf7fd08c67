"""The engine tokenizer's golden tokens (FIXTURES.md §4), and an
analyzer callable passed to the index build is the one the query side
uses. The text-statistics kernels that replaced the JVM tokenizer are
pinned bit-exact in tests/test_textstats.py."""

from local_search_engine_spark.functions.tokenize import tokenize_py

GOLDEN = [
    ("def foo(bar): return bar+1", ["def", "foo", "bar", "return", "bar"]),
    ("Hello, WORLD!  x A bb", ["hello", "world", "bb"]),  # len<2 dropped
    ("ip os io a b z9", ["ip", "os", "io", "z9"]),  # preserve-list terms kept
    ("snake_case stays one_token", ["snake_case", "stays", "one_token"]),
    ("", []),
    ("\n\t  ,.;", []),
    ("uniq_deadbeef UNIQ_DEADBEEF", ["uniq_deadbeef", "uniq_deadbeef"]),
]


def test_golden_tokens():
    for text, want in GOLDEN:
        assert tokenize_py(text) == want, text


def test_code_tokenizer_finds_subtokens():
    from local_search_engine_spark.functions.tokenize import tokenize_code_py

    toks = tokenize_code_py("class ShardWriter:\n  def mergeShards(self): pass")
    assert "mergeshards" in toks and "merge" in toks and "shards" in toks
    assert "shardwriter" in toks and "shard" in toks and "writer" in toks
    # plain words are NOT double-counted
    assert tokenize_code_py("merge merge").count("merge") == 2


def _code_docs(spark):
    return spark.createDataFrame(
        [
            (0, "class ShardMerger:\n  def mergeShards(self): pass", "shard_merger.py"),
            (1, "unrelated zebra module", "zebra.py"),
            (2, "plain merge function here", "util.py"),
        ],
        "doc_id long, text string, path string",
    )


def _hits(idx, tokenizer, query="merge"):
    from collections import Counter

    from local_search_engine_spark.operators.query import score_terms

    counts = dict(sorted(Counter(tokenizer(query)).items()))
    return {r["doc_id"] for r in score_terms(idx, counts).collect()}


def test_code_analyzer_end_to_end_search(spark):
    """Index built with the code analyzer: query 'merge' (tokenized with
    the SAME callable) finds the camelCase-only doc that the default
    analyzer cannot see."""
    from local_search_engine_spark.functions.tokenize import tokenize_code_py
    from local_search_engine_spark.operators.build import build_index_from

    docs = _code_docs(spark)

    def hits(tokenizer):
        idx = build_index_from(docs, text_col="text", cache=False, tokenizer=tokenizer)
        return _hits(idx, tokenizer)

    assert hits(tokenize_py) == {2}
    assert hits(tokenize_code_py) == {0, 2}


def test_code_analyzer_bm25f_search(spark):
    """The same analyzer contract through the BM25F build: every field
    is tokenized with the callable, so the camelCase doc is found."""
    from local_search_engine_spark.functions.tokenize import tokenize_code_py
    from local_search_engine_spark.operators.build import build_index_fields

    docs = _code_docs(spark)

    def hits(tokenizer):
        idx = build_index_fields(
            docs, {"text": 1.0, "path": 2.0}, cache=False, tokenizer=tokenizer
        )
        return _hits(idx, tokenizer)

    assert hits(tokenize_py) == {2}
    assert hits(tokenize_code_py) == {0, 2}
