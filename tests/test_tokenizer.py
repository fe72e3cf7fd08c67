"""The engine tokenizer's golden tokens (FIXTURES.md §4). The
text-statistics kernels that replaced the JVM tokenizer are pinned
bit-exact in tests/test_textstats.py."""

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

