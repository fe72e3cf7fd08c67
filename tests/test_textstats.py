"""Text-statistics operators: the per-doc kernels over tokenize_py
reproduce, bit for bit, the outputs the earlier JVM split-tokenizer
expressions gave on hostile docs, and null text is scored as "".

The golden rows were recorded from that JVM implementation, doubles as
float.hex(). The hostile docs hit every parity rule of the kernels:
Spark's trim strips only U+0020 (doc 7 is tabs only), Java's \\s is
ASCII whitespace (\\x0b, NBSP), lines split on \\n only (CRLF), Java's
lowercasing of U+0130 and the Kelvin sign, code-point lengths (emoji),
and a doc long enough that len_score saturates.
"""

import pytest

from local_search_engine_spark.operators import textstats as TS

LONG = " ".join(f"word{i % 37} the of alpha_{i % 11}" for i in range(40))
HOSTILE = [
    "def\tfoo(bar):\x0b return bar+1\n\tthe the and of\n",
    "\u00a0leading nbsp and\u00a0inner nbsp\u00a0",
    "line one\r\nline two\r\nline one\r\n",
    "\u0130stanbul der die und das \u0130\u0130 ist nicht ein \u212aelvin\f form",
    "emoji \U0001F389 party \U0001F389 party le les des est une",
    "\n\n  spam spam  \n\n  spam spam  \n\n",
    "   leading and trailing spaces   ",
    "\t\t",
    "HTTPServer mergeShards z9 ab_cd x A el la de que los una es el la de",
    LONG,
]
QUERY = ["spam", "the", "party", "foo", "missing", "line", "spam"]

OPS = {
    "token_stats": TS.token_stats,
    "quality_scores": TS.quality_scores,
    "language_id": TS.language_id,
    "keyword_match": lambda docs: TS.keyword_match(docs, QUERY),
    "doc_fingerprints": TS.doc_fingerprints,
    "repetition_scores": TS.repetition_scores,
}

GOLDEN = {
    "token_stats": (
        "struct<doc_id:bigint,n_tokens:int,n_ws_tokens:int,n_distinct:int,n_chars:int>",
        [
            (0, 9, 9, 7, 44),
            (1, 5, 4, 4, 29),
            (2, 6, 7, 3, 30),
            (3, 10, 11, 10, 54),
            (4, 8, 10, 7, 40),
            (5, 4, 6, 1, 32),
            (6, 4, 4, 4, 33),
            (7, 0, 2, 0, 2),
            (8, 14, 16, 11, 68),
            (9, 160, 160, 50, 869),
        ],
    ),
    "quality_scores": (
        "struct<doc_id:bigint,unique_ratio:double,stop_ratio:double,alpha_ratio:double,len_score:double,quality:double>",
        [
            (0, '0x1.8e38e38e38e39p-1', '0x1.c71c71c71c71cp-2', '0x1.51745d1745d17p-1', '0x1.70a3d70a3d70ap-4', '0x1.1eced3cacb1a9p-1'),
            (1, '0x1.999999999999ap-1', '0x1.999999999999ap-3', '0x1.9611a7b9611a8p-1', '0x1.999999999999ap-5', '0x1.4bbd9dd655738p-1'),
            (2, '0x1.0000000000000p-1', '0x0.0p+0', '0x1.6666666666666p-1', '0x1.eb851eb851eb8p-5', '0x1.24dd2f1a9fbe7p-1'),
            (3, '0x1.0000000000000p+0', '0x0.0p+0', '0x1.71c71c71c71c7p-1', '0x1.999999999999ap-4', '0x1.792c5f92c5f93p-1'),
            (4, '0x1.c000000000000p-1', '0x0.0p+0', '0x1.7333333333333p-1', '0x1.47ae147ae147bp-4', '0x1.645a1cac08313p-1'),
            (5, '0x1.0000000000000p-2', '0x0.0p+0', '0x1.0000000000000p-1', '0x1.47ae147ae147bp-5', '0x1.bb645a1cac084p-2'),
            (6, '0x1.0000000000000p+0', '0x1.0000000000000p-2', '0x1.745d1745d1746p-1', '0x1.47ae147ae147bp-5', '0x1.5a3480d67b40ap-1'),
            (7, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.999999999999ap-3'),
            (8, '0x1.9249249249249p-1', '0x0.0p+0', '0x1.8000000000000p-1', '0x1.1eb851eb851ecp-3', '0x1.609f28aadc995p-1'),
            (9, '0x1.4000000000000p-2', '0x1.0000000000000p-1', '0x1.49f1453a9fab3p-1', '0x1.0000000000000p+0', '0x1.2c952e5e6319cp-1'),
        ],
    ),
    "language_id": (
        "struct<doc_id:bigint,pred_lang:string,marker_hits:int>",
        [
            (0, 'en', 4),
            (1, 'en', 1),
            (2, 'und', 0),
            (3, 'de', 7),
            (4, 'fr', 5),
            (5, 'und', 0),
            (6, 'en', 1),
            (7, 'und', 0),
            (8, 'es', 10),
            (9, 'en', 80),
        ],
    ),
    "keyword_match": (
        "struct<doc_id:bigint,keyword_match:double>",
        [
            (0, '0x1.5555555555555p-2'),
            (1, '0x0.0p+0'),
            (2, '0x1.5555555555555p-3'),
            (3, '0x0.0p+0'),
            (4, '0x1.5555555555555p-3'),
            (5, '0x1.5555555555555p-3'),
            (6, '0x0.0p+0'),
            (7, '0x0.0p+0'),
            (8, '0x0.0p+0'),
            (9, '0x1.5555555555555p-3'),
        ],
    ),
    "doc_fingerprints": (
        "struct<doc_id:bigint,fingerprint:bigint,min_token_hash:bigint>",
        [
            (0, 1141697454, 200836428),
            (1, 106128219, 106061933),
            (2, 1323997015, 950662934),
            (3, 1074518280, 28720030),
            (4, 1066270651, 248440616),
            (5, 133927003, 1621060214),
            (6, 1131251832, 1046306104),
            (7, 0, None),
            (8, 1183682909, 91587985),
            (9, 1248787377, 59148366),
        ],
    ),
    "repetition_scores": (
        "struct<doc_id:bigint,n_lines:bigint,dup_line_frac:double,dup_2gram_frac:double,dup_3gram_frac:double,mean_word_len:double,repetition_pass:boolean>",
        [
            (0, 2, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.9c71c53f39d1bp+1', True),
            (1, 1, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.2666666666666p+2', True),
            (2, 3, '0x1.55553ef6b5d46p-2', '0x1.999999999999ap-3', '0x0.0p+0', '0x1.c000000000000p+1', False),
            (3, 1, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.0000000000000p+2', True),
            (4, 1, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.d000000000000p+1', True),
            (5, 2, '0x1.0000000000000p-1', '0x1.55556084a515dp-1', '0x1.0000000000000p-1', '0x1.0000000000000p+2', False),
            (6, 1, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x1.8000000000000p+2', True),
            (7, 1, '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', '0x0.0p+0', True),
            (8, 1, '0x0.0p+0', '0x1.3b139c94f69cbp-3', '0x1.5554fbdad7519p-4', '0x1.d249235f80991p+1', True),
            (9, 1, '0x0.0p+0', '0x1.c9420b3d4ae43p-2', '0x1.9ec918e325d4ap-3', '0x1.1c00000000000p+2', False),
        ],
    ),
}


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _rows(df):
    return sorted(tuple(v.hex() if isinstance(v, float) else v for v in r) for r in df.collect())


def test_kernels_reproduce_jvm_goldens(spark):
    docs = _docs(spark, HOSTILE)
    for name, op in OPS.items():
        schema, rows = GOLDEN[name]
        out = op(docs)
        assert out.schema.simpleString() == schema, name
        assert _rows(out) == rows, name


@pytest.mark.parametrize(
    "name", ["token_stats", "quality_scores", "keyword_match", "doc_fingerprints", "repetition_scores"]
)
def test_null_text_scores_as_empty(spark, name):
    """A null doc gets the empty doc's row: not nulls, and not a
    quality score that a null-ignoring min lifts over the floor."""
    rows = {r[0]: r[1:] for r in _rows(OPS[name](_docs(spark, [None, ""])))}
    assert rows[0] == rows[1], rows
