"""Code-symbol extraction: per-language definition harvesting, the
definition index, and jump-to-definition lookup."""

from __future__ import annotations

from local_search_engine_spark.operators.symbols import (
    extract_symbols,
    symbol_definitions,
)

PY = """\
import os

def merge_shards(a, b):
    return a + b

class ShardWriter:
    def write(self):  # method defs count as functions too
        pass

not_a_def = "def fake_in_string(x)"
"""

JS = """\
export async function fetchShards(x) {}
class ShardView {}
const packRows = (rows) => rows
const makeIdx = async (a) => a
const scalar = 5
"""

GO = """\
func MergeShards(a int) int { return a }
func (s *Writer) Flush() error { return nil }
type ShardMeta struct{}
"""

RS = """\
pub fn merge_shards(a: u32) -> u32 { a }
fn helper() {}
pub struct ShardMeta;
trait Packer {}
"""

ROWS = [
    (0, "python", PY),
    (1, "javascript", JS),
    (2, "go", GO),
    (3, "rust", RS),
    (4, "python", ""),  # empty doc
]


def _symbols(spark):
    docs = spark.createDataFrame(ROWS, "doc_id long, lang string, content string")
    return docs, extract_symbols(docs)


def test_extract_per_language(spark):
    _, syms = _symbols(spark)
    got = {(r["doc_id"], r["kind"], r["symbol"]) for r in syms.collect()}
    assert (0, "function", "merge_shards") in got
    assert (0, "function", "write") in got
    assert (0, "class", "ShardWriter") in got
    assert (0, "function", "fake_in_string") not in got  # string literal, not a def head
    assert (1, "function", "fetchShards") in got
    assert (1, "class", "ShardView") in got
    assert (1, "const_fn", "packRows") in got
    assert (1, "const_fn", "makeIdx") in got
    assert (1, "const_fn", "scalar") not in got  # plain const, not a fn
    assert (2, "function", "MergeShards") in got
    assert (2, "function", "Flush") in got  # method receiver form
    assert (2, "type", "ShardMeta") in got
    assert (3, "function", "merge_shards") in got
    assert (3, "function", "helper") in got
    assert (3, "type", "ShardMeta") in got
    assert (3, "type", "Packer") in got
    assert not any(r[0] == 4 for r in got)  # empty doc emits nothing


def test_definition_index_and_lookup(spark):
    """Jump-to-definition is a lookup in the definition index."""
    _, syms = _symbols(spark)
    defs = {
        (r["symbol"], r["kind"]): (r["n_defs"], r["doc_ids"])
        for r in symbol_definitions(syms).collect()
    }
    # merge_shards is defined in python (0) AND rust (3)
    assert defs[("merge_shards", "function")] == (2, [0, 3])
    assert [(k, v) for k, v in defs.items() if k[0] == "ShardWriter"] == [
        (("ShardWriter", "class"), (1, [0]))
    ]
    assert not [k for k in defs if k[0] == "nonexistent_zz"]


def test_extract_zero_shuffle(spark):
    docs, _ = _symbols(spark)
    plan = (
        extract_symbols(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
