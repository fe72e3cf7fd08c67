"""Code-symbol extraction: per-language definition harvesting (the
jump-to-definition layer of a code-search engine) and the definition
index.

The reference indexes code as flat text only; symbol awareness is part
of what makes a CODE search engine usable (query `merge_shards` →
the file that DEFINES it, ranked above the fifty files that call it).
Design constraints at 100 TB:

  * extraction is row-wise JVM regex (`regexp_extract_all` over a
    per-language pattern chosen by the `lang` column) — zero shuffle,
    whole-stage codegen;
  * patterns are line-anchored declaration heads for the big lexical
    families (python def/class, JS/TS function/class/const-arrow,
    Go func/type, Java/C#-style class/interface + method-ish, Rust
    fn/struct/trait) — a deliberate 90% lexical harvest, NOT a parser:
    no language grammar dependency, documented misses (dynamic defs,
    macros) rather than a pretend-AST;
  * the symbol table is (symbol, doc_id, lang, kind) — groupBy(symbol)
    gives the definition index.
"""

from __future__ import annotations

# (kind, regex) per language family; group 1 captures the symbol name.
# Patterns are Java-regex ∩ RE2 portable (no lookbehind).
LANG_PATTERNS: dict[str, list[tuple[str, str]]] = {
    "python": [
        ("function", r"(?m)^[ \t]*def[ \t]+([A-Za-z_][A-Za-z0-9_]*)"),
        ("class", r"(?m)^[ \t]*class[ \t]+([A-Za-z_][A-Za-z0-9_]*)"),
    ],
    "javascript": [
        ("function", r"(?m)^[ \t]*(?:export[ \t]+)?(?:async[ \t]+)?function[ \t]+([A-Za-z_$][A-Za-z0-9_$]*)"),
        ("class", r"(?m)^[ \t]*(?:export[ \t]+)?class[ \t]+([A-Za-z_$][A-Za-z0-9_$]*)"),
        ("const_fn", r"(?m)^[ \t]*(?:export[ \t]+)?const[ \t]+([A-Za-z_$][A-Za-z0-9_$]*)[ \t]*=[ \t]*(?:async[ \t]*)?\("),
    ],
    "go": [
        ("function", r"(?m)^func[ \t]+(?:\([^)]*\)[ \t]+)?([A-Za-z_][A-Za-z0-9_]*)"),
        ("type", r"(?m)^type[ \t]+([A-Za-z_][A-Za-z0-9_]*)"),
    ],
    "java": [
        ("class", r"(?m)^[ \t]*(?:public[ \t]+|private[ \t]+|protected[ \t]+|abstract[ \t]+|final[ \t]+|static[ \t]+)*(?:class|interface|enum)[ \t]+([A-Za-z_$][A-Za-z0-9_$]*)"),
    ],
    "rust": [
        ("function", r"(?m)^[ \t]*(?:pub[ \t(][^)\n]*\)?[ \t]*)?fn[ \t]+([A-Za-z_][A-Za-z0-9_]*)"),
        ("type", r"(?m)^[ \t]*(?:pub[ \t]+)?(?:struct|trait|enum)[ \t]+([A-Za-z_][A-Za-z0-9_]*)"),
    ],
}
DEFAULT_LANG = "python"


def extract_symbols(docs, text_col: str = "content", lang_col: str = "lang", id_col: str = "doc_id"):
    """(doc_id, lang, kind, symbol): every lexical definition head in
    every doc, one row per occurrence (array_distinct within a doc+kind
    — a doc defines a symbol once per kind row even if re-declared)."""
    from pyspark.sql import functions as F

    lang = (
        F.lower(F.col(lang_col))
        if lang_col in docs.columns
        else F.lit(DEFAULT_LANG)
    )
    branches = []
    for lg, pats in LANG_PATTERNS.items():
        arrays = [
            F.struct(
                F.lit(kind).alias("kind"),
                F.array_distinct(
                    F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(1))
                ).alias("syms"),
            )
            for kind, pat in pats
        ]
        branches.append((lg, F.array(*arrays)))
    # chained CASE over the lang column selecting that language's
    # (kind, symbols[]) array; unknown langs fall back to python rules
    # (the fixture corpus is python-ish; misses are empty arrays, never
    # errors)
    case = None
    for lg, arr in branches:
        case = F.when(lang == lg, arr) if case is None else case.when(lang == lg, arr)
    case = case.otherwise(dict(branches)[DEFAULT_LANG])
    # widen a thin scan before the per-row regex battery (row placement
    # cannot change results: one output row per extracted occurrence,
    # downstream aggregates are counts/sorted sets)
    from ..plans.layout import widen_for_kernel

    return (
        widen_for_kernel(docs.select(id_col, *([lang_col] if lang_col in docs.columns else []), text_col))
        .select(
            F.col(id_col).alias("doc_id"),
            lang.alias("lang"),
            F.explode(case).alias("k"),
        )
        .select("doc_id", "lang", F.col("k.kind").alias("kind"), F.explode("k.syms").alias("symbol"))
    )


def symbol_definitions(symbols):
    """(symbol, kind, n_defs, doc_ids): the definition index — where is
    each symbol defined, how often (multi-definition symbols are the
    interesting ones: shadowed helpers, copy-pasted utils)."""
    from pyspark.sql import functions as F

    return symbols.groupBy("symbol", "kind").agg(
        F.count("*").alias("n_defs"),
        F.sort_array(F.collect_set("doc_id")).alias("doc_ids"),
    )
