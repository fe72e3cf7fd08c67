"""Trigram-indexed literal search — the code-search pruning layer for
exact substring queries (grep over 10^12 files), after the public
algorithm behind Google Code Search (Russ Cox, "Regular Expression
Matching with a Trigram Index", swtch.com/~rsc/regexp/regexp4.html):

  index:  every document's DISTINCT character 3-grams → (trigram,
          doc_id) postings, bucket-partitioned parquet (same h32-bucket
          directory-pruning layout as the WAND term buckets);
  query:  a literal of length >= 3 can only occur in docs containing
          ALL of its trigrams → AND the trigram posting lists
          (groupBy(doc_id).count == n_required — one aggregation, no
          join chain), then VERIFY survivors with an exact contains()
          on the content. The index is pure pruning: results equal a
          full-scan contains() exactly (tests pin it), the index just
          bounds the verify scan to the candidate set.

The BM25 side of this engine answers ranked token queries; this
operator answers the other question code search asks every day — "the
exact string `foo_bar(` appears where?" — which a tokenized index
cannot (tokenization destroys punctuation and adjacency). Queries
shorter than 3 chars fall back to the verify scan (documented, not
silent: the fallback is returned in the plan descriptor).
"""

from __future__ import annotations

TRIGRAM_N_BUCKETS = 64


def doc_trigrams(docs, text_col: str = "content", id_col: str = "doc_id"):
    """(doc_id, trigram): distinct character 3-grams per document,
    derived IN-ROW (sequence → transform → array_distinct → explode) —
    the only shuffle downstream is whatever the caller aggregates."""
    from pyspark.sql import functions as F

    # NOT widened (unlike the other per-row operators): doc_trigrams is
    # typically consumed by several actions per query (candidate AND +
    # verify legs), and re-paying the widening shuffle per action
    # measured net-SLOWER at sf1.0 (bool_leafzoo +0.8 s, trigram_regex
    # +0.3 s) than the single-partition explode it parallelizes
    narrow = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    t = F.col("_t")
    n = F.length(t)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: t.substr(i, F.lit(3)),
        )
    )
    # sequence(1, n-2) DESCENDS for n < 3 (the same trap the tf builder
    # guards): short docs contribute no trigrams
    grams = F.when(n >= 3, grams).otherwise(F.array().cast("array<string>"))
    return narrow.select("doc_id", grams.alias("g")).select(
        "doc_id", F.explode("g").alias("trigram")
    )


def build_trigram_index(docs, index_dir: str, text_col: str = "content", id_col: str = "doc_id") -> int:
    """Write the trigram postings bucket-partitioned (pmod(h32(trigram),
    64)) so a query's trigram literals prune whole directories at scan
    time — identical layout discipline to the WAND term_bucket dirs. A
    plans/store.py table (read it with read_table); returns its rows."""
    from pyspark.sql import functions as F

    from ..functions.hashing import h32_col
    from ..plans.store import write_table

    tg = doc_trigrams(docs, text_col, id_col).withColumn(
        "bucket", F.pmod(h32_col(F.col("trigram")), F.lit(TRIGRAM_N_BUCKETS)).cast("int")
    )
    return write_table(tg, index_dir, partition_by=("bucket",))


def literal_query_trigrams(literal: str) -> list[str]:
    """The distinct trigrams a doc MUST contain to contain `literal`."""
    return sorted({literal[i : i + 3] for i in range(len(literal) - 2)})


def trigram_search(docs, literal: str, index=None, text_col: str = "content", id_col: str = "doc_id"):
    """doc_ids containing `literal` exactly (DataFrame: doc_id).

    index: optional postings DataFrame/scan from build_trigram_index —
    when given, candidates = docs containing ALL query trigrams (one
    filter + one groupBy-count over the pruned posting scan), then the
    exact contains() verify runs ONLY on the candidate join. Without an
    index (or a short literal), it is the full verify scan."""
    from pyspark.sql import functions as F

    from ..functions.hashing import h32_py

    verify = docs.filter(
        F.contains(F.col(text_col), F.lit(literal))
    ).select(F.col(id_col).alias("doc_id"))
    need = literal_query_trigrams(literal)
    if index is None or not need:
        return verify
    scan = index
    if "bucket" in index.columns:
        buckets = sorted({h32_py(t) % TRIGRAM_N_BUCKETS for t in need})
        scan = scan.filter(F.col("bucket").isin(buckets))
    cand = (
        scan.filter(F.col("trigram").isin(need))
        .groupBy("doc_id")
        .agg(F.count_distinct("trigram").alias("_hits"))
        .filter(F.col("_hits") == len(need))
        .select(F.col("doc_id").alias("_cand_id"))
    )
    return (
        docs.join(cand, docs[id_col] == cand["_cand_id"])
        .filter(F.contains(F.col(text_col), F.lit(literal)))
        .select(F.col(id_col).alias("doc_id"))
    )


_REGEX_META = set(".^$*+?()[]{}|\\")


def _plain_literal(s: str) -> bool:
    return bool(s) and not (_REGEX_META & set(s))


def regex_trigram_plan(pattern: str):
    """Conservative trigram analysis of a regex (the safe subset of the
    public Cox algorithm): returns (kind, alternatives) where kind is

      'and'  — pattern is a plain literal: docs must contain ALL its
               trigrams (alternatives = [that literal]);
      'or'   — pattern is a top-level alternation of plain literals,
               each >= 3 chars: docs must satisfy at least ONE
               alternative's trigram AND-set;
      'scan' — anything else (metacharacters, short branches): no index
               claim can be made conservatively; caller falls back to
               the full verify scan. Explicit, never silently partial.
    """
    if _plain_literal(pattern):
        if len(pattern) >= 3:
            return ("and", [pattern])
        return ("scan", [])
    branches = pattern.split("|")
    if len(branches) > 1 and all(
        _plain_literal(b) and len(b) >= 3 for b in branches
    ):
        return ("or", branches)
    return ("scan", [])


def trigram_search_regex(docs, pattern: str, index=None, text_col: str = "content", id_col: str = "doc_id"):
    """doc_ids whose content matches `pattern` (Java regex, unanchored
    rlike semantics). The trigram index prunes when regex_trigram_plan
    can make a conservative claim; results ALWAYS equal the full rlike
    scan (the index only shrinks the verify set)."""
    from pyspark.sql import functions as F

    from ..functions.hashing import h32_py

    verify_pred = F.col(text_col).rlike(pattern)
    full_scan = docs.filter(verify_pred).select(F.col(id_col).alias("doc_id"))
    kind, alts = regex_trigram_plan(pattern)
    if index is None or kind == "scan":
        return full_scan
    need_sets = [literal_query_trigrams(a) for a in alts]
    all_need = sorted({g for s in need_sets for g in s})
    scan = index
    if "bucket" in index.columns:
        buckets = sorted({h32_py(t) % TRIGRAM_N_BUCKETS for t in all_need})
        scan = scan.filter(F.col("bucket").isin(buckets))
    hits = scan.filter(F.col("trigram").isin(all_need))
    cands = None
    for s in need_sets:
        c = (
            hits.filter(F.col("trigram").isin(s))
            .groupBy("doc_id")
            .agg(F.count_distinct("trigram").alias("_hits"))
            .filter(F.col("_hits") == len(s))
            .select("doc_id")
        )
        cands = c if cands is None else cands.unionByName(c)
    cand = cands.distinct().select(F.col("doc_id").alias("_cand_id"))
    return (
        docs.join(cand, docs[id_col] == cand["_cand_id"])
        .filter(verify_pred)
        .select(F.col(id_col).alias("doc_id"))
    )
