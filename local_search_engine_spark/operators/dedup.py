"""Deduplication operators for large-scale training-data pipelines.

The reference has no dedup at all (closest: the per-result redundancy
cosine check at reference retriever.py:485-517, threshold 0.85 — covered
here by embedding_neardup_pairs). These are the first-class operators a
100 TB corpus pipeline needs. Joins, groupings and pair generation are
DataFrame ops; the per-doc work (shingle sets, MinHash and SimHash
signatures, cosine verification) runs in Arrow-batched Python kernels,
one evaluation per row. Every operator has a SQL-expressible oracle via
the portable md5-based hashing in functions/hashing.py.

Scale notes (designed for a 1000-executor cluster, tested on local[32]):
  * exact_dedup: one hash-shuffle on a uniform 16-byte digest;
    exact_dedup_keep takes a window min, with no join back.
  * shingle/jaccard: the self-join on shingle is the classic quadratic
    trap; minhash_lsh_pairs is the scale path — candidate generation
    shuffles on (band_id, band_key) buckets only, and verification joins
    only candidate pairs. Hot buckets (boilerplate shingles) are bounded
    by banding; a df-style cap on pathological buckets is exposed via
    max_bucket_size.
  * simhash: per-doc signature in one Arrow kernel, zero shuffle;
    simhash_pairs bands the signature for Hamming-neighbour candidates
    (EXACT for max_hamming < n_bands by pigeonhole).
  * embedding near-dup: embedding_neardup_lsh_pairs is the bucketed
    scale path (SRP buckets -> in-bucket pairs -> exact cosine verify);
    embedding_neardup_pairs stays as the all-pairs oracle/verification
    path for small N.
"""

from __future__ import annotations

from ..functions.hashing import N_PERMS, h32_col

# 60-bit SimHash (15 md5 hex chars — the widest safely-signed-long md5
# prefix): with 4 disjoint 15-bit bands the banded candidate join stays
# EXACT for hamming <= 3 while random band collisions shrink 128x vs the
# 32-bit/8-bit-band layout (measured at sf0.1: candidate pairs 2.9M -> 2.2k)
SIMHASH_BITS = 60


def exact_dedup_groups(docs, text_col: str = "text", id_col: str = "doc_id"):
    """Exact duplicate groups by content digest.

    Returns (text_md5, n_docs, min_doc_id, doc_ids_csv): one row per
    distinct content; n_docs > 1 marks a duplicate cluster. doc_ids_csv
    is a deterministic ascending comma list (portable across engines —
    array<->list hashing differs, strings don't).
    """
    from pyspark.sql import functions as F

    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col).alias("doc_id"))
        .groupBy("text_md5")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            # sort numerically BEFORE casting to string ("10" < "2" lexically)
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            ).alias("doc_ids_csv"),
        )
    )


def text_md5(col):
    """md5 of a text column, null text hashed as "" (the analyzer's rule)."""
    from pyspark.sql import functions as F

    return F.md5(F.coalesce(col, F.lit("")))


def with_canonical_id(keyed, digest_col: str):
    """`keyed` (doc_id, digest_col, ...) plus canonical_id = min(doc_id)
    OVER (PARTITION BY digest_col): one shuffle on the uniform 16-byte
    key and no join back. A pathological hot cluster is one window
    group, which WindowExec spills to disk: it costs disk, not an OOM."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    return keyed.withColumn("canonical_id", F.min("doc_id").over(Window.partitionBy(digest_col)))


def exact_dedup_keep(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, canonical_id, is_dup): the pipeline-facing dedup verdict —
    keep-min-id per content digest; `filter(~is_dup)` IS the deduped
    corpus. Unlike exact_dedup_groups this never materializes per-group
    id lists, so a 10^7-copy boilerplate cluster costs rows, not one
    giant string. Null text is deduplicated as ""."""
    from pyspark.sql import functions as F

    keyed = docs.select(
        F.col(id_col).alias("doc_id"), text_md5(F.col(text_col)).alias("text_md5")
    )
    return with_canonical_id(keyed, "text_md5").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
    )


def connected_components(pairs, max_iter: int = 20):
    """(node, cluster_id): connected components of an (a, b) pair graph —
    cluster_id = min node id reachable. Min-label propagation: each
    round every node takes min(own label, neighbours' labels); converges
    in graph-diameter rounds (near-dup graphs are clique-like — 1-3
    rounds in practice), capped at max_iter (raises if not converged —
    silent truncation would mislabel clusters). Each round is one join +
    one aggregate. The edges are localCheckpoint()ed once (no round
    re-runs the plan behind `pairs`) and labels per round, so lineage
    stays CONSTANT across iterations; a round's changed-label count is
    an Observation on its eager checkpoint, not a second action.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["y"] == labels["node"])
            .groupBy("x")
            .agg(F.min("label").alias("nbr_label"))
        )
        obs = Observation()
        labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["x"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("_changed"),
            )
            .observe(obs, F.count_if("_changed").alias("changed"))
            .drop("_changed")
            .localCheckpoint()
        )
        # an empty graph's plan can lose its CollectMetrics node (AQE
        # folds the empty relation), and the observation is then empty
        if not obs.get.get("changed"):
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _shingles_pandas_udf(n: int):
    """Arrow-batched shingle kernel: text → DISTINCT word n-gram shingles
    in first-occurrence order. One tokenize pass per doc, in C-speed
    Python regex. tests/test_dedup.py pins it against an ordered-distinct
    n-gram oracle over tokenize_py; the minhash dedup gates check it end
    to end."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.tokenize import tokenize_py

    def _sh(s):
        def one(x):
            toks = tokenize_py(x) if x is not None else []
            if len(toks) < n:
                return []
            return list(
                dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
            )

        return s.map(one)

    # this module uses `from __future__ import annotations`; pandas_udf
    # needs REAL type objects, so set them explicitly
    _sh.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_sh, "array<string>")


def doc_shingle_sets(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
):
    """(doc_id, shingles: array<string>) — the DISTINCT word n-gram
    shingle set per doc, built entirely WITHIN the row. ZERO shuffle —
    per-doc distinctness never needs to leave the row, so the classic
    `explode → distinct()` full shuffle of the corpus-wide shingle table
    (~10^2 rows per doc — the single biggest relation in the dedup
    pipeline) is eliminated. The exploded presentation (doc_shingles) and
    every MinHash consumer derive from this set.

    Tokenization is the engine's single tokenizer (functions/tokenize.py);
    shingles are space-joined token n-grams. One Arrow-batched kernel,
    ONE tokenize pass per doc; ExtractPythonUDFs evaluates the UDF
    exactly once even when a filter predicate over `shingles` is pushed
    into this projection.
    """
    from pyspark.sql import functions as F

    from ..plans.layout import widen_for_kernel

    narrow = widen_for_kernel(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    # asNondeterministic (guide §4.4): callers filter on
    # size(shingles) > 0, and the optimizer pushes that filter BELOW
    # the widening exchange, duplicating the whole tokenize+shingle
    # kernel — once on the thin pre-widen layout. The kernel is pure;
    # the marker only pins a single evaluation above the exchange.
    return narrow.select(
        "doc_id",
        _shingles_pandas_udf(n)
        .asNondeterministic()(F.col(text_col))
        .alias("shingles"),
    )


def doc_shingles(docs, text_col: str = "text", id_col: str = "doc_id", n: int = 3):
    """(doc_id, shingle) — distinct word n-gram shingles per doc, the
    exploded (inverted-index-ready) presentation of doc_shingle_sets.
    No `.distinct()` shuffle: distinctness is established inside the row
    by the shingle kernel before the explode."""
    from pyspark.sql import functions as F

    return doc_shingle_sets(docs, text_col, id_col, n).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
):
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).

    Self-join on shared shingles counts |A ∩ B|; sizes give the union.
    Quadratic in cluster size — the exact/verification path. At scale,
    generate candidates with minhash_lsh_pairs first and verify only
    those; this operator IS that verification when given candidate pairs.
    """
    from pyspark.sql import functions as F

    sh = doc_shingles(docs, text_col, id_col, n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_wide(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    shingle_sets=None,
):
    """(doc_id, s0..s{N_PERMS-1}): one wide MinHash signature row per doc.

    sig(doc, p) = min over shingles of ((a_p * h32(shingle) + b_p) mod P),
    computed entirely WITHIN the row: one transform hashes the shingle
    set once, then the 16-permutation min is a single Arrow-batched numpy
    broadcast (hashing.np_minhash_sigs) over the hashed array. ZERO
    shuffle — the earlier groupBy(doc_id) over the exploded shingle table
    (a full corpus-content shuffle even with map-side partial
    aggregation) is gone; signatures stream straight off the source scan.
    Docs with empty shingle sets (length < n) produce no signature row,
    matching the exploded formulation.

    shingle_sets: optionally pass a precomputed doc_shingle_sets()
    DataFrame so callers (minhash_lsh_pairs) share one cached scan
    between signature generation and candidate verification.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import minhash_sigs_udf

    ss = (
        shingle_sets
        if shingle_sets is not None
        else doc_shingle_sets(docs, text_col, id_col, n)
    )
    hashed = F.transform(F.col("shingles"), lambda s: h32_col(s))
    base = ss.filter(F.size("shingles") > 0).select("doc_id", hashed.alias("hh"))
    sig = base.select("doc_id", minhash_sigs_udf()(F.col("hh")).alias("sig"))
    return sig.select(
        "doc_id", *[F.col("sig")[p].alias(f"s{p}") for p in range(N_PERMS)]
    )


def bucket_pairs(grouped, ids_col: str = "ids"):
    """(a, b) candidate pairs from a bucketed (…, ids array) DataFrame —
    all i<j pairs generated INSIDE the array with JVM expressions
    (array_sort → slice → flatten), so pair expansion costs zero extra
    shuffle (vs the classic explode-twice self-join, which shuffles the
    bucket table two more times). Bucket sizes must be pre-capped — a
    B-doc bucket emits B(B-1)/2 pairs."""
    from pyspark.sql import functions as F

    ids_s = F.array_sort(F.col(ids_col))
    pairs = F.flatten(
        F.transform(
            ids_s,
            lambda x, i: F.transform(
                F.slice(ids_s, i + 2, F.size(ids_s)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def _observe_buckets(buckets, max_bucket_size: int, metrics: dict):
    """Observe the LSH bucket counters of `buckets` (rows with an `ids`
    array) into metrics["observation"]: {n_buckets, dropped_buckets,
    dropped_pairs_ub, max_bucket_size_seen}. Returns the zero-row
    carrier of the observation, which the caller unions into its result
    with _carry.

    The observation cannot sit on the bucket rows of the pair path:
    when no candidate pair survives, AQE replaces every join above the
    empty pair stage with an empty relation, the CollectMetrics node
    inside is dropped from the executed plan, and the Observation then
    completes with a 0-length row. The carrier reads the bucket rows
    through a filter no row passes but the optimizer cannot prove
    empty, so the node stays in the final plan whatever the result
    size. Its price is a few more small stages in the main action, paid
    only when metrics are requested."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = buckets.observe(
        obs,
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(
            F.when(F.size("ids") > max_bucket_size, 1).otherwise(0)
        ).alias("dropped_buckets"),
        F.sum(
            F.when(
                F.size("ids") > max_bucket_size,
                F.size("ids").cast("long") * (F.size("ids") - 1) / 2,
            ).otherwise(F.lit(0))
        ).alias("dropped_pairs_ub"),
        F.max(F.size("ids")).alias("max_bucket_size_seen"),
    )
    metrics["observation"] = obs
    return observed.filter(F.size("ids") < 0)


def _carry(result, carrier):
    """result ∪ the zero rows of an observation carrier (unchanged rows
    and column types); `result` itself when there is no carrier."""
    if carrier is None:
        return result
    return result.unionByName(
        carrier.selectExpr(*[f"CAST(0 AS {t}) AS {c}" for c, t in result.dtypes])
    )


def minhash_lsh_pairs(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    metrics: dict | None = None,
    collapse_exact: bool = True,
    expand_exact: bool = True,
):
    """MinHash + LSH banded candidate generation, then EXACT Jaccard
    verification of candidates only — the scale path for near-dedup.

    collapse_exact (default True): EXACT-duplicate groups are collapsed
    to one representative (min doc_id over a sha2 digest groupBy — a
    linear pass) BEFORE signatures/banding, and verified rep pairs are
    expanded back to member pairs afterwards. This is the web-scale
    guard against the classic LSH failure mode this engine's own scale
    curve caught: byte-identical boilerplate (here: the corpus
    generator's TIE_DOC — 1/13 of every corpus) shares every band key,
    so its bucket grows LINEARLY with corpus size and in-bucket pair
    expansion grows QUADRATICALLY until the max_bucket_size cap drops
    it entirely (observed at 20k docs: max_bucket_size_seen 1539,
    dropped_pairs_ub 4.7M, zero surviving pairs). Collapsed, each
    distinct content enters LSH once — bucket sizes track near-dup
    DIVERSITY, not duplication multiplicity. Results are identical to
    the uncollapsed path whenever no bucket overflows the cap (pinned
    in tests); when a cap fires, the collapsed path finds MORE true
    pairs (the cap applies to distinct contents, not copies).

    expand_exact (default True): emit the full member-level pair set —
    cross-group pairs inherit the reps' verified jaccard (identical
    shingle sets ⇒ identical jaccard), intra-group pairs are jaccard
    1.0 by construction. The intra listing is inherently
    output-cardinality-bound (a g-member identical group IS g(g-1)/2
    pairs); pipelines that only need clusters or keep/drop verdicts
    should pass expand_exact=False and work in representative space —
    that path's cost tracks distinct content, never duplication mass.

    Band key = csv of the band's signature values (built straight from
    the wide per-doc signature row — no per-perm explode/regroup
    shuffle); docs sharing any band key are candidates, with all i<j
    pairs generated inside the bucket array (bucket_pairs — no self-join
    shuffle). max_bucket_size drops pathological boilerplate buckets;
    the drop is OBSERVED, not silent: pass metrics={} and, after any
    action on the result, metrics["observation"].get returns
    {n_buckets, dropped_buckets, dropped_pairs_ub, max_bucket_size_seen}
    (Spark Observation collected by the main action — no extra action;
    the counters ride a zero-row branch of the result, see
    _observe_buckets). Returns (a, b, jaccard) with jaccard >= threshold,
    verified exactly against the shingle sets.

    Shuffle audit (the 100 TB shape): the ONLY corpus-sized shuffle is
    the (band, band_key) bucket groupBy of 4 short rows per doc.
    Shingle sets and signatures are built in-row (doc_shingle_sets /
    minhash_wide — zero shuffle); exact verification joins the small
    candidate-pair table against the cached per-doc set arrays
    (broadcast-able under AQE) and computes |A∩B| with array_intersect
    inside the row — the earlier formulation shuffled the full exploded
    shingle relation twice here even when there were no candidates
    (measured 738 s for 148 k docs / ~30 M shingles; this shape retests
    at a small fraction of that — see BENCH/BASELINE.md §8).
    """
    from pyspark.sql import functions as F

    rows_per_band = N_PERMS // bands

    members = None
    if collapse_exact:
        keyed = docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_text"),
            F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("_digest"),
        )
        reps = keyed.groupBy("_digest").agg(F.min("doc_id").alias("_rep"))
        # membership map (doc_id -> its group's representative): one
        # digest shuffle, linear, no per-group id lists materialized
        members = keyed.select("doc_id", "_digest").join(reps, "_digest").select(
            "doc_id", F.col("_rep").alias("rep")
        )
        docs = (
            keyed.join(reps, "_digest")
            .filter(F.col("doc_id") == F.col("_rep"))
            .select(F.col("doc_id").alias(id_col), F.col("_text").alias(text_col))
        )

    sets = (
        doc_shingle_sets(docs, text_col, id_col, n)
        .filter(F.size("shingles") > 0)
        .cache()
    )
    if metrics is not None:
        # hand the internal cache to the caller so repeated invocations
        # (benchmarks, batch drivers) can unpersist between runs — Spark's
        # cache manager matches by plan equality, so a second identical
        # call silently reuses this cache otherwise
        metrics["shingle_sets"] = sets
    wide = minhash_wide(docs, text_col, id_col, n, shingle_sets=sets)
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"s{p}").cast("string")
                    for p in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    banded = wide.select(
        "doc_id", F.posexplode(band_keys).alias("band", "band_key")
    )
    sized = banded.groupBy("band", "band_key").agg(
        F.collect_list("doc_id").alias("ids")
    )
    carrier = None if metrics is None else _observe_buckets(sized, max_bucket_size, metrics)
    capped = sized.filter(F.size("ids") <= max_bucket_size)
    cand = bucket_pairs(capped)
    # exact verification against the SAME cached shingle-set arrays,
    # candidates only: two equi-joins of the (small) pair table against
    # the per-doc sets, |A∩B| via array_intersect inside the row — no
    # shuffle of any shingle-sized relation
    va = sets.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a"))
    vb = sets.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    verified = (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    if not collapse_exact or not expand_exact:
        return _carry(verified, carrier)
    # expand rep-space pairs back to member pairs. Cross-group: every
    # (x ∈ grp(a), y ∈ grp(b)) pair carries the reps' jaccard (identical
    # shingle sets ⇒ identical score). Intra-group: jaccard 1.0 by
    # construction, emitted for every ≥2-member group whose content has
    # a nonempty shingle set (parity with the uncollapsed path, where
    # shingle-less docs never enter a bucket). Joins, not in-array
    # lists — pair generation distributes and is output-bound only.
    ma = members.select(F.col("rep").alias("a"), F.col("doc_id").alias("xa"))
    mb = members.select(F.col("rep").alias("b"), F.col("doc_id").alias("xb"))
    cross = (
        verified.join(ma, "a")
        .join(mb, "b")
        .select(
            F.least("xa", "xb").alias("a"),
            F.greatest("xa", "xb").alias("b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return _carry(cross, carrier)
    shingled_reps = sets.select(F.col("doc_id").alias("rep"))
    # SALTED intra-group pair fan-out (guide §2.5): a g-member identical
    # group is ONE join key, so the un-salted self-join put all g(g-1)/2
    # pair emissions in a single task (the 1/13-boilerplate group at
    # 50k docs is ~3.8k members → ~7M pairs in one task). Deterministic
    # salt = xa % S on the left, right replicated S ways: each pair
    # (xa, xb) is emitted exactly once (in xa's salt bucket) and the hot
    # key's work spreads across S tasks. Pair set identical.
    n_salt = 16
    m1 = members.join(shingled_reps, "rep").select(
        "rep",
        F.col("doc_id").alias("xa"),
        F.pmod(F.col("doc_id"), F.lit(n_salt)).alias("_salt"),
    )
    m2 = members.select(
        "rep",
        F.col("doc_id").alias("xb"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_salt"),
    )
    intra = (
        m1.join(m2, ["rep", "_salt"])
        .filter(F.col("xa") < F.col("xb"))
        .select(
            F.col("xa").alias("a"),
            F.col("xb").alias("b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return _carry(cross.unionByName(intra), carrier)


def simhash_signatures(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, simhash): SIMHASH_BITS-wide SimHash over tf-weighted term
    hashes.

    bit_j(sim) = 1 iff Σ_terms tf(t,d) * (2*bit_j(h60(t)) - 1) > 0
                   ⟺ Σ_occurrences (2*bit_j(h60(tok)) - 1) > 0
                   ⟺ 2*ones_j > n_tokens
    (tf-weighting the distinct terms IS summing over raw occurrences).
    Computed entirely WITHIN the row by ONE Arrow kernel over the text
    column (hashing.simhash_text_udf: tokenize_py, h60 per distinct
    term, the tf-weighted majority-vote pack). ZERO shuffle — the
    earlier tokenize → explode → tf groupBy → 60-column bit-sum groupBy
    shape pushed every token of the corpus through two shuffles.
    Token-less docs give null from the kernel and no row here. The
    kernel is a Python UDF, so a pushed-down filter cannot substitute
    (and re-run) it: its output is computed exactly once per row.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import simhash_text_udf
    from ..plans.layout import widen_for_kernel

    narrow = widen_for_kernel(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    )
    # asNondeterministic (guide §4.4): the isNotNull filter below
    # would otherwise push under the widening exchange and duplicate
    # the kernel — one evaluation landing on the thin pre-widen
    # layout (verified in the captured plan). Pure function; the
    # marker only pins a single post-exchange evaluation.
    return narrow.select(
        "doc_id",
        simhash_text_udf(SIMHASH_BITS)
        .asNondeterministic()(F.col(text_col))
        .alias("simhash"),
    ).filter(F.col("simhash").isNotNull())


def _simhash_bucket_pairs_udf(max_hamming: int):
    """Arrow-batched numpy twin of the in-array simhash pair generator
    for BIG buckets: given a bucket's parallel (doc_id, simhash) arrays,
    emit every i<j pair with popcount(xor) <= max_hamming as
    array<struct<a,b,hamming>>. Pair set and values are identical to the
    expression path (integer xor + table popcount == bit_count; sorting
    by the unique doc_id reproduces array_sort's struct order). Blocked
    so a B-doc bucket never materializes more than ~block x n xor cells
    at once."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    pop8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    block = 512

    def _pc(x):
        x = np.ascontiguousarray(x, dtype=np.int64)
        return pop8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1, dtype=np.int64)

    def _kernel(ds, ss):
        def one(d_arr, s_arr):
            d = np.asarray(d_arr, dtype=np.int64)
            s = np.asarray(s_arr, dtype=np.int64)
            order = np.argsort(d, kind="stable")
            d, s = d[order], s[order]
            n = d.size
            out = []
            for i0 in range(0, n, block):
                i1 = min(i0 + block, n)
                iu, ju = np.triu_indices(i1 - i0, k=1)
                if iu.size:
                    pc = _pc(s[i0 + iu] ^ s[i0 + ju])
                    m = pc <= max_hamming
                    out.extend(
                        {"a": int(a), "b": int(b), "hamming": int(h)}
                        for a, b, h in zip(
                            d[i0 + iu[m]], d[i0 + ju[m]], pc[m]
                        )
                    )
                if i1 < n:
                    x = s[i0:i1, None] ^ s[None, i1:]
                    pc = _pc(x.ravel()).reshape(x.shape)
                    bi, tj = np.nonzero(pc <= max_hamming)
                    out.extend(
                        {"a": int(d[i0 + a]), "b": int(d[i1 + b]),
                         "hamming": int(pc[a, b])}
                        for a, b in zip(bi, tj)
                    )
            return out

        return pd.Series([one(d, s) for d, s in zip(ds, ss)])

    _kernel.__annotations__ = {
        "ds": pd.Series, "ss": pd.Series, "return": pd.Series
    }
    return pandas_udf(_kernel, "array<struct<a:long,b:long,hamming:int>>")


def simhash_pairs(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
):
    """SimHash Hamming-neighbour near-dup pairs: (a, b, hamming) with
    popcount(xor(sig_a, sig_b)) <= max_hamming.

    The signature is banded into n_bands disjoint chunks; docs sharing
    ANY band value are candidates; candidates are verified with an exact
    popcount. EXACT (not approximate) whenever max_hamming < n_bands —
    pigeonhole: ≤(n_bands-1) differing bits over n_bands disjoint chunks
    leaves at least one chunk identical, so every qualifying pair lands
    in some shared bucket.

    Plan shape: signatures → one explode(n_bands) → bucket groupBy over
    (doc_id, simhash) STRUCTS → in-array pair gen with the popcount
    verification computed inside the same row → distinct. Carrying the
    signature through the bucket (instead of bucket_pairs + two joins
    back to the signature relation) means the signature plan runs ONCE
    and the only shuffles are the bucket groupBy and the final distinct,
    both on unskewed keys. (The join-back shape re-ran the whole
    tokenize+hash+pack pipeline three times — it was 3x the cost.)
    """
    from pyspark.sql import functions as F

    if max_hamming >= n_bands:
        raise ValueError(
            f"banded candidate generation is only exact for max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    bits_per_band = SIMHASH_BITS // n_bands
    mask = (1 << bits_per_band) - 1
    sig = simhash_signatures(docs, text_col, id_col)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * bits_per_band).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        F.struct(F.col("doc_id"), F.col("simhash")).alias("ds"),
        F.posexplode(band_vals).alias("band", "band_val"),
    )
    grouped = banded.groupBy("band", "band_val").agg(F.collect_list("ds").alias("ids"))
    # i<j pair gen + popcount verify inside the bucket array: doc_id is
    # unique so array_sort's (doc_id, simhash) lexicographic order is a
    # pure doc_id order and a < b holds by construction. SMALL buckets
    # stay on the in-array expression path; buckets past the threshold
    # (band-collision families — C(n,2) popcounts in ONE task, the
    # measured dominant cost at 50k docs where a single 2k-doc bucket is
    # 2.3M interpreted struct evals) go through a blocked numpy kernel
    # (_simhash_bucket_pairs_udf) producing the identical pair set.
    big_threshold = 64
    small = grouped.filter(F.size("ids") <= big_threshold)
    big = grouped.filter(F.size("ids") > big_threshold)
    ids_s = F.array_sort(F.col("ids"))
    verified = F.filter(
        F.flatten(
            F.transform(
                ids_s,
                lambda x, i: F.transform(
                    F.slice(ids_s, i + 2, F.size(ids_s)),
                    lambda y: F.struct(
                        x["doc_id"].alias("a"),
                        y["doc_id"].alias("b"),
                        F.bit_count(x["simhash"].bitwiseXOR(y["simhash"]))
                        .cast("int")
                        .alias("hamming"),
                    ),
                ),
            )
        ),
        lambda p: p["hamming"] <= F.lit(max_hamming),
    )
    small_pairs = small.select(F.explode(verified).alias("p")).select(
        "p.a", "p.b", "p.hamming"
    )
    big_pairs = (
        big.select(
            F.transform("ids", lambda x: x["doc_id"]).alias("d"),
            F.transform("ids", lambda x: x["simhash"]).alias("s"),
        )
        .select(
            F.explode(
                _simhash_bucket_pairs_udf(max_hamming)(F.col("d"), F.col("s"))
            ).alias("p")
        )
        .select("p.a", "p.b", "p.hamming")
    )
    return small_pairs.unionByName(big_pairs).distinct()


def _cosine_pairs_udf():
    """Arrow-batched numpy twin of the fold cosine over candidate-pair
    rows (va, vb): np.add.accumulate is the fold's exact sequential
    float order, so cosines are bit-identical (the fold's leading
    `0.0 +` can only flip a zero's sign, which `dots + 0.0` restores).
    Null/length-mismatched rows yield NULL exactly like the null-padding
    zip_with. A zero norm or a null component (Arrow hands it to the
    kernel as NaN) makes a NaN cosine, which the object Series carries
    to Spark as NULL; _cosine_passes drops NaN as well, so neither can
    pass a threshold."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(va, vb):
        from collections import defaultdict

        n = len(va)
        vals = [None] * n
        groups = defaultdict(list)
        av = va.to_numpy()
        bv = vb.to_numpy()
        for i in range(n):
            a, b = av[i], bv[i]
            if a is not None and b is not None and len(a) == len(b):
                groups[len(a)].append(i)
        for dim_, idxs in groups.items():
            k = len(idxs)
            if dim_ == 0:
                dots = np.zeros(k)
                na = nb = np.zeros(k)
            else:
                A = np.empty((k, dim_), dtype=np.float64)
                B = np.empty((k, dim_), dtype=np.float64)
                for r, i in enumerate(idxs):
                    A[r] = av[i]
                    B[r] = bv[i]
                dots = np.add.accumulate(A * B, axis=1)[:, -1] + 0.0
                na = np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
                nb = np.sqrt(np.add.accumulate(B * B, axis=1)[:, -1])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (na * nb)
            for r, i in enumerate(idxs):
                vals[i] = float(cos[r])
        return pd.Series(vals, dtype=object)

    _kernel.__annotations__ = {
        "va": pd.Series, "vb": pd.Series, "return": pd.Series
    }
    return pandas_udf(_kernel, "double")


def _cosine_passes(cos, threshold: float):
    """cos >= threshold for a defined cosine. Spark orders NaN above
    every double, so a bare `>=` would keep the NaN of a zero-norm or
    NaN-component pair at any threshold."""
    from pyspark.sql import functions as F

    return (cos >= threshold) & ~F.isnan(cos)


def embedding_neardup_lsh_pairs(
    embeddings,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
    max_bucket_size: int = 10_000,
    metrics: dict | None = None,
):
    """Bucketed embedding near-dup: SRP-LSH bucket (similarity.py
    hyperplanes — deterministic, oracle-reproducible) → in-bucket
    candidate pairs (bucket_pairs, no self-join shuffle) → EXACT cosine
    verification of candidates only. The 100 TB path for what
    embedding_neardup_pairs does all-pairs: candidate volume is
    Σ_bucket B², not n².

    Approximate by construction: a near-dup pair split by a hyperplane
    is missed; more `bits` → smaller buckets but more misses (standard
    SRP trade-off — run with several independent plane sets and union
    for higher recall). Same Observation-based metrics contract as
    minhash_lsh_pairs (n_buckets / dropped_buckets / dropped_pairs_ub /
    max_bucket_size_seen). Returns (a, b, cosine) with
    cosine >= threshold.
    """
    from pyspark.sql import functions as F

    from .similarity import srp_lsh_buckets

    buckets = srp_lsh_buckets(embeddings, dim, bits, id_col, vec_col)
    grouped = buckets.groupBy("bucket").agg(F.collect_list("id").alias("ids"))
    carrier = None if metrics is None else _observe_buckets(grouped, max_bucket_size, metrics)
    capped = grouped.filter(F.size("ids") <= max_bucket_size)
    cand = bucket_pairs(capped)
    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    va = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    # candidate volume is Σ_bucket B² — verification is the dominant
    # cost, so it runs as one Arrow numpy kernel per batch instead of
    # three interpreted 64-element folds per pair. np.add.accumulate is
    # the fold's exact sequential float order (bit-identical cosines —
    # test-pinned); asNondeterministic keeps the threshold filter from
    # duplicating the kernel (guide §4.4).
    cos = _cosine_pairs_udf().asNondeterministic()
    verified = (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", cos(F.col("va"), F.col("vb")))
        .filter(_cosine_passes(F.col("cosine"), threshold))
        .select("a", "b", "cosine")
    )
    return _carry(verified, carrier)


def embedding_neardup_pairs(embeddings, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95):
    """Near-dup pairs by embedding cosine >= threshold (a < b).

    Generalizes the reference's redundancy check (reference
    retriever.py:499-517, cosine > 0.85 over result embeddings) to a
    distributed pairwise operator. Brute-force O(n^2) cross join — the
    exact small-N path; at scale, bucket with SRP-LSH (similarity.py)
    and verify within buckets (same shape as minhash_lsh_pairs).
    """
    from pyspark.sql import functions as F

    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    b = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    # try_divide: a zero-norm vector has no cosine (NULL) instead of
    # failing the whole job with DIVIDE_BY_ZERO under ANSI mode
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn(
            "cosine", F.try_divide(dot, norm(F.col("va")) * norm(F.col("vb")))
        )
        .filter(_cosine_passes(F.col("cosine"), threshold))
        .select("a", "b", "cosine")
    )


def benchmark_contamination(
    docs,
    benchmark,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 3,
    min_ratio: float = 0.1,
    force_broadcast: bool = True,
):
    """Training-set decontamination: flag corpus docs sharing word
    n-gram shingles with a benchmark/eval set (the standard n-gram
    collision test used before training on web-scale corpora).

    Returns (doc_id, n_hit, n_shingles, contamination_ratio,
    is_contaminated): n_hit = |doc shingles ∩ benchmark shingles|,
    ratio = n_hit / n_shingles, is_contaminated = ratio >= min_ratio.
    Docs with no shingles (shorter than n tokens) report 0 / 0 / 0.0 /
    false — they cannot leak benchmark content at this n.

    Scale shape: the benchmark side is DISTINCT shingles of the eval
    suite — small by nature (10^6-10^7 shingles even for a large suite)
    — broadcast to every executor (force_broadcast=True, the 100 TB
    default) so the corpus-sized exploded shingle relation NEVER
    shuffles: explode → broadcast-hash left-semi-style join → per-doc
    count, where the count reuses the explode's doc_id clustering.
    Set force_broadcast=False for a pathologically large benchmark and
    AQE plans a shuffle join instead.
    """
    from pyspark.sql import functions as F

    sets = doc_shingle_sets(docs, text_col, id_col, n)
    bench_sh = (
        doc_shingle_sets(benchmark, bench_text_col, "doc_id", n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    if force_broadcast:
        bench_sh = F.broadcast(bench_sh)
    exploded = sets.select(
        "doc_id", F.size("shingles").alias("n_shingles"), F.explode_outer("shingles").alias("shingle")
    )
    hits = exploded.join(
        bench_sh.withColumn("_hit", F.lit(1)), "shingle", "left"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hit"),
            F.greatest(F.max("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
        )
        .withColumn(
            "contamination_ratio",
            F.when(
                F.col("n_shingles") > 0,
                F.round(F.col("n_hit") / F.col("n_shingles"), 6),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("is_contaminated", F.col("contamination_ratio") >= min_ratio)
    )
