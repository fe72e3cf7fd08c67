"""Dedup operator contracts:

- simhash_pairs (banded Hamming join) is EXACT vs brute-force popcount
  for max_hamming < n_bands;
- embedding_neardup_lsh_pairs returns a subset of the brute-force pairs
  and is exact WITHIN buckets;
- minhash_lsh_pairs / embedding_neardup_lsh_pairs surface dropped-bucket
  metrics through a Spark Observation (no silent caps), read by the main
  action — also when no candidate pair survives;
- minhash_lsh_pairs candidate generation never cross-joins;
- the shingle, MinHash, SimHash and connected-components kernels equal
  the plain-Python oracles in tests/oracle.py.
"""

from __future__ import annotations

from local_search_engine_spark.operators import dedup as D

from . import oracle

SF0001 = "/root/testdata/sf0.001"


def _corpus(spark, n=None):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")
    return docs.filter(f"doc_id < {n}") if n else docs


def test_simhash_pairs_exact_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    docs = _corpus(spark)
    banded = {
        (r["a"], r["b"]): r["hamming"]
        for r in D.simhash_pairs(docs, max_hamming=3, n_bands=4).collect()
    }
    sig = D.simhash_signatures(docs).cache()
    a = sig.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb"))
    brute = {
        (r["a"], r["b"]): r["h"]
        for r in a.join(b, F.col("a") < F.col("b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int"))
        .filter("h <= 3")
        .collect()
    }
    sig.unpersist()
    assert banded == brute
    assert brute, "fixture produced no near pairs — test is vacuous"


def test_simhash_pairs_rejects_inexact_config():
    import pytest

    with pytest.raises(ValueError):
        D.simhash_pairs(None, max_hamming=4, n_bands=4)


def _rand_embeddings(spark, n=200, dim=16):
    """Deterministic pseudo-random unit-ish vectors (md5-derived)."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.functions.hashing import h32_col

    df = spark.range(n).select(F.col("id").alias("vec_id"))
    comps = F.array(
        *[
            (
                h32_col(F.concat(F.lit(f"e:{d}:"), F.col("vec_id").cast("string")))
                / F.lit(2147483648.0)
                - 1.0
            )
            for d in range(dim)
        ]
    )
    return df.select("vec_id", comps.alias("embedding"))


def test_embedding_lsh_pairs_subset_and_bucket_exact(spark):
    emb = _rand_embeddings(spark).cache()
    lsh = {
        (r["a"], r["b"]): r["cosine"]
        for r in D.embedding_neardup_lsh_pairs(
            emb, dim=16, threshold=0.5, bits=4
        ).collect()
    }
    brute = {
        (r["a"], r["b"]): r["cosine"]
        for r in D.embedding_neardup_pairs(emb, threshold=0.5).collect()
    }
    emb.unpersist()
    assert set(lsh) <= set(brute)
    for k, v in lsh.items():
        assert abs(v - brute[k]) < 1e-12
    assert lsh, "no same-bucket pairs above threshold — vacuous"


def test_undefined_cosines_never_pass(spark):
    """A zero vector, a null component and a NaN component have no
    cosine with anything. Spark orders NaN above every double, so such
    a pair must be dropped explicitly, even at threshold -1; the
    brute-force path must not fail on the zero norm either."""
    import math

    nan = float("nan")
    emb = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0]),
            (2, [1.0, None, 0.0]),
            (3, [1.0, nan, 0.0]),
            (4, [1.0, 0.5, 0.0]),
            (5, [1.0, 0.4, 0.1]),
            (6, [-1.0, 0.2, 0.3]),
        ],
        "vec_id long, embedding array<float>",
    )
    defined = {(4, 5), (4, 6), (5, 6)}
    brute = D.embedding_neardup_pairs(emb, threshold=-1.0).collect()
    assert {(r["a"], r["b"]) for r in brute} == defined
    lsh = D.embedding_neardup_lsh_pairs(
        emb, dim=3, threshold=-1.0, bits=1
    ).collect()
    assert {(r["a"], r["b"]) for r in lsh} <= defined
    assert not any(math.isnan(r["cosine"]) for r in brute + lsh)


def test_minhash_lsh_metrics_observed(spark):
    from pyspark.sql import functions as F

    docs = _corpus(spark)
    metrics: dict = {}
    # collapse_exact=False: this test pins the CAP mechanism itself, so
    # it must see raw (uncollapsed) bucket sizes overflow
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket_size=2, metrics=metrics,
        collapse_exact=False,
    )
    sc = spark.sparkContext
    sc.setJobGroup("lsh-run", "metrics probe")
    pairs.count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    got = metrics["observation"].get
    assert got["n_buckets"] > 0
    assert got["max_bucket_size_seen"] >= 1
    assert got["dropped_buckets"] >= 0
    # with a cap this tight on a corpus with known duplicate clusters,
    # at least one bucket must overflow — the metric actually fires
    assert got["dropped_buckets"] > 0
    assert got["dropped_pairs_ub"] > 0


def test_lsh_metrics_arrive_when_no_pair_survives(spark):
    """A duplicate group collapsed to one representative leaves no
    candidate pair, so AQE empties every join above the pair stage; the
    bucket counters must still arrive after collect(), and observing
    must not change the rows."""
    import random

    text = "merge the shard index before the table scan runs again"
    docs = spark.createDataFrame(
        [(i, text) for i in range(6)] + [(6, "an unrelated line of text here")],
        "doc_id long, text string",
    )
    m: dict = {}
    rows = D.minhash_lsh_pairs(docs, expand_exact=False, metrics=m).collect()
    assert rows == D.minhash_lsh_pairs(docs, expand_exact=False).collect() == []
    got = m["observation"].get
    assert got["n_buckets"] > 0 and got["max_bucket_size_seen"] >= 1, got

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.random() for _ in range(4)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    m = {}
    rows = D.embedding_neardup_lsh_pairs(emb, dim=4, bits=2, threshold=1.5, metrics=m).collect()
    assert rows == []
    got = m["observation"].get
    assert got["n_buckets"] > 0, got


def test_exact_dedup_keep_verdicts(spark):
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other"), (7, "same")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in D.exact_dedup_keep(docs).collect()}
    assert rows[1]["canonical_id"] == 1 and not rows[1]["is_dup"]
    assert rows[2]["canonical_id"] == 1 and rows[2]["is_dup"]
    assert rows[7]["canonical_id"] == 1 and rows[7]["is_dup"]
    assert rows[3]["canonical_id"] == 3 and not rows[3]["is_dup"]


def test_exact_dedup_keep_null_text_is_empty_text(spark):
    """Null text is deduplicated as "": no doc drops out of the verdict."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x"), (4, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: (r["canonical_id"], r["is_dup"]) for r in D.exact_dedup_keep(docs).collect()}
    assert rows == {1: (1, False), 2: (1, True), 3: (3, False), 4: (1, True)}


def test_connected_components_chain_and_clique(spark):
    """A 6-node chain (diameter 5 — forces several propagation rounds),
    a triangle, and an isolated pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain
         (10, 11), (11, 12), (10, 12),              # triangle
         (20, 21)],                                  # pair
        "a long, b long",
    )
    got = {r["node"]: r["cluster_id"] for r in D.connected_components(pairs).collect()}
    assert {n: got[n] for n in range(1, 7)} == {n: 1 for n in range(1, 7)}
    assert {n: got[n] for n in (10, 11, 12)} == {10: 10, 11: 10, 12: 10}
    assert got[20] == 20 and got[21] == 20


def test_connected_components_matches_union_find_oracle(spark):
    """Min-label propagation labels every node with its component's min
    id, as a union-find oracle does, on every graph shape: a long chain
    (the propagation worst case), a clique, an isolated pair, a star,
    and a pseudo-random gnp-ish graph."""
    import random

    cases = [
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12),
         (10, 12), (20, 21)],
        [(i, j) for i in range(5) for j in range(i + 1, 5)],  # K5
        [(0, k) for k in range(1, 8)],                         # star
        [(i, i + 1) for i in range(40)],                       # 41-chain
    ]
    rng = random.Random(7)
    cases.append(
        list({(rng.randrange(60), rng.randrange(60)) for _ in range(90)})
    )
    for pairs_py in cases:
        pairs_py = [(a, b) for a, b in pairs_py if a != b]
        pairs = spark.createDataFrame(pairs_py, "a long, b long")
        got = {
            r["node"]: r["cluster_id"]
            for r in D.connected_components(pairs, max_iter=60).collect()
        }
        assert got == oracle.connected_components(pairs_py), pairs_py


def test_connected_components_of_no_pairs_is_empty(spark):
    """An empty pair set converges at once to no labels: the round's
    change count must not wait on an Observation that AQE can drop
    together with the empty plan."""
    pairs = spark.createDataFrame([], "a long, b long")
    assert D.connected_components(pairs).collect() == []


def test_connected_components_raises_on_iteration_cap(spark):
    import pytest

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    with pytest.raises(RuntimeError):
        D.connected_components(pairs, max_iter=1)


def test_minhash_lsh_plan_has_no_cartesian(spark):
    docs = _corpus(spark, 60)
    plan = (
        D.minhash_lsh_pairs(docs, threshold=0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_signature_plans_have_zero_shuffle(spark):
    """MinHash and SimHash signatures are built entirely within the row
    (doc_shingle_sets / in-row bit counting) — on a HEALTHY input (scan
    parallelism at least the session default) their physical plans must
    contain NO Exchange at all. This is the 100 TB property: signatures
    stream straight off the source scan; the earlier exploded
    formulations shuffled every token/shingle of the corpus (738 s for
    148 k docs in the minhash verify path alone). A THIN input (the
    r06 single-row-group parquet case) is allowed exactly ONE
    round-robin widening exchange (plans/layout.widen_for_kernel) and
    nothing keyed."""
    # healthy input: local-relation rows arrive at default parallelism
    rows = _corpus(spark, 60).collect()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for df in (D.minhash_wide(docs), D.simhash_signatures(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    # thin input: the parquet fixture scans as a single partition
    thin = _corpus(spark, 60)
    for df in (D.minhash_wide(thin), D.simhash_signatures(thin)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == plan.count(
            "Exchange RoundRobinPartitioning"
        ) and plan.count("Exchange RoundRobinPartitioning") <= 1, plan


def test_minhash_lsh_only_shuffles_buckets(spark):
    """The core LSH pipeline's only corpus-sized shuffle is the
    (band, band_key) bucket groupBy; candidate-pair expansion and exact
    verification add at most two more small exchanges (pair distinct +
    verify joins under AQE). Pin an upper bound so an exploded-relation
    shuffle can't silently come back. (collapse_exact=False isolates
    the core topology; the default collapse adds one linear digest
    groupBy + member-map joins, bounded separately below.)"""
    docs = _corpus(spark, 60)
    plan = (
        D.minhash_lsh_pairs(docs, threshold=0.5, collapse_exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchanges = plan.count("+- Exchange") + plan.count(":- Exchange")
    # +1 over the r05 bound: the thin parquet fixture gets one
    # round-robin input-widening exchange (plans/layout.widen_for_kernel)
    # before the shingle kernel; keyed corpus-sized shuffles stay at one
    assert n_exchanges <= 6, f"{n_exchanges} exchanges:\n{plan}"


def test_minhash_collapse_matches_uncollapsed(spark):
    """Default collapse-exact-first path ≡ the uncollapsed path whenever
    no bucket overflows the cap (the sf0.001 corpus, default cap); and
    with a cap tight enough to drop the raw duplicate bucket, the
    collapsed path still finds every pair the capped raw path found
    (it can only find MORE — the cap applies to distinct contents)."""
    docs = _corpus(spark)
    legacy = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, collapse_exact=False
        ).collect()
    }
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert set(got) == set(legacy)
    for k, v in got.items():
        assert abs(v - legacy[k]) < 1e-12
    assert legacy, "fixture produced no pairs — test is vacuous"
    capped_raw = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=2, collapse_exact=False
        ).collect()
    }
    capped_collapsed = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket_size=2
        ).collect()
    }
    assert capped_raw <= capped_collapsed


def test_minhash_rep_space_path(spark):
    """expand_exact=False returns pairs over exact-group representatives
    only — each pair present in the full result, no pair between two
    members of one exact group, and every full-result pair maps to a
    rep pair under the min-doc_id representative function."""
    from pyspark.sql import functions as F

    docs = _corpus(spark)
    rep_pairs = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_pairs(
            docs, threshold=0.5, expand_exact=False
        ).collect()
    }
    full = {
        (r["a"], r["b"])
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert rep_pairs <= full
    rep_of = {
        r["doc_id"]: r["rep"]
        for r in docs.select(
            "doc_id",
            F.sha2(F.coalesce("text", F.lit("")), 256).alias("dg"),
        )
        .join(
            docs.groupBy(F.sha2(F.coalesce("text", F.lit("")), 256).alias("dg"))
            .agg(F.min("doc_id").alias("rep")),
            "dg",
        )
        .collect()
    }
    for a, b in full:
        ra, rb = rep_of[a], rep_of[b]
        if ra != rb:
            assert (min(ra, rb), max(ra, rb)) in rep_pairs, (a, b)


def test_minhash_wide_matches_grouped_bruteforce(spark):
    """In-row array_min signatures ≡ the groupBy-min over the exploded
    shingle relation (the formulation they replaced)."""
    from pyspark.sql import functions as F

    from local_search_engine_spark.functions.hashing import (
        MERSENNE_P,
        MINHASH_A,
        MINHASH_B,
        N_PERMS,
        h32_col,
    )

    docs = _corpus(spark, 80)
    got = {r["doc_id"]: [r[f"s{p}"] for p in range(N_PERMS)]
           for r in D.minhash_wide(docs).collect()}
    sh = D.doc_shingles(docs).withColumn("h", h32_col(F.col("shingle")))
    aggs = [
        F.min(F.pmod(F.lit(MINHASH_A[p]) * F.col("h") + F.lit(MINHASH_B[p]),
                     F.lit(MERSENNE_P))).alias(f"s{p}")
        for p in range(N_PERMS)
    ]
    want = {r["doc_id"]: [r[f"s{p}"] for p in range(N_PERMS)]
            for r in sh.groupBy("doc_id").agg(*aggs).collect()}
    assert got == want
    assert want, "fixture produced no signatures — vacuous"


def test_signature_impls_bit_identical(spark):
    """The Arrow-batched signature kernels equal their plain-Python
    oracles bit for bit: MinHash is min((a·h32(s)+b) mod P) over the
    oracle shingle set; SimHash is the majority-vote pack of h60 over
    the token stream, and a token-less doc gives no row."""
    from local_search_engine_spark.functions.hashing import N_PERMS

    docs = _corpus(spark, 50)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    mw = {r["doc_id"]: [r[f"s{p}"] for p in range(N_PERMS)]
          for r in D.minhash_wide(docs).collect()}
    want_mw = {}
    for d, t in texts.items():
        sh = oracle.shingle_set(t)
        if sh:
            want_mw[d] = oracle.minhash_signature(sh)
    assert mw == want_mw and len(mw) > 0
    sim = {r["doc_id"]: r["simhash"]
           for r in D.simhash_signatures(docs).collect()}
    want_sim = {d: oracle.simhash_signature(t) for d, t in texts.items()}
    assert sim == {d: h for d, h in want_sim.items() if h is not None}
    assert len(sim) > 0


def test_shingle_impls_bit_identical(spark):
    """doc_shingle_sets (the Arrow kernel) equals the ordered-distinct
    n-gram oracle over tokenize_py element-for-element INCLUDING order
    (first occurrence first), on hostile docs: null, empty,
    separators-only, shorter-than-n, exactly-n, repeats."""
    rows = [
        (0, None),
        (1, ""),
        (2, "!!! ,,, ;;;"),
        (3, "one two"),                      # < n tokens
        (4, "one two three"),                # exactly n
        (5, "a b c d"),                      # sub-min-len tokens only
        (6, "alpha beta alpha beta alpha beta alpha"),  # repeated shingles
        (7, "db io ml alpha beta gamma db io ml"),      # preserve-list terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = {r["doc_id"]: r["shingles"] for r in D.doc_shingle_sets(docs).collect()}
    assert p == {d: oracle.shingle_set(t) for d, t in rows}
    assert p[6] == ["alpha beta alpha", "beta alpha beta"]  # order pinned
    corpus = _corpus(spark, 60)
    cp = {r["doc_id"]: r["shingles"] for r in D.doc_shingle_sets(corpus).collect()}
    want = {r["doc_id"]: oracle.shingle_set(r["text"]) for r in corpus.collect()}
    assert cp == want and len(cp) == 60


def test_benchmark_contamination_planted(spark):
    """A doc sharing exactly half its shingles with the benchmark set
    reports ratio 0.5; an unrelated doc reports 0; a too-short doc
    reports 0 shingles and passes clean."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # shingles: a-b-g, b-g-d
            (2, "zz yy xx ww"),                 # unrelated
            (3, "tiny doc"),                    # < n tokens: no shingles
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma unrelated tail here")],  # contains a-b-g only
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in D.benchmark_contamination(docs, bench, min_ratio=0.4).collect()
    }
    assert rows[1]["n_shingles"] == 2 and rows[1]["n_hit"] == 1
    assert abs(rows[1]["contamination_ratio"] - 0.5) < 1e-9
    assert rows[1]["is_contaminated"]
    assert rows[2]["n_hit"] == 0 and not rows[2]["is_contaminated"]
    assert rows[3]["n_shingles"] == 0 and not rows[3]["is_contaminated"]


def test_benchmark_contamination_broadcasts(spark):
    """The benchmark shingle side must broadcast (no shuffle of the
    corpus-sized exploded relation onto a join key)."""
    docs = _corpus(spark, 60)
    bench = _corpus(spark, 10)
    plan = (
        D.benchmark_contamination(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_simhash_weighted_pack_equals_occurrence_pack():
    """np_simhash_pack_weighted over (distinct hash, tf) must equal
    np_simhash_pack over the raw occurrence stream — the identity the
    memoized simhash text kernel rests on."""
    import random
    from collections import Counter

    from local_search_engine_spark.functions.hashing import np_simhash_pack_weighted

    from .oracle import h60_py, np_simhash_pack

    rng = random.Random(7)
    vocab = ["merge", "table", "scan", "x1", "zz", "alpha", "io", "db"]
    for _ in range(100):
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 40))]
        occ = np_simhash_pack([h60_py(t) for t in toks], 60)
        cnt = Counter(toks)
        wgt = np_simhash_pack_weighted(
            [h60_py(t) for t in cnt], list(cnt.values()), 60
        )
        assert occ == wgt


def test_simhash_big_bucket_kernel_matches_bruteforce(spark):
    """Buckets past the big-bucket threshold take the blocked numpy pair
    kernel (_simhash_bucket_pairs_udf) instead of the in-array
    expression path — force one by giving ~100 docs near-identical
    text, and pin the full pair set against an all-pairs popcount over
    the collected signatures."""
    from pyspark.sql import functions as F

    rows = [(i, "merge table scan query alpha beta gamma delta " +
             ("extra" if i % 7 == 0 else "")) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in D.simhash_pairs(docs, max_hamming=3, n_bands=4).collect()
    }
    sigs = {r["doc_id"]: r["simhash"]
            for r in D.simhash_signatures(docs).collect()}
    bits_per_band = D.SIMHASH_BITS // 4
    mask = (1 << bits_per_band) - 1
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            shares_band = any(
                ((sigs[a] >> (k * bits_per_band)) & mask)
                == ((sigs[b] >> (k * bits_per_band)) & mask)
                for k in range(4)
            )
            if h <= 3 and shares_band:
                want.add((a, b, h))
    assert got == want and len(want) > 1000  # the bucket is genuinely big


def test_embedding_lsh_cosine_kernel_bit_exact(spark):
    """The Arrow pairwise-cosine verify kernel must reproduce the
    interpreted fold expression BIT-exactly on every candidate pair
    (gate hashes depend on the cosine doubles)."""
    from pyspark.sql import functions as F

    emb = _rand_embeddings(spark, n=300, dim=16).cache()
    got = {
        (r["a"], r["b"]): r["cosine"]
        for r in D.embedding_neardup_lsh_pairs(
            emb, dim=16, threshold=-1.0, bits=4
        ).collect()
    }
    # fold reference over the same candidate pairs
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    va = v.select(F.col("id").alias("a"), F.col("v").alias("va"))
    vb = v.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in got], "a long, b long"
    )
    want = {
        (r["a"], r["b"]): r["cosine"]
        for r in pairs.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", dot / (norm(F.col("va")) * norm(F.col("vb"))))
        .collect()
    }
    emb.unpersist()
    assert len(got) > 50
    assert got == want  # bit-exact, not approx
