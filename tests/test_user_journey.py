"""End-to-end user journey across the engine's surfaces in one flow:
generate corpus → persisted index build → autocomplete → WAND query →
snippet for the top hit → trigram grep for an exact substring the
tokenized index cannot express. Each piece is unit-tested elsewhere;
this pins the COMPOSITION (schemas, id spaces, and persisted artifacts
lining up across operators)."""

from __future__ import annotations

import pytest

from local_search_engine_spark.operators.query import suggest_terms
from local_search_engine_spark.operators.snippets import best_snippets
from local_search_engine_spark.operators.trigram import (
    build_trigram_index,
    trigram_search,
)
from local_search_engine_spark.operators.wand import make_wand_topk
from local_search_engine_spark.plans.checkpoint import (
    build_persisted_index,
    load_index,
)
from local_search_engine_spark.sources.corpus import gen_corpus_spark


def test_full_code_search_journey(spark, tmp_path):
    from pyspark.sql import functions as F

    corpus = gen_corpus_spark(spark, 120, partitions=8)
    idx_dir = str(tmp_path / "idx")
    build_persisted_index(
        spark, corpus, idx_dir, docs_per_shard=32, block_span=8, n_buckets=8
    )
    idx, postings, shard_meta, stats = load_index(spark, idx_dir)

    # 1. autocomplete narrows a prefix to real vocabulary
    sugg = [r["term"] for r in suggest_terms(idx, "mer", 5).collect()]
    assert "merge" in sugg

    # 2. ranked retrieval over the persisted compressed index
    wand = make_wand_topk(
        idx, postings, shard_meta,
        block_span=stats["block_span"], n_buckets=stats["n_buckets"],
    )
    hits = wand("merge shard", 5).collect()
    assert 1 <= len(hits) <= 5 and hits[0]["rank"] == 1

    # 3. snippet for the top hit — docs joined back by the same doc_id
    # space the index assigned
    top_id = hits[0]["doc_id"]
    docs_with_text = corpus.withColumn("content_sha256", F.sha2("content", 256))
    id_map = idx.docs.select("doc_id", "content_sha256")
    top_doc = (
        docs_with_text.join(id_map, "content_sha256")
        .filter(F.col("doc_id") == top_id)
        .select("doc_id", F.col("content").alias("text"))
    )
    snip = best_snippets(top_doc, ["merge", "shard"], width=80).first()
    assert snip["n_hits"] >= 1
    assert ("merge" in snip["snippet"]) or ("shard" in snip["snippet"])

    # 4. exact-substring grep via the trigram index agrees with a scan
    docs = corpus.select(
        F.concat_ws(":", "repo", "path").alias("file"),
        F.col("content"),
    )
    tri_dir = str(tmp_path / "tri")
    build_trigram_index(docs, tri_dir, text_col="content", id_col="file")
    tri = spark.read.parquet(tri_dir)
    lit = "def "
    got = sorted(
        r["doc_id"]
        for r in trigram_search(docs, lit, index=tri, text_col="content", id_col="file").collect()
    )
    want = sorted(
        r["file"]
        for r in docs.filter(F.contains("content", F.lit(lit))).collect()
    )
    assert got == want and len(got) > 0


def test_cli_search_composed_and_stale_grep(spark, tmp_path):
    """r04 (VERDICT #4): the CLI's flagship `search` subcommand —
    persisted WAND + persisted SRP ANN fused with RRF, snippets on the
    fused top-k — driven in-process through cmd_search; plus the
    stale-trigram-index refusal (r03 ADVICE): grep must fall back to
    the exact scan when the corpus outgrew the index fingerprint."""
    import argparse
    import os
    import shutil

    from scripts.code_search import (
        _load_fresh_index,
        _with_file,
        _write_fingerprint,
        cmd_search,
    )

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    args = argparse.Namespace(query="merge shard", index=str(tmp_path / "root"), k=5)
    out = cmd_search(spark, corpus, args)
    assert out["built_ann"] is True
    assert out["results"], "composed search returned nothing"
    ranks = [r["rank"] for r in out["results"]]
    assert ranks == list(range(1, len(ranks) + 1))
    assert all(r["file"] and ":" in r["file"] for r in out["results"])
    assert any(r["snippet_hits"] >= 1 for r in out["results"])

    # second invocation: bm25 units are manifest hits, ANN not rebuilt,
    # identical results — the resume contract of the composed path
    out2 = cmd_search(spark, corpus, args)
    assert out2["built_ann"] is False
    assert out2["results"] == out["results"]

    # the ANN data, not its meta.json, decides: with the vectors table
    # gone, the next search rebuilds it and answers the same
    shutil.rmtree(os.path.join(args.index, "ann", "vectors"))
    out3 = cmd_search(spark, corpus, args)
    assert out3["built_ann"] is True
    assert out3["results"] == out["results"]

    # stale-index refusal: fingerprint matches -> pruned; corpus grows
    # past the fingerprint -> the prune is refused (exact-scan fallback)
    docs = _with_file(corpus)
    tri_dir = str(tmp_path / "tri")
    build_trigram_index(docs, tri_dir, text_col="content", id_col="file")
    _write_fingerprint(docs, tri_dir)
    idx_df, stale = _load_fresh_index(spark, tri_dir, docs)
    assert idx_df is not None and not stale
    grown = _with_file(gen_corpus_spark(spark, 140, partitions=4))
    idx_df2, stale2 = _load_fresh_index(spark, tri_dir, grown)
    assert idx_df2 is None and stale2


def test_cli_search_quoted_phrase_must_match(spark, tmp_path):
    """Quoted spans in the composed `search` are hard must-match
    constraints: every returned doc contains the quoted bigram verbatim
    (token-stream check), ranks are dense, and an impossible phrase
    yields zero results."""
    import argparse

    from scripts.code_search import cmd_search

    from local_search_engine_spark.functions.tokenize import tokenize_py

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    root = str(tmp_path / "root")
    args = argparse.Namespace(
        query='"self return" merge shard', index=root, k=5
    )
    out = cmd_search(spark, corpus, args)
    assert out["results"], "quoted search returned nothing"
    assert [r["rank"] for r in out["results"]] == list(
        range(1, len(out["results"]) + 1)
    )
    by_file = {
        r["file"]: r["content"]
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content"
        ).collect()
    }
    for r in out["results"]:
        toks = tokenize_py(by_file[r["file"]])
        assert any(
            (a, b) == ("self", "return") for a, b in zip(toks, toks[1:])
        ), r["file"]

    none = cmd_search(
        spark,
        corpus,
        argparse.Namespace(query='"zz_absent_term qq" merge', index=root, k=5),
    )
    assert none["results"] == []


def test_cli_phrase_subcommand(spark, tmp_path):
    """`phrase` subcommand: positional-index phrase search end to end —
    first call builds ROOT/pos (fingerprint-keyed), second call reuses
    it with identical results; --near drives the proximity variant; the
    reported files actually contain the adjacent token pair."""
    import argparse

    from scripts.code_search import cmd_phrase

    from local_search_engine_spark.functions.tokenize import tokenize_py

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    root = str(tmp_path / "root")
    args = argparse.Namespace(query="self return", index=root, k=5, near=None)
    out = cmd_phrase(spark, corpus, args)
    assert out["built_index"] is True and out["results"]
    assert [r["rank"] for r in out["results"]] == list(
        range(1, len(out["results"]) + 1)
    )
    # ground-truth the top hit against the raw text
    by_file = {
        r["file"]: r["content"]
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content"
        ).collect()
    }
    for r in out["results"]:
        toks = tokenize_py(by_file[r["file"]])
        n = sum(
            1 for a, b in zip(toks, toks[1:]) if (a, b) == ("self", "return")
        )
        assert n == r["phrase_tf"], r

    out2 = cmd_phrase(spark, corpus, args)
    assert out2["built_index"] is False
    assert out2["results"] == out["results"]

    near_args = argparse.Namespace(
        query="self return", index=root, k=5, near=3
    )
    out3 = cmd_phrase(spark, corpus, near_args)
    assert out3["results"] and all("n_anchors" in r for r in out3["results"])


def test_cli_search_quoted_phrase_recall_beyond_fusion_buffer(spark, tmp_path):
    """r05 (ADVICE): quoted-phrase recall must not depend on the fusion
    buffer. Corpus engineered so BM25 over the free terms ranks
    NON-phrase docs on top: 300 'gamma' docs contain alpha and beta
    NON-adjacently plus many gammas (high free-term score, zero phrase
    matches); only 40 docs contain the verbatim phrase "alpha beta" and
    none of them contain gamma, so they fall outside the fetch_k fused
    buffer. cmd_search must still return k full-phrase results by
    topping up from the uncapped phrase-match set (fallback rows carry
    score 0.0), every returned doc containing the phrase verbatim."""
    import argparse

    from scripts.code_search import cmd_search

    from local_search_engine_spark.functions.tokenize import tokenize_py

    rows = []
    for i in range(40):
        rows.append(
            ("r0", f"phrase_{i}.py", "c0",
             f"uid{i} alpha beta filler{i % 7} alpha beta end")
        )
    for i in range(300):
        rows.append(
            (
                "r1",
                f"noise_{i}.py",
                "c1",
                f"uidn{i} alpha stop beta " + "gamma " * 6 + f"filler{i % 7}",
            )
        )
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )
    root = str(tmp_path / "root")
    k = 20
    out = cmd_search(
        spark, corpus, argparse.Namespace(query='"alpha beta" gamma', index=root, k=k)
    )
    res = out["results"]
    assert len(res) == k, f"expected {k} results, got {len(res)}"
    assert [r["rank"] for r in res] == list(range(1, k + 1))
    n_fallback = sum(1 for r in res if r["score"] == 0.0)
    assert n_fallback > 0, "fallback never triggered — fixture lost its point"
    by_file = {
        r["file"]: r["content"]
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content"
        ).collect()
    }
    for r in res:
        toks = tokenize_py(by_file[r["file"]])
        assert any(
            (a, b) == ("alpha", "beta") for a, b in zip(toks, toks[1:])
        ), r["file"]


def test_cli_bool_subcommand(spark, tmp_path):
    """`bool` subcommand (r05): boolean search over the persisted BM25
    index — term/NOT/field leaves verified against a raw-corpus scan;
    a phrase-leaf query triggers the ROOT/pos build; results rank by
    BM25 over the positive terms."""
    import argparse

    from scripts.code_search import cmd_bool

    from local_search_engine_spark.functions.tokenize import tokenize_py

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    root = str(tmp_path / "root")
    out = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(
            query="merge AND shard AND NOT batch AND lang:python",
            index=root,
            k=10,
        ),
    )
    res = out["results"]
    assert res and [r["rank"] for r in res] == list(range(1, len(res) + 1))
    by_file = {
        r["file"]: (r["content"], r["lang"])
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content", "lang"
        ).collect()
    }
    # every hit satisfies the boolean; scores strictly ordered desc
    for r in res:
        toks = tokenize_py(by_file[r["file"]][0])
        assert "merge" in toks and "shard" in toks and "batch" not in toks
        assert by_file[r["file"]][1] == "python"
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    # exhaustive: hit set == brute-force survivor set cut at k
    want = {
        f
        for f, (c, lang) in by_file.items()
        if lang == "python"
        and "merge" in tokenize_py(c)
        and "shard" in tokenize_py(c)
        and "batch" not in tokenize_py(c)
    }
    got = {r["file"] for r in res}
    assert got <= want and len(got) == min(10, len(want))

    # phrase-leaf query exercises the positional-index path end to end
    out2 = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query='"merge shard" OR "shard merge"', index=root, k=10),
    )
    for r in out2["results"]:
        toks = tokenize_py(by_file[r["file"]][0])
        pairs = set(zip(toks, toks[1:]))
        assert ("merge", "shard") in pairs or ("shard", "merge") in pairs

    # sloppy-phrase query (r05c): every hit has 'shard' within ±3 of a
    # 'merge' occurrence; supersets the exact-phrase hits (k > n_docs
    # so neither set is rank-cut — scores tie across the two queries)
    out3 = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query='"merge shard"~3', index=root, k=500),
    )
    sloppy_files = {r["file"] for r in out3["results"]}
    for f in sloppy_files:
        toks = tokenize_py(by_file[f][0])
        mpos = [i for i, t in enumerate(toks) if t == "merge"]
        spos = [i for i, t in enumerate(toks) if t == "shard"]
        assert any(abs(a - b) <= 3 for a in mpos for b in spos), f
    exact_files = {
        r["file"]
        for r in cmd_bool(
            spark, corpus, argparse.Namespace(query='"merge shard"', index=root, k=500)
        )["results"]
    }
    assert exact_files <= sloppy_files

    # facets (r05c): counts by metadata column over the FULL boolean
    # match set (not the top-k page) — ground-truthed per language
    out4 = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query="merge AND shard", index=root, k=5, facet="lang"),
    )
    want_counts: dict = {}
    for f, (c, lang) in by_file.items():
        toks = tokenize_py(c)
        if "merge" in toks and "shard" in toks:
            want_counts[lang] = want_counts.get(lang, 0) + 1
    assert out4["facets"] == want_counts and sum(want_counts.values()) > 5

    # --explain (r05d): per-term BM25 breakdown attached per row; the
    # contributions sum to the row score (both rounded to 6dp)
    outx = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query="merge AND shard", index=root, k=5, explain=True),
    )
    for r in outx["results"]:
        assert r["explain"], r
        assert {e["term"] for e in r["explain"]} <= {"merge", "shard"}
        assert abs(sum(e["contribution"] for e in r["explain"]) - r["score"]) < 2e-6
        for e in r["explain"]:
            assert e["tf"] >= 1 and e["df"] >= 1

    # --snippets (r05d): densest positive-term window rides each row;
    # every non-empty snippet is a verbatim substring of its file
    # containing at least one positive term
    outs = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query="merge AND shard", index=root, k=5, snippets=True),
    )
    for r in outs["results"]:
        snip = r["snippet"]
        assert snip and snip in by_file[r["file"]][0]
        stoks = set(tokenize_py(snip))
        assert stoks & {"merge", "shard"}

    # --synonyms (r05d): query-time expansion — the synonym query's
    # match set equals the hand-expanded OR query's, and strictly
    # contains the unexpanded one
    syn = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(
            query="merge AND shard", index=root, k=500,
            synonyms="merge,batch",
        ),
    )
    manual = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(query="(merge OR batch) AND shard", index=root, k=500),
    )
    plain = cmd_bool(
        spark, corpus, argparse.Namespace(query="merge AND shard", index=root, k=500)
    )
    assert {r["file"] for r in syn["results"]} == {
        r["file"] for r in manual["results"]
    }
    # expansion can only widen (on this corpus batch+shard docs may all
    # carry merge too, so equality is legitimate)
    assert {r["file"] for r in syn["results"]} >= {
        r["file"] for r in plain["results"]
    }

    # --after (r05d): keyset pagination — two k=5 pages stitched with
    # the next_after cursor equal the single k=10 page
    page10 = cmd_bool(
        spark, corpus, argparse.Namespace(query="merge AND shard", index=root, k=10)
    )["results"]
    p1 = cmd_bool(
        spark, corpus, argparse.Namespace(query="merge AND shard", index=root, k=5)
    )
    assert ":" in p1["next_after"]
    p2 = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(
            query="merge AND shard", index=root, k=5, after=p1["next_after"]
        ),
    )
    stitched = [r["file"] for r in p1["results"]] + [r["file"] for r in p2["results"]]
    assert stitched == [r["file"] for r in page10]

    # --stats (r05d): per-group numeric rollup of the full match set,
    # ground-truthed from the raw corpus (doc_len = token count)
    out5 = cmd_bool(
        spark,
        corpus,
        argparse.Namespace(
            query="merge AND shard", index=root, k=5, stats="lang:doc_len"
        ),
    )
    want_stats: dict = {}
    for f, (c, lang) in by_file.items():
        toks = tokenize_py(c)
        if "merge" in toks and "shard" in toks:
            want_stats.setdefault(lang, []).append(len(toks))
    for lang, lens in want_stats.items():
        got = out5["stats"][lang]
        assert got["n"] == len(lens)
        assert got["min"] == min(lens) and got["max"] == max(lens)
        assert got["sum"] == sum(lens)
        assert abs(got["avg"] - sum(lens) / len(lens)) < 1e-6
    assert set(out5["stats"]) == set(want_stats)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown column"):
        cmd_bool(
            spark,
            corpus,
            argparse.Namespace(query="merge", index=root, k=5, facet="nope"),
        )


def test_cli_like_subcommand(spark, tmp_path):
    """`like` (r05d): find-similar by file name. The derived query
    terms all come from the source document, the source never returns
    itself, and every hit shares at least one derived term with the
    source (it matched the OR rewrite). Exact rank parity vs the pure-
    Python twin is pinned at the operator level (test_morelike)."""
    import argparse

    from scripts.code_search import cmd_like

    from local_search_engine_spark.functions.tokenize import tokenize_py

    corpus = gen_corpus_spark(spark, 100, partitions=4)
    root = str(tmp_path / "root")
    src = corpus.orderBy("repo", "path").select("repo", "path", "content").first()
    fname = f'{src["repo"]}:{src["path"]}'
    out = cmd_like(
        spark, corpus,
        argparse.Namespace(file=fname, index=root, k=10, terms=12),
    )
    src_toks = set(tokenize_py(src["content"]))
    assert out["query_terms"] and set(out["query_terms"]) <= src_toks
    assert len(out["query_terms"]) <= 12
    res = out["results"]
    assert res and [r["rank"] for r in res] == list(range(1, len(res) + 1))
    assert fname not in {r["file"] for r in res}
    by_file = {
        r["file"]: r["content"]
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content"
        ).collect()
    }
    qset = set(out["query_terms"])
    for r in res:
        assert qset & set(tokenize_py(by_file[r["file"]])), r["file"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no corpus file"):
        cmd_like(
            spark, corpus,
            argparse.Namespace(file="nope:nope.py", index=root, k=5, terms=5),
        )


def test_cli_search_minus_exclusion(spark, tmp_path):
    """`-term` in the composed search is a hard exclusion: the result
    set equals the un-excluded result set minus every doc containing
    the token — including via the quoted-phrase recall fallback — and
    no returned doc contains the excluded token."""
    import argparse

    from scripts.code_search import cmd_search

    from local_search_engine_spark.functions.tokenize import tokenize_py

    corpus = gen_corpus_spark(spark, 120, partitions=4)
    root = str(tmp_path / "root")
    by_file = {
        r["file"]: r["content"]
        for r in corpus.selectExpr(
            "concat_ws(':', repo, path) AS file", "content"
        ).collect()
    }
    # pick a selective exclusion token: present in SOME merge∧shard
    # docs (non-vacuous) but not all (doesn't empty the results)
    tok_sets = {f: set(tokenize_py(c)) for f, c in by_file.items()}
    excl = next(
        t
        for t in sorted({t for s in tok_sets.values() for t in s if t.startswith("kw")})
        if 0 < sum(1 for s in tok_sets.values() if t in s) < len(tok_sets) // 2
    )
    plain = cmd_search(
        spark, corpus, argparse.Namespace(query="merge shard", index=root, k=10)
    )
    minus = cmd_search(
        spark,
        corpus,
        argparse.Namespace(query=f"merge shard -{excl}", index=root, k=10),
    )
    assert minus["results"], "exclusion emptied the results"
    for r in minus["results"]:
        assert excl not in tok_sets[r["file"]], r["file"]
    assert [r["rank"] for r in minus["results"]] == list(
        range(1, len(minus["results"]) + 1)
    )
    assert plain["results"]

    # exclusion composes with quoted must-match + its recall fallback
    both = cmd_search(
        spark,
        corpus,
        argparse.Namespace(query=f'"merge shard" -{excl}', index=root, k=50),
    )
    assert both["results"]
    for r in both["results"]:
        toks = tokenize_py(by_file[r["file"]])
        assert excl not in toks
        assert any(
            (a, b) == ("merge", "shard") for a, b in zip(toks, toks[1:])
        )
    # and the quoted+excluded result is a strict subset of quoted-only
    quoted_only = cmd_search(
        spark, corpus, argparse.Namespace(query='"merge shard"', index=root, k=50)
    )
    qf = {r["file"] for r in quoted_only["results"]}
    bf = {r["file"] for r in both["results"]}
    assert bf <= qf or len(bf) == 50  # subset unless both sets hit the k cap


@pytest.fixture(scope="module")
def searched_root(spark, tmp_path_factory):
    """(corpus, ROOT) after one cold quoted `search`: ROOT/bm25,
    ROOT/ann and ROOT/pos all exist."""
    import argparse

    from scripts.code_search import cmd_search

    corpus = gen_corpus_spark(spark, 120, partitions=4).cache()
    root = str(tmp_path_factory.mktemp("searched") / "root")
    cmd_search(
        spark, corpus, argparse.Namespace(query='"self return" merge', index=root, k=5)
    )
    yield corpus, root
    corpus.unpersist()


def test_cli_phrase_reuses_the_pos_index_search_built(spark, searched_root, tmp_path):
    """ROOT/pos has one builder and one id space: `phrase --index` on a
    root where a quoted `search` built ROOT/pos reuses it and answers
    exactly as `phrase` on a fresh root does."""
    import argparse

    from scripts.code_search import cmd_phrase

    corpus, root = searched_root
    ns = dict(query="self return", k=5, near=None)
    reused = cmd_phrase(spark, corpus, argparse.Namespace(index=root, **ns))
    fresh = cmd_phrase(spark, corpus, argparse.Namespace(index=str(tmp_path / "r"), **ns))
    assert reused["built_index"] is False and fresh["built_index"] is True
    assert reused["results"] and reused["results"] == fresh["results"]


def test_cli_like_names_each_identical_content_file(spark, searched_root):
    """`like` on a doc whose content several files share verbatim (the
    corpus's tie docs): the k results are k distinct files, each one of
    those tie docs, and never the source itself."""
    import argparse

    from scripts.code_search import cmd_like

    from local_search_engine_spark.sources.corpus import TIE_DOC

    corpus, root = searched_root
    ties = {
        r["file"]
        for r in corpus.selectExpr("concat_ws(':', repo, path) AS file", "content").collect()
        if r["content"] == TIE_DOC
    }
    src = "org0/repo0:src/mod0/file_0.py"
    assert src in ties and len(ties) > 5
    out = cmd_like(spark, corpus, argparse.Namespace(file=src, index=root, k=5, terms=25))
    files = [r["file"] for r in out["results"]]
    assert len(files) == 5 and len(set(files)) == 5, files
    assert set(files) <= ties - {src}, files


def test_cli_warm_quoted_search_job_budget(spark, searched_root):
    """A warm quoted `search` with a `-term` over an unchanged corpus
    runs at most 19 Spark jobs: one fingerprint scan proves the BM25
    index current, ROOT/pos is checked against that build's
    fingerprint without a scan, and the hits reach their text by key
    with no hash of the corpus."""
    import argparse
    import uuid

    from scripts.code_search import cmd_search

    corpus, root = searched_root
    sc = spark.sparkContext
    group = f"journey-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = cmd_search(
            spark, corpus, argparse.Namespace(query='"self return" merge -kw3', index=root, k=5)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out["built_ann"] is False and out["results"]
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 19, jobs


def test_cli_like_refuses_a_path_at_several_commits(spark, tmp_path):
    """`like --file REPO:PATH` resolves from the index docs table; when
    that path is indexed at several commits it raises and names them
    instead of picking one."""
    import argparse

    from scripts.code_search import cmd_like

    corpus = spark.createDataFrame(
        [
            ("r0", "a.py", "c1", "python", "merge shard alpha"),
            ("r0", "a.py", "c2", "python", "merge shard beta"),
            ("r0", "b.py", "c1", "python", "merge gamma"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    with pytest.raises(ValueError, match="2 commits: c1, c2"):
        cmd_like(
            spark, corpus,
            argparse.Namespace(file="r0:a.py", index=str(tmp_path / "root"), k=5, terms=5),
        )


def test_cli_parser_builds():
    """The command line parses: every option is declared once (a second
    `--file` made argparse raise before any command ran)."""
    import os
    import subprocess
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "code_search.py"
    )
    out = subprocess.run(
        [sys.executable, script, "--help"], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert "--file" in out.stdout
