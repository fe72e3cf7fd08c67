"""Percolation — standing phrase queries matched against a document
stream (reverse search: queries are stored, documents arrive; the
capability Elasticsearch calls a percolator). Alerting / routing /
saved-search shape: "tell me whenever a crawled doc contains the phrase
X".

No reference analogue (the reference only searches a static index); the
engine's positional phrase family (operators/positional.py) supplies
the matching semantics — positions in the engine's filtered token
stream, same tokenizer both sides — and this module applies them
per-document with NO index and NO state:

  * The standing query set is tokenized once on the driver and shipped
    in the task closure (standing sets are small — thousands of
    phrases, not documents).
  * The kernel builds ONE batch-level positional posting map per Arrow
    batch (composite key doc_idx·2³² + position, the same encoding
    operators/positional.py uses for its block intersects) and answers
    every standing phrase with chained `np.intersect1d(assume_unique)`
    over term posting arrays — the whole batch is matched per phrase in
    a handful of numpy set ops instead of a per-document, per-position
    Python loop (r05 kernel vectorization: 40 k docs / 211 MB / 100
    standing phrases went 13.0 s → measured in BENCH §11; the old
    kernel's match loop was 85 % of its cost).
  * Tokenization stays IN the kernel on raw text. The "obvious"
    alternative — a JVM split tokenizer before the Arrow exchange — was
    measured 2.4× SLOWER end-to-end (31.9 s vs 13.0 s on the same
    input): shipping 33 M tokens as Arrow list<string> costs far more
    than the compiled-regex split it avoids, because every token
    becomes a Python object during pandas conversion while tokenize is
    only ~5 % of kernel time. Measurement over intuition; numbers in
    BENCH/BASELINE.md §11.
  * percolate (batch twin) and percolate_stream are the SAME narrow
    Arrow mapInPandas transformation — zero shuffle, zero streaming
    state (stateless matching needs no watermark; state stores are for
    cross-row semantics, which percolation doesn't have). Throughput
    scales linearly with executors at ANY corpus rate; the batch twin
    defines the semantics and is pinned against a DuckDB zipped-unnest
    matcher and the positional index path in tests/test_percolate.py.
"""

from __future__ import annotations

from ..functions.tokenize import tokenize_py
from ..plans.layout import local_rows

_DOC_SHIFT = 2**32  # composite key: doc_idx * 2^32 + position


def _out_schema(df, id_col: str) -> str:
    """Output schema keeps the caller's id column name AND type —
    percolation never does id arithmetic, so string paths / long ids /
    anything hashable passes straight through."""
    id_type = df.schema[id_col].dataType.simpleString()
    return f"{id_col} {id_type}, query_id int, phrase_tf long"


def _match_batches_fn(
    specs: list[tuple[int, list[str]]],
    text_col: str,
    id_col: str,
):
    """mapInPandas kernel shared by the batch and streaming shapes.
    specs: [(query_id, phrase_tokens)] — pre-tokenized, non-empty.

    Per batch: tokenize each doc, build a term → sorted-composite-key
    posting map for the WHOLE batch in one numpy grouping pass, then
    per phrase chain intersect1d over (posting(q[k]) − k). A composite
    survivor at offset 0 is a phrase start; doc_idx = key >> 32 and a
    np.unique over survivors yields per-doc phrase_tf. Positions never
    approach 2³², so a +k probe cannot cross a document boundary."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            texts = pdf[text_col]
            flat_toks: list[str] = []
            doc_lens: list[int] = []
            for text in texts:
                toks = tokenize_py(text)
                flat_toks.extend(toks)
                doc_lens.append(len(toks))
            if not flat_toks:
                continue
            lens = np.asarray(doc_lens, dtype=np.int64)
            # composite keys, grouped by term code via one stable argsort;
            # hash-based pd.factorize beats sort-based np.unique ~5× on
            # object-dtype token arrays (measured, BENCH §11)
            doc_idx = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            pos_in_doc = np.concatenate([np.arange(n, dtype=np.int64) for n in doc_lens if n])
            comp = doc_idx * _DOC_SHIFT + pos_in_doc
            inv, terms = pd.factorize(np.asarray(flat_toks, dtype=object))
            order = np.argsort(inv, kind="stable")
            grouped = comp[order]  # per-term runs, ascending within each run
            starts = np.searchsorted(inv[order], np.arange(len(terms) + 1))
            tid = {t: i for i, t in enumerate(terms)}

            ids_np = pdf[id_col].to_numpy()
            out_frames = []
            for qid, q in specs:
                arr = None
                for k, t in enumerate(q):
                    i = tid.get(t)
                    if i is None:
                        arr = None
                        break
                    p = grouped[starts[i]:starts[i + 1]]
                    arr = p if arr is None else np.intersect1d(
                        arr, p - k, assume_unique=True
                    )
                    if arr.size == 0:
                        arr = None
                        break
                if arr is None:
                    continue
                hit_docs, counts = np.unique(arr // _DOC_SHIFT, return_counts=True)
                out_frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids_np[hit_docs],
                            "query_id": np.full(len(hit_docs), qid, dtype=np.int32),
                            "phrase_tf": counts.astype(np.int64),
                        }
                    )
                )
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    return fn


def _tokenize_specs(phrases) -> list[tuple[int, list[str]]]:
    specs = []
    for qid, text in phrases:
        q = tokenize_py(text)
        if q:
            specs.append((int(qid), q))
    return specs


def percolate(
    docs,
    phrases: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Batch twin: (doc_id, query_id, phrase_tf) for every document
    containing each standing phrase at least once. Narrow plan — one
    Arrow pass over the scan, no shuffle (plan pinned in tests)."""
    specs = _tokenize_specs(phrases)
    spark = docs.sparkSession
    if not specs:
        return local_rows(spark, [], _out_schema(docs, id_col))
    from ..plans.layout import widen_for_kernel

    return widen_for_kernel(docs.select(id_col, text_col)).mapInPandas(
        _match_batches_fn(specs, text_col, id_col),
        _out_schema(docs, id_col),
    )


def percolate_stream(
    stream,
    phrases: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming shape: the identical stateless transformation over a
    streaming DataFrame (caller attaches the sink). No watermark, no
    state store — restart safety comes entirely from the sink's
    checkpoint + source offsets."""
    specs = _tokenize_specs(phrases)
    if not specs:
        raise ValueError("percolate_stream needs at least one non-empty phrase")
    return stream.select(id_col, text_col).mapInPandas(
        _match_batches_fn(specs, text_col, id_col),
        _out_schema(stream, id_col),
    )


# ---------------------------------------------------------------------------
# boolean percolation — standing queries in the FULL query language
# ---------------------------------------------------------------------------


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _bool_batches_fn(
    standing: list,  # [(qid, ast_node)]
    leaves: list,  # global leaf order shared by every query
    text_col: str,
    id_col: str,
    field_cols: list[str],
):
    """mapInPandas kernel for boolean percolation. Per Arrow batch it
    builds the SAME batch-level posting map as the phrase kernel, then
    evaluates every leaf ONCE into a doc-level boolean mask (leaves are
    deduplicated across the whole standing set, so a term shared by
    500 standing queries costs one posting lookup), and every standing
    AST as numpy mask algebra. The batch is the NOT-universe — exactly
    the percolation semantics: "of the documents that just arrived,
    which satisfy this saved search"."""
    from ..operators import boolquery as bq

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            toks_per_doc = [tokenize_py(t) for t in pdf[text_col]]
            lens = np.asarray([len(t) for t in toks_per_doc], dtype=np.int64)
            flat = [t for toks in toks_per_doc for t in toks]
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            pos_in_doc = (
                np.concatenate([np.arange(m, dtype=np.int64) for m in lens if m])
                if flat
                else np.empty(0, np.int64)
            )
            comp = doc_idx * _DOC_SHIFT + pos_in_doc
            if flat:
                inv, terms = pd.factorize(np.asarray(flat, dtype=object))
                order = np.argsort(inv, kind="stable")
                grouped = comp[order]
                starts = np.searchsorted(inv[order], np.arange(len(terms) + 1))
                tid = {t: i for i, t in enumerate(terms)}
                term_strs = np.asarray(terms, dtype=object)
            else:
                grouped = comp
                starts = np.zeros(1, np.int64)
                tid = {}
                term_strs = np.asarray([], dtype=object)

            def posting(t):
                i = tid.get(t)
                if i is None:
                    return None
                return grouped[starts[i] : starts[i + 1]]

            def docs_mask(docs):
                m = np.zeros(n, dtype=bool)
                m[docs] = True
                return m

            def term_union_mask(idxs):
                m = np.zeros(n, dtype=bool)
                for i in idxs:
                    m[grouped[starts[i] : starts[i + 1]] // _DOC_SHIFT] = True
                return m

            masks = []
            for leaf in leaves:
                if isinstance(leaf, bq.Term):
                    p = posting(leaf.term)
                    masks.append(
                        np.zeros(n, bool) if p is None else docs_mask(p // _DOC_SHIFT)
                    )
                elif isinstance(leaf, bq.Phrase):
                    arr = None
                    for k, t in enumerate(leaf.tokens):
                        p = posting(t)
                        if p is None:
                            arr = None
                            break
                        arr = p if arr is None else np.intersect1d(
                            arr, p - k, assume_unique=True
                        )
                        if arr.size == 0:
                            arr = None
                            break
                    masks.append(
                        np.zeros(n, bool)
                        if arr is None
                        else docs_mask(arr // _DOC_SHIFT)
                    )
                elif isinstance(leaf, bq.PhrasePrefix):
                    arr = None
                    dead = False
                    for k, t in enumerate(leaf.tokens):
                        p = posting(t)
                        if p is None:
                            dead = True
                            break
                        arr = p if arr is None else np.intersect1d(
                            arr, p - k, assume_unique=True
                        )
                        if arr.size == 0:
                            dead = True
                            break
                    hit = (
                        np.flatnonzero(
                            np.char.startswith(term_strs.astype(str), leaf.stem)
                        )
                        if term_strs.size
                        else np.empty(0, np.int64)
                    )
                    if dead or hit.size == 0:
                        masks.append(np.zeros(n, bool))
                        continue
                    pk = np.concatenate(
                        [grouped[starts[i] : starts[i + 1]] for i in hit]
                    )
                    pk.sort()
                    arr = np.intersect1d(
                        arr, pk - len(leaf.tokens), assume_unique=True
                    )
                    masks.append(docs_mask(arr // _DOC_SHIFT))
                elif isinstance(leaf, bq.Near):
                    uniq = list(dict.fromkeys(leaf.tokens))
                    ps = [posting(t) for t in uniq]
                    if any(p is None for p in ps):
                        masks.append(np.zeros(n, bool))
                        continue
                    a = ps[0]
                    ok = np.ones(a.size, dtype=bool)
                    for p in ps[1:]:
                        lo = np.searchsorted(p, a - leaf.window, side="left")
                        hi = np.searchsorted(p, a + leaf.window, side="right")
                        ok &= hi > lo
                    masks.append(docs_mask(a[ok] // _DOC_SHIFT))
                elif isinstance(leaf, bq.Prefix):
                    hit = np.flatnonzero(
                        np.char.startswith(term_strs.astype(str), leaf.stem)
                    ) if term_strs.size else []
                    masks.append(term_union_mask(hit))
                elif isinstance(leaf, bq.Fuzzy):
                    lo, hi = len(leaf.stem) - leaf.max_d, len(leaf.stem) + leaf.max_d
                    hit = [
                        i
                        for i, t in enumerate(term_strs)
                        if lo <= len(t) <= hi
                        and _levenshtein(t, leaf.stem) <= leaf.max_d
                    ]
                    masks.append(term_union_mask(hit))
                elif isinstance(leaf, bq.Regex):
                    masks.append(
                        pdf[text_col]
                        .str.contains(leaf.pattern, regex=True, na=False)
                        .to_numpy(dtype=bool)
                    )
                else:  # Field
                    col = pdf[leaf.name]
                    want = (
                        float(leaf.value)
                        if pd.api.types.is_numeric_dtype(col)
                        else leaf.value
                    )
                    op = leaf.op
                    if op == "=":
                        m = col == want
                    elif op == ">":
                        m = col > want
                    elif op == ">=":
                        m = col >= want
                    elif op == "<":
                        m = col < want
                    else:
                        m = col <= want
                    masks.append(m.to_numpy(dtype=bool))

            mask_of = {leaf: m for leaf, m in zip(leaves, masks)}

            def ev(node):
                if isinstance(node, bq.Bool):
                    return np.full(n, node.value, dtype=bool)
                if isinstance(node, bq.Boost):
                    return ev(node.child)
                if isinstance(node, bq.Not):
                    return ~ev(node.child)
                if isinstance(node, bq.And):
                    m = ev(node.children[0])
                    for c in node.children[1:]:
                        m = m & ev(c)
                    return m
                if isinstance(node, bq.Or):
                    m = ev(node.children[0])
                    for c in node.children[1:]:
                        m = m | ev(c)
                    return m
                if isinstance(node, bq.AtLeast):
                    # minimum-should-match: count of matched clauses ≥ n
                    cnt = ev(node.children[0]).astype(np.int32)
                    for c in node.children[1:]:
                        cnt = cnt + ev(c)
                    return cnt >= node.n
                return mask_of[node]

            ids_np = pdf[id_col].to_numpy()
            out = []
            for qid, node in standing:
                hit = np.flatnonzero(ev(node))
                if hit.size:
                    # n_hits = distinct leaves of THIS query present in
                    # the doc — the same statistic boolquery.matches
                    # reports, so the two paths compare row-for-row
                    q_leaves = bq.collect_leaves(node)
                    nh = (
                        np.sum(
                            np.stack([mask_of[l] for l in q_leaves]), axis=0
                        ).astype(np.int64)
                        if q_leaves
                        else np.zeros(n, np.int64)
                    )
                    out.append(
                        pd.DataFrame(
                            {
                                id_col: ids_np[hit],
                                "query_id": np.full(hit.size, qid, dtype=np.int32),
                                "n_hits": nh[hit],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    return fn


def _bind_bool(queries, df, text_col: str, id_col: str):
    """Parse + validate the standing boolean set against the incoming
    schema. Returns (standing, leaves, field_cols, out_schema)."""
    from ..operators import boolquery as bq

    standing = []
    all_leaves: list = []
    seen: set = set()
    for qid, qtext in queries:
        node = bq.parse_query(qtext) if isinstance(qtext, str) else qtext
        standing.append((int(qid), node))
        for leaf in bq.collect_leaves(node):
            if leaf not in seen:
                seen.add(leaf)
                all_leaves.append(leaf)
    field_cols = sorted({l.name for l in all_leaves if isinstance(l, bq.Field)})
    missing = [c for c in field_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"standing queries use field leaves {missing} not present in "
            f"the document schema {df.columns}"
        )
    id_type = df.schema[id_col].dataType.simpleString()
    return standing, all_leaves, field_cols, f"{id_col} {id_type}, query_id int, n_hits long"


def percolate_bool(
    docs,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Boolean percolation (batch twin): standing saved-searches in the
    FULL boolean query language (operators/boolquery.py — AND/OR/NOT,
    phrases, "a b"~w slop, prefix*, fuzzy~d, /regex/, field:predicates,
    boosts are matching-transparent) matched index-free against a
    document batch. Output (id, query_id, n_hits) where n_hits counts
    the distinct standing-set leaves present in the doc — the same
    statistic boolquery.matches reports, so the index path and the
    percolation path are directly comparable (pinned in
    tests/test_percolate.py). Same narrow zero-shuffle plan as
    percolate(); NOT semantics range over the incoming batch, which IS
    the percolation universe."""
    standing, leaves, field_cols, out_schema = _bind_bool(
        queries, docs, text_col, id_col
    )
    spark = docs.sparkSession
    if not standing:
        return local_rows(spark, [], out_schema)
    cols = [id_col, text_col, *field_cols]
    from ..plans.layout import widen_for_kernel

    return widen_for_kernel(docs.select(*cols)).mapInPandas(
        _bool_batches_fn(standing, leaves, text_col, id_col, field_cols),
        out_schema,
    )


def percolate_bool_stream(
    stream,
    queries: list[tuple[int, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming shape of percolate_bool — stateless, no watermark, the
    caller attaches the sink (foreachBatch/append) exactly as with
    percolate_stream."""
    standing, leaves, field_cols, out_schema = _bind_bool(
        queries, stream, text_col, id_col
    )
    if not standing:
        raise ValueError("percolate_bool_stream needs at least one query")
    cols = [id_col, text_col, *field_cols]
    return stream.select(*cols).mapInPandas(
        _bool_batches_fn(standing, leaves, text_col, id_col, field_cols),
        out_schema,
    )
