"""Registry lint (r05, VERDICT #2): the driver's correctness gate
canonicalizes each queries() output with a pandas multi-column sort,
which crashes (TypeError: unhashable type) on array/map/struct cells.
Three r04 gates shipped with array columns and erred at the driver even
though their values were correct. This lint makes that class of bug a
local test failure:

  * lint_schema() rejects any ArrayType / MapType / StructType column;
  * the full queries() registry must lint clean at sf0.001;
  * a deliberately array-typed dummy gate must FAIL the lint (so the
    lint itself is known-live);
  * the driver-faithful canon in scripts/check_gate.py must raise on an
    array-typed result exactly as the driver does.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("LSE_TEST_SF_DIR", "/root/testdata/sf0.001")


def lint_schema(schema):
    """Return the list of driver-canon-unsafe columns in a StructType."""
    from pyspark.sql import types as T

    bad = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            bad.append(f"{f.name}: {f.dataType.simpleString()}")
    return bad


def test_lint_catches_array_dummy_gate(spark):
    from pyspark.sql import functions as F

    dummy = spark.range(3).select(
        F.col("id"), F.array(F.lit(1), F.lit(2)).alias("doc_ids")
    )
    bad = lint_schema(dummy.schema)
    assert bad == ["doc_ids: array<int>"]


def test_check_gate_canon_crashes_on_array_cells():
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts"))
    from check_gate import rows_to_multiset

    # scalar rows canonicalize fine
    ok = rows_to_multiset(["b", "a"], [(1.5, "x"), (None, "y")])
    assert len(ok) == 2
    # array cells must raise, as the driver's pandas _canon does
    with pytest.raises(TypeError):
        rows_to_multiset(["a", "ids"], [(1, [1, 2]), (2, [3])])


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_registry_schemas_are_canon_safe(spark):
    import __spark_entry__ as E

    os.environ["LSE_ORACLE_SF_DIR"] = SF_DIR
    failures = {}
    for name, fn in E.queries().items():
        df = fn(spark, SF_DIR)
        bad = lint_schema(df.schema)
        if bad:
            failures[name] = bad
    assert not failures, f"driver-canon-unsafe gate outputs: {failures}"


REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(REPO_DIR, "local_search_engine_spark")


def create_dataframe_sites(repo_dir=REPO_DIR):
    """(file, line) of every `createDataFrame(` in the package or in
    scripts/ that is not inside plans/layout.local_rows — the one place
    driver-built rows may become a DataFrame (an Arrow LocalTableScan; a
    Python-list createDataFrame plans a Scan ExistingRDD of
    defaultParallelism Python tasks)."""
    import ast

    local_rows_file = os.path.join("local_search_engine_spark", "plans", "layout.py")
    sites = []
    for top in ("local_search_engine_spark", "scripts"):
        for root, _, files in os.walk(os.path.join(repo_dir, top)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                with open(path) as f:
                    src = f.read()
                allowed = set()
                if os.path.relpath(path, repo_dir) == local_rows_file:
                    for node in ast.walk(ast.parse(src)):
                        if isinstance(node, ast.FunctionDef) and node.name == "local_rows":
                            allowed.update(range(node.lineno, node.end_lineno + 1))
                for no, line in enumerate(src.splitlines(), 1):
                    if "createDataFrame(" in line and no not in allowed:
                        sites.append((os.path.relpath(path, repo_dir), no))
    return sites


def test_driver_rows_go_through_local_rows():
    assert create_dataframe_sites() == []


def test_create_dataframe_lint_is_live(tmp_path):
    ops = tmp_path / "local_search_engine_spark" / "operators"
    ops.mkdir(parents=True)
    (ops / "x.py").write_text('def f(spark):\n    return spark.createDataFrame([], "a int")\n')
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "y.py").write_text('import x\ndf = spark.createDataFrame(rows, "a int")\n')
    assert create_dataframe_sites(str(tmp_path)) == [
        (os.path.join("local_search_engine_spark", "operators", "x.py"), 2),
        (os.path.join("scripts", "y.py"), 2),
    ]


QUERY_MODULES = tuple(
    os.path.join("operators", f"{m}.py") for m in ("wand", "positional", "query", "boolquery")
)


def column_isin_sites(pkg_dir=PKG_DIR, files=QUERY_MODULES):
    """(file, line) of every Column `.isin(` call in the query operators.
    Their per-query constants go through plans/layout.sql_lit /
    sql_in — one filter string per query, where a Column `isin` costs a
    JVM round trip per value. numpy's `np.isin(` is not a Column call."""
    import re

    call = re.compile(r"(?<!np)\.isin\(")
    sites = []
    for rel in files:
        with open(os.path.join(pkg_dir, rel)) as f:
            for no, line in enumerate(f, 1):
                if call.search(line):
                    sites.append((rel, no))
    return sites


def test_query_constants_go_through_sql_literals():
    assert column_isin_sites() == []


def test_column_isin_lint_is_live(tmp_path):
    ops = tmp_path / "operators"
    ops.mkdir()
    for rel in QUERY_MODULES:
        (tmp_path / rel).write_text("import numpy as np\nkeep = np.isin(a, b)\n")
    (tmp_path / QUERY_MODULES[0]).write_text(
        'import numpy as np\nkeep = np.isin(a, b)\ndf = df.filter(F.col("term").isin(terms))\n'
    )
    assert column_isin_sites(str(tmp_path)) == [(QUERY_MODULES[0], 3)]


def master_read_sites(pkg_dir=PKG_DIR):
    """(file, line) of every `spark.master` conf key or `.master`
    attribute read in the package (`SparkSession.builder.master(...)` sets
    the master; it is not a read). Plan choice must not depend on the deployment
    string: the same corpus plans the same way on local[*],
    local-cluster and a real cluster."""
    import re

    read = re.compile(r"spark\.master|\.master\b(?!\s*\()")
    sites = []
    for root, _, files in os.walk(pkg_dir):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    for no, line in enumerate(f, 1):
                        if read.search(line):
                            sites.append((os.path.relpath(path, pkg_dir), no))
    return sites


def test_plans_never_read_spark_master():
    assert master_read_sites() == []


def test_spark_master_lint_is_live(tmp_path):
    ops = tmp_path / "operators"
    ops.mkdir()
    (ops / "x.py").write_text(
        "def f(df, sc):\n"
        '    a = df.sparkSession.conf.get("spark.master", "")\n'
        "    b = SparkSession.builder.master(a)\n"
        "    return sc.master\n"
    )
    x = os.path.join("operators", "x.py")
    assert master_read_sites(str(tmp_path)) == [(x, 2), (x, 4)]


REPO_DIR = os.path.dirname(PKG_DIR)


def unreferenced_package_defs(repo_dir=REPO_DIR):
    """(file, name) of every top-level def/class in the package whose
    name no `.py` file in the repo outside `tests/` references: no
    Name, no Attribute and no `from ... import` of it (strings and
    docstrings do not count). A function only its own definition names
    is dead code, and one only tests name is kept for the tests alone:
    an oracle belongs in tests/oracle.py, a twin of an engine path
    goes."""
    import ast

    pkg = os.path.join(repo_dir, "local_search_engine_spark")
    tests = os.path.join(repo_dir, "tests")
    defs, used = [], set()
    for root, dirs, files in os.walk(repo_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            if path.startswith(tests + os.sep):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    used.add(node.id)
                elif isinstance(node, ast.Attribute):
                    used.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    used.update(a.name for a in node.names)
            if path.startswith(pkg + os.sep):
                rel = os.path.relpath(path, repo_dir)
                defs.extend(
                    (rel, node.name)
                    for node in tree.body
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                )
    return [d for d in defs if d[1] not in used]


def test_every_package_function_is_referenced():
    assert unreferenced_package_defs() == []


def test_unreferenced_function_lint_is_live(tmp_path):
    ops = tmp_path / "local_search_engine_spark" / "operators"
    ops.mkdir(parents=True)
    (ops / "x.py").write_text(
        "def used():\n    return 1\n\n\n"
        "def by_attribute():\n    return 2\n\n\n"
        'def dead():\n    """Only `dead` itself names dead."""\n    return used()\n'
    )
    (tmp_path / "caller.py").write_text(
        "from local_search_engine_spark.operators import x\n\nx.by_attribute()\n"
    )
    x = os.path.join("local_search_engine_spark", "operators", "x.py")
    assert unreferenced_package_defs(str(tmp_path)) == [(x, "dead")]


def test_test_only_function_lint_is_live(tmp_path):
    ops = tmp_path / "local_search_engine_spark" / "operators"
    ops.mkdir(parents=True)
    (ops / "x.py").write_text("def engine():\n    return 1\n\n\ndef for_tests():\n    return 2\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_x.py").write_text(
        "from local_search_engine_spark.operators.x import for_tests\n\n"
        "def test_x():\n    assert for_tests() == 2\n"
    )
    (tmp_path / "caller.py").write_text(
        "from local_search_engine_spark.operators import x\n\nx.engine()\n"
    )
    x = os.path.join("local_search_engine_spark", "operators", "x.py")
    assert unreferenced_package_defs(str(tmp_path)) == [(x, "for_tests")]


TOKENIZE_PY = os.path.join("local_search_engine_spark", "functions", "tokenize.py")


def second_tokenizer_sites(repo_dir=REPO_DIR):
    """(file, line) of every use of the tokenizer's split regex
    TOKEN_SPLIT_RE in a repo `.py` file other than functions/tokenize.py,
    of every name of a JVM-expression tokenizer (`tokenize*_expr`)
    anywhere (a def, an import, a Name or an Attribute), of every
    `tokenize*` def in functions/tokenize.py other than tokenize_py, and
    of every package def parameter named `tokenizer`. tokenize_py is the
    engine's one analyzer: a second tokenizer built on the same regex
    drifts from it, and an analyzer argument lets an index be built with
    one analyzer and queried with another (strings and comments do not
    count)."""
    import ast
    import re

    jvm_tokenizer = re.compile(r"^tokenize\w*_expr$")
    pkg = "local_search_engine_spark" + os.sep
    sites = []
    for root, dirs, files in os.walk(repo_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith("."))
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, repo_dir)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.arg):
                    if node.arg == "tokenizer" and rel.startswith(pkg):
                        sites.append((rel, node.lineno))
                    continue
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and rel == TOKENIZE_PY
                    and node.name.startswith("tokenize")
                    and node.name != "tokenize_py"
                ):
                    sites.append((rel, node.lineno))
                if isinstance(node, ast.Name):
                    names = [node.id]
                elif isinstance(node, ast.Attribute):
                    names = [node.attr]
                elif isinstance(node, (ast.ImportFrom, ast.Import)):
                    names = [a.name.rsplit(".", 1)[-1] for a in node.names]
                elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    names = [node.name]
                else:
                    continue
                if any(
                    jvm_tokenizer.match(n) or (n == "TOKEN_SPLIT_RE" and rel != TOKENIZE_PY)
                    for n in names
                ):
                    sites.append((rel, node.lineno))
    return sorted(set(sites))


def test_one_tokenizer():
    assert second_tokenizer_sites() == []


def test_one_tokenizer_lint_is_live(tmp_path):
    fns = tmp_path / "local_search_engine_spark" / "functions"
    fns.mkdir(parents=True)
    (fns / "tokenize.py").write_text(
        'TOKEN_SPLIT_RE = "[^a-z0-9_]+"\n\n\ndef tokenize_code_expr(col):\n    return col\n\n\n'
        "def tokenize_py(text):\n    return []\n\n\n"
        "def tokenize_code_py(text):\n    return []\n"
    )
    (tmp_path / "ops.py").write_text(
        "from local_search_engine_spark.functions.tokenize import TOKEN_SPLIT_RE\n"
        "import local_search_engine_spark.functions.tokenize as T\n"
        "toks = T.tokenize_code_expr(col)\n"
        "# TOKEN_SPLIT_RE in a comment is fine\n"
        "def outside_the_package(tokenizer):\n    return tokenizer\n"
    )
    ops = tmp_path / "local_search_engine_spark" / "operators"
    ops.mkdir()
    (ops / "build.py").write_text(
        "def build(docs, text_col, tokenizer=None):\n    return docs\n\n\n"
        "def index(docs, *, analyzer=None):\n    return docs\n"
    )
    assert second_tokenizer_sites(str(tmp_path)) == [
        (TOKENIZE_PY, 4),
        (TOKENIZE_PY, 12),
        (os.path.join("local_search_engine_spark", "operators", "build.py"), 1),
        ("ops.py", 1),
        ("ops.py", 3),
    ]


STORE_EXEMPT = (os.path.join("plans", "store.py"), os.path.join("sources", "corpus.py"))


def store_bypass_sites(pkg_dir=PKG_DIR):
    """(file, line) of every parquet read or write, every `json.dump` /
    `json.load` and every write-mode `open(` in the package outside
    plans/store.py, the one module that commits and reads index tables
    and metadata (sources/corpus.py reads input corpora and is exempt).
    A stream source (`readStream...parquet`) reads input files with the
    caller's schema, and an append-mode `open` adds lines to a log
    without touching what it holds; neither counts."""
    import ast

    def write_mode(call):
        mode = call.args[1] if len(call.args) > 1 else None
        mode = next((k.value for k in call.keywords if k.arg == "mode"), mode)
        return isinstance(mode, ast.Constant) and any(c in str(mode.value) for c in "wx+")

    sites = []
    for root, _, files in os.walk(pkg_dir):
        for name in sorted(files):
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg_dir)
            if not name.endswith(".py") or rel in STORE_EXEMPT:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                if isinstance(fn, ast.Attribute) and fn.attr == "parquet":
                    bad = not any(
                        isinstance(n, ast.Attribute) and n.attr == "readStream"
                        for n in ast.walk(fn.value)
                    )
                elif isinstance(fn, ast.Attribute) and fn.attr in ("dump", "load"):
                    bad = isinstance(fn.value, ast.Name) and fn.value.id == "json"
                else:
                    bad = isinstance(fn, ast.Name) and fn.id == "open" and write_mode(node)
                if bad:
                    sites.append((rel, node.lineno))
    return sorted(sites)


def test_index_tables_go_through_the_store():
    assert store_bypass_sites() == []


def test_store_lint_is_live(tmp_path):
    body = (
        "import json\n"
        "def f(spark, df, meta, p):\n"
        '    df.write.mode("overwrite").parquet(p)\n'
        "    t = spark.read.parquet(p)\n"
        '    s = spark.readStream.schema("a int").parquet(p)\n'
        '    with open(p, "w") as fh:\n'
        "        json.dump(meta, fh)\n"
        '    with open(p, mode="a") as fh:\n'
        "        fh.write(json.dumps(meta))\n"
        "    with open(p) as fh:\n"
        "        return json.load(fh)\n"
    )
    for rel in (os.path.join("operators", "x.py"), *STORE_EXEMPT):
        (tmp_path / os.path.dirname(rel)).mkdir(exist_ok=True)
        (tmp_path / rel).write_text(body)
    x = os.path.join("operators", "x.py")
    assert store_bypass_sites(str(tmp_path)) == [(x, 3), (x, 4), (x, 6), (x, 7), (x, 11)]


BUILD_PY = os.path.join("operators", "build.py")
# kind -> the (file, function) pairs where that part of an index is made
ASSEMBLY = {
    "InvertedIndex": {(BUILD_PY, "assemble_index"), (os.path.join("plans", "checkpoint.py"), "load_index")},
    "doc_len": {(BUILD_PY, "with_doc_lens")},
    "avgdl": {(BUILD_PY, "doc_len_stats")},
}


def index_assembly_sites(pkg_dir=PKG_DIR):
    """(file, line, kind) of every place in the package that assembles
    part of an index outside the functions ASSEMBLY allows:

      * InvertedIndex — an `InvertedIndex(...)` call. build.assemble_index
        builds every index; checkpoint.load_index reads one back from its
        stored statistics.
      * doc_len — a column named doc_len made by `.alias`, `.withColumn`
        or `.withColumnRenamed`; build.with_doc_lens derives it.
      * avgdl — an `avg`/`mean` call over doc_len; a value bound to a
        name, attribute, keyword or dict key `avgdl` that holds an
        operator or a call other than doc_len_stats(...); or an operator
        applied to avgdl other than dividing by it (scoring divides a
        length by avgdl). Only build.doc_len_stats derives avgdl; the
        others receive it from there or from stored statistics.

    Strings and comments do not count."""
    import ast

    def named(node, name):
        return (isinstance(node, ast.Name) and node.id == name) or (
            isinstance(node, ast.Attribute) and node.attr == name
        )

    def computed(node):
        return node is not None and any(
            isinstance(n, ast.BinOp) or (isinstance(n, ast.Call) and not named(n.func, "doc_len_stats"))
            for n in ast.walk(node)
        )

    def kinds(node):
        if isinstance(node, ast.Call):
            fn = node.func
            attr = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if attr == "InvertedIndex":
                yield "InvertedIndex"
            pos = {"alias": 0, "withColumn": 0, "withColumnRenamed": 1}.get(attr)
            if pos is not None and len(node.args) > pos:
                arg = node.args[pos]
                if isinstance(arg, ast.Constant) and arg.value == "doc_len":
                    yield "doc_len"
            if attr in ("avg", "mean") and "doc_len" in ast.unparse(node):
                yield "avgdl"
            if any(k.arg == "avgdl" and computed(k.value) for k in node.keywords):
                yield "avgdl"
        elif isinstance(node, ast.BinOp):
            if named(node.left, "avgdl") or (
                named(node.right, "avgdl") and not isinstance(node.op, ast.Div)
            ):
                yield "avgdl"
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            flat = [e for t in targets for e in (t.elts if isinstance(t, ast.Tuple) else [t])]
            if any(named(t, "avgdl") for t in flat) and (
                isinstance(node, ast.AugAssign) or computed(node.value)
            ):
                yield "avgdl"
        elif isinstance(node, ast.Dict):
            if any(
                isinstance(k, ast.Constant) and k.value == "avgdl" and computed(v)
                for k, v in zip(node.keys, node.values)
            ):
                yield "avgdl"

    sites = []

    def visit(node, rel, funcs):
        for kind in kinds(node):
            if not any((rel, f) in ASSEMBLY[kind] for f in funcs):
                sites.append((rel, node.lineno, kind))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs = funcs + (node.name,)
        for child in ast.iter_child_nodes(node):
            visit(child, rel, funcs)

    for root, _, files in os.walk(pkg_dir):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    visit(ast.parse(f.read(), path), os.path.relpath(path, pkg_dir), ())
    return sorted(sites)


def test_one_index_assembly():
    assert index_assembly_sites() == []


def test_index_assembly_lint_is_live(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "plans").mkdir()
    (tmp_path / "streaming").mkdir()
    (tmp_path / BUILD_PY).write_text(
        "def with_doc_lens(meta, lens):\n"
        '    return meta.join(lens.alias("doc_len"), "doc_id")\n\n\n'
        "def doc_len_stats(docs, n, total):\n"
        "    avgdl = total / n\n"
        "    return n, avgdl\n\n\n"
        "def assemble_index(docs, tf):\n"
        "    n, avgdl = doc_len_stats(docs)\n"
        "    return InvertedIndex(docs, tf, avgdl=avgdl)\n\n\n"
        "def build_fields(docs):\n"
        '    return docs.withColumn("doc_len", docs.tf * 2)\n'
    )
    (tmp_path / "plans" / "checkpoint.py").write_text(
        "def load_index(stats):\n"
        '    return InvertedIndex(avgdl=stats["avgdl"])\n'
    )
    (tmp_path / "streaming" / "merge.py").write_text(
        "class State:\n"
        "    def load_index(self, docs, old, n):\n"
        '        row = docs.agg(F.avg("doc_len")).first()\n'
        "        total = round(old.n_docs * old.avgdl)\n"
        '        stats = {"avgdl": total / n, "n": n}\n'
        "        score = 1.2 * docs.dl / old.avgdl\n"
        "        n, avgdl = doc_len_stats(docs)\n"
        "        return InvertedIndex(docs, avgdl=float(row[0]))\n"
    )
    merge = os.path.join("streaming", "merge.py")
    assert index_assembly_sites(str(tmp_path)) == [
        (BUILD_PY, 16, "doc_len"),
        (merge, 3, "avgdl"),
        (merge, 4, "avgdl"),
        (merge, 5, "avgdl"),
        (merge, 8, "InvertedIndex"),
        (merge, 8, "avgdl"),
    ]
