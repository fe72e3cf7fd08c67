"""plans/store.py: the one way an index table or metadata file is
committed and read. Metadata writes are atomic, a table reads with its
recorded schema (equal to what an inferring read reports, for every
persisted index kind), a table without its sidecar does not read, and
opening or probing a persisted index runs no Spark job."""

import os

import pytest

from local_search_engine_spark.operators import positional as P
from local_search_engine_spark.operators import similarity as SIM
from local_search_engine_spark.operators.trigram import build_trigram_index
from local_search_engine_spark.plans.store import (
    committed,
    read_json,
    read_table,
    rows,
    swap_dir,
    write_json,
    write_table,
)

from .test_query_plans import _jobs_during

SF0001 = "/root/testdata/sf0.001"


def test_write_json_whose_serializer_raises_keeps_the_old_file(tmp_path):
    path = str(tmp_path / "_meta.json")
    write_json(path, {"max_doc_id": 7})
    with pytest.raises(TypeError):
        write_json(path, {"max_doc_id": object()})
    assert read_json(path) == {"max_doc_id": 7}
    assert os.listdir(tmp_path) == ["_meta.json"]  # no temporary file left
    missing = str(tmp_path / "missing.json")
    assert read_json(missing, []) == []
    with pytest.raises(FileNotFoundError):
        read_json(missing)


def test_footer_rows_parts_and_appends(spark, tmp_path):
    df = spark.range(40).selectExpr("id", "array(id) AS a", "CAST(id % 5 AS INT) AS b")
    root = str(tmp_path / "t")
    n = write_table(df, root, partition_by=("b",))
    assert committed(root)
    table = read_table(spark, root)
    assert n == rows(root) == table.count() == df.count() == 40
    assert table.schema == spark.read.parquet(root).schema

    probed, jobs = _jobs_during(
        spark, lambda: read_table(spark, root, parts=[("b", 1), ("b", 3), ("b", 9)])
    )
    assert jobs == 0
    assert sorted(r["id"] for r in probed.collect()) == [i for i in range(40) if i % 5 in (1, 3)]
    none, jobs = _jobs_during(spark, lambda: read_table(spark, root, parts=[("b", 9)]).collect())
    assert none == [] and jobs == 0

    with pytest.raises(ValueError, match="rewrite the whole table"):
        write_table(df.withColumn("id", df["id"].cast("int")), root, partition_by=("b",), mode="append")
    assert write_table(df, root, partition_by=("b",), mode="append") == 80


def test_read_of_a_table_without_its_sidecar_names_the_rebuild(spark, tmp_path):
    root = str(tmp_path / "t")
    spark.range(3).write.parquet(root)
    assert not committed(root)
    with pytest.raises(ValueError, match="rebuild"):
        read_table(spark, root)


def test_swap_dir_leaves_live_readable(spark, tmp_path):
    live, stage = str(tmp_path / "live"), str(tmp_path / "live.stage")
    write_table(spark.range(3), live)
    write_table(spark.range(5, 7), stage)
    swap_dir(stage, live)
    assert sorted(r["id"] for r in read_table(spark, live).collect()) == [5, 6]
    assert os.listdir(tmp_path) == ["live"]


def test_index_kinds_read_their_recorded_schema_without_jobs(spark, tmp_path):
    """Positional, SRP, IVF and trigram tables read back with the schema
    an inferring read reports (the BM25 tables: test_resume; the
    PersistedIndexState deltas: test_streaming), and opening or probing
    any of them runs no job. Over more than 32 directories Spark's
    default parallelPartitionDiscovery.threshold lists paths with a job;
    get_spark sets it to 4096, so these also open on the driver alone:
    positional postings at the default 64 buckets (the read
    make_phrase_topk binds), the SRP `vectors/` table whole at bits 8, a
    37-part SRP probe (probe_hamming=2) and a trigram index at 64
    buckets."""
    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").select("doc_id", "text")
    # a vocabulary wide enough to fill all 64 positional term buckets
    wide = spark.range(200).selectExpr("id AS doc_id", "concat_ws(' ', 'w' || id, 'v' || (id * 7)) AS text")
    srp, ivf, pos, tri = (str(tmp_path / d) for d in ("srp", "ivf", "pos", "tri"))
    SIM.persist_srp_index(emb, 64, srp, bits=8)
    SIM.persist_ivf_index(emb, SIM.ivf_train_centroids(emb, 8, 64, iters=1), ivf)
    P.persist_positional_postings(P.build_positional_postings(wide), pos)
    build_trigram_index(docs, tri, text_col="text")
    vec = os.path.join(srp, "vectors")
    for root in (vec, os.path.join(ivf, "vectors"), pos, tri):
        assert read_table(spark, root).schema == spark.read.parquet(root).schema, root

    def dirs(root):
        return {int(d.split("=")[1]) for d in os.listdir(root) if "=" in d}

    # the query vector whose 37 probed buckets are (nearly) all on disk
    q = [float(x) for x in emb.filter("vec_id = 21").first()["embedding"]]
    probed = SIM.probe_buckets(SIM.query_bucket(q, 64, 8), 8, 2)
    assert len(probed) == 37 and len(dirs(vec) & set(probed)) > 32
    assert len(dirs(pos)) == 64 and len(dirs(tri)) == 64 and len(dirs(vec)) > 32

    opens = {
        "positional": lambda: P.make_phrase_topk(P.load_positional_postings(spark, pos), n_buckets=64),
        "srp whole": lambda: read_table(spark, vec),
        "srp 37 parts": lambda: SIM.srp_lsh_topk_persisted(spark, srp, q, 5, probe_hamming=2),
        "ivf": lambda: SIM.ivf_topk_persisted(spark, ivf, q, 5, nprobe=2),
        "trigram": lambda: read_table(spark, tri),
    }
    assert {name: _jobs_during(spark, fn)[1] for name, fn in opens.items()} == dict.fromkeys(opens, 0)
