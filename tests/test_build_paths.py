"""The build and vacuum publish one artifact set through one block
kernel. Vacuum re-reads the surviving postings from the postings
artifact (the index keeps no forward table), so a vacuumed index must
be row-identical to a fresh build over the surviving + inserted rows,
and a build resumed after a crash must be row-identical to an
uninterrupted one.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from bm25spark.build import build_index
from bm25spark.config import Bm25Config

ARTIFACTS = ["docs", "postings", "terms", "lineage", "lineage_buckets"]
PUBLISHED = {*ARTIFACTS, "meta.json"}
CFG = Bm25Config(shard_size=128)  # several shards even at sf0.001


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _assert_same_rows(spark, dir_a, meta_a, dir_b, meta_b):
    for art in ARTIFACTS:
        a = spark.read.parquet(os.path.join(dir_a, meta_a["paths"][art]))
        b = spark.read.parquet(os.path.join(dir_b, meta_b["paths"][art]))
        assert sorted(a.columns) == sorted(b.columns), art
        a = a.select(*b.columns)
        assert a.schema == b.schema, art
        assert a.count() == b.count(), art
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, art


@pytest.fixture(scope="module")
def vacuumed(spark, tmp_path_factory):
    """An index built over sf0.001, with sealed docs deleted in four
    shards (one of them entirely) and rows inserted whose keys sort
    after the sealed keys, then vacuumed; plus a fresh build over the
    surviving + inserted rows."""
    from pyspark.sql import functions as F

    from bm25spark.maintain import delete, insert, vacuum

    root = tmp_path_factory.mktemp("vacuum_identity")
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    ids = [r[0] for r in src.orderBy("doc_id").select("doc_id").collect()]
    # a few docs in shards 0, 1 and 3, and all of shard 2
    gone = [ids[3], ids[4], ids[130], ids[200], *ids[256:384], ids[400]]
    top = ids[-1]
    added = src.orderBy("doc_id").limit(40).select(
        (F.col("doc_id") + F.lit(top + 1)).alias("doc_id"), "text"
    )

    vac_dir = str(root / "vacuumed")
    build_index(spark, src, vac_dir, "text", ["doc_id"], cfg=CFG)
    built_listing = set(os.listdir(vac_dir))
    built_meta = _meta(vac_dir)
    insert(spark, vac_dir, added, "text")
    delete(spark, vac_dir, spark.createDataFrame([(i,) for i in gone], "doc_id BIGINT"))
    vacuum(spark, vac_dir, "text")

    fresh_dir = str(root / "fresh")
    survivors = src.filter(~F.col("doc_id").isin(gone)).unionByName(added)
    build_index(spark, survivors, fresh_dir, "text", ["doc_id"], cfg=CFG)
    return {
        "vac_dir": vac_dir,
        "fresh_dir": fresh_dir,
        "built_listing": built_listing,
        "built_meta": built_meta,
        "shards_hit": {ids.index(g) // CFG.shard_size for g in gone},
    }


def test_vacuum_matches_fresh_build(spark, vacuumed):
    assert len(vacuumed["shards_hit"]) > 1
    vac_meta = _meta(vacuumed["vac_dir"])
    fresh_meta = _meta(vacuumed["fresh_dir"])
    for k in ("n_docs", "sum_dl", "avgdl", "n_terms"):
        assert vac_meta[k] == fresh_meta[k], k
    _assert_same_rows(
        spark, vacuumed["vac_dir"], vac_meta, vacuumed["fresh_dir"], fresh_meta
    )


def test_published_artifact_set(vacuumed):
    assert vacuumed["built_listing"] == PUBLISHED
    assert set(vacuumed["built_meta"]["paths"]) == set(ARTIFACTS)
    vac_meta = _meta(vacuumed["vac_dir"])
    assert set(vac_meta["paths"]) == set(ARTIFACTS)
    gen_dirs = {p.split("/")[0] for p in vac_meta["paths"].values()}
    assert gen_dirs == {f"gen{vac_meta['generation']}"}
    gen_dir = os.path.join(vacuumed["vac_dir"], gen_dirs.pop())
    assert set(os.listdir(gen_dir)) == PUBLISHED


def test_resume_after_crash_with_only_docs(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    whole = str(tmp_path / "whole")
    build_index(spark, src, whole, "text", ["doc_id"], cfg=CFG)

    crashed = str(tmp_path / "crashed")
    shutil.copytree(whole, crashed)
    for name in os.listdir(crashed):
        if name != "docs":
            p = os.path.join(crashed, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    build_index(spark, src, crashed, "text", ["doc_id"], cfg=CFG, resume=True)

    assert set(os.listdir(crashed)) == PUBLISHED
    assert _meta(crashed) == _meta(whole)
    _assert_same_rows(spark, crashed, _meta(crashed), whole, _meta(whole))


def test_empty_and_all_null_corpus_lifecycle(spark, tmp_path):
    """CREATE INDEX on an empty table works in the reference and must
    work here: an empty (or all-NULL-text) corpus builds a loadable
    index whose searches return nothing, accepts inserts whose terms
    only become searchable after vacuum (empty sealed dictionary =
    nothing surfaces from the growing segment, search.rs:55-62), and
    vacuums into a working one-doc index."""
    from bm25spark.index import Bm25Index
    from bm25spark.maintain import insert, search_with_delta, vacuum

    cases = {
        "empty": [],
        "null": [(1, None), (2, None)],
    }
    for name, rows in cases.items():
        d = str(tmp_path / f"idx_{name}")
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=128))
        idx = Bm25Index(spark, d)
        assert idx.n_docs == 0
        assert idx.search("anything", 5) == []
        assert idx.search_df("anything", 5).collect() == []
        insert(
            spark,
            d,
            spark.createDataFrame([(10, "hello world")], "doc_id INT, text STRING"),
            "text",
        )
        # sealed dictionary is empty -> delta doc invisible until vacuum
        assert search_with_delta(spark, d, "hello", 5, "text") == []
        vacuum(spark, d, "text")
        idx = Bm25Index(spark, d)
        assert idx.n_docs == 1
        assert [doc for doc, _ in idx.search("hello", 5)] == [0]
