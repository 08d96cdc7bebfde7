"""StageStore.read takes a parquet table's data schema from its footers:
the read must equal Spark's own schema inference (names, order, types,
partition columns) in every store state, submit no Spark job, and ignore
the files Spark's file index ignores. Appends keep one column order per
table, and the outlier cutoff stamped in the marker is the table's max."""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fastdup_spark import FastdupSpark
from fastdup_spark.fixtures.pages import generate_pages, pages_to_spark
from fastdup_spark.plans.pipeline import STAGES
from fastdup_spark.plans.store import StageStore


def _assert_read_matches_inference(spark, store, stages):
    for t in stages:
        got = store.read(spark, t, keep_shard=True).schema
        want = spark.read.format(store.fmt).load(store.table_path(t)).schema
        assert got == want, f"{t}: {got.simpleString()} != {want.simpleString()}"


def _cutoff_is_table_max(spark, store):
    want = store.read(spark, "outliers").agg(F.max("best_sim")).first()[0]
    assert store.read_marker("outliers")["counters"]["cutoff"] == want


@pytest.fixture(scope="module")
def rebuilt(spark, tmp_path_factory):
    """run() over 70% of a 400-page corpus, then update() with the rest:
    the batch spans every shard, so the finalize rebuilds."""
    pages, _, _ = pages_to_spark(spark, generate_pages(400, seed=23))
    cut = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.7) p").first()["p"]
    fd = FastdupSpark(spark, str(tmp_path_factory.mktemp("rebuilt")))
    fd.run(pages.filter(F.col("warc_ts").cast("double") <= cut))
    stats = fd.update(pages.filter(F.col("warc_ts").cast("double") > cut))
    assert stats["new_docs"] > 0 and stats["finalize"] == "rebuild"
    return fd


def test_read_schema_matches_inference_after_rebuild_update(spark, rebuilt):
    _assert_read_matches_inference(spark, rebuilt.store, STAGES)


def test_every_stage_file_has_one_column_order(rebuilt):
    """update() appends its batches in the table's column order: Spark
    reads the schema of the first file by path, so mixed orders would make
    a table's read column order depend on random part-file names."""
    store = rebuilt.store
    for t in STAGES:
        orders = {tuple(pq.read_schema(full).names)
                  for _rel, full in store._data_files(store.table_path(t))}
        assert len(orders) == 1, f"{t}: {orders}"


def test_outlier_cutoff_is_table_max(spark, fd, rebuilt):
    _cutoff_is_table_max(spark, fd.store)       # after run()
    _cutoff_is_table_max(spark, rebuilt.store)  # after a rebuild update()


def test_read_submits_no_job(spark, rebuilt):
    sc = spark.sparkContext
    sc.setJobGroup("store_read", "stage-table reads")
    try:
        frames = [rebuilt.store.read(spark, t) for t in STAGES]
        assert list(sc.statusTracker().getJobIdsForGroup("store_read")) == []
    finally:
        sc.setJobGroup(None, None)
    assert all(f.columns for f in frames)


def test_read_schema_matches_inference_for_flat_fallback(spark, tmp_path):
    """A zero-row partitioned write persists one FLAT schema file, where
    the partition columns are ordinary data columns."""
    store = StageStore(str(tmp_path))
    store.write_sharded(spark.createDataFrame([], "doc_id long, v double"),
                        "t", "h", 8)
    store.write(spark.createDataFrame([], "doc_id long, is_valid boolean"),
                "e", "h", partition_by=["is_valid"])
    _assert_read_matches_inference(spark, store, ["t", "e"])
    assert store._data_schema(store.table_path("t")) is not None


def test_orc_store_read_takes_inference(spark, tmp_path):
    store = StageStore(str(tmp_path), fmt="orc")
    df = spark.range(0, 40).select(F.col("id").alias("doc_id"),
                                   (F.col("id") % 2 == 0).alias("is_valid"),
                                   (F.col("id") * 0.5).alias("v"))
    store.write_sharded(df.drop("is_valid"), "t", "h", 4)
    store.write(df, "e", "h", partition_by=["is_valid"])
    assert store._data_schema(store.table_path("t")) is None
    _assert_read_matches_inference(spark, store, ["t", "e"])
    assert store.read(spark, "t").count() == 40


def test_stray_hidden_files_are_ignored(spark, tmp_path):
    """A `_temporary` dir left by an interrupted write (and a dot file)
    sorts before the part files; Spark's file index skips both, and so
    must the footer listing the read schema comes from."""
    store = StageStore(str(tmp_path))
    store.write(spark.range(0, 30).select(F.col("id").alias("doc_id"),
                                          F.lit("x").alias("s")), "t", "h")
    store.write(spark.range(0, 5).select(F.col("id").alias("other")), "o", "h")
    before = store.read(spark, "t")
    schema, rows = before.schema, sorted(before.collect())

    src = store._data_files(store.table_path("o"))[0][1]
    stray = os.path.join(store.table_path("t"), "_temporary", "0")
    os.makedirs(stray)
    shutil.copy(src, os.path.join(stray, "part-00000-stray.parquet"))
    shutil.copy(src, os.path.join(store.table_path("t"), ".stray.parquet"))

    after = store.read(spark, "t")
    assert after.schema == schema
    assert sorted(after.collect()) == rows
    assert store.footer_rows("t") == 30
