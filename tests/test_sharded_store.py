"""Shard-scoped incremental writes (round-3 verdict item #1): the derived
stage tables (knn / best_nn / assignments / component_info / outliers) are
hash-bucketed by pmod(id, store_shards) and a small batch rewrites ONLY the
shards containing touched ids — the parquet-native equivalent of Iceberg
`bucket(N, id)` partitioning + MERGE INTO. Correctness stays bit-identical
to a from-scratch run (test_incremental covers the big-batch case; here a
TINY batch proves the write scope)."""

import os

import pytest
from pyspark.sql import functions as F

from fastdup_spark import FastdupSpark, PipelineConfig
from fastdup_spark.config import resolve_store_shards
from fastdup_spark.fixtures.pages import generate_pages, pages_to_spark
from fastdup_spark.plans.store import SHARD_COL

SHARDED_STAGES = ["knn", "best_nn", "assignments", "component_info", "outliers"]


def _files_by_shard(store, stage) -> dict[str, frozenset]:
    """shard dir -> set of (filename, rows) — the store's per-partition
    lineage, grouped by shard."""
    out: dict[str, set] = {}
    for x in store._parquet_lineage(store.table_path(stage)):
        shard, _, fn = x["file"].partition(os.sep)
        out.setdefault(shard, set()).add((fn, x["rows"]))
    return {k: frozenset(v) for k, v in out.items()}


@pytest.fixture(scope="module")
def tiny_batch_run(spark, tmp_path_factory):
    """600-page base run + a 3-page second batch (near-dups of existing
    docs, so components merge and knn/best_nn actually change). The layout
    is pinned at 32 shards: scoped rewrites need more shards than touched
    docs, and a 600-page corpus auto-resolves to one shard per core."""
    base = tmp_path_factory.mktemp("shards")
    data = generate_pages(600, seed=11)
    pages, truth_pairs, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    fd = FastdupSpark(spark, str(base / "inc"), PipelineConfig(store_shards=32))
    fd.run(pages)

    before = {s: _files_by_shard(fd.store, s) for s in SHARDED_STAGES}
    # duplicate 3 SINGLETON pages (valid, in no planted cluster): each new
    # doc pairs with exactly its source, keeping the touched set tiny and
    # deterministic
    in_pairs = truth_pairs.select(F.col("src_url").alias("url")).unionByName(
        truth_pairs.select(F.col("dst_url").alias("url"))).distinct()
    tiny = (
        pages.filter(F.col("text").isNotNull())
        .join(in_pairs, "url", "left_anti")
        .orderBy("url").limit(3)
        .withColumn("url", F.concat(F.col("url"), F.lit("?replica=1")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 30 days"))
    )
    stats = fd.update(tiny)
    after = {s: _files_by_shard(fd.store, s) for s in SHARDED_STAGES}
    return fd, pages, tiny, stats, before, after


def test_tables_are_shard_partitioned(tiny_batch_run):
    fd = tiny_batch_run[0]
    for s in SHARDED_STAGES:
        params = fd.store.shard_params(s)
        assert params is not None, f"{s} missing shard params"
        assert params[1] == fd.n_shards
        lineage = fd.store._parquet_lineage(fd.store.table_path(s))
        assert all(x["file"].startswith(f"{SHARD_COL}=") for x in lineage), s


def test_tiny_batch_rewrites_few_shards(tiny_batch_run):
    """A 3-doc batch touches a handful of docs; the rewrite must be bounded
    by the touched-shard count, not the table size. (3 new docs + their
    dup partners -> <= 2*3 doc-shards plus the same again for component
    labels / outlier churn — far under the 32-shard layout.)"""
    fd, _pages, _tiny, stats, before, after = tiny_batch_run
    assert 0 < stats["touched_docs"] <= 20
    total = fd.n_shards
    for s in SHARDED_STAGES:
        keys = set(before[s]) | set(after[s])
        changed = {k for k in keys if before[s].get(k) != after[s].get(k)}
        assert len(changed) <= 2 * stats["touched_docs"], (
            f"{s}: {len(changed)} shards rewritten for "
            f"{stats['touched_docs']} touched docs")
        assert len(changed) < total / 2, \
            f"{s}: rewrite not scoped ({len(changed)}/{total} shards)"
        # and the untouched shards' FILES are bit-identical (not rewritten)
        untouched = set(before[s]) - changed
        assert untouched, f"{s}: every shard rewritten"
        for k in untouched:
            assert before[s][k] == after[s].get(k)


def test_tiny_batch_result_equals_full_run(spark, tiny_batch_run, tmp_path):
    fd, pages, tiny, stats, _b, _a = tiny_batch_run
    # 3 docs and their sources leave most of the 32 shards untouched
    assert stats["finalize"] == "scoped"
    fd_full = FastdupSpark(spark, str(tmp_path / "full"))
    fd_full.run(pages.unionByName(tiny))
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("component_info", ("component_id", "count")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        ta = {tuple(r[c] for c in cols)
              for r in fd.store.read(spark, stage).collect()}
        tb = {tuple(r[c] for c in cols)
              for r in fd_full.store.read(spark, stage).collect()}
        assert ta == tb, f"scoped {stage} diverged from full run"


def test_read_schema_matches_inference_after_scoped_update(spark,
                                                           tiny_batch_run):
    """StageStore.read passes Spark the footer schema: after overwrite_shards
    rewrote some shards and appends added files, it still equals what
    Spark's own inference yields, partition columns included."""
    from fastdup_spark.plans.pipeline import STAGES
    fd = tiny_batch_run[0]
    for t in STAGES:
        got = fd.store.read(spark, t, keep_shard=True).schema
        want = spark.read.format("parquet").load(fd.store.table_path(t)).schema
        assert got == want, t


def test_outlier_cutoff_after_scoped_update(spark, tiny_batch_run):
    fd = tiny_batch_run[0]
    want = fd.store.read(spark, "outliers").agg(F.max("best_sim")).first()[0]
    assert fd.store.read_marker("outliers")["counters"]["cutoff"] == want


def test_resolve_store_shards():
    """~25k docs per shard, pow2, floored at one shard per core (the floor
    itself capped at 32) and capped at 65536."""
    assert [resolve_store_shards(1500, p) for p in (4, 8, 64)] == [4, 8, 32]
    assert resolve_store_shards(1500, 3) == 4  # floor is pow2 too
    assert resolve_store_shards(1_000_000, 4) == 64
    assert resolve_store_shards(800_000, 64) == 32
    assert resolve_store_shards(10 ** 12, 4) == 65536
    for n in (0, -5):
        assert [resolve_store_shards(n, p) for p in (4, 8, 64)] == [4, 8, 32]


def test_resolve_store_shards_defaults_to_session_parallelism(spark, fd):
    """One-argument calls read P from the running context, and a fresh
    small store persists the one-shard-per-core layout."""
    p = spark.sparkContext.defaultParallelism
    assert resolve_store_shards(1500) == resolve_store_shards(1500, p)
    layout = fd.store.read_json("store_layout")
    assert layout["n_shards"] == fd.n_shards == \
        resolve_store_shards(fd.docs().count(), p)
    assert fd.store.shard_params("knn") == ("doc_id", fd.n_shards)


def test_persisted_layout_survives_run_and_update(spark, tmp_path, caplog):
    """A work dir whose store_layout.json says 32 shards (what a fixed
    floor of 32 persisted for any small store) keeps 32 through run() and
    update() with the default config, and the update stays on the scoped
    path."""
    data = generate_pages(300, seed=29)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    cutoff = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.8) p").first()["p"]
    old = pages.filter(F.col("warc_ts").cast("double") <= cutoff)
    new = pages.filter(F.col("warc_ts").cast("double") > cutoff)

    work = str(tmp_path / "legacy")
    fd = FastdupSpark(spark, work)
    fd.store.write_json({"n_shards": 32, "sharded_by": "doc_id"},
                        "store_layout")
    fd.run(old)
    assert fd.n_shards == 32
    assert resolve_store_shards(300) < 32  # auto would have picked fewer

    fd2 = FastdupSpark(spark, work)  # a later session on the same dir
    fd2.run(old)
    assert fd2.n_shards == 32
    with caplog.at_level("INFO", logger="fastdup_spark"):
        stats = fd2.update(new)
    assert stats["new_docs"] > 0 and stats["path"] == "clean"
    assert 0 < stats["touched_docs"] < fd2.docs().count()  # scoped, not full
    assert "full-rebuild" not in caplog.text
    assert fd2.store.read_json("store_layout")["n_shards"] == 32
    for s in ("extracted", "signatures", *SHARDED_STAGES):
        assert fd2.store.shard_params(s)[1] == 32, s


def test_read_strips_shard_column(tiny_batch_run, spark):
    fd = tiny_batch_run[0]
    for s in SHARDED_STAGES:
        df = fd.store.read(spark, s)
        assert SHARD_COL not in df.columns, s
        kept = fd.store.read(spark, s, keep_shard=True)
        assert SHARD_COL in kept.columns
        assert dict(kept.dtypes)[SHARD_COL] == "int"


def test_overwrite_shards_rejects_out_of_scope_rows(spark, tmp_path):
    from fastdup_spark.plans.store import StageStore

    store = StageStore(str(tmp_path / "st"))
    df = spark.range(100).select(F.col("id").alias("doc_id"),
                                 F.lit(1.0).alias("v"))
    store.write_sharded(df, "t", "h", 8)
    bad = spark.range(100).select(F.col("id").alias("doc_id"),
                                  F.lit(2.0).alias("v"))
    with pytest.raises(ValueError, match="outside the declared scope"):
        store.overwrite_shards(bad, "t", "h", shard_ids=[0, 1])


def test_overwrite_shards_deletes_emptied_shards(spark, tmp_path):
    from fastdup_spark.plans.store import StageStore

    store = StageStore(str(tmp_path / "st2"))
    df = spark.range(16).select(F.col("id").alias("doc_id"),
                                F.lit(1.0).alias("v"))
    store.write_sharded(df, "t", "h", 8)  # ids 0..15 -> every shard has 2 rows
    # rewrite shards {0,1} with rows only for shard 1 -> shard 0 is deleted
    repl = spark.createDataFrame([(1, 9.0), (9, 9.0)], "doc_id long, v double")
    store.overwrite_shards(repl, "t", "h", shard_ids=[0, 1])
    got = {(r["doc_id"], r["v"]) for r in store.read(spark, "t").collect()}
    expect = {(i, 1.0) for i in range(16) if i % 8 not in (0, 1)} | {(1, 9.0), (9, 9.0)}
    assert got == expect
    assert store.read_marker("t")["rows"] == len(expect)


def test_overwrite_shards_replaces_flat_fallback_layout(spark, tmp_path):
    """A zero-row sharded write falls back to a flat schema file; a later
    overwrite_shards must replace that layout wholesale instead of writing
    hive dirs next to it (mixed layouts are unreadable)."""
    from fastdup_spark.plans.store import StageStore

    store = StageStore(str(tmp_path / "st3"))
    empty = spark.createDataFrame([], "doc_id long, v double")
    store.write_sharded(empty, "t", "h", 8)
    assert store.read(spark, "t").count() == 0  # readable via fallback file
    rows = spark.createDataFrame([(1, 1.0), (9, 2.0)], "doc_id long, v double")
    store.overwrite_shards(rows, "t", "h", shard_ids=[1])
    got = {(r["doc_id"], r["v"]) for r in store.read(spark, "t").collect()}
    assert got == {(1, 1.0), (9, 2.0)}
    assert store.read_marker("t")["rows"] == 2


def test_orc_store_format_end_to_end(spark, tmp_path, monkeypatch):
    """Round-4 verdict #6: StageStore(fmt=...) is claimed format-agnostic —
    prove it with the in-box second format. Full run + incremental update
    on ORC must produce the same tables as the parquet store, with markers/
    lineage still footer-derived (pyarrow ORC) and the scoped path engaged.
    The batch touches every shard, so the finalize gate is held open to keep
    overwrite_shards on ORC covered."""
    import fastdup_spark.streaming.incremental as inc
    monkeypatch.setattr(inc, "_scoped_can_skip", lambda shards, n: True)
    data = generate_pages(300, seed=19)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    cutoff = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.7) p").first()["p"]
    old = pages.filter(F.col("warc_ts").cast("double") <= cutoff)
    new = pages.filter(F.col("warc_ts").cast("double") > cutoff)

    fd_orc = FastdupSpark(spark, str(tmp_path / "orc"), store_format="orc")
    fd_orc.run(old)
    # lineage really came from ORC footers, not an empty parquet walk
    m = fd_orc.store.read_marker("extracted")
    assert m["rows"] == fd_orc.docs().count() + \
        fd_orc.store.read(spark, "extracted").filter("NOT is_valid").count()
    assert m["files"] and all(f["file"].endswith(".orc") for f in m["files"])

    stats = fd_orc.update(new)
    assert stats["new_docs"] > 0
    assert 0 < stats["touched_docs"] < fd_orc.docs().count()  # scoped path
    assert stats["finalize"] == "scoped"

    fd_pq = FastdupSpark(spark, str(tmp_path / "pq"))
    fd_pq.run(pages)
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("similarity", ("src", "dst")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        a = {tuple(r[c] for c in cols)
             for r in fd_orc.store.read(spark, stage).collect()}
        b = {tuple(r[c] for c in cols)
             for r in fd_pq.store.read(spark, stage).collect()}
        assert a == b, f"ORC-store {stage} diverged from parquet store"


def test_overwrite_shards_is_one_spark_job(spark, tmp_path):
    """Round-6 regression pin: the scoped rewrite is ONE write (one data
    materialization; under AQE the repartition exchange surfaces as its
    own job, so <= 2 job ids total). Present shards and the scope check
    come from footers, the swap is driver-side renames. The old shape was
    a checkpoint pin + a distinct-collect + the overwrite write — >= 4
    job ids under AQE, the data materialized twice."""
    from fastdup_spark.plans.store import StageStore

    store = StageStore(str(tmp_path))
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"),
                                     (F.col("id") * 2).alias("v"))
    store.write_sharded(df, "tbl", "h1", 8)

    upd = store.read(spark, "tbl", keep_shard=True) \
        .filter(F.col(SHARD_COL) == 3).drop(SHARD_COL) \
        .withColumn("v", F.col("v") + 1)
    sc = spark.sparkContext
    group = "ow_shards_job_count"
    sc.setJobGroup(group, group)
    try:
        store.overwrite_shards(upd, "tbl", "h1", [3])
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 2, f"expected <= 2 jobs (write + AQE exchange), saw {len(jobs)}"

    got = store.read(spark, "tbl").filter(F.col("doc_id") % 8 == 3) \
        .select("doc_id", "v").collect()
    assert all(r.v == r.doc_id * 2 + 1 for r in got) and len(got) == 125
    assert not os.path.exists(store.table_path("tbl") + ".tmp_overwrite")
