"""Round-4 ADVICE hardening of the incremental crash model.

1. GHOST docs (medium): a crashed batch that is NEVER redelivered leaves
   docs in signatures/pairs_scored but not extracted. A later, different
   batch must quarantine those ghosts — no NULL component counts, no ghost
   assignment rows, derived tables equal to a fresh run over the committed
   corpus — and a still-later redelivery must apply the deferred pairs so
   the final state matches a fresh run over everything.
2. Empty-but-marked derived tables (low): a corpus with zero similarity
   edges writes knn/outliers as flat zero-row fallback files; a later batch
   still reports only its neighbourhood as touched (not the corpus) and
   rebuilds those tables out of the fallback layout.
3. Scoped pair reads (round-4 verdict #1): the candidate/similarity/
   containment anti-joins must carry batch-scoped (left-semi) inputs on
   BOTH sides — asserted on the optimized plans.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from fastdup_spark import FastdupSpark
from fastdup_spark.fixtures.pages import (generate_pages, pages_schema,
                                          pages_to_spark)
from fastdup_spark.streaming.incremental import incremental_update


@pytest.fixture(scope="module")
def three_way_corpus(spark):
    data = generate_pages(600, seed=11)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    t1, t2 = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.5) p1",
        "percentile(cast(warc_ts as double), 0.75) p2").first()
    old = pages.filter(F.col("warc_ts").cast("double") <= t1).cache()
    new1 = pages.filter((F.col("warc_ts").cast("double") > t1)
                        & (F.col("warc_ts").cast("double") <= t2)).cache()
    new2 = pages.filter(F.col("warc_ts").cast("double") > t2).cache()
    return pages, old, new1, new2


def _table_set(fd, spark, stage, cols):
    return {tuple(r[c] for c in cols)
            for r in fd.store.read(spark, stage).collect()}


def test_ghost_batch_not_redelivered_defers_cleanly(
        spark, three_way_corpus, tmp_path):
    import fastdup_spark.functions.lcs as lcs_mod

    pages, old, new1, new2 = three_way_corpus
    fd = FastdupSpark(spark, str(tmp_path / "ghost"))
    fd.run(old)

    # crash new1 AFTER its pairs_scored/similarity appends, BEFORE the
    # extracted append -> new1's docs become ghosts if never redelivered
    real_lcs = lcs_mod.lcs_confirm
    def boom(*a, **k):
        raise RuntimeError("simulated crash before extracted append")
    lcs_mod.lcs_confirm = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(new1)
    finally:
        lcs_mod.lcs_confirm = real_lcs

    stats = fd.update(new2)  # different batch; new1 is NOT redelivered
    assert stats["new_docs"] > 0
    assert stats["path"] == "replay"  # ghosts present -> scoped repair path
    # a ghost does not turn the update into a heal: touched is the batch's
    # neighbourhood, not the corpus
    assert 0 < stats["touched_docs"] < fd.docs().count()

    ghost_ids = {r["doc_id"] for r in
                 fd.store.read(spark, "signatures").select("doc_id")
                 .join(fd.store.read(spark, "extracted").select("doc_id"),
                       "doc_id", "left_anti").collect()}
    assert ghost_ids, "fixture must actually produce ghosts"

    # no NULL counts, no ghost-minted component labels (round-4 ADVICE)
    info = fd.store.read(spark, "component_info").collect()
    assert all(r["count"] is not None and r["count"] >= 1 for r in info)
    assert not ghost_ids & {r["component_id"] for r in info}
    for stage, col in (("assignments", "doc_id"), ("assignments",
                       "component_id"), ("knn", "doc_id"),
                       ("best_nn", "doc_id"), ("outliers", "doc_id")):
        ids = {r[col] for r in
               fd.store.read(spark, stage).select(col).collect()}
        assert not ghost_ids & ids, f"ghost ids leaked into {stage}.{col}"

    # derived tables == fresh run over the COMMITTED corpus (old + new2)
    fd_c = FastdupSpark(spark, str(tmp_path / "ghost_committed"))
    fd_c.run(old.unionByName(new2))
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("component_info", ("component_id", "count")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        assert _table_set(fd, spark, stage, cols) == \
            _table_set(fd_c, spark, stage, cols), \
            f"{stage} diverged from fresh committed-corpus run"

    # the ghost batch finally arrives: deferred pairs apply, full parity
    fd.update(new1)
    fd_all = FastdupSpark(spark, str(tmp_path / "ghost_full"))
    fd_all.run(pages)
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("component_info", ("component_id", "count")),
                        ("similarity", ("src", "dst")),
                        ("containment", ("src", "dst")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        assert _table_set(fd, spark, stage, cols) == \
            _table_set(fd_all, spark, stage, cols), \
            f"{stage} diverged after the deferred batch committed"


def _unique_pages(spark, n, start=0):
    """Docs with pairwise-disjoint shingle sets -> zero candidate pairs."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(start, start + n):
        text = " ".join(f"tok{i}x{j}" for j in range(60))
        rows.append((f"https://u{i}.example.com/",
                     base + datetime.timedelta(minutes=i),
                     f"<html><p>{text}</p></html>".encode(),
                     text, "en"))
    return spark.createDataFrame(rows, pages_schema())


def test_empty_derived_tables_keep_scoped_path(spark, tmp_path):
    fd = FastdupSpark(spark, str(tmp_path / "empty"))
    fd.run(_unique_pages(spark, 12))
    # zero edges: knn + similarity empty; floor(0.05*12)=0 -> outliers empty
    assert fd.store.read(spark, "knn").count() == 0
    assert fd.store.read(spark, "outliers").count() == 0

    stats = fd.update(_unique_pages(spark, 12, start=100))
    # ADVICE (low): empty-but-marked tables do not turn the update into a
    # heal
    assert stats["path"] == "clean"
    assert stats["touched_docs"] == 12, \
        "empty derived table made the update report the corpus as touched"

    fd_full = FastdupSpark(spark, str(tmp_path / "empty_full"))
    fd_full.run(_unique_pages(spark, 12).unionByName(
        _unique_pages(spark, 12, start=100)))
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("component_info", ("component_id", "count")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        assert _table_set(fd, spark, stage, cols) == \
            _table_set(fd_full, spark, stage, cols), stage
    # outliers transitioned empty -> 1 row (floor(0.05*24)=1)
    assert fd.store.read(spark, "outliers").count() == 1


def test_scoped_antijoin_plans(spark, tmp_path):
    """Round-4 verdict #1 'done' criterion, tightened round 5: on a CLEAN
    history the idempotency anti-joins are skipped outright (footer-count
    tripwire — no pair-table or similarity reads at all), and on a crash
    replay they run over batch-scoped (left-semi, broadcast) inputs — never
    a bare full-table shuffle."""
    import fastdup_spark.functions.lcs as lcs_mod

    data = generate_pages(200, seed=7)
    pages, _, _ = pages_to_spark(spark, data)
    cutoff = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.6) p").first()["p"]
    fd = FastdupSpark(spark, str(tmp_path / "plans"))
    fd.run(pages.filter(F.col("warc_ts").cast("double") <= cutoff))
    batch = pages.filter(F.col("warc_ts").cast("double") > cutoff)

    # clean batch: fast path — membership via broadcast, zero anti-joins
    dbg = {}
    incremental_update(fd, batch, _debug=dbg)
    assert dbg["clean_history"] is True
    assert dbg["membership"] == "broadcast"
    assert "strategy=broadcast" in dbg["membership_plan"]
    assert "LeftAnti" not in dbg["cand_plan"]
    # sim/lcs increments derive from the pinned batch increment only — no
    # table scan in the plan at all
    for key in ("sim_new_plan", "lcs_sub_plan"):
        assert "parquet" not in dbg[key], f"{key} reads a table:\n{dbg[key]}"
        assert "Join" not in dbg[key], f"{key} grew a join:\n{dbg[key]}"

    # crash replay: scoped anti-joins with broadcast semi inputs
    more = pages.filter(F.col("warc_ts").cast("double") <= cutoff) \
        .withColumn("url", F.concat(F.col("url"), F.lit("?v=2")))
    real_lcs = lcs_mod.lcs_confirm
    def boom(*a, **k):
        raise RuntimeError("crash before extracted append")
    lcs_mod.lcs_confirm = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(more)
    finally:
        lcs_mod.lcs_confirm = real_lcs

    dbg2 = {}
    incremental_update(fd, more, _debug=dbg2)  # replay
    assert dbg2["clean_history"] is False
    for key in ("cand_plan", "sim_new_plan", "lcs_sub_plan"):
        plan = dbg2[key]
        assert "LeftAnti" in plan, key
        # the scoping: at least the two left-semi passes of _touching on
        # the anti-join's persisted-table side
        assert plan.count("LeftSemi") >= 2, \
            f"{key} lost the batch-size scoping:\n{plan}"


def test_bulk_backfill_membership_fallback(spark, tmp_path, monkeypatch):
    """Batches above _BROADCAST_BATCH_MAX must fall back to the shuffled
    membership anti-join and still produce the identical result."""
    import fastdup_spark.streaming.incremental as inc

    fd = FastdupSpark(spark, str(tmp_path / "bulk"))
    fd.run(_unique_pages(spark, 12))
    monkeypatch.setattr(inc, "_BROADCAST_BATCH_MAX", 1)
    dbg = {}
    stats = incremental_update(fd, _unique_pages(spark, 12, start=100),
                               _debug=dbg)
    assert dbg["membership"] == "shuffle"
    assert stats["new_docs"] == 12 and stats["path"] == "clean"
    # redelivery still drops out through the fallback join
    monkeypatch.setattr(inc, "_BROADCAST_BATCH_MAX", 1)
    stats2 = fd.update(_unique_pages(spark, 12, start=100))
    assert stats2["new_docs"] == 0 and stats2["path"] == "noop"


def test_membership_scan_is_shard_pruned(spark, tmp_path):
    """Round-5 verdict #2 'done' criterion: the base tables (extracted /
    signatures) are laid out by bucket(N, doc_id), so the per-batch
    membership read PRUNES AT THE FILE INDEX — the executed scan
    must carry a _shard IN (...) PartitionFilter covering only the batch's
    shards, not a full id-column scan."""
    import re

    from fastdup_spark.config import PipelineConfig
    from fastdup_spark.plans.store import SHARD_COL

    data = generate_pages(300, seed=23)
    pages, _, _ = pages_to_spark(spark, data)
    cutoff = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.9) p").first()["p"]
    fd = FastdupSpark(spark, str(tmp_path / "prune"),
                      config=PipelineConfig(store_shards=64))
    fd.run(pages.filter(F.col("warc_ts").cast("double") <= cutoff))
    batch = pages.filter(F.col("warc_ts").cast("double") > cutoff)
    n_batch = batch.count()
    assert 0 < n_batch < 40  # small enough that pruning MUST engage

    # base tables really carry the bucket layout
    for stage in ("extracted", "signatures"):
        params = fd.store.shard_params(stage)
        assert params == ("doc_id", 64), stage
        lineage = fd.store._parquet_lineage(fd.store.table_path(stage))
        assert all(f"{SHARD_COL}=" in x["file"] for x in lineage), stage

    # >10 IN-values convert to INSET and the rendered list truncates at
    # maxToStringFields — pin both confs so the plan text carries the FULL
    # IN-list and the count assertions below see every element
    old_inset = spark.conf.get("spark.sql.optimizer.inSetConversionThreshold")
    old_fields = spark.conf.get("spark.sql.debug.maxToStringFields")
    spark.conf.set("spark.sql.optimizer.inSetConversionThreshold", "4096")
    spark.conf.set("spark.sql.debug.maxToStringFields", "4096")
    try:
        dbg = {}
        st = incremental_update(fd, batch, _debug=dbg)
    finally:
        spark.conf.set("spark.sql.optimizer.inSetConversionThreshold",
                       old_inset)
        spark.conf.set("spark.sql.debug.maxToStringFields", old_fields)
    assert st["path"] == "clean" and st["new_docs"] > 0
    plan = dbg["membership_src_plan"]
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters in membership scan:\n{plan}"
    pf = m.group(1)
    assert SHARD_COL in pf and (" IN " in pf or " INSET " in pf), \
        f"membership scan not shard-pruned:\n{pf}"
    assert "..." not in pf, f"IN-list rendering truncated:\n{pf}"
    # the IN-list (plus a possible isnotnull guard) must stay batch-bounded
    n_shards_read = pf.count(",") + 1
    assert n_shards_read <= n_batch + 4 and n_shards_read < 64, \
        f"membership read {n_shards_read} shards for a {n_batch}-doc batch"

    # the score-phase signatures fetch (the widest columns in the store:
    # minhash + shingles) prunes to the candidate endpoints' shards the
    # same way — never a full-table scan per batch (round 6)
    splan = dbg["score_sigs_plan"]
    ms = re.search(r"PartitionFilters: \[([^\]]*)\]", splan)
    assert ms, f"no PartitionFilters in score signatures scan:\n{splan}"
    spf = ms.group(1)
    assert SHARD_COL in spf and (" IN " in spf or " INSET " in spf), \
        f"score signatures scan not shard-pruned:\n{spf}"

    # and the appended batch keeps the bucket layout on disk
    for stage in ("extracted", "signatures"):
        lineage = fd.store._parquet_lineage(fd.store.table_path(stage))
        assert all(f"{SHARD_COL}=" in x["file"] for x in lineage), stage
