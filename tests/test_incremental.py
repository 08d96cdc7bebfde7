"""Incremental batch ingest (streaming analog): new pages merge into an
existing run; duplicates across the old/new boundary are found; replays are
idempotent; final state equals a from-scratch run over the union."""

import pytest
from pyspark.sql import functions as F

from fastdup_spark import FastdupSpark
from fastdup_spark.fixtures.pages import generate_pages, pages_to_spark
from fastdup_spark.streaming.incremental import high_water_mark


@pytest.fixture(scope="module")
def split_corpus(spark):
    data = generate_pages(600, seed=11)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    cutoff = pages.selectExpr("percentile(cast(warc_ts as double), 0.7) p").first()["p"]
    old = pages.filter(F.col("warc_ts").cast("double") <= cutoff)
    new = pages.filter(F.col("warc_ts").cast("double") > cutoff)
    return pages, old.cache(), new.cache()


def test_incremental_matches_full_run(spark, split_corpus, tmp_path):
    pages, old, new = split_corpus
    # run A: old batch then incremental update with new batch
    fd_inc = FastdupSpark(spark, str(tmp_path / "inc"))
    fd_inc.run(old)
    stats = fd_inc.update(new)
    assert stats["new_docs"] > 0
    # run B: everything at once
    fd_full = FastdupSpark(spark, str(tmp_path / "full"))
    fd_full.run(pages)

    a = {(r["doc_id"], r["component_id"]) for r in
         fd_inc.store.read(spark, "assignments").collect()}
    b = {(r["doc_id"], r["component_id"]) for r in
         fd_full.store.read(spark, "assignments").collect()}
    assert a == b, "incremental result must equal the from-scratch run"

    sa = {(r["src"], r["dst"]) for r in fd_inc.store.read(spark, "similarity").collect()}
    sb = {(r["src"], r["dst"]) for r in fd_full.store.read(spark, "similarity").collect()}
    assert sa == sb

    # round-2 verdict item #7: the touched set is the batch's neighborhood
    # (batch endpoints + new docs), not the whole corpus...
    assert 0 < stats["touched_docs"] < fd_inc.docs().count()
    # ...and the update is EXACT: knn / best_nn / outliers all equal the
    # from-scratch run's tables
    for stage, cols in (("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        ta = {tuple(r[c] for c in cols)
              for r in fd_inc.store.read(spark, stage).collect()}
        tb = {tuple(r[c] for c in cols)
              for r in fd_full.store.read(spark, stage).collect()}
        assert ta == tb, f"incremental {stage} diverged from full run"


def test_replay_is_idempotent(spark, split_corpus, tmp_path):
    pages, old, new = split_corpus
    fd = FastdupSpark(spark, str(tmp_path / "replay"))
    fd.run(old)
    fd.update(new)
    n_docs = fd.docs().count()
    n_pairs = fd.store.read(spark, "pairs_scored").count()
    stats2 = fd.update(new)  # same batch again
    assert stats2["new_docs"] == 0
    assert fd.docs().count() == n_docs
    assert fd.store.read(spark, "pairs_scored").count() == n_pairs


def test_high_water_mark_advances(spark, split_corpus, tmp_path):
    pages, old, new = split_corpus
    fd = FastdupSpark(spark, str(tmp_path / "hwm"))
    fd.run(old)
    h1 = high_water_mark(fd.docs())
    fd.update(new)
    h2 = high_water_mark(fd.docs())
    assert h2 > h1


def test_crash_after_extracted_append_heals_on_replay(spark, split_corpus, tmp_path):
    """Crash AFTER the extracted append but BEFORE the bookkeeping tail:
    the replay of the (now fully-redelivered) batch must detect the stale
    extracted marker from footers and heal counts/markers/derived tables."""
    import fastdup_spark.streaming.incremental as inc

    pages, old, new = split_corpus
    fd = FastdupSpark(spark, str(tmp_path / "heal"))
    fd.run(old)

    real_finalize = inc._finalize_bookkeeping
    def boom(*a, **k):
        raise RuntimeError("simulated crash before bookkeeping")
    inc._finalize_bookkeeping = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(new)
    finally:
        inc._finalize_bookkeeping = real_finalize

    # marker is stale now: extracted grew but marker was not refreshed
    lineage = fd.store._parquet_lineage(fd.store.table_path("extracted"))
    assert sum(x["rows"] for x in lineage) != fd.store.read_marker("extracted")["rows"]

    stats = fd.update(new)          # same batch redelivered -> heal path
    assert stats["new_docs"] == 0
    marker = fd.store.read_marker("extracted")
    assert marker["rows"] == sum(x["rows"] for x in
                                 fd.store._parquet_lineage(fd.store.table_path("extracted")))
    counts = fd.store.read_json("extract_counts")
    assert counts["valid"] == fd.docs().count()
    # the heal cannot scope what the crash left stale: the whole corpus is
    # touched
    assert stats["touched_docs"] == counts["valid"]
    # derived tables healed too: summary reflects the full corpus
    assert fd.summary()["total_pages"] == counts["valid"] + counts["bad"]


def test_crash_between_pairs_and_extracted_append_replays_exactly(
        spark, split_corpus, tmp_path):
    """Round-3 ADVICE (medium): crash AFTER the pairs_scored append but
    BEFORE the extracted append. The replay's own scored increment is empty
    (anti-joined vs the persisted pairs), so the affected set / CC edges
    must come from the persisted pairs table restricted to uncommitted
    docs — otherwise the crashed batch's edges never merge components."""
    import fastdup_spark.functions.lcs as lcs_mod

    pages, old, new = split_corpus
    fd = FastdupSpark(spark, str(tmp_path / "midcrash"))
    fd.run(old)

    # lcs_confirm runs after the pairs_scored/similarity appends and before
    # the extracted append -> booming it lands the crash in that window
    real_lcs = lcs_mod.lcs_confirm
    def boom(*a, **k):
        raise RuntimeError("simulated crash before extracted append")
    lcs_mod.lcs_confirm = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(new)
    finally:
        lcs_mod.lcs_confirm = real_lcs

    # crashed docs are in signatures+pairs_scored but not extracted
    n_sig = fd.store.read(spark, "signatures").count()
    n_ext = fd.store.read(spark, "extracted").count()
    assert n_sig > n_ext

    fd.update(new)  # replay of the same batch repairs and completes

    fd_full = FastdupSpark(spark, str(tmp_path / "midcrash_full"))
    fd_full.run(pages)
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("similarity", ("src", "dst")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn")),
                        ("containment", ("src", "dst"))):
        ta = {tuple(r[c] for c in cols)
              for r in fd.store.read(spark, stage).collect()}
        tb = {tuple(r[c] for c in cols)
              for r in fd_full.store.read(spark, stage).collect()}
        assert ta == tb, f"replayed {stage} diverged from the full run"


def test_finalize_crash_then_new_batch_heals(spark, tmp_path):
    """Round-3 ADVICE (low): crash INSIDE finalize (after the extracted
    append), then a LATER batch of genuinely NEW docs (no redelivery).
    The stale extracted marker must force that batch's finalize onto the
    full-rebuild path, healing the crashed batch's derived tables."""
    import fastdup_spark.streaming.incremental as inc

    data = generate_pages(600, seed=11)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    t1, t2 = pages.selectExpr(
        "percentile(cast(warc_ts as double), 0.5) p1",
        "percentile(cast(warc_ts as double), 0.75) p2").first()
    old = pages.filter(F.col("warc_ts").cast("double") <= t1)
    new1 = pages.filter((F.col("warc_ts").cast("double") > t1)
                        & (F.col("warc_ts").cast("double") <= t2))
    new2 = pages.filter(F.col("warc_ts").cast("double") > t2)

    fd = FastdupSpark(spark, str(tmp_path / "tail"))
    fd.run(old)

    real_finalize = inc._finalize_bookkeeping
    def boom(*a, **k):
        raise RuntimeError("simulated crash inside finalize")
    inc._finalize_bookkeeping = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(new1)
    finally:
        inc._finalize_bookkeeping = real_finalize

    fd.update(new2)  # different batch; must heal new1's derived tables too

    fd_full = FastdupSpark(spark, str(tmp_path / "tail_full"))
    fd_full.run(pages)
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn")),
                        ("component_info", ("component_id", "count"))):
        ta = {tuple(r[c] for c in cols)
              for r in fd.store.read(spark, stage).collect()}
        tb = {tuple(r[c] for c in cols)
              for r in fd_full.store.read(spark, stage).collect()}
        assert ta == tb, f"{stage} not healed after finalize crash"
    # marker is truthful again
    assert fd.store.read_marker("extracted")["rows"] == sum(
        x["rows"] for x in
        fd.store._parquet_lineage(fd.store.table_path("extracted")))


def test_crash_after_signature_append_no_duplicate_pairs(
        spark, split_corpus, tmp_path):
    """Crash AFTER the signatures/buckets appends but BEFORE pairs_scored:
    the replay recomputes the batch's signatures while the table already
    holds them — the in-memory union must not double the sig rows (which
    would double every joined pair row and append duplicate pairs)."""
    import fastdup_spark.operators.stats as stats_mod

    pages, old, new = split_corpus
    fd = FastdupSpark(spark, str(tmp_path / "sigcrash"))
    fd.run(old)

    real = stats_mod.doc_stats
    def boom(*a, **k):
        raise RuntimeError("simulated crash after signature append")
    stats_mod.doc_stats = boom
    try:
        with pytest.raises(RuntimeError):
            fd.update(new)
    finally:
        stats_mod.doc_stats = real

    # crashed docs' signatures are persisted, their pairs are not
    assert fd.store.read(spark, "signatures").count() > \
        fd.store.read(spark, "extracted").count()

    fd.update(new)  # replay

    for stage in ("pairs_scored", "similarity"):
        t = fd.store.read(spark, stage)
        assert t.count() == t.dropDuplicates(["src", "dst"]).count(), \
            f"duplicate (src,dst) rows appended into {stage}"
    fd_full = FastdupSpark(spark, str(tmp_path / "sigcrash_full"))
    fd_full.run(pages)
    a = {(r["doc_id"], r["component_id"]) for r in
         fd.store.read(spark, "assignments").collect()}
    b = {(r["doc_id"], r["component_id"]) for r in
         fd_full.store.read(spark, "assignments").collect()}
    assert a == b


def test_five_sequential_batches_match_full_run(spark, tmp_path):
    """Multi-batch soak: errors in the incremental appends COMPOUND across
    batches (pairs found against an index that earlier batches extended,
    markers regenerated batch over batch). Five chained updates must still
    be bit-identical to one from-scratch run."""
    data = generate_pages(700, seed=23)
    pages, _, _ = pages_to_spark(spark, data)
    pages = pages.cache()
    part = F.pmod(F.xxhash64("url"), F.lit(6))

    fd = FastdupSpark(spark, str(tmp_path / "soak"))
    fd.run(pages.filter(part == 0))
    for i in range(1, 6):
        stats = fd.update(pages.filter(part == i))
        assert stats["new_docs"] > 0
        assert stats["path"] == "clean"  # footer tripwire: no anti-joins

    fd_full = FastdupSpark(spark, str(tmp_path / "soak_full"))
    fd_full.run(pages)
    for stage, cols in (("assignments", ("doc_id", "component_id")),
                        ("component_info", ("component_id", "count")),
                        ("similarity", ("src", "dst")),
                        ("knn", ("doc_id", "nn", "rank")),
                        ("best_nn", ("doc_id", "best_sim", "best_nn")),
                        ("outliers", ("doc_id", "best_sim", "best_nn"))):
        ta = {tuple(r[c] for c in cols)
              for r in fd.store.read(spark, stage).collect()}
        tb = {tuple(r[c] for c in cols)
              for r in fd_full.store.read(spark, stage).collect()}
        assert ta == tb, f"{stage} diverged after 5 chained batches"
    # markers stayed truthful across the chain
    for s in ("extracted", "knn", "best_nn", "assignments",
              "component_info", "outliers"):
        m = fd.store.read_marker(s)
        rows = sum(x["rows"] for x in
                   fd.store._parquet_lineage(fd.store.table_path(s)))
        assert m["rows"] == rows, s
