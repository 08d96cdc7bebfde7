"""exact_rank_head: two-phase percentile prune + exact rank, with the
under-prune fallback (ADVICE r01: approx cutoff on skewed/tied data can
leave fewer than k survivors — the exact bottom-k contract must hold)."""

from pyspark.sql import functions as F

from fastdup_spark.operators.outliers import exact_rank_head


def _naive_bottom_k(rows, k):
    return sorted(rows)[:k]


def test_fallback_when_cutoff_under_prunes(spark):
    """A margin so small the cutoff prunes below k forces the full-table
    fallback; the result must still be the exact deterministic bottom-k."""
    rows = [(i, float(i % 7)) for i in range(1000)]  # heavy ties
    df = spark.createDataFrame(rows, "doc_id long, v double")
    k = 100
    got = exact_rank_head(df, k, 1000, "v", "doc_id",
                          ascending=True, margin=1e-6).collect()
    want = _naive_bottom_k([(r[1], r[0]) for r in rows], k)
    assert sorted((r["v"], r["doc_id"]) for r in got) == want
    assert len(got) == k


def test_all_tied_values(spark):
    df = spark.createDataFrame([(i, 5.0) for i in range(200)],
                               "doc_id long, v double")
    got = exact_rank_head(df, 10, 200, "v", "doc_id", ascending=True).collect()
    assert sorted(r["doc_id"] for r in got) == list(range(10))


def test_two_level_rank_matches_naive_on_skewed_fixture(spark):
    """Round-2 verdict item #1: the distributed two-level rank must return
    exactly the old single-window plan's rows on a skewed distribution —
    95% of values tied at 0.0 (the best_sim==0 outlier regime) plus a
    heavy-tail remainder."""
    rows = [(i, 0.0 if i % 20 else float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, v double").repartition(16)
    k = 250
    got = exact_rank_head(df, k, 5000, "v", "doc_id", ascending=True).collect()
    want = _naive_bottom_k([(v, i) for i, v in rows], k)
    assert sorted((r["v"], r["doc_id"]) for r in got) == want


def test_rank_plan_has_no_unpartitioned_window(spark):
    """Every window in the rank phase must carry a partition key
    (spark_partition_id) — an unpartitioned row_number would funnel the
    whole pruned set through one task at scale."""
    import re

    from fastdup_spark.operators.outliers import _locally_ranked

    df = spark.createDataFrame([(i, float(i % 3)) for i in range(400)],
                               "doc_id long, v double")
    plan = _locally_ranked(df, 400, "v", "doc_id", True) \
        ._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan  # the window must actually be in this frame's plan
    for spec in specs:
        assert "_pid" in spec.split(",")[0], plan


def test_multi_partition_offset_path(spark, monkeypatch):
    """Force the multi-partition rank (offsets + broadcast join) by lowering
    the rows-per-partition target — the exact result must be unchanged."""
    import fastdup_spark.operators.outliers as O

    monkeypatch.setattr(O, "_RANK_ROWS_PER_PART", 500)
    rows = [(i, 0.0 if i % 20 else float(i)) for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, v double").repartition(16)
    k = 250
    got = O.exact_rank_head(df, k, 5000, "v", "doc_id", ascending=True).collect()
    want = _naive_bottom_k([(v, i) for i, v in rows], k)
    assert sorted((r["v"], r["doc_id"]) for r in got) == want


def test_outliers_how_all_anti_join(spark, tmp_path):
    """how='all' (reference galleries.py:594-613): outliers carrying an
    above-MEAN similarity edge are dropped; below-mean edges don't disqualify.
    Crafted stage tables where the two modes provably differ."""
    from fastdup_spark import FastdupSpark

    fd_ = FastdupSpark(spark, str(tmp_path / "w"))
    ch = fd_.config.config_hash()
    ext = spark.createDataFrame(
        [(i, f"https://h{i}.example/x", "2024-01-01 00:00:00", "en",
          f"text {i}", "", True) for i in (1, 2, 3, 4, 5)],
        "doc_id long, url string, warc_ts string, lang string, "
        "text string, error_code string, is_valid boolean")
    fd_.store.write(ext, "extracted", ch)
    # mean jaccard = 0.7: edge (1,2) is above-mean, (3,4) below
    sim = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.5)], "src long, dst long, jaccard double")
    fd_.store.write(sim, "similarity", ch)
    out = spark.createDataFrame(
        [(1, 0.9, 2), (3, 0.5, 4), (5, 0.0, None)],
        "doc_id long, best_sim double, best_nn long")
    fd_.store.write(out, "outliers", ch)

    one = {r["doc_id"] for r in fd_.outliers(how="one").collect()}
    allm = {r["doc_id"] for r in fd_.outliers(how="all").collect()}
    assert one == {1, 3, 5}
    assert allm == {3, 5}  # doc 1 has an above-mean edge -> dropped


def test_descending_and_zero_k(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(50)],
                               "doc_id long, v double")
    top = exact_rank_head(df, 5, 50, "v", "doc_id", ascending=False).collect()
    assert sorted(r["doc_id"] for r in top) == [45, 46, 47, 48, 49]
    assert exact_rank_head(df, 0, 50, "v", "doc_id").count() == 0


def test_rank_property_random_distributions(spark):
    """Property check: exact_rank_head == naive sorted head on randomized
    value distributions (ties, negatives, nulls, tiny/huge k)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=12, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(
        vals=st.lists(
            st.one_of(st.none(),
                      st.floats(min_value=-100, max_value=100, width=32),
                      st.sampled_from([0.0, 1.0, -5.0])),
            min_size=1, max_size=120),
        k=st.integers(min_value=0, max_value=150),
        asc=st.booleans(),
    )
    def check(vals, k, asc):
        rows = [(i, None if v is None else float(v))
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "doc_id long, v double")
        got = sorted(
            (r["v"], r["doc_id"])
            for r in exact_rank_head(df, k, len(rows), "v", "doc_id",
                                     ascending=asc).collect())
        nn = [(v, i) for i, v in rows if v is not None]
        want = sorted(sorted(nn, key=lambda t: (t[0] if asc else -t[0], t[1]))[:k])
        assert got == want

    check()


def test_outlier_marker_carries_cutoff(fd):
    m = fd.store.read_marker("outliers")
    c = m["counters"].get("cutoff")
    mx = fd.store.read(fd.spark, "outliers").agg(F.max("best_sim")).first()[0]
    assert c == (None if mx is None else float(mx))
