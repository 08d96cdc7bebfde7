"""Verify stage: exact Jaccard == python oracle, threshold filter, k-NN
truncation (W1/W2), LCS confirm on containment pairs (FIXTURES.md §C)."""

import pytest
from pyspark.sql import functions as F

from fastdup_spark.functions.lcs import lcs_length
from fastdup_spark.functions.similarity import exact_jaccard_expr, sig_jaccard_expr
from fastdup_spark.operators.knn import best_nn_per_query, knn_truncate


def test_exact_jaccard_matches_python(spark):
    cases = [
        ([1, 2, 3], [2, 3, 4]),
        ([1], [1]),
        ([1, 2], [3, 4]),
        ([], []),
        ([1, 2, 3, 4, 5], [1, 2, 3]),
    ]
    df = spark.createDataFrame(cases, "a array<long>, b array<long>")
    got = [r["j"] for r in df.select(exact_jaccard_expr(F.col("a"), F.col("b")).alias("j")).collect()]
    for (a, b), g in zip(cases, got):
        sa, sb = set(a), set(b)
        expect = 1.0 if not (sa | sb) else len(sa & sb) / len(sa | sb)
        assert g == pytest.approx(expect)


def _case_when_jaccard(a, b):
    """The CaseWhen form exact_jaccard_expr replaced (intersection three
    times per pair); kept as the reference for edge-case parity."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def test_exact_jaccard_null_and_empty_match_case_when(spark):
    """NULL arrays give NULL, two empty arrays give 1.0, one empty array
    gives 0.0 — exactly (==) what the CaseWhen form gives, same type."""
    cases = [
        (None, [1, 2]), ([1, 2], None), (None, None), (None, []), ([], None),
        ([], []), ([], [7]), ([7], []),
        ([1, 2, 3], [2, 3, 4]), ([5], [5]), ([1, 2], [3, 4]),
    ]
    df = spark.createDataFrame(cases, "a array<long>, b array<long>")
    out = df.select(exact_jaccard_expr(F.col("a"), F.col("b")).alias("new"),
                    _case_when_jaccard(F.col("a"), F.col("b")).alias("old"))
    assert out.schema["new"].dataType == out.schema["old"].dataType
    assert out.schema["new"].nullable
    rows = out.collect()
    assert [r["new"] for r in rows] == [r["old"] for r in rows]
    assert [r["new"] for r in rows[:8]] == [None] * 5 + [1.0, 0.0, 0.0]


def test_sig_jaccard_positional(spark):
    df = spark.createDataFrame([([1, 2, 3, 4], [1, 9, 3, 9])], "a array<long>, b array<long>")
    assert df.select(sig_jaccard_expr(F.col("a"), F.col("b")).alias("j")).first()["j"] == pytest.approx(0.5)


def test_threshold_filter_semantics(fd):
    cfg = fd.config
    sim = fd.store.read(fd.spark, "similarity")
    below = sim.filter(F.col("jaccard") < cfg.threshold).count()
    assert below == 0
    scored = fd.store.read(fd.spark, "pairs_scored")
    assert scored.count() >= sim.count()


def test_knn_truncate(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.8), (1, 4, 0.7), (2, 3, 0.95)],
        "src long, dst long, jaccard double")
    k2 = knn_truncate(pairs, 2)
    per = {r["doc_id"]: r["rank"] for r in k2.collect()}
    counts = k2.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    # doc 1 has 3 neighbors -> exactly 2 kept, best first
    d1 = sorted([(r["rank"], r["nn"]) for r in k2.filter("doc_id = 1").collect()])
    assert d1 == [(1, 2), (2, 3)]


def test_best_nn(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.99)], "src long, dst long, jaccard double")
    best = {r["doc_id"]: r["nn"] for r in best_nn_per_query(pairs).collect()}
    assert best[1] == 3 and best[3] == 1 and best[2] == 1


def test_lcs_length_oracle():
    assert lcs_length("abcdef", "zabcq") == 3
    assert lcs_length("", "abc") == 0
    assert lcs_length("same", "same") == 4
    assert lcs_length("xyz", "abc") == 0
    a = "the quick brown fox jumps over the lazy dog " * 20
    b = "PREFIX " + a + " SUFFIX"
    assert lcs_length(a, b) == len(a)


def test_containment_pairs_confirmed(fd, url_of, data):
    """Planted containment pairs that became LSH candidates must be flagged
    by the LCS stage (long shared substring)."""
    _, url2id = url_of
    cont = fd.containment()
    flagged = {(r["src"], r["dst"]) for r in cont.collect()}
    cands = {(r["src"], r["dst"]) for r in fd.store.read(fd.spark, "candidates").collect()}
    tp = data.truth_pairs
    planted = []
    for _, row in tp[tp.kind == "containment"].iterrows():
        a, b = url2id[row.src_url], url2id[row.dst_url]
        planted.append((min(a, b), max(a, b)))
    reachable = [p for p in planted if p in cands]
    confirmed = [p for p in reachable if p in flagged]
    # every containment candidate that survived the sig prefilter and is
    # below dup threshold must be confirmed by LCS
    scored = {(r["src"], r["dst"]) for r in
              fd.store.read(fd.spark, "pairs_scored")
              .filter(F.col("jaccard") < fd.config.threshold).collect()}
    expected = [p for p in reachable if p in scored]
    assert set(confirmed) >= set(expected)


def test_lcs_long_doc_containment_beyond_cap(spark):
    """A 50k-char doc containing a 2k block at offset ~35k (past the 20k SAM
    cap) must be detected via the fingerprint-aligned window (round-1 gap:
    prefix truncation missed anything beyond the cap)."""
    import random
    from fastdup_spark.functions.lcs import lcs_confirm

    rng = random.Random(77)
    words = [f"w{rng.randrange(100000)}" for _ in range(9000)]
    long_doc = " ".join(words)                    # ~60k chars of unique noise
    block = long_doc[35_000:37_000]               # the shared 2k substring
    short_doc = ("prefix padding " * 20) + block + (" suffix" * 10)
    pairs = spark.createDataFrame(
        [(1, 2, short_doc, long_doc)], "src long, dst long, text_a string, text_b string")
    row = lcs_confirm(pairs, cap_chars=20_000).collect()[0]
    assert row["lcs_len"] >= 1900, row
    assert row["containment"] >= 0.5


def test_lcs_long_docs_no_shared_region(spark):
    """Two long unrelated docs: window alignment must not fabricate length."""
    import random
    from fastdup_spark.functions.lcs import lcs_confirm

    rng = random.Random(3)
    a = " ".join(f"a{rng.randrange(10**9)}" for _ in range(6000))
    b = " ".join(f"b{rng.randrange(10**9)}" for _ in range(6000))
    pairs = spark.createDataFrame(
        [(1, 2, a, b)], "src long, dst long, text_a string, text_b string")
    row = lcs_confirm(pairs, cap_chars=20_000).collect()[0]
    assert row["lcs_len"] < 64


def test_lcs_long_doc_containment_non_ascii(spark):
    """Fingerprint positions must be CHARACTER offsets: a CJK/accented long
    doc (~3 utf-8 bytes/char) with a shared block past the cap would be
    mislocated by byte-offset windows."""
    import random
    from fastdup_spark.functions.lcs import lcs_confirm

    rng = random.Random(9)
    cjk = [chr(0x4E00 + rng.randrange(2000)) for _ in range(40000)]
    long_doc = "".join(cjk)                      # 40k chars, 120k utf-8 bytes
    block = long_doc[30_000:32_000]
    short_doc = "préfixe Ünicode " * 10 + block + " suffixé" * 5
    pairs = spark.createDataFrame(
        [(1, 2, short_doc, long_doc)], "src long, dst long, text_a string, text_b string")
    row = lcs_confirm(pairs, cap_chars=20_000).collect()[0]
    assert row["lcs_len"] >= 1900, row


def test_lcs_identical_long_docs_containment_one(spark):
    """Both texts beyond the cap and identical: containment must be 1.0
    (denominator capped like the numerator)."""
    import random
    from fastdup_spark.functions.lcs import lcs_confirm

    rng = random.Random(4)
    doc = " ".join(f"t{rng.randrange(10**8)}" for _ in range(9000))
    pairs = spark.createDataFrame(
        [(1, 2, doc, doc)], "src long, dst long, text_a string, text_b string")
    row = lcs_confirm(pairs, cap_chars=20_000).collect()[0]
    assert row["containment"] == 1.0
    assert row["lcs_len"] >= 19_000
