"""Similarity expressions — all pure built-in SQL (WholeStageCodegen).

The reference emits cosine similarity over CNN embeddings
(`distance='cosine'`, /root/reference/fastdup/__init__.py:163); webtext uses
set similarity over shingles:

  * ``exact_jaccard_expr``  — |A∩B| / |A∪B| over distinct-shingle arrays; the
    verify-stage filter that plays the role of the 0.9 similarity threshold
    (/root/reference/fastdup/__init__.py:481,565).
  * ``sig_jaccard_expr``    — MinHash-estimated Jaccard (fraction of equal
    signature positions): an unbiased estimator used as a cheap prefilter so
    the expensive exact verify only touches plausible pairs.
  * ``hamming_expr``        — SimHash fingerprint Hamming distance.
  * ``cosine_expr``         — cosine over ARRAY<FLOAT> embeddings (for the
    precomputed-embedding mode, ref fastdup_controller.py:149-155).
  * ``score_pairs``         — the verify join over candidate pairs that both
    ``run()`` and ``update()`` use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard of two DISTINCT-element arrays (1.0 when both are
    empty, NULL when either is NULL).

    ``array_intersect`` appears once in an always-evaluated position (the
    first ``coalesce`` child), so subexpression elimination computes it once
    per pair; inside ``CaseWhen`` branches it would run three times."""
    inter = F.size(F.array_intersect(a, b))
    sizes = F.size(a) + F.size(b)
    return F.coalesce(F.try_divide(inter, sizes - inter),
                      F.when(sizes == 0, F.lit(1.0)))


def sig_jaccard_expr(sig_a: Column, sig_b: Column) -> Column:
    """MinHash-estimated Jaccard: mean positionwise equality of signatures."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, v: acc + v) / F.size(sig_a)


def hamming_expr(fp_a: Column, fp_b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash fingerprints."""
    return F.bit_count(fp_a.bitwiseXOR(fp_b))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<FLOAT/DOUBLE> columns, JVM-side."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def score_pairs(cands: DataFrame, sigs: DataFrame,
                prefilter: float) -> DataFrame:
    """The verify join: candidate (src, dst) pairs scored against the
    signature table (doc_id, minhash, simhash, shingles) ->
    (src, dst, sig_jaccard, hamming, jaccard).

    ONE join per side fetches minhash + simhash + shingles together: the
    sig_jaccard ``prefilter`` still runs BEFORE the exact-Jaccard compute,
    it just does not save shipping shingles for the rejected pairs — on
    the 100k-page bench corpus, where most candidates survive the
    prefilter, that measured 1.2s against 2.1s for two joins per side."""
    wide = sigs.select("doc_id", "minhash", "simhash", "shingles")

    def side(key: str, x: str) -> DataFrame:
        return wide.select(F.col("doc_id").alias(key),
                           F.col("minhash").alias(f"mh_{x}"),
                           F.col("simhash").alias(f"sh_{x}"),
                           F.col("shingles").alias(f"sg_{x}"))

    return (
        cands.join(side("src", "a"), "src").join(side("dst", "b"), "dst")
        .withColumn("sig_jaccard", sig_jaccard_expr(F.col("mh_a"), F.col("mh_b")))
        .withColumn("hamming", hamming_expr(F.col("sh_a"), F.col("sh_b")))
        # cheap prefilter: only plausible pairs pay the exact verify
        .filter(F.col("sig_jaccard") >= prefilter)
        .withColumn("jaccard", exact_jaccard_expr(F.col("sg_a"), F.col("sg_b")))
        .select("src", "dst", "sig_jaccard", "hamming", "jaccard")
    )
