"""LSH band-bucket candidate generation — the ANN index of this engine.

Replaces the reference's HNSW32/Flat nnf index (/root/reference/fastdup/
__init__.py:292-297,606-607; index file `nnf.index`, definitions.py:9) with
the scalable Spark-native equivalent: MinHash signatures are split into
``bands`` bands of ``rows`` values; each band is hashed to a bucket; docs
sharing any (band, bucket) become candidate pairs. The bucket table doubles
as the persisted, searchable index (≈ nnf.index, but a plain table — Iceberg/
parquet, resumable and queryable).

Scale design (SURVEY §4, §7 hard part 2):
  * candidate enumeration is a bucket self-join — shuffle on (band, bucket,
    salt); AQE skew-join enabled session-wide;
  * mega-buckets (boilerplate-heavy pages hashing together) are the skew
    killer: bucket sizes are counted first, buckets above ``max_bucket_size``
    are *salted* into sub-buckets of ~``salt_target`` docs (bounding the
    quadratic pair blowup per bucket to salt_target^2 * n_splits instead of
    size^2). True duplicates still meet in their other, unsalted bands — the
    recall cost is borne by non-dup boilerplate pairs, which verify would
    reject anyway. Counters (n_buckets, max size, n_salted, candidate count)
    are surfaced for the stage manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Version stamp for the band-bucket hash function, persisted in the
# `buckets` stage marker. v2 = xxhash64 over the band's `rows` signature
# values passed as separate columns (35% cheaper than v1's
# xxhash64(slice(...)): no per-band array allocation + serialization).
# A persisted index and a probe MUST use the same version — the
# incremental tripwires force a full rebuild on mismatch.
BAND_HASH_VERSION = 2


def band_buckets(sig_df: DataFrame, bands: int, rows: int,
                 id_col: str = "doc_id", sig_col: str = "minhash") -> DataFrame:
    """Explode signatures into (doc_id, band_id, bucket) — pure built-ins.

    bucket = xxhash64 of the band's signature values (JVM-side,
    deterministic; see BAND_HASH_VERSION). Bucket values are an internal
    equality key only: any injective-enough deterministic hash of the
    band slice yields the same candidate semantics.
    """
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(*[
            F.element_at(F.col(sig_col), (i * rows + F.lit(j + 1)).cast("int"))
            for j in range(rows)]),
    )
    return (
        sig_df.select(id_col, F.posexplode(band_hashes).alias("band_id", "bucket"))
        .select(F.col(id_col).alias("doc_id"), "band_id", "bucket")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Per-(band,bucket) sizes — the skew counters (≥2 only; singles pair with nobody)."""
    return (
        buckets.groupBy("band_id", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") >= 2)
    )


def salt_buckets(buckets: DataFrame, stats: DataFrame,
                 max_bucket_size: int, salt_target: int,
                 dup_only: bool = False) -> DataFrame:
    """Split mega-buckets into deterministic sub-buckets.

    Docs in a bucket of size s > max_bucket_size get salt =
    pmod(xxhash64(doc_id, band_id), ceil(s / salt_target)); everyone else
    salt = 0. The oversized-bucket list is tiny -> broadcast join.

    ``dup_only=True`` keeps only rows of buckets with >= 2 docs (an inner
    join against ``stats``, which is already >= 2): singleton buckets can
    never produce a candidate pair, and they are the overwhelming
    majority of bucket rows (measured 96% at sf1), so a downstream
    self-join should never shuffle them. Use it when the result feeds
    candidate generation ONLY — a persisted search index needs the
    singleton rows (a query can land in any bucket).
    """
    splits_expr = F.ceil(F.col("bucket_size") / F.lit(salt_target)) \
        .cast("int")
    salt_expr = F.when(
        F.col("n_splits").isNotNull(),
        F.pmod(F.xxhash64("doc_id", "band_id"), F.col("n_splits")).cast("int"),
    ).otherwise(F.lit(0))
    if dup_only:
        keys = stats.select(
            "band_id", "bucket",
            F.when(F.col("bucket_size") > max_bucket_size, splits_expr)
            .alias("n_splits"))
        joined = buckets.join(keys, ["band_id", "bucket"], "inner")
    else:
        oversized = stats.filter(
            F.col("bucket_size") > max_bucket_size).select(
            "band_id", "bucket", splits_expr.alias("n_splits"))
        joined = buckets.join(F.broadcast(oversized),
                              ["band_id", "bucket"], "left")
    return joined.withColumn("salt", salt_expr).drop("n_splits")


def candidate_pairs(salted_buckets: DataFrame,
                    prefilter: bool = True) -> DataFrame:
    """Within-bucket self-join -> distinct candidate (src < dst) pairs.

    The join shuffles both sides on (band_id, bucket, salt); AQE splits any
    residual skew. dropDuplicates collapses pairs that met in several bands.

    ``prefilter`` (default on) drops rows of singleton (band, bucket,
    salt) groups with a map-side-combining aggregate + semi join BEFORE
    the self-join: such rows can never produce a pair, and they are the
    large majority of a real bucket table (96% at sf1), so without the
    prefilter they dominate the self-join's shuffle. Pass False when the
    input is already duplicate-only (salt_buckets(dup_only=True))."""
    if prefilter:
        ge2 = (salted_buckets.groupBy("band_id", "bucket", "salt")
               .agg((F.min("doc_id") != F.max("doc_id")).alias("__d"))
               .filter(F.col("__d")).select("band_id", "bucket", "salt"))
        salted_buckets = salted_buckets.join(
            ge2, ["band_id", "bucket", "salt"], "left_semi")
    left = salted_buckets.select(
        "band_id", "bucket", "salt", F.col("doc_id").alias("src"))
    right = salted_buckets.select(
        "band_id", "bucket", "salt", F.col("doc_id").alias("dst"))
    return (
        left.join(right, ["band_id", "bucket", "salt"])
        .filter(F.col("src") < F.col("dst"))          # canonical orientation (T8)
        .select("src", "dst")
        .dropDuplicates(["src", "dst"])
    )


# --------------------------------------------------------------------------
# banding-parameter auto-tuner (driver-side math, no Spark)
# --------------------------------------------------------------------------

def lsh_collision_prob(jaccard: float, bands: int, rows: int) -> float:
    """P(candidate) for a pair at the given true Jaccard under (bands,
    rows) banding: 1 - (1 - j^rows)^bands — the MMDS S-curve."""
    return 1.0 - (1.0 - jaccard ** rows) ** bands


def tune_lsh_params(threshold: float, n_perm: int = 128,
                    min_recall: float = 0.99,
                    grid: int = 1000) -> tuple[int, int]:
    """Pick (bands, rows) with bands*rows == n_perm for a target Jaccard
    threshold, recall-first.

    The pipeline contract is dup-pair recall >= 0.99 for pairs at or
    above the threshold, and the S-curve p(s) = 1-(1-s^rows)^bands is
    monotone in s — so p(threshold) >= min_recall guarantees the floor
    for EVERY qualifying pair. Among divisor pairs meeting that floor,
    minimize the false-candidate area (integral of p(s) over [0,
    threshold], fixed midpoint grid — deterministic): false candidates
    only cost verify work (exact Jaccard rejects them), so they are the
    thing to trade, never recall. If no factorization reaches the floor
    (tiny n_perm, low threshold), fall back to argmax p(threshold).
    At the engine defaults: tune_lsh_params(0.85) -> (16, 8) (p(t) =
    0.9938, about half the sub-threshold candidate area of the config's
    32x4), and tune_lsh_params(0.85, min_recall=0.999) -> (32, 4), the
    shipped PipelineConfig choice (p(t) ~= 1 - 6e-11).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1, got {n_perm}")
    best_ok = None   # (fp_area, bands, rows) among floor-meeting pairs
    best_any = None  # (-p_at_t, bands, rows) fallback
    for rows in range(1, n_perm + 1):
        if n_perm % rows:
            continue
        bands = n_perm // rows
        p_at_t = lsh_collision_prob(threshold, bands, rows)
        if best_any is None or -p_at_t < best_any[0]:
            best_any = (-p_at_t, bands, rows)
        if p_at_t < min_recall:
            continue
        fp = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            if s >= threshold:
                break
            fp += lsh_collision_prob(s, bands, rows) / grid
        if best_ok is None or fp < best_ok[0]:
            best_ok = (fp, bands, rows)
    pick = best_ok or best_any
    return pick[1], pick[2]
