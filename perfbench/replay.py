"""Replay of the pipeline's stage chain, one traced span per layer.

Each layer's public function is called in pipeline order on the input
``FastdupSpark.run`` sees. Like the pipeline, a layer reads its inputs
back from the stage store, so its plans and partitioning match the run's.
The layer's output is materialized inside its span by an eager
``localCheckpoint`` -- a span times the layer's own work, never a lazy plan
that a later action would execute -- and is then persisted through
``StageStore`` in a separate ``plans.store`` span. Every persisted table is
read back once at the end in a ``plans.store`` span of its own. Counts that
feed a layer's extras run outside the spans.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fastdup_spark.config import resolve_store_shards
from fastdup_spark.functions.extract import extract_text_udf
from fastdup_spark.functions.lcs import lcs_confirm
from fastdup_spark.functions.signatures import with_signatures
from fastdup_spark.functions.similarity import (
    exact_jaccard_expr, hamming_expr, sig_jaccard_expr,
)
from fastdup_spark.operators.cc import connected_components
from fastdup_spark.operators.knn import knn_truncate
from fastdup_spark.operators.lsh import (
    band_buckets, bucket_stats, candidate_pairs, salt_buckets,
)
from fastdup_spark.operators.outliers import best_neighbor, outliers_by_percentile
from fastdup_spark.plans.store import SHARD_COL, StageStore, shard_expr


def _ratio(a: int, b: int) -> float:
    return a / b if b else 0.0


def replay_stage_chain(tr, pages, cfg, work_dir: str) -> None:
    spark = pages.sparkSession
    store = StageStore(work_dir)
    chash = cfg.config_hash()
    written: list[str] = []

    def persist(df, stage, n_shards=None, **kw):
        with tr.span("plans.store", f"StageStore.write:{stage}", work_dir):
            if n_shards:
                store.write_sharded(df, stage, chash, n_shards, **kw)
            else:
                store.write(df, stage, chash, **kw)
        written.append(stage)
        return store.read(spark, stage)

    with tr.span("functions.extract", "extract_text_udf") as s:
        ext = pages.withColumn(
            "_ex", extract_text_udf(cfg.min_text_chars)(F.col("html"))
        ).select(
            F.xxhash64("url").alias("doc_id"), "url", "warc_ts", "lang",
            F.col("_ex.extracted_text").alias("text"),
            F.col("_ex.error_code").alias("error_code"),
            (F.col("_ex.error_code") == "").alias("is_valid"),
        ).localCheckpoint(eager=True)
    n_pages = ext.count()
    s["extra"]["rows_per_s"] = _ratio(n_pages, s["wall_s"])
    n_sh = resolve_store_shards(n_pages)
    ext = persist(ext.withColumn(SHARD_COL, shard_expr("doc_id", n_sh))
                  .repartition(F.col(SHARD_COL)), "extracted",
                  partition_by=["is_valid", SHARD_COL])
    docs = ext.filter(F.col("is_valid").cast("boolean")) \
        .select("doc_id", "text")
    n_docs = docs.count()

    with tr.span("functions.signatures", "with_signatures") as s:
        sigs = with_signatures(docs, cfg).select(
            "doc_id", "minhash", "simhash", "shingles", "n_shingles"
        ).localCheckpoint(eager=True)
    s["extra"]["rows_per_s"] = _ratio(n_docs, s["wall_s"])
    sigs = persist(sigs, "signatures", n_sh)

    with tr.span("operators.lsh", "band_buckets+salt_buckets") as s:
        buckets = band_buckets(sigs, cfg.lsh_bands, cfg.lsh_rows)
        salted = salt_buckets(buckets, bucket_stats(buckets),
                              cfg.max_bucket_size, cfg.bucket_salt_target
                              ).localCheckpoint(eager=True)
    salted = persist(salted, "buckets")
    with tr.span("operators.lsh", "candidate_pairs"):
        cands = candidate_pairs(salted).localCheckpoint(eager=True)
    n_cands = cands.count()
    s["extra"]["candidates"] = n_cands
    s["extra"]["salted_buckets"] = bucket_stats(salted).filter(
        F.col("bucket_size") > cfg.max_bucket_size).count()
    cands = persist(cands, "candidates")

    with tr.span("functions.similarity", "verify join") as s:
        wide = sigs.select("doc_id", "minhash", "simhash", "shingles")
        side = lambda c, x: wide.select(  # noqa: E731
            F.col("doc_id").alias(c), F.col("minhash").alias(f"mh_{x}"),
            F.col("simhash").alias(f"sh_{x}"),
            F.col("shingles").alias(f"sg_{x}"))
        scored = (
            cands.join(side("src", "a"), "src").join(side("dst", "b"), "dst")
            .withColumn("sig_jaccard", sig_jaccard_expr(F.col("mh_a"), F.col("mh_b")))
            .withColumn("hamming", hamming_expr(F.col("sh_a"), F.col("sh_b")))
            .filter(F.col("sig_jaccard") >= cfg.sig_jaccard_prefilter)
            .withColumn("jaccard", exact_jaccard_expr(F.col("sg_a"), F.col("sg_b")))
            .select("src", "dst", "sig_jaccard", "hamming", "jaccard")
        ).localCheckpoint(eager=True)
    n_verified = scored.count()
    s["extra"]["pairs_verified"] = n_verified
    s["extra"]["edges_per_candidate"] = _ratio(
        scored.filter(F.col("jaccard") >= cfg.threshold).count(), n_cands)
    scored = persist(scored, "pairs_scored")
    sim = scored.filter(F.col("jaccard") >= cfg.threshold) \
        .select("src", "dst", "jaccard")

    texts = docs.select("doc_id", "text")
    sub = scored.filter(F.col("jaccard") < cfg.threshold).select("src", "dst")
    pt = (sub.join(texts.select(F.col("doc_id").alias("src"),
                                F.col("text").alias("text_a")), "src")
             .join(texts.select(F.col("doc_id").alias("dst"),
                                F.col("text").alias("text_b")), "dst"))
    with tr.span("functions.lcs", "lcs_confirm") as s:
        lcs = lcs_confirm(pt, cfg.lcs_cap_chars).localCheckpoint(eager=True)
    n_lcs = lcs.count()
    confirmed = lcs.filter(F.col("lcs_len") >= cfg.lcs_min_len)
    s["extra"]["pairs"] = n_lcs
    s["extra"]["confirm_hit_rate"] = _ratio(confirmed.count(), n_lcs)
    persist(confirmed, "containment")

    cc_edges = scored.filter(F.col("jaccard") >= cfg.cc_threshold) \
        .select("src", "dst")
    with tr.span("operators.cc", "connected_components") as s:
        asg = connected_components(cc_edges, vertices=docs.select("doc_id")) \
            .localCheckpoint(eager=True)
    s["extra"]["edges_in"] = cc_edges.count()
    s["extra"]["components"] = asg.select("component_id").distinct().count()
    persist(asg, "assignments", n_sh)

    with tr.span("operators.knn", "knn_truncate"):
        knn = knn_truncate(sim, cfg.knn_k).localCheckpoint(eager=True)
    persist(knn, "knn", n_sh)

    with tr.span("operators.outliers", "best_neighbor"):
        bn = best_neighbor(docs, scored, sim_col="jaccard") \
            .localCheckpoint(eager=True)
    bn = persist(bn, "best_nn", n_sh, sort_within=["best_sim"])
    with tr.span("operators.outliers", "outliers_by_percentile"):
        out = outliers_by_percentile(bn, cfg.outlier_pct, n=n_docs) \
            .localCheckpoint(eager=True)
    persist(out, "outliers", n_sh)

    for stage in written:
        with tr.span("plans.store", f"StageStore.read:{stage}"):
            store.read(spark, stage).write.format("noop").mode("overwrite") \
                .save()
