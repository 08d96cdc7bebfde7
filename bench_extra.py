#!/usr/bin/env python
"""Phase-level profiling for the bench-timed queries (guide §1: isolate
with the noop sink, label jobs). Separate from the FROZEN bench.py —
numbers here feed OPTIMIZATION_r07.md, never the driver metric.

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
BENCH_EXTRA_WHAT=near_dup,search,semdedup,small (comma list).
"""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WHAT = os.environ.get("BENCH_EXTRA_WHAT", "near_dup,search,semdedup,small"
                      ).split(",")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from fastdup_spark import get_spark

    spark = get_spark("fastdup-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    out: dict = {"sf_dir": SF_DIR, "cpus": CPUS}

    def timed(label, fn):
        sc.setJobDescription(label)
        t0 = time.time()
        r = fn()
        dt = round(time.time() - t0, 3)
        sc.setJobDescription(None)
        return r, dt

    if "near_dup" in WHAT:
        # q_minhash_lsh_dedup phase split
        from fastdup_spark.config import PipelineConfig
        from fastdup_spark.functions.signatures import with_signatures
        from fastdup_spark.operators.cc import connected_components
        from fastdup_spark.operators.lsh import (
            band_buckets, bucket_stats, candidate_pairs, salt_buckets)
        from fastdup_spark.functions.similarity import exact_jaccard_expr

        cfg = PipelineConfig()
        ph = {}
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        norm = F.trim(F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[.,!?;:]", ""), r"\s+", " "))
        docs = docs.filter(norm != "")
        sigs, ph["sig_ckpt"] = timed("nd: signatures", lambda: with_signatures(
            docs.select("doc_id", "text"), cfg)
            .select("doc_id", "minhash", "shingles")
            .localCheckpoint(eager=True))
        def _salted():
            buckets = band_buckets(sigs, cfg.lsh_bands, cfg.lsh_rows)
            stats = bucket_stats(buckets)
            return salt_buckets(buckets, stats, cfg.max_bucket_size,
                                cfg.bucket_salt_target) \
                .localCheckpoint(eager=True)
        salted, ph["salt_ckpt"] = timed("nd: salted buckets", _salted)
        cands = candidate_pairs(salted)
        sh = sigs.select("doc_id", "shingles")
        pairs = (
            cands
            .join(sh.select(F.col("doc_id").alias("src"),
                            F.col("shingles").alias("sh_a")), "src")
            .join(sh.select(F.col("doc_id").alias("dst"),
                            F.col("shingles").alias("sh_b")), "dst")
            .withColumn("jaccard", exact_jaccard_expr(F.col("sh_a"),
                                                      F.col("sh_b")))
            .select("src", "dst", "jaccard"))
        edges, ph["pairs_edges_ckpt"] = timed(
            "nd: pairs+edges",
            lambda: pairs.filter(F.col("jaccard") >= cfg.threshold)
            .select("src", "dst").localCheckpoint(eager=True))
        n_edges, _ = timed("nd: count edges", edges.count)
        asg, ph["cc"] = timed("nd: cc", lambda: connected_components(
            edges, vertices=sigs.select("doc_id")))
        _, ph["final_agg"] = timed("nd: final agg", lambda: noop(
            asg.groupBy("component_id").agg(F.count("*").alias("count"))
            .filter(F.col("count") >= 2)))
        ph["n_docs"] = docs.count()
        ph["n_edges"] = n_edges
        out["near_dup_phases"] = ph

    if "search" in WHAT:
        qs = entrymod.queries()
        _, t = timed("search_many e2e", lambda: noop(
            qs["search_many"](spark, SF_DIR)))
        out["search_many"] = t

    if "semdedup" in WHAT:
        from fastdup_spark.operators.kmeans import kmeans_fit
        from fastdup_spark.operators.semdedup import semdedup_decisions

        ph = {}
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        fit, ph["kmeans_fit"] = timed("sd: kmeans fit", lambda: kmeans_fit(
            e, k=8, n_iter=2))
        asg = fit["assignments"].localCheckpoint(eager=True)
        res = semdedup_decisions(asg, e, 0.35)
        n_edges, ph["edges_count"] = timed("sd: edges count",
                                           res["edges"].count)
        _, ph["decisions"] = timed("sd: decisions", lambda: noop(
            res["decisions"]))
        ph["n_vectors"] = e.count()
        ph["n_edges"] = n_edges
        out["semdedup_phases"] = ph

    if "small" in WHAT:
        qs = entrymod.queries()
        small = {}
        for name in ["exact_dup_groups", "ngram_jaccard_pairs",
                     "lineitem_pricing_summary", "orders_per_nation",
                     "top2_orders_per_customer", "cosine_to_query",
                     "token_counts", "events_high_water"]:
            _, small[name] = timed(name, lambda n=name: noop(
                qs[n](spark, SF_DIR)))
        out["small_queries"] = small

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
