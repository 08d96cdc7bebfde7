#!/usr/bin/env python
"""spark-submit entry point: run the full dedup pipeline on a pages table.

    spark-submit --py-files dist/fastdup_spark.zip scripts/run_pipeline.py \
        --input /path/or/s3a/pages_parquet --work-dir /path/fd_run \
        [--threshold 0.85] [--cc-threshold 0.85] [--force]

On a cluster the master/executors come from spark-submit; locally it falls
back to local[*]. Prints the run summary JSON on completion.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet/iceberg path")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--threshold", type=float, default=0.85)
    ap.add_argument("--cc-threshold", type=float, default=0.85)
    ap.add_argument("--shingle-k", type=int, default=9)
    ap.add_argument("--n-perm", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--input-format", default="parquet",
                    help="parquet (default), iceberg, or warc")
    ap.add_argument("--store-shards", type=int, default=None,
                    help="hash-bucket count for the stage tables. Default "
                         "auto-scales with corpus size (~25k docs/shard, "
                         "pow2, at least one per core up to 32, capped "
                         "65536 — config.resolve_store_shards) and persists "
                         "in store_layout.json; override to pin a layout")
    ap.add_argument("--pre-dedup", default=None,
                    help="comma list of cheap cascade tiers to run BEFORE "
                         "the near-dup pipeline: 'url', 'exact' or "
                         "'url,exact' (operators/cascade.py; the url tier "
                         "needs url + warc_ts columns). Drop decisions are "
                         "written to <work-dir>/pre_dedup_decisions; the "
                         "pipeline then runs on the survivors only. "
                         "parquet/iceberg inputs only")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fastdup_spark import FastdupSpark, PipelineConfig

    spark = SparkSession.builder.appName("fastdup-spark-pipeline").getOrCreate()
    cfg = PipelineConfig(
        threshold=args.threshold, cc_threshold=args.cc_threshold,
        shingle_k=args.shingle_k, n_perm=args.n_perm,
        lsh_bands=args.bands, lsh_rows=args.n_perm // args.bands,
        store_shards=args.store_shards,
    )
    fd = FastdupSpark(spark, args.work_dir, cfg)

    pages = None
    pre_dedup = None
    if args.pre_dedup:
        tiers = {t.strip() for t in args.pre_dedup.split(",") if t.strip()}
        bad = tiers - {"url", "exact"}
        if bad:
            raise SystemExit(f"--pre-dedup: unknown tiers {sorted(bad)} "
                             "(choose from url, exact)")
        if args.input_format == "warc":
            raise SystemExit("--pre-dedup needs a columnar pages input "
                             "(parquet/iceberg), not warc")
        from fastdup_spark.operators.cascade import dedup_cascade
        raw = (spark.read.format(args.input_format).load(args.input)
               if args.input_format != "parquet"
               else spark.read.parquet(args.input))
        res = dedup_cascade(
            raw, cfg, id_col="url", text_col="html",
            url_col="url" if "url" in tiers else None,
            ts_col="warc_ts" if "url" in tiers else None,
            run_exact="exact" in tiers, run_near_dup=False)
        # pin both outputs: unpinned, the decisions write, the tier-count
        # collect, fd.run's layout count AND its extract scan would each
        # re-execute the whole cascade (two window shuffles over the raw
        # input) — 4 passes instead of 2
        surv = res["survivors"].localCheckpoint(eager=True)
        dec = res["decisions"].localCheckpoint(eager=True)
        dec_path = f"{args.work_dir}/pre_dedup_decisions"
        dec.write.mode("overwrite").parquet(dec_path)
        from pyspark.sql import functions as F
        pre_dedup = {
            r["tier"]: r["n"]
            for r in dec.groupBy("tier").agg(F.count("*").alias("n"))
            .collect()}
        pages = surv

    summary = fd.run(pages=pages,
                     input_path=None if pages is not None else args.input,
                     force=args.force, input_format=args.input_format)
    if pre_dedup is not None:
        summary = dict(summary, pre_dedup_dropped=pre_dedup)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
