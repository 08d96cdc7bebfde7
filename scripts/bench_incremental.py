#!/usr/bin/env python
"""Incremental-update bench: what an update costs against a full rerun.

Runs the pipeline on the first 90% of the bench corpus, then times
`fd.update()` of the remaining 10% and of a 50-doc trickle batch —
reporting update seconds and touched docs — and compares against a
from-scratch run over the full corpus. Appends the block to
BENCH/BASELINE.md. Usage:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/bench_incremental.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import CPUS, N_DOCS, SF_NAME, pages_path  # noqa: E402


def main() -> None:
    from pyspark.sql import functions as F

    from fastdup_spark import FastdupSpark, get_spark

    n_docs = N_DOCS.get(SF_NAME, 100_000)
    pp = pages_path(n_docs)
    spark = get_spark("fastdup-bench-incr", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")

    pages = spark.read.parquet(pp).cache()
    # deterministic 90/10 split on url hash (the parquet fixture's warc_ts
    # is TIMESTAMP_NTZ, which ANSI mode refuses to cast to double)
    base = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) != 0)
    batch = pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
    n_batch = batch.count()

    work = "/tmp/fd_bench_incr"
    shutil.rmtree(work, ignore_errors=True)
    fd = FastdupSpark(spark, work)
    t0 = time.time()
    fd.run(base, force=True)
    t_base = round(time.time() - t0, 2)

    t0 = time.time()
    stats = fd.update(batch)
    t_update = round(time.time() - t0, 2)

    # tiny trickle batch (50 modified replicas of existing singleton-ish
    # pages): the steady streaming state
    tiny = (
        pages.orderBy("url").limit(50)
        .withColumn("url", F.concat(F.col("url"), F.lit("?trickle=1")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("interval 90 days"))
    )
    t0 = time.time()
    stats_t = fd.update(tiny)
    t_tiny = round(time.time() - t0, 2)

    # from-scratch comparison over the identical full corpus
    work2 = "/tmp/fd_bench_incr_full"
    shutil.rmtree(work2, ignore_errors=True)
    fd2 = FastdupSpark(spark, work2)
    t0 = time.time()
    fd2.run(pages, force=True)
    t_full = round(time.time() - t0, 2)

    lines = [
        f"incremental bench (n={n_docs}, local[{CPUS}]): base run (90%) "
        f"{t_base}s; update of {n_batch} docs {t_update}s "
        f"(touched {stats['touched_docs']} docs, {stats['new_pairs']} new "
        f"pairs); from-scratch over 100% {t_full}s "
        f"-> update = {t_update / t_full:.2f}x of a full rerun",
        f"50-doc trickle batch: {t_tiny}s, touched {stats_t['touched_docs']}"
        " docs",
    ]
    for ln in lines:
        print(ln)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as f:
        f.write(f"\n## incremental-update bench (sf={SF_NAME})\n\n")
        for ln in lines:
            f.write(f"- {ln}\n")


if __name__ == "__main__":
    main()
