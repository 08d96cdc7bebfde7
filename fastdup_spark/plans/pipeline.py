"""FastdupSpark — the end-to-end engine and its query surface.

Mirrors the reference's two entry points:
  * ``run()`` ≈ fd.run() (/root/reference/fastdup/engine.py:36-158 ->
    fastdup_controller.py:522-653 -> the C++ do_main pipeline,
    __init__.py:401-455): extract -> stats -> signatures -> LSH candidates ->
    verify -> connected components -> outliers, each stage checkpointed.
  * result queries ≈ fd.similarity()/outliers()/connected_components()/
    img_stats()/summary() (fastdup_controller.py:260-520,660-756) — thin
    DataFrame chains over the stage tables.

Scale notes (SURVEY §4): stage boundaries materialize columnar tables exactly
where the reference writes CSVs, giving resumability and cutting lineage; all
joins against the doc catalog broadcast when small; the candidate self-join
and verify joins shuffle on their keys with AQE skew handling; per-stage
counters land in the stage markers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastdup_spark.config import PipelineConfig
from fastdup_spark.functions.lcs import lcs_confirm
from fastdup_spark.functions.signatures import with_signatures
from fastdup_spark.functions.similarity import exact_jaccard_expr, score_pairs
from fastdup_spark.operators.cc import connected_components
from fastdup_spark.operators.dedup import duplicates_to_drop
from fastdup_spark.operators.knn import knn_truncate
from fastdup_spark.operators.lsh import (
    band_buckets, bucket_stats, candidate_pairs, salt_buckets,
)
from fastdup_spark.operators.outliers import best_neighbor, outliers_by_percentile
from fastdup_spark.operators.stats import doc_stats as doc_stats_op
from fastdup_spark.operators.stats import summary_stats
from fastdup_spark.plans.store import StageStore

STAGES = ["extracted", "doc_stats", "signatures", "buckets",
          "candidates", "pairs_scored", "similarity", "knn", "containment",
          "assignments", "component_info", "best_nn", "outliers"]


def near_dup_pipeline(docs: DataFrame, cfg: PipelineConfig | None = None,
                      id_col: str = "doc_id", text_col: str = "text"):
    """In-memory (storeless) MinHash->LSH->verify->CC chain over any
    DataFrame with (id, text) — the flagship query in library form.

    Returns dict of DataFrames: sigs, candidates, pairs (scored), edges
    (>= threshold), assignments.
    """
    cfg = cfg or PipelineConfig()
    sigs = with_signatures(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")), cfg
    ).select("doc_id", "minhash", "shingles")
    # sigs (the expensive pandas-UDF stage) feeds band_buckets AND two shingle
    # joins; salted feeds bucket counters and the self-join. Without a
    # checkpoint the UDF + band explode re-run 3-4x (the staged run() path
    # materializes stage tables instead, so it never hits this).
    sigs = sigs.localCheckpoint(eager=True)
    buckets = band_buckets(sigs, cfg.lsh_bands, cfg.lsh_rows)
    stats = bucket_stats(buckets)
    # dup_only: this salted table feeds ONLY the candidate self-join (the
    # staged run persists the full table as the search index instead), so
    # singleton-bucket rows — 96% of rows at sf1 — are dropped before the
    # checkpoint and the self-join shuffle ever see them
    salted = salt_buckets(buckets, stats, cfg.max_bucket_size,
                          cfg.bucket_salt_target, dup_only=True)
    salted = salted.localCheckpoint(eager=True)
    cands = candidate_pairs(salted, prefilter=False)
    sh = sigs.select("doc_id", "shingles")
    pairs = (
        cands
        .join(sh.select(F.col("doc_id").alias("src"), F.col("shingles").alias("sh_a")), "src")
        .join(sh.select(F.col("doc_id").alias("dst"), F.col("shingles").alias("sh_b")), "dst")
        .withColumn("jaccard", exact_jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .select("src", "dst", "jaccard")
    )
    edges = pairs.filter(F.col("jaccard") >= cfg.threshold)
    asg = connected_components(edges.select("src", "dst"),
                               vertices=sigs.select("doc_id"))
    return {"sigs": sigs, "candidates": cands, "pairs": pairs,
            "edges": edges, "assignments": asg}


def _record_outlier_cutoff(fd, extra: dict | None = None) -> None:
    """Stamp the realized outlier cutoff (max best_sim in the written
    table) into the outliers marker — the next update batch prunes its
    best_nn scan at this value instead of re-running the percentile job.
    ``extra`` counters (e.g. which rank path the cut took) ride along for
    observability/tests. The max comes from the table's footer stats (exact,
    no Spark job); a table without them (ORC, an empty table) aggregates."""
    c = fd.store.footer_max("outliers", "best_sim")
    if c is None:
        c = fd.store.read(fd.spark, "outliers").agg(F.max("best_sim")).first()[0]
    m = fd.store.read_marker("outliers") or {}
    fd.store.refresh_marker(
        "outliers", fd._chash,
        counters={**m.get("counters", {}), **(extra or {}),
                  "cutoff": None if c is None else float(c)})


def derived_table_writers(fd, docs: DataFrame, scored: DataFrame,
                          sim: DataFrame, done=lambda stage: False):
    """Full rebuild of the doc-keyed derived tables from the verified pair
    table, as three independent thunks — knn | best_nn -> outliers |
    assignments -> component_info — for the caller to run concurrently:
    run() submits them to its stage pool, update()'s rebuild finalize to
    its own thread pool.

    ``docs`` (doc_id, ...) gives every doc a best_nn row and a singleton
    component; ``scored`` is pairs_scored; ``sim`` its >= threshold edges.
    ``done(stage)`` skips stages already complete under resume. Every
    table is hash-sharded by pmod(id, fd.n_shards), the layout the scoped
    update path rewrites shard by shard."""
    cfg, store, chash = fd.config, fd.store, fd._chash

    def knn():
        # top nearest_neighbors_k=2 neighbors PER DOC, directed
        # (reference fastdup/__init__.py:486,574 — W2): bounds the
        # table to <= k rows/doc even when a giant dup clique makes the
        # full edge set quadratic in clique size
        if not done("knn"):
            store.write_sharded(knn_truncate(sim, cfg.knn_k), "knn", chash,
                                fd.n_shards, counters={"k": cfg.knn_k})

    def best_nn_outliers():
        # (ref: bottom 5% NN distance) best_nn persists as its own stage so
        # updates re-derive it only for docs touched by new edges
        if not done("best_nn"):
            bn = best_neighbor(docs, scored, sim_col="jaccard")
            # shard files sorted by best_sim: the outlier cut's pushed
            # range predicate skips row groups on update batches
            store.write_sharded(bn, "best_nn", chash, fd.n_shards,
                                sort_within=["best_sim"])
        if not done("outliers"):
            n_docs = (store.read_json("extract_counts") or {}).get("valid")
            out = outliers_by_percentile(store.read(fd.spark, "best_nn"),
                                         cfg.outlier_pct, n=n_docs)
            store.write_sharded(out, "outliers", chash, fd.n_shards)
            _record_outlier_cutoff(fd)

    def components():
        # (ref: CC at ccthreshold)
        if not done("assignments"):
            edges = scored.filter(F.col("jaccard") >= cfg.cc_threshold) \
                          .select("src", "dst")
            asg = connected_components(edges, vertices=docs.select("doc_id"))
            store.write_sharded(asg, "assignments", chash, fd.n_shards)
        if not done("component_info"):
            info = store.read(fd.spark, "assignments").groupBy(
                "component_id").agg(F.count("*").alias("count"))
            store.write_sharded(info, "component_info", chash, fd.n_shards,
                                id_col="component_id")

    return knn, best_nn_outliers, components


def search_corpus(queries: DataFrame, corpus_sigs: DataFrame,
                  corpus_buckets: DataFrame, cfg: PipelineConfig,
                  k: int = 10, threshold: float | None = None,
                  exclude_self: bool = False,
                  broadcast_queries: bool = True,
                  id_col: str = "query_id", text_col: str = "text",
                  query_sigs: DataFrame | None = None) -> DataFrame:
    """Set-vs-corpus search (the reference's search run mode is inherently
    set-vs-set: every query row lands in one search.csv,
    /root/reference/fastdup/__init__.py:2162-2238, RUN.md:189-192).

    Signatures the WHOLE query DataFrame in one pandas-UDF pass, band-joins
    the corpus bucket index once, verifies exact Jaccard per (query,
    candidate), and ranks top-k per query — one distributed job for the
    entire query set instead of a driver round-trip per query.

    ``queries``: (query_id, text). ``corpus_sigs``: (doc_id, shingles).
    ``corpus_buckets``: (doc_id, band_id, bucket) — the persisted index
    (salt column, if present, is ignored: salting only matters for the
    corpus self-join). ``broadcast_queries`` hints the band join; disable
    for query sets too large to broadcast (the join then shuffles on
    (band_id, bucket), which is the right plan for set-vs-set scale).

    Returns (query_id, doc_id, jaccard, rank) with rank = row_number per
    query by (jaccard desc, doc_id) — deterministic. ``threshold`` filters
    before ranking (the >= cfg.threshold regime is where LSH candidate
    generation is exhaustive, so results are brute-force-exact there).

    ``query_sigs`` (query_id, minhash, shingles) skips the query-side
    signature pass when the caller already has signatures for the query
    rows (e.g. the queries are a slice of an already-signatured corpus —
    same text, same config -> identical signatures by determinism).
    """
    if query_sigs is not None:
        qsig = query_sigs.select("query_id", "minhash", "shingles")
    else:
        q = queries.select(F.col(id_col).alias("query_id"),
                           F.col(text_col).alias("text"))
        qsig = with_signatures(q, cfg).select(
            "query_id", "minhash", "shingles").localCheckpoint(eager=True)
    qb = band_buckets(qsig, cfg.lsh_bands, cfg.lsh_rows, id_col="query_id") \
        .select(F.col("doc_id").alias("query_id"), "band_id", "bucket")
    if broadcast_queries:
        qb = F.broadcast(qb)
    cand = (
        corpus_buckets.select("doc_id", "band_id", "bucket")
        .join(qb, ["band_id", "bucket"])
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("doc_id"))
    qsh = qsig.select("query_id", F.col("shingles").alias("q_sh"))
    scored = (
        cand
        .join(corpus_sigs.select("doc_id", "shingles"), "doc_id")
        .join(F.broadcast(qsh) if broadcast_queries else qsh, "query_id")
        .withColumn("jaccard", F.round(
            exact_jaccard_expr(F.col("shingles"), F.col("q_sh")), 6))
        .select("query_id", "doc_id", "jaccard")
    )
    if threshold is not None:
        scored = scored.filter(F.col("jaccard") >= threshold)
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("jaccard"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


class FastdupSpark:
    """create(work_dir) -> run(pages) -> query results (fastdup v1 API shape)."""

    def __init__(self, spark: SparkSession, work_dir: str,
                 config: PipelineConfig | None = None,
                 store_format: str = "parquet") -> None:
        self.spark = spark
        self.config = config or PipelineConfig()
        # store_format="iceberg" on deployments with the Iceberg runtime;
        # the stage-store interface is format-agnostic (plans/store.py)
        self.store = StageStore(work_dir, fmt=store_format)
        self._chash = self.config.config_hash()
        self._n_shards: int | None = None

    @property
    def n_shards(self) -> int:
        """Hash-bucket count for the doc-keyed stage tables. Resolution
        order: explicit config -> persisted layout (store_layout.json,
        written at the first run so later updates keep the layout) ->
        legacy marker params -> auto from the extracted corpus size."""
        if self._n_shards is None:
            from fastdup_spark.config import resolve_store_shards
            if self.config.store_shards:
                self._n_shards = int(self.config.store_shards)
            else:
                layout = self.store.read_json("store_layout")
                params = self.store.shard_params("knn")
                if layout and layout.get("n_shards"):
                    self._n_shards = int(layout["n_shards"])
                elif params:
                    self._n_shards = params[1]
                else:
                    counts = self.store.read_json("extract_counts") or {}
                    self._n_shards = resolve_store_shards(
                        counts.get("valid", 0) + counts.get("bad", 0),
                        self.spark.sparkContext.defaultParallelism)
        return self._n_shards

    def _resolve_layout(self, pages: DataFrame, est_rows: int | None) -> int:
        """Pick and persist the shard layout before the first sharded write.
        ``est_rows`` (when the caller can estimate without a Spark job, e.g.
        WARC archive bytes / typical page size) avoids counting an input
        whose lineage is expensive; otherwise one count of the RAW input
        runs (metadata-cheap for file sources)."""
        from fastdup_spark.config import resolve_store_shards
        if self.config.store_shards:
            n_sh = int(self.config.store_shards)
        else:
            layout = self.store.read_json("store_layout")
            if layout and layout.get("n_shards"):
                n_sh = int(layout["n_shards"])
            else:
                n_sh = resolve_store_shards(
                    est_rows if est_rows is not None else pages.count(),
                    self.spark.sparkContext.defaultParallelism)
        self.store.write_json({"n_shards": n_sh, "sharded_by": "doc_id"},
                              "store_layout")
        self._n_shards = n_sh
        return n_sh

    # ------------------------------------------------------------------ run
    def run(self, pages: DataFrame | None = None, input_path: str | None = None,
            force: bool = False, input_format: str = "parquet") -> dict:
        """Execute all stages; each is skipped when its completion marker
        matches the current config (resume semantics, ref run_mode=2/resume).
        Returns the run summary dict. ``input_format``: 'parquet' (or any
        Spark batch format name, e.g. 'iceberg' on deployments with the
        runtime) or 'warc' (.warc/.warc.gz archives via sources/warc.py)."""
        cfg = self.config
        est_rows = None
        if pages is None:
            if input_path is None:
                raise ValueError("pass pages DataFrame or input_path")
            if input_format == "warc":
                from fastdup_spark.sources.warc import read_warc_pages
                pages = read_warc_pages(self.spark, input_path).drop("warc_file")
                # counting would re-run the whole archive parse; a byte-size
                # estimate (~4 KB/page) is plenty for a pow2-quantized shard
                # count (estimate only shapes the layout, never correctness)
                import os as _os
                total = 0
                for root, _d, files in _os.walk(input_path) if _os.path.isdir(input_path) else []:
                    total += sum(_os.path.getsize(_os.path.join(root, f)) for f in files)
                if not total and _os.path.isfile(input_path):
                    total = _os.path.getsize(input_path)
                est_rows = total // 4096
            else:
                pages = self.spark.read.format(input_format).load(input_path)

        import time
        t_run_start = time.time()

        def done(stage: str) -> bool:
            return (not force) and cfg.resume and self.store.is_complete(stage, self._chash)

        # --- stage 1: extract + quarantine (ref: decode + bad-files list) ---
        # ONE pass of the extraction UDF; valid and quarantined rows land in
        # the same table partitioned by is_valid, so docs()/quarantine() are
        # partition-pruned reads (the UDF would otherwise run once per sink).
        # The table is additionally hash-bucketed by pmod(doc_id, n_shards)
        # (≈ Iceberg bucket(N, doc_id)) so incremental batches prune their
        # membership / idempotency / text-fetch reads to touched shards at
        # the file index instead of scanning the full corpus. The write pays
        # one shuffle of the extracted text for that layout — the same price
        # an Iceberg bucket-partitioned ingest pays, once, at ingest.
        if not done("extracted"):
            from fastdup_spark.functions.extract import extract_pages
            from fastdup_spark.plans.store import SHARD_COL, shard_expr
            n_sh = self._resolve_layout(pages, est_rows)
            ext = extract_pages(pages, cfg.min_text_chars) \
                .withColumn(SHARD_COL, shard_expr("doc_id", n_sh)) \
                .repartition(F.col(SHARD_COL))
            marker = self.store.write(
                ext, "extracted", self._chash,
                partition_by=["is_valid", SHARD_COL],
                counters={"sharded_by": "doc_id", "n_shards": n_sh})
            n_bad = sum(f["rows"] for f in marker["files"]
                        if "is_valid=false" in f["file"])
            self.store.write_json({"valid": marker["rows"] - n_bad, "bad": n_bad},
                                  "extract_counts")
        docs = self.docs()

        # Independent stages are submitted from SEPARATE DRIVER THREADS:
        # Spark schedules concurrent jobs onto the same executor pool, so one
        # stage's serial driver overhead (planning, commit, marker IO)
        # overlaps another's compute — on a real cluster this is what keeps
        # 1000 executors busy between stage boundaries. The pool lives
        # inside one try/finally so any stage failure still drains in-flight
        # writes before the error propagates (no orphaned non-daemon threads).
        from concurrent.futures import ThreadPoolExecutor
        pool = ThreadPoolExecutor(max_workers=4)
        try:
            self._run_stages(pool, docs, cfg, done)
        finally:
            pool.shutdown(wait=True)

        # --- summary + manifest (ref: config.json + summary()) ---
        # scalar counts come from the stage markers — no table re-scans
        counts = self.store.read_json("extract_counts") or {}
        n_valid = counts.get("valid", 0)
        n_bad = counts.get("bad", 0)
        summ = summary_stats(
            n_pages=n_valid + n_bad, n_valid=n_valid, n_quarantined=n_bad,
            component_info=self.store.read(self.spark, "component_info"),
            n_pairs=self.store.read_marker("similarity")["rows"],
            n_outliers=self.store.read_marker("outliers")["rows"],
        )
        # per-stage completion offsets (seconds since run start, from marker
        # mtimes — free observability; stages skipped by resume are omitted)
        import os
        stage_s = {}
        for s in STAGES:
            mp = self.store.marker_path(s)
            if os.path.exists(mp) and os.path.getmtime(mp) >= t_run_start:
                stage_s[s] = round(os.path.getmtime(mp) - t_run_start, 2)
        manifest = {"config": self.config.to_dict(), "config_hash": self._chash,
                    "summary": summ, "stage_completed_s": stage_s}
        self.store.write_json(manifest, "run_manifest")
        return summ

    def _run_stages(self, pool, docs, cfg, done) -> None:
        """Stages 2-7 (everything between extract and the manifest), sharing
        one driver thread pool for concurrent stage submission."""
        # --- stage 2: per-doc stats (ref: atrain_stats.csv) ---
        # independent of the signature path -> runs alongside stages 3-5
        def _doc_stats():
            if not done("doc_stats"):
                st = doc_stats_op(docs.select("doc_id", "text"), id_col="doc_id")
                self.store.write(st, "doc_stats", self._chash)
        doc_stats_fut = pool.submit(_doc_stats)

        # --- stage 3: signatures (ref: atrain_features.dat) ---
        if not done("signatures"):
            sigs = with_signatures(docs, cfg).select(
                "doc_id", "minhash", "simhash", "shingles", "n_shingles")
            # same bucket(N, doc_id) layout as `extracted`: incremental
            # idempotency reads prune to the batch's shards (verdict r5 #2)
            self.store.write_sharded(sigs, "signatures", self._chash,
                                     self.n_shards)
        sigs = self.store.read(self.spark, "signatures")

        # --- stage 4: LSH index + candidates (ref: HNSW index + k-NN probe) ---
        if not done("buckets"):
            buckets = band_buckets(sigs, cfg.lsh_bands, cfg.lsh_rows)
            stats = bucket_stats(buckets)
            salted = salt_buckets(buckets, stats, cfg.max_bucket_size, cfg.bucket_salt_target)
            # the bucket table IS the persisted searchable index (≈ nnf.index);
            # band_hash stamps the hash-fn version so later probes
            # (incremental tripwires) detect a stale index
            from fastdup_spark.operators.lsh import BAND_HASH_VERSION
            self.store.write(salted, "buckets", self._chash,
                             counters={"band_hash": BAND_HASH_VERSION})
        salted = self.store.read(self.spark, "buckets")
        if not done("candidates"):
            cands = candidate_pairs(salted)
            # skew counters recomputed from the persisted index table — the
            # aggregate runs on a pool thread WHILE the candidates table
            # writes; the marker is only published AFTER both finish
            # (write_table leaves no resume-complete marker, so a crash or
            # counter failure mid-way just reruns the stage)
            stats_fut = pool.submit(lambda: bucket_stats(salted).agg(
                F.count("*").alias("n_buckets_ge2"),
                F.coalesce(F.max("bucket_size"), F.lit(0)).alias("max_bucket_size"),
                F.coalesce(F.sum(F.when(F.col("bucket_size") > cfg.max_bucket_size, 1)
                                 .otherwise(0)), F.lit(0)).alias("n_salted_buckets"),
            ).collect()[0])
            self.store.write_table(cands, "candidates")
            srow = stats_fut.result()
            self.store.refresh_marker("candidates", self._chash, counters={
                "n_buckets_ge2": int(srow["n_buckets_ge2"]),
                "max_bucket_size": int(srow["max_bucket_size"]),
                "n_salted_buckets": int(srow["n_salted_buckets"]),
            })
        cands = self.store.read(self.spark, "candidates")

        # --- stage 5: verify (ref: cosine threshold inside edge generation) ---
        if not done("pairs_scored"):
            scored = score_pairs(cands, sigs, cfg.sig_jaccard_prefilter)
            self.store.write(scored, "pairs_scored", self._chash)
        scored = self.store.read(self.spark, "pairs_scored")

        # --- tail stages: four independent groups, submitted concurrently ---
        # similarity table: ALL verified edges >= threshold (the >=0.99
        # dup-pair recall contract is measured here, so no truncation).
        # knn derives straight from this in-scope filter of pairs_scored
        # (same rows as the similarity table by construction) — no
        # write->read barrier on the similarity write (round-4 verdict #5).
        sim = scored.filter(F.col("jaccard") >= cfg.threshold) \
                    .select("src", "dst", "jaccard", "sig_jaccard", "hamming")
        knn, best_nn_outliers, components = derived_table_writers(
            self, docs, scored, sim, done)

        def _similarity_knn():
            if not done("similarity"):
                self.store.write(sim, "similarity", self._chash,
                                 counters={"threshold": cfg.threshold})
            knn()

        def _containment():
            # LCS containment confirm: sub-threshold candidates that may be
            # verbatim-containment duplicates (north_rule confirm stage)
            if done("containment"):
                return
            if cfg.lcs_enabled:
                sub = scored.filter(F.col("jaccard") < cfg.threshold).select("src", "dst")
                texts = docs.select("doc_id", "text")
                pt = (
                    sub.join(texts.select(F.col("doc_id").alias("src"),
                                          F.col("text").alias("text_a")), "src")
                       .join(texts.select(F.col("doc_id").alias("dst"),
                                          F.col("text").alias("text_b")), "dst")
                )
                lcs = lcs_confirm(pt, cfg.lcs_cap_chars).filter(
                    F.col("lcs_len") >= cfg.lcs_min_len)
                self.store.write(lcs, "containment", self._chash)
            else:
                self.store.write(
                    self.spark.createDataFrame(
                        [], "src bigint, dst bigint, lcs_len bigint, containment double"),
                    "containment", self._chash)

        futs = [pool.submit(f) for f in
                (_similarity_knn, _containment, components, best_nn_outliers)]
        futs.append(doc_stats_fut)
        for f in futs:
            f.result()

    # -------------------------------------------------------- query surface
    def docs(self) -> DataFrame:
        """Valid extracted docs — a partition-pruned read of `extracted`."""
        return (
            self.store.read(self.spark, "extracted")
            .filter(F.col("is_valid").cast("boolean"))  # partition col reads as string
            .select("doc_id", "url", "warc_ts", "lang", "text")
        )

    def quarantine(self) -> DataFrame:
        """≈ invalid_instances() / atrain_features.bad.csv."""
        return (
            self.store.read(self.spark, "extracted")
            .filter(~F.col("is_valid").cast("boolean"))
            .select("url", "warc_ts", "error_code")
        )

    def doc_stats(self) -> DataFrame:
        """≈ img_stats()."""
        return self.store.read(self.spark, "doc_stats")

    def similarity(self, limit: int | None = None,
                   sort: bool = True) -> DataFrame:
        """≈ fd.similarity(): url-resolved edge list, sorted desc (J1 + T1).

        ``limit`` bounds the result to the strongest N edges and lets Spark
        plan TakeOrderedAndProject (per-partition top-N + single merge)
        instead of a full range-sort shuffle — at 100x scale an unbounded
        global sort over every edge is a trap, so callers wanting a head
        should always pass ``limit``. The default (limit=None, sort=True)
        keeps the reference's fully-sorted similarity.csv export contract
        (/root/reference/RUN.md:45-50) — an explicitly opt-in full sort;
        ``sort=False`` skips ordering entirely (cheapest full export)."""
        cat = self.docs().select("doc_id", "url")
        sim = self.store.read(self.spark, "similarity")
        out = (
            sim.join(cat.select(F.col("doc_id").alias("src"),
                                F.col("url").alias("url_from")), "src")
               .join(cat.select(F.col("doc_id").alias("dst"),
                                F.col("url").alias("url_to")), "dst")
        )
        if not sort:
            # an unordered limit is an arbitrary-N sample, but the caller
            # asked for a bound — honor it rather than silently returning
            # every edge (round-6 review finding)
            return out.limit(limit) if limit is not None else out
        out = out.orderBy(F.desc("jaccard"), "src", "dst")
        return out.limit(limit) if limit is not None else out

    def knn(self) -> DataFrame:
        """≈ similarity.csv at nearest_neighbors_k: top-k neighbors per doc,
        url-resolved, rank ascending (W2 — ref __init__.py:486,574)."""
        cat = self.docs().select("doc_id", "url")
        k = self.store.read(self.spark, "knn")
        return (
            k.join(cat, "doc_id")
             .join(cat.select(F.col("doc_id").alias("nn"),
                              F.col("url").alias("url_nn")), "nn")
             .orderBy("doc_id", "rank")
        )

    def outliers(self, how: str = "one") -> DataFrame:
        """≈ fd.outliers(): bottom-percentile docs with their best neighbor
        (W1). how='all' adds the reference's anti-join refinement
        (/root/reference/fastdup/galleries.py:594-613): drop any outlier
        whose doc also carries a similarity edge at or above the MEAN edge
        strength — keeping only docs that are outliers from *every* angle.
        The mean is a scalar aggregate; membership is a left-anti join."""
        if how not in ("one", "all"):
            raise ValueError(f"how must be 'one' or 'all', got {how!r}")
        out = self.store.read(self.spark, "outliers")
        if how == "all":
            sim = self.store.read(self.spark, "similarity")
            mean_j = sim.agg(F.avg("jaccard")).first()[0]
            if mean_j is not None:
                strong = sim.filter(F.col("jaccard") >= mean_j)
                members = (
                    strong.select(F.col("src").alias("doc_id"))
                    .unionByName(strong.select(F.col("dst").alias("doc_id")))
                    .distinct()
                )
                out = out.join(members, "doc_id", "left_anti")
        cat = self.docs().select("doc_id", "url")
        return out.join(cat, "doc_id").orderBy("best_sim", "doc_id")

    def components(self, include_singletons: bool = False) -> DataFrame:
        """≈ fd.connected_components(): (doc_id, component_id, url, count);
        singletons dropped by default (ref fastdup_controller.py:440)."""
        asg = self.store.read(self.spark, "assignments")
        info = self.store.read(self.spark, "component_info")
        df = asg.join(F.broadcast(info.filter(
            F.col("count") >= (1 if include_singletons else 2))), "component_id")
        return df.join(self.docs().select("doc_id", "url"), "doc_id")

    def components_grouped(self, min_size: int = 2, sort_by: str = "count",
                           ascending: bool = False, limit: int | None = None,
                           max_members: int = 1000) -> DataFrame:
        """≈ fd.connected_components_grouped() / find_top_components (A1+T3):
        one row per component with member lists + aggregates. Member arrays
        are capped at ``max_members`` (first N in sorted order) while
        ``count`` stays the TRUE size — an unbounded collect_list would make
        one mega-component row OOM-sized at scale (the reference galleries
        also head-limit displayed members, galleries.py find_top_components)."""
        from pyspark.sql import Window
        df = self.components(include_singletons=(min_size <= 1))
        # cap BEFORE the aggregation (row_number per component), so the
        # collect_list never holds more than max_members elements per group —
        # slicing after collect would still materialize the mega-array
        w_u = Window.partitionBy("component_id").orderBy("url")
        w_d = Window.partitionBy("component_id").orderBy("doc_id")
        pre = (
            df.withColumn("_ru", F.row_number().over(w_u))
              .withColumn("_rd", F.row_number().over(w_d))
        )
        grouped = (
            pre.groupBy("component_id")
            .agg(
                F.count("*").alias("count"),
                F.sort_array(F.collect_list(
                    F.when(F.col("_ru") <= max_members, F.col("url"))
                )).alias("urls"),
                F.sort_array(F.collect_list(
                    F.when(F.col("_rd") <= max_members, F.col("doc_id"))
                )).alias("doc_ids"),
            )
            .filter(F.col("count") >= min_size)
        )
        grouped = grouped.orderBy(
            F.asc(sort_by) if ascending else F.desc(sort_by), "component_id")
        return grouped.limit(limit) if limit else grouped

    def component_pairs(self) -> DataFrame:
        """≈ hierarchical similarity between components (J11,
        galleries.py:223-266): edge endpoints mapped to their components,
        grouped to (comp_a, comp_b, max_jaccard, n_edges)."""
        asg = self.store.read(self.spark, "assignments")
        sim = self.store.read(self.spark, "similarity")
        e = (
            sim.join(asg.select(F.col("doc_id").alias("src"),
                                F.col("component_id").alias("comp_a")), "src")
               .join(asg.select(F.col("doc_id").alias("dst"),
                                F.col("component_id").alias("comp_b")), "dst")
               .filter(F.col("comp_a") != F.col("comp_b"))
        )
        return (
            e.select(F.least("comp_a", "comp_b").alias("comp_a"),
                     F.greatest("comp_a", "comp_b").alias("comp_b"), "jaccard")
            .groupBy("comp_a", "comp_b")
            .agg(F.max("jaccard").alias("max_jaccard"), F.count("*").alias("n_edges"))
        )

    def duplicates(self, keep: str = "min_id") -> DataFrame:
        """≈ remove_duplicates/delete_components decision table (W4):
        non-survivor docs of every component ≥ 2. ``keep`` picks the
        survivor: "min_id" (reference-faithful default) or "longest"
        (keep the member with the most extracted characters — the
        common LLM-pipeline policy; ties -> min doc_id)."""
        asg = self.store.read(self.spark, "assignments")
        scores = self._keep_scores(keep)
        return duplicates_to_drop(asg, scores=scores).join(
            self.docs().select("doc_id", "url"), "doc_id")

    def _keep_scores(self, keep: str):
        if keep == "min_id":
            return None
        if keep == "longest":
            return self.docs().select(
                "doc_id", F.length("text").alias("score"))
        raise ValueError(
            f"keep must be 'min_id' or 'longest', got {keep!r}")

    def write_deduped(self, path: str, fmt: str = "parquet",
                      keep: str = "min_id") -> dict:
        """≈ delete_components / remove duplicates run to completion
        (/root/reference/fastdup/fastdup_controller.py delete_components;
        the reference deletes image files in place): materialize the
        CLEANED corpus — valid docs minus every non-survivor of a ≥2
        component (same decision table as `duplicates()`; ``keep``
        picks the survivor policy) — to a new table instead of mutating
        the input (immutable-lake semantics). Returns {kept, dropped}."""
        drops = duplicates_to_drop(
            self.store.read(self.spark, "assignments"),
            scores=self._keep_scores(keep)).select("doc_id")
        out = self.docs().join(drops, "doc_id", "left_anti")
        out.write.mode("overwrite").format(fmt).save(path)
        info = self.store.read(self.spark, "component_info")
        n_dropped = info.filter(F.col("count") >= 2).agg(
            F.coalesce(F.sum(F.col("count") - 1), F.lit(0))).first()[0]
        n_valid = (self.store.read_json("extract_counts") or {}).get("valid", 0)
        return {"kept": int(n_valid - n_dropped), "dropped": int(n_dropped)}

    def containment(self) -> DataFrame:
        return self.store.read(self.spark, "containment")

    def summary(self) -> dict:
        m = self.store.read_json("run_manifest")
        return m["summary"] if m else {}

    def export(self, stage: str, path: str, fmt: str = "csv") -> None:
        """≈ the reference's CSV result sinks (S9: similarity.csv,
        connected_components.csv, ...): materialize a stage table to csv/json
        for downstream consumers. Array columns are stringified for csv."""
        df = self.store.read(self.spark, stage)
        if fmt == "csv":
            for f in df.schema.fields:
                if f.dataType.typeName() in ("array", "struct", "map", "binary"):
                    df = df.withColumn(f.name, F.to_json(F.col(f.name)))
            df.write.mode("overwrite").option("header", True).csv(path)
        else:
            df.write.mode("overwrite").format(fmt).save(path)

    def update(self, new_pages: DataFrame) -> dict:
        """Incremental ingest of a new page batch (streaming analog, §2.8)."""
        from fastdup_spark.streaming.incremental import incremental_update
        return incremental_update(self, new_pages)

    # --- human-review round-trip (text analog of the reference's CVAT
    # integration, /root/reference/fastdup/cvat.py) — plans/review.py ---

    def export_review_tasks(self, path: str, lo: float | None = None,
                            hi: float | None = None,
                            limit: int | None = None) -> int:
        """Write the decision band of scored pairs as Label-Studio-style
        task JSON for human review; returns the task count."""
        from fastdup_spark.plans.review import export_review_tasks
        return export_review_tasks(self, path, lo=lo, hi=hi, limit=limit)

    def apply_review(self, results) -> int:
        """Ingest completed review verdicts (a path to the labeling tool's
        export, or an already-read (src, dst, verdict) DataFrame) into the
        ``review_overrides`` table; returns the total override count."""
        from fastdup_spark.plans.review import apply_review, read_review_results
        if isinstance(results, str):
            results = read_review_results(self.spark, results)
        return apply_review(self, results)

    def reviewed_components(self, include_singletons: bool = False) -> DataFrame:
        """components() recomputed with human overrides applied: rejected
        edges removed, confirmed below-threshold pairs added."""
        from fastdup_spark.plans.review import reviewed_components
        return reviewed_components(self, include_singletons=include_singletons)

    def pagerank(self) -> DataFrame:
        """≈ the pagerank/delta columns of connected_components.csv (A15,
        run_pagerank toggle): per-doc rank over the similarity graph."""
        from fastdup_spark.operators.pagerank import pagerank as _pr
        edges = self.store.read(self.spark, "similarity").select("src", "dst")
        return _pr(edges, vertices=self.docs().select("doc_id"))

    def report(self, num_items: int = 20, fmt: str = "md",
               save_path: str | None = None) -> str:
        """≈ the five galleries rendered post-run. fmt='md' (text analog) or
        'html' (the reference's native deliverable, galleries.py:268-1728);
        optionally written to ``save_path``."""
        if fmt == "html":
            from fastdup_spark.plans.html_report import full_html_report
            out = full_html_report(self, num_items)
        elif fmt == "md":
            from fastdup_spark.plans.report import full_report
            out = full_report(self, num_items)
        else:
            raise ValueError(f"fmt must be 'md' or 'html', got {fmt!r}")
        if save_path:
            with open(save_path, "w", encoding="utf-8") as f:
                f.write(out)
        return out

    # ---------------------------------------------------------- annotations
    def set_annotations(self, annot: DataFrame | dict | str,
                        on: str = "url") -> None:
        """≈ run(annotations=...): persist a user annotation table keyed by
        url. Accepts a DataFrame, a CSV path, a COCO JSON path (*.json), or
        a COCO dict (ref fastdup_controller.py:560-586 accepts df / CSV /
        COCO dict; the COCO flatten is sources/coco.py)."""
        if isinstance(annot, dict) or (
                isinstance(annot, str) and annot.endswith(".json")):
            from fastdup_spark.sources.coco import coco_to_annotations
            annot = coco_to_annotations(self.spark, annot)
        elif isinstance(annot, str):
            annot = self.spark.read.option("header", True).csv(annot)
        if on not in annot.columns:
            raise ValueError(f"annotation DataFrame needs a '{on}' column")
        self.store.write(annot, "annotations", self._chash)

    def annotations(self) -> DataFrame:
        """≈ fd.annotations(): docs ⟗ annotations with VALID /
        MISSING_ANNOTATION / MISSING_DOC status (J5)."""
        from fastdup_spark.operators.labels import expand_with_annotations
        annot = self.store.read(self.spark, "annotations")
        return expand_with_annotations(self.docs(), annot, on="url")

    def similarity_with_labels(self) -> DataFrame:
        """≈ similarity() enriched with per-side labels (J4)."""
        from fastdup_spark.operators.labels import enrich_pairs_with_labels
        annot = self.store.read(self.spark, "annotations")
        labels = self.docs().select("doc_id", "url").join(annot, "url", "left") \
            .select("doc_id", "label")
        sim = self.store.read(self.spark, "similarity")
        return enrich_pairs_with_labels(sim, labels)

    def sample_components(self, howmany: int = 3) -> DataFrame:
        """W7 uniform sampling: ntile-spaced members per component ≥ 2
        (ref utils.py:455-476)."""
        from pyspark.sql import Window
        df = self.components()
        w = Window.partitionBy("component_id").orderBy("doc_id")
        wt = Window.partitionBy("component_id", "tile").orderBy("doc_id")
        return (
            df.withColumn("tile", F.ntile(howmany).over(w))
            .withColumn("rn", F.row_number().over(wt))
            .filter("rn = 1")
            .select("component_id", "doc_id", "url", "tile")
        )

    def kmeans(self, k: int = 8, n_iter: int = 2,
               force: bool = False) -> dict[str, DataFrame]:
        """≈ the reference's kmeans run mode over its OWN features
        (/root/reference/fastdup/__init__.py:2681-2744; sinks
        kmeans_centroids.csv / kmeans_assignments.csv,
        definitions.py:17,19): deterministic Lloyd's over the pipeline's
        doc_stats metric vectors, persisted as the resume-skippable
        `kmeans_assignments` / `kmeans_centroids` stage tables. A rerun
        with the same (k, n_iter) under the same config skips; changed
        params or force=True recompute."""
        from fastdup_spark.operators.kmeans import kmeans_fit

        params = {"k": k, "n_iter": n_iter, "features": "doc_stats"}

        def _complete(stage: str) -> bool:
            if force or not self.config.resume or \
                    not self.store.is_complete(stage, self._chash):
                return False
            m = self.store.read_marker(stage)
            return bool(m) and all(
                m.get("counters", {}).get(kk) == vv for kk, vv in params.items())

        if not (_complete("kmeans_assignments") and _complete("kmeans_centroids")):
            res = kmeans_fit(self._metric_vectors(), k=k, n_iter=n_iter,
                             id_col="doc_id", vec_col="features")
            self.store.write(res["assignments"], "kmeans_assignments",
                             self._chash, counters=params)
            self.store.write(res["centroids"], "kmeans_centroids",
                             self._chash, counters=params)
        return {
            "assignments": self.store.read(self.spark, "kmeans_assignments"),
            "centroids": self.store.read(self.spark, "kmeans_centroids"),
        }

    def _metric_vectors(self) -> DataFrame:
        """(doc_id, features array<double>) from the doc_stats metrics —
        the default feature space for fd.kmeans / fd.semdedup."""
        st = self.store.read(self.spark, "doc_stats")
        feat_cols = ["n_chars", "n_tokens", "n_lines",
                     "distinct_token_ratio", "repeated_line_ratio",
                     "digit_ratio", "punct_ratio", "avg_token_len"]
        # coalesce: a null metric (e.g. avg_token_len on a token-free
        # doc) must not null-poison the whole distance computation
        return st.select(
            "doc_id",
            F.array(*[F.coalesce(F.col(c).cast("double"), F.lit(0.0))
                      for c in feat_cols])
            .alias("features"))

    def semdedup(self, threshold: float = 0.95, k: int = 8,
                 n_iter: int = 2, embeddings: DataFrame | None = None,
                 id_col: str = "doc_id", vec_col: str = "features",
                 max_cluster_size: int | None = None,
                 ) -> dict[str, DataFrame]:
        """SemDeDup semantic dedup (operators/semdedup.py, Abbas et al.
        2023) over an embedding table — by default the doc_stats metric
        vectors, Z-SCORED per dimension: the raw count features are
        all-positive and scale-dominated, so their cosines are all ~1 and
        the whole corpus would merge into a handful of groups;
        standardizing makes cosine discriminative while identical docs
        still standardize to identical vectors. Pass ``embeddings`` (e.g.
        an fd.enrich output) for a real model space. Returns
        {"assignments", "edges", "decisions"}; decisions.is_survivor marks
        the keep-one-per-duplicate-group choice (farthest from its cluster
        centroid, ties to the smallest id)."""
        from fastdup_spark.operators.semdedup import semdedup as _semdedup

        if embeddings is None:
            vecs = self._metric_vectors()
            dims = (vecs.select(F.posexplode("features").alias("i", "x"))
                    .groupBy("i")
                    .agg(F.avg("x").alias("m"), F.stddev_pop("x").alias("s"))
                    .collect())
            ms = {r["i"]: (r["m"], r["s"] if r["s"] else 1.0) for r in dims}
            z = F.array(*[
                (F.element_at("features", i + 1) - F.lit(ms[i][0]))
                / F.lit(ms[i][1])
                for i in sorted(ms)])
            embeddings = vecs.select("doc_id", z.alias("features"))
        return _semdedup(embeddings, k=k, n_iter=n_iter,
                         threshold=threshold, id_col=id_col,
                         vec_col=vec_col,
                         max_cluster_size=max_cluster_size)

    def enrich(self, model_fn=None, output_schema: str | None = None,
               name: str | None = None, force: bool = False) -> DataFrame:
        """Pluggable model-enrichment stage (round-3 verdict item #4; the
        reference's captions/tagging/embedding-model run modes,
        /root/reference/fastdup/captions.py:1-150, embeddings_timm.py):
        run a user BATCH model over the valid docs and persist the outputs
        as the resume-skippable `enrichment` stage table.

        ``model_fn``: Callable[[pd.DataFrame], pd.DataFrame] — receives
        Arrow batches with (doc_id, url, text), returns a frame matching
        ``output_schema`` (must include doc_id). Runs inside mapInPandas:
        vectorize the body (numpy/pandas or a real model's batch predict).
        Defaults to the built-in deterministic hashing embedder
        (functions/enrich.py), whose (doc_id, embedding) output feeds
        `build_embedding_index(fd.enrich(), id_col="doc_id",
        vec_col="embedding")` directly.

        A rerun with the same (config, model name, schema) returns the
        persisted table without recomputing; a different model name or
        ``force=True`` recomputes."""
        from fastdup_spark.functions.enrich import (
            HASHING_EMBEDDER_SCHEMA, hashing_embedder,
        )
        if model_fn is None:
            model_fn = hashing_embedder()
            output_schema = output_schema or HASHING_EMBEDDER_SCHEMA
        if output_schema is None:
            raise ValueError("output_schema is required for a custom model_fn")
        name = name or getattr(model_fn, "__name__", "custom_model")
        params = {"model": name, "schema": output_schema}

        m = self.store.read_marker("enrichment")
        complete = (not force and self.config.resume
                    and self.store.is_complete("enrichment", self._chash)
                    and m is not None
                    and all(m.get("counters", {}).get(k) == v
                            for k, v in params.items()))
        if not complete:
            docs = self.docs().select("doc_id", "url", "text")

            def _run(it):
                for pdf in it:
                    yield model_fn(pdf)

            out = docs.mapInPandas(_run, output_schema)
            if "doc_id" not in out.columns:
                raise ValueError("enrichment output_schema must keep doc_id")
            self.store.write(out, "enrichment", self._chash, counters=params)
        return self.store.read(self.spark, "enrichment")

    # ------------------------------------------------------------ embeddings
    def build_embedding_index(self, embeddings: DataFrame,
                              n_planes: int | None = 8,
                              n_bands: int = 4, seed: int = 7,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> None:
        """≈ the reference's prebuilt nnf.index for embeddings-given mode
        (run(embeddings=...), fastdup_controller.py:149-155): persist the
        multi-band hyperplane-LSH bucket table as the `emb_index` stage.
        The plane parameters land in the stage marker so `vector_search`
        always probes with the exact planes that built the index.

        ``n_planes=None`` auto-scales the code length to ~log2(n) (one
        count job), clamped to [6, 24]: sign-LSH candidate cost is n^rho
        on near-isotropic data, so the bucket population must grow with
        the corpus to keep expected bucket sizes flat — the fixed default
        of 8 is tuned for the ~500-vector driver scale only."""
        import math

        from fastdup_spark.operators.knn import hyperplane_buckets

        if n_planes is None:
            n = embeddings.count()
            n_planes = max(6, min(24, math.ceil(math.log2(max(n, 2)))))
        idx = hyperplane_buckets(embeddings, n_planes=n_planes,
                                 n_bands=n_bands, seed=seed,
                                 id_col=id_col, vec_col=vec_col)
        self.store.write_table(idx, "emb_index")
        # dim lands in the marker (read from ONE written row via pyarrow —
        # driver-side, no Spark job) so probe paths can rebuild the exact
        # plane sets and validate query width without touching the data
        import pyarrow.dataset as pads
        frag = pads.dataset(self.store.table_path("emb_index"),
                            format=self.store.fmt)
        dim = None
        for batch in frag.to_batches(columns=[vec_col], batch_size=1024):
            col = batch.column(0)
            for i in range(len(col)):
                if col[i].is_valid:
                    dim = len(col[i])
                    break
            if dim is not None:
                break
        if dim is None:
            raise ValueError(
                "build_embedding_index: embeddings DataFrame is empty (or all "
                f"{vec_col!r} values are null) — nothing to index")
        self.store.refresh_marker("emb_index", self._chash, counters={
            "n_planes": n_planes, "n_bands": n_bands, "seed": seed,
            "id_col": id_col, "vec_col": vec_col, "dim": dim,
        })

    def vector_search(self, query_vec, k: int = 10) -> DataFrame:
        """≈ fd.vector_search (/root/reference/fastdup/__init__.py:2063-2303):
        probe the persisted embedding index with a raw vector — multiprobe
        across every band, exact cosine rerank on the candidates only."""
        from fastdup_spark.operators.knn import cosine_topk_lsh
        marker = self.store.read_marker("emb_index")
        if marker is None:
            raise ValueError("no emb_index stage — call build_embedding_index first")
        c = marker["counters"]
        if c.get("dim") is not None and len(query_vec) != c["dim"]:
            raise ValueError(
                f"query dim {len(query_vec)} != index dim {c['dim']}")
        idx = self.store.read(self.spark, "emb_index")
        return cosine_topk_lsh(idx, query_vec, n_planes=c["n_planes"],
                               n_bands=c["n_bands"], seed=c["seed"], k=k,
                               id_col=c["id_col"], vec_col=c["vec_col"])

    def cross_host_pairs(self) -> DataFrame:
        """J10 analog (video cross-dir -> webtext cross-host): similarity
        edges whose endpoints live on different hosts (true mirrors)."""
        sim = self.similarity()
        host = lambda c: F.regexp_extract(c, r"https?://([^/]+)/", 1)  # noqa: E731
        return sim.filter(host(F.col("url_from")) != host(F.col("url_to")))

    def decontaminate(self, eval_texts: DataFrame, n: int = 13,
                      text_col: str = "text") -> DataFrame:
        """GPT-3-style n-gram decontamination of THIS corpus against an
        eval set (Brown et al. 2020 App. C): a doc is contaminated if it
        shares any word n-gram with any eval text. Complements the
        exact/near-dup cross-set probe (operators/crossset.py
        restrict_cross_set) with the partial-overlap form — a single
        quoted benchmark sentence inside an otherwise-novel page.

        ``eval_texts`` needs one string column ``text_col``. Returns
        (doc_id, url, n_matched_ngrams) for contaminated docs. The eval
        n-gram table is exploded map-side and broadcast; the corpus side
        never shuffles."""
        from fastdup_spark.operators.crossset import (
            ngram_overlap_contamination, word_ngrams_expr)

        ev = eval_texts.select(F.explode(
            word_ngrams_expr(F.col(text_col), n)).alias("gram"))
        flagged = ngram_overlap_contamination(
            self.docs().select("doc_id", "text"), ev, n=n)
        return flagged.join(self.docs().select("doc_id", "url"), "doc_id")

    def scrub_pii(self) -> DataFrame:
        """PII-redacted view of the corpus (operators/pii.py): per-class
        counts measured on the stored text plus a redacted clean_text
        column. Map-side only — composes with write_deduped via
        ``fd.scrub_pii().join(fd.duplicates(), ...)`` or any export."""
        from fastdup_spark.operators.pii import scrub_pii as _scrub

        return _scrub(self.docs().select("doc_id", "url", "text"))

    def blocklist(self, words: list[str]) -> DataFrame:
        """Word-blocklist audit over the corpus (operators/cleaning.py):
        exact whitespace-token membership, (doc_id, url, n_hits, matched,
        blocked) per doc."""
        from fastdup_spark.operators.cleaning import blocklist_flags

        return blocklist_flags(self.docs().select("doc_id", "url", "text"),
                               words, id_cols=("doc_id", "url"))

    def perplexity(self, reference: DataFrame | None = None,
                   vocab_size: int = 65_536,
                   text_col: str = "text") -> DataFrame:
        """CCNet-style LM quality scores over the corpus (operators/lm.py
        — Wenzek et al. 2020): train an add-one-smoothed unigram LM on
        ``reference`` (a trusted corpus with a ``text_col`` column; when
        None, on this corpus itself — self-perplexity, the in-distribution
        baseline) and score every document. Returns (doc_id, url,
        n_tokens, logprob_micro, ppl); lower ppl = more natural text.
        Training is one token groupBy + a distributed top-V cut; scoring
        broadcasts the ≤V-row vocab, so the corpus side shuffles once."""
        from fastdup_spark.operators.lm import (score_perplexity,
                                                train_unigram_lm)

        ref = reference if reference is not None \
            else self.docs().select(F.col("text").alias(text_col))
        lm = train_unigram_lm(ref, text_col=text_col,
                              vocab_size=vocab_size)
        scored = score_perplexity(self.docs().select("doc_id", "text"), lm)
        return self.docs().select("doc_id", "url").join(scored, "doc_id")

    def dsir(self, target: DataFrame, n: int, vocab_size: int = 65_536,
             resample_salt: str | None = None,
             text_col: str = "text") -> DataFrame:
        """DSIR data selection (operators/dsir.py — Xie et al. 2023):
        the n docs of THIS corpus most like ``target`` (a DataFrame
        with a ``text_col`` column) by two-LM importance weight.
        Deterministic ranked head-cut by default; pass
        ``resample_salt`` for the paper's Gumbel-top-k importance
        resampling instead. Returns scored rows joined with url."""
        from fastdup_spark.operators.dsir import (
            dsir_resample, dsir_select, fit_dsir)

        t_lm, r_lm = fit_dsir(
            target.select(F.col(text_col).alias("text")),
            self.docs().select("text"), vocab_size=vocab_size)
        d = self.docs().select("doc_id", "text")
        sel = (dsir_select(d, t_lm, r_lm, n) if resample_salt is None
               else dsir_resample(d, t_lm, r_lm, n, salt=resample_salt))
        return sel.join(self.docs().select("doc_id", "url"), "doc_id")

    def learn_bpe(self, n_merges: int, min_count: int = 2):
        """Train a BPE subword vocabulary on the corpus
        (operators/bpe.py — Sennrich et al. 2016 as a Spark job: one
        corpus pass builds the word table, merge steps iterate it).
        Returns (merges, words); feed merges to
        operators.bpe.segment_expr to tokenize new text map-side."""
        from fastdup_spark.operators.bpe import learn_bpe as _learn

        return _learn(self.docs().select("text"), n_merges,
                      min_count=min_count)

    def remove_spans(self, k: int = 50, min_docs: int = 2,
                     max_drop_frac: float = 0.3) -> DataFrame:
        """ExactSubstr-style rewrite of the corpus (operators/exactsubstr.py
        — Lee et al. 2022 at arbitrary offsets): cross-doc duplicated
        >=k-token runs erased from every doc, spans merged, docs losing
        more than ``max_drop_frac`` of their tokens flagged kept=False.
        Returns (doc_id, url, clean_text, n_tokens, n_dropped, n_spans,
        kept). k defaults to 50 tokens, the paper's setting."""
        from fastdup_spark.operators.exactsubstr import (
            remove_duplicated_spans)

        out = remove_duplicated_spans(
            self.docs().select("doc_id", "text"), k=k, min_docs=min_docs,
            max_drop_frac=max_drop_frac)
        return self.docs().select("doc_id", "url").join(out, "doc_id")

    def remove_lines(self, min_docs: int = 2,
                     max_drop_frac: float = 0.3) -> DataFrame:
        """RefinedWeb/FineWeb line-level rewrite of the corpus
        (operators/lines.py): lines duplicated across >= ``min_docs``
        docs dropped everywhere, docs losing more than ``max_drop_frac``
        of their characters flagged kept=False. Returns (doc_id, url,
        clean_text, n_lines, n_dropped, chars_total, chars_dropped,
        kept)."""
        from fastdup_spark.operators.lines import remove_duplicated_lines

        out = remove_duplicated_lines(
            self.docs().select("doc_id", "text"), min_docs=min_docs,
            max_drop_frac=max_drop_frac)
        return self.docs().select("doc_id", "url").join(out, "doc_id")

    def pack(self, capacity: int, n_shards: int | None = None,
             salt: str = "") -> DataFrame:
        """Deterministic training-slot assignment for the corpus
        (operators/packing.py): every doc a whole (shard, bin,
        bin_offset) next-fit slot along the md5 shuffle permutation —
        the release-shape output stage. n_shards defaults to the
        corpus-size heuristic shared with the training-shard writer.
        Returns (doc_id, shard, pos, n_tokens, bin, bin_offset,
        oversize)."""
        from fastdup_spark.operators.packing import pack_sequences
        from fastdup_spark.operators.shards import resolve_n_shards

        d = self.docs().select("doc_id", "text")
        if n_shards is None:
            n_shards = resolve_n_shards(d.count())
        return pack_sequences(d, capacity=capacity, n_shards=n_shards,
                              salt=salt)

    def search_many(self, queries: DataFrame, k: int = 10,
                    threshold: float | None = None,
                    id_col: str = "query_id", text_col: str = "text",
                    broadcast_queries: bool = True) -> DataFrame:
        """≈ the reference's search run mode over a whole query set
        (/root/reference/fastdup/__init__.py:2162-2238: search.csv holds all
        query rows): probe the persisted bucket index with every query in
        ONE job — signature pass, band join, exact-Jaccard verify, top-k
        rank per query — instead of one driver round-trip per query.
        Returns (query_id, doc_id, url, jaccard, rank)."""
        res = search_corpus(
            queries,
            self.store.read(self.spark, "signatures").select("doc_id", "shingles"),
            self.store.read(self.spark, "buckets"),
            self.config, k=k, threshold=threshold,
            id_col=id_col, text_col=text_col,
            broadcast_queries=broadcast_queries)
        return (
            res.join(self.docs().select("doc_id", "url"), "doc_id")
            .select("query_id", "doc_id", "url", "jaccard", "rank")
            .orderBy("query_id", "rank")
        )

    def search(self, query_text: str, k: int = 10) -> DataFrame:
        """≈ fd.search(): probe the persisted bucket index with one query doc.

        The query's signature is computed with the same exprs/UDFs on a 1-row
        DataFrame; its band hashes broadcast-semi-join the bucket table; the
        survivors verify with exact Jaccard against the query's shingles.
        """
        cfg = self.config
        q = self.spark.createDataFrame([(query_text,)], "text string")
        qsig = with_signatures(q, cfg).select(
            F.lit(-1).cast("bigint").alias("doc_id"), "minhash", "shingles")
        qb = band_buckets(qsig, cfg.lsh_bands, cfg.lsh_rows).select("band_id", "bucket")
        buckets = self.store.read(self.spark, "buckets")
        cand_ids = (
            buckets.join(F.broadcast(qb), ["band_id", "bucket"], "left_semi")
            .select("doc_id").distinct()
        )
        sh = self.store.read(self.spark, "signatures").select("doc_id", "shingles")
        # the query's shingle array rides in as a broadcast 1-row join, not a
        # literal expression tree (a 20k-token query doc would otherwise blow
        # up the plan)
        qsh = F.broadcast(qsig.select(F.col("shingles").alias("q_shingles")))
        return (
            cand_ids.join(sh, "doc_id")
            .crossJoin(qsh)
            .select("doc_id", exact_jaccard_expr(
                F.col("shingles"), F.col("q_shingles")).alias("jaccard"))
            .join(self.docs().select("doc_id", "url"), "doc_id")
            .orderBy(F.desc("jaccard"), "doc_id")
            .limit(k)
        )
