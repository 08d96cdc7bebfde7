"""Outlier detection — bottom percentile of best-NN similarity.

Reference: `outliers.csv` keeps the bottom ``lower_threshold`` (default 5%)
percentile of nearest-neighbor distances (/root/reference/fastdup/__init__.py:482,567;
/root/reference/RUN.md:57-68). There every item has dense-embedding NNs; in the
sparse LSH world most docs have *no* candidate at all — those are the most
unique, so they rank before any doc with a weak neighbor. The cut is
rank-based (floor(pct * n) rows ordered by best similarity asc, doc_id as the
deterministic tie-break), which reproduces "bottom p% of NN distances"
without depending on interpolation details.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def best_neighbor(all_docs: DataFrame, scored_pairs: DataFrame,
                  sim_col: str = "jaccard") -> DataFrame:
    """(doc_id) x pairs(src,dst,sim) -> (doc_id, best_sim, best_nn).

    Docs absent from the pair table get best_sim = 0.0, best_nn = NULL.
    """
    sym = scored_pairs.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("nn"), F.col(sim_col).alias("sim")
    ).unionByName(scored_pairs.select(
        F.col("dst").alias("doc_id"), F.col("src").alias("nn"), F.col(sim_col).alias("sim")
    ))
    w = Window.partitionBy("doc_id").orderBy(F.desc("sim"), F.asc("nn"))
    best = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("sim").alias("best_sim"), F.col("nn").alias("best_nn"))
    )
    return (
        all_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("best_sim", F.lit(0.0)).alias("best_sim"),
            "best_nn",
        )
    )


# Target rows per task in the distributed rank phase. 2M narrow rows per
# row_number task is comfortably in-memory; the cap bounds the tiny
# driver-side offset map even at 10^12-row inputs.
_RANK_ROWS_PER_PART = 2_000_000
_RANK_MAX_PARTS = 4096


def _rank_parts(n_pruned: int) -> int:
    return max(1, min(_RANK_MAX_PARTS,
                      -(-max(n_pruned, 1) // _RANK_ROWS_PER_PART)))


def _locally_ranked(pruned: DataFrame, n_pruned: int, sort_col: str,
                    id_col: str, ascending: bool) -> DataFrame:
    """Range-repartition on the composite key, then partition-local
    row_number keyed on spark_partition_id — every window carries a
    partition key."""
    sort_key = F.col(sort_col).asc() if ascending else F.col(sort_col).desc()
    order = [sort_key, F.col(id_col).asc()]
    parts = _rank_parts(n_pruned)
    w = Window.partitionBy("_pid").orderBy(*order)
    return (
        pruned.repartitionByRange(parts, *order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrn", F.row_number().over(w))
    )


def _distributed_rank_head(pruned: DataFrame, k: int, n_pruned: int,
                           sort_col: str, id_col: str,
                           ascending: bool) -> DataFrame:
    """Exact deterministic head-k by (sort_col, id_col) over ``pruned``
    without ever putting all rows through one task.

    Two-level rank: range-repartition on the full composite sort key (so
    partition i sorts entirely before partition i+1, ties included), take a
    partition-local ``row_number`` keyed on ``spark_partition_id``, then add
    cumulative per-partition offsets (a tiny P-row driver map, broadcast
    back). The composite range key makes heavy ties in ``sort_col`` — the
    common case for best_sim==0.0 outliers — spread across partitions
    instead of collapsing into one.

    The ranked frame is eagerly localCheckpoint-ed so the offset-count job
    and the result job see the *same* range-partitioner boundaries (the
    range sampler reseeds per RDD instantiation; without pinning, counts
    and ranks could disagree).
    """
    ranked = _locally_ranked(pruned, n_pruned, sort_col, id_col, ascending)
    if _rank_parts(n_pruned) == 1:
        # single range partition: local rank IS the global rank — skip the
        # checkpoint + offset machinery (3 fewer driver round-trips on the
        # common small-prune path; the multi-partition path below is the
        # 100x-scale plan)
        return (
            ranked.filter(F.col("_lrn") <= k)
            .drop("_pid", "_lrn")
        )
    ranked = ranked.localCheckpoint(eager=True)
    counts = {r["_pid"]: r["_cnt"] for r in
              ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
              .collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = pruned.sparkSession.createDataFrame(
        offsets, "_pid int, _off long")
    return (
        ranked.join(F.broadcast(off_df), "_pid")
        .filter(F.col("_lrn") + F.col("_off") <= k)
        .drop("_pid", "_lrn", "_off")
    )


def exact_rank_head(df: DataFrame, k: int, n: int, sort_col: str,
                    id_col: str, ascending: bool = True,
                    margin: float = 1.5) -> DataFrame:
    """Deterministic exact top/bottom-k by (sort_col, id_col) without a
    global single-partition sort of all ``n`` rows.

    Phase 1: a distributed approx-percentile cutoff prunes to ~margin*k
    survivors; phase 2 runs an exact deterministic *two-level* rank on the
    pruned set (range-partition + local row_number + cumulative offsets —
    no unpartitioned window anywhere, so neither the pruned path nor the
    full-table under-prune fallback funnels rows through one task). If the
    approximate cutoff under-prunes (skewed or heavily-tied distributions
    can make percentile_approx land short of k survivors), fall back to
    ranking the full table — the exact bottom-k contract always wins over
    the shortcut.
    """
    if k <= 0:
        return df.limit(0)
    # NULL sort values never rank (the pruned path's cutoff filter and the
    # fallback's full sort would otherwise disagree on their placement)
    df = df.filter(F.col(sort_col).isNotNull())
    frac = min(1.0, (k / max(n, 1)) * margin)
    q = frac if ascending else 1.0 - frac
    cutoff = df.agg(
        F.percentile_approx(sort_col, q, 10000).alias("c")).collect()[0]["c"]
    if cutoff is None:
        return df.limit(0)
    pruned = df.filter(F.col(sort_col) <= F.lit(cutoff) if ascending
                       else F.col(sort_col) >= F.lit(cutoff))
    n_pruned = pruned.count()
    if n_pruned < k:
        pruned, n_pruned = df, max(n, k)
    return _distributed_rank_head(pruned, k, n_pruned, sort_col, id_col,
                                  ascending)


def outliers_by_percentile(best_nn: DataFrame, pct: float,
                           n: int | None = None) -> DataFrame:
    """Bottom floor(pct*n) docs by (best_sim asc, doc_id asc) — deterministic.

    Pass ``n`` (total docs) when already known from a stage marker to save
    the count job — see `exact_rank_head`.
    """
    if n is None:
        n = best_nn.count()
    return exact_rank_head(best_nn, int(n * pct), n, "best_sim", "doc_id",
                           ascending=True)
