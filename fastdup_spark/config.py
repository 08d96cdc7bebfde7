"""Pipeline configuration.

Knob-for-knob analog of the reference's run() parameters
(/root/reference/fastdup/engine.py:36-158, /root/reference/fastdup/__init__.py:472-620):

    reference                      ours
    ---------                      ----
    threshold=0.9                  threshold (exact-Jaccard edge emission cutoff)
    ccthreshold=0.96               cc_threshold (stricter cutoff for clustering edges)
    lower_threshold=0.05           outlier_pct (bottom percentile of NN similarity)
    nearest_neighbors_k=2          knn_k
    d=576 / 960 (high_accuracy)    n_perm MinHash permutations (+64-bit SimHash)
    nnf_mode HNSW32/Flat           lsh_bands x lsh_rows banding (Flat ≈ verify all in-bucket)
    num_threads                    Spark parallelism (cluster-managed)
    run_mode / resume              StageStore checkpoint markers (resume=True)

Defaults are tuned for webtext near-dup detection where planted/real dup
pairs sit at k-shingle Jaccard >= ~0.85 (FIXTURES.md): banding (32 bands x 4
rows, 128 perms) catches J=0.85 pairs with probability 1-(1-0.85^4)^32 ~= 1-6e-11,
comfortably above the 0.99-recall bar.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- signatures ---
    shingle_k: int = 9            # words per shingle (k-shingling of token stream)
    n_perm: int = 128             # MinHash permutations (sig length)
    minhash_seed: int = 1_000_003 # fixed seed -> fixed permutation constants (determinism)
    simhash_bits: int = 64

    # --- LSH banding (the ANN index; replaces HNSW32) ---
    lsh_bands: int = 32
    lsh_rows: int = 4             # lsh_bands * lsh_rows must == n_perm
    max_bucket_size: int = 5000   # buckets above this are salted into sub-buckets
    bucket_salt_target: int = 500 # target sub-bucket size when salting mega-buckets

    # --- thresholds (fastdup analogs) ---
    threshold: float = 0.85       # exact-Jaccard edge emission (ref: 0.9)
    cc_threshold: float = 0.85    # clustering edge cutoff (ref: ccthreshold=0.96)
    outlier_pct: float = 0.05     # bottom percentile of best-NN similarity (ref: 0.05)
    knn_k: int = 2                # neighbors kept per doc in similarity report (ref: 2)

    # --- verify extras ---
    sig_jaccard_prefilter: float = 0.5   # cheap MinHash-estimated Jaccard prefilter
    lcs_enabled: bool = True
    lcs_min_len: int = 256        # chars of common substring that flag containment
    lcs_cap_chars: int = 20000    # per-text cap to bound suffix-automaton cost

    # --- text extraction ---
    min_text_chars: int = 1       # shorter extractions are quarantined

    # --- execution ---
    num_partitions: int | None = None  # None -> leave to AQE / input splits
    resume: bool = True                # skip stages with completed markers
    # hash-bucket count for the doc-keyed stage tables (extracted /
    # signatures and the derived knn / best_nn / assignments /
    # component_info / outliers): incremental updates read and rewrite only
    # the buckets containing touched ids (parquet dynamic partition
    # overwrite + partition-pruned scans ≈ Iceberg bucket(N, doc_id) +
    # MERGE). None (default) auto-scales at the first run(): ~25k docs per
    # shard, never fewer than one shard per core (capped at 32) — see
    # resolve_store_shards — and the resolved value persists in the work
    # dir (store_layout.json) so later runs and updates keep the layout.
    # Set explicitly to pin a layout (tests; fixed deployments).
    store_shards: int | None = None

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.n_perm:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) must equal n_perm ({self.n_perm})"
            )

    def to_dict(self) -> dict:
        return asdict(self)

    def config_hash(self) -> str:
        """Stable hash of all semantic knobs — used by stage markers so a
        resume only skips work computed under the identical config."""
        blob = json.dumps(self.to_dict(), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


# ~25k docs per shard: incremental rewrite volume for a b-doc batch is
# ≈ touched_shards x docs_per_shard rows — a FIXED absolute cost per
# touched doc regardless of corpus size — while the full run's file count
# stays O(corpus/25k) (over-sharding was measured to cost 3x at sf0.1:
# 1024 dirs x 7 tables of pyarrow footer lineage + dir listings dominated;
# BENCH/BASELINE.md round-6 bisect). Small corpora hit the floor, one
# shard per core (pow2ceil(min(P, 32)), P = the session's
# defaultParallelism): the signature UDF scans `extracted` with no shuffle
# in between, so it needs one file per core to use every core, and more
# files than that only add tiny-file cost (a fixed floor of 32 left a
# 1.5k-doc store at ~47 docs per parquet file; trickle update 19.4 s at 32
# shards vs 14.6 s at 4, local[4] on a 4-vCPU VM). The floor caps at 32,
# so a 32+-core session resolves exactly as with a fixed floor of 32. The
# 65536 cap bounds file counts and still leaves ~1.5e7 rows/shard at
# 10^12 docs — a sane Iceberg bucket(N) width. Pow2 quantization keeps the
# resolved value stable under small corpus drift.
_DOCS_PER_SHARD = 25_000
_MAX_SHARD_FLOOR = 32
_MAX_SHARDS = 65536


def _pow2ceil(x: float) -> int:
    import math
    return 2 ** math.ceil(math.log2(max(1.0, x)))


def resolve_store_shards(n_docs: int, parallelism: int | None = None) -> int:
    """Auto-scale the hash-bucket count with corpus size (used when
    PipelineConfig.store_shards is None): ``pow2ceil(n_docs / 25k)``
    clamped to ``[pow2ceil(min(P, 32)), 65536]``. ``parallelism`` (P)
    defaults to the active SparkContext's ``defaultParallelism`` (32 when
    none is running). The context, not ``SparkSession.getActiveSession()``,
    because the active session is thread-local and stage-pool threads see
    none."""
    if parallelism is None:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        parallelism = sc.defaultParallelism if sc is not None else _MAX_SHARD_FLOOR
    floor = _pow2ceil(min(parallelism, _MAX_SHARD_FLOOR))
    return max(floor, min(_MAX_SHARDS, _pow2ceil(n_docs / _DOCS_PER_SHARD)))
