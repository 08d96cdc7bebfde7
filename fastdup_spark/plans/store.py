"""Stage store: checkpointed tables with completion markers, per-partition
lineage and counters — the resumability backbone (north_rule).

Plays the role of the reference's files-on-disk IR between pipeline stages
(similarity.csv / connected_components.csv / ... — SURVEY §2.1 S9) and its
`resume`/`run_mode=2` artifact reuse (/root/reference/fastdup/__init__.py:586-598,
/root/reference/RUN.md:171-186), upgraded to columnar tables + manifest
markers:

    <work_dir>/<stage>/            parquet (or Iceberg on a real deployment)
    <work_dir>/<stage>.marker.json {config_hash, rows, files[], counters}

A stage is skipped on rerun iff its marker exists AND was produced under the
same PipelineConfig hash. The marker's `files` list carries per-output-file
row counts — the per-partition lineage record. Format is parquet in this
sandbox; on a cluster the same interface maps to Iceberg tables where the
marker content lives in snapshot summary metadata (SURVEY §1.1).

Everything the driver needs about a table's files comes from their footers,
opened once per (path, mtime, size): per-file row counts (markers, lineage,
tripwires), column max stats (`footer_max`) and the Spark schema JSON every
Spark-written parquet footer carries. `read` hands that schema to Spark, so
a stage-table read builds a plan without the schema-inference job Spark
would otherwise start on every load.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Internal hash-bucket partition column for the base tables `extracted` and
# `signatures` (the parquet-native approximation of Iceberg
# `bucket(N, doc_id)` partitioning): they lay out rows in `_shard=K/` dirs
# keyed by pmod(doc_id, n_shards), so an incremental update's membership,
# score and LCS scans prune to the shards holding the batch's ids. The
# derived tables are flat. `read` strips the column — it is store-internal.
SHARD_COL = "_shard"


def shard_expr(id_col: str, n_shards: int):
    """Non-negative deterministic shard id for a (possibly negative) 64-bit
    id column."""
    return F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")


class StageStore:
    def __init__(self, work_dir: str, fmt: str = "parquet") -> None:
        self.work_dir = work_dir
        self.fmt = fmt
        os.makedirs(work_dir, exist_ok=True)
        # driver-side footer caches keyed by (path, size, mtime): stage files
        # are immutable (appends add files, overwrites replace whole dirs),
        # so a footer read stays valid while the stat signature matches.
        # With auto-scaled shard counts a table can hold thousands of small
        # files; without the memo every marker refresh / tripwire re-opens
        # every footer (on Iceberg both come from the snapshot manifest).
        # (mtime, size, rows, Spark schema JSON or None) per data file
        self._lineage_memo: dict[str, tuple[float, int, int, str | None]] = {}
        self._stat_memo: dict[tuple[str, str], tuple[float, int, object]] = {}

    # --- paths ---
    def table_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def marker_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, f"{stage}.marker.json")

    # --- resume protocol ---
    def is_complete(self, stage: str, config_hash: str) -> bool:
        mp = self.marker_path(stage)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                marker = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        return marker.get("config_hash") == config_hash and os.path.exists(self.table_path(stage))

    def read_marker(self, stage: str) -> dict | None:
        mp = self.marker_path(stage)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            return json.load(f)

    # --- io ---
    def write(self, df: DataFrame, stage: str, config_hash: str,
              counters: dict | None = None, partition_by: list[str] | None = None) -> dict:
        """Write the stage table, then its completion marker (write order is
        the crash-safety contract: no marker -> stage reruns)."""
        path = self.table_path(stage)
        if os.path.exists(path):
            shutil.rmtree(path)
        # an older build's shard-scoped overwrite staged its content in
        # this temp dir, and a crash could strand it; a full write sweeps it
        shutil.rmtree(path + ".tmp_overwrite", ignore_errors=True)
        if os.path.exists(self.marker_path(stage)):
            os.remove(self.marker_path(stage))
        writer = df.write.mode("overwrite").format(self.fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

        # per-partition lineage: rows per output file, read from the parquet
        # footers (no extra Spark job; on Iceberg this comes from the
        # snapshot's manifest for free)
        lineage = self._parquet_lineage(path)
        if not lineage and partition_by:
            # an EMPTY partitioned write emits no part files at all, which
            # makes the table unreadable (UNABLE_TO_INFER_SCHEMA). Persist
            # the schema with a zero-row UNPARTITIONED file instead — the
            # partition columns ride along as ordinary (empty) data columns.
            df.limit(0).write.mode("overwrite").format(self.fmt).save(path)
            lineage = self._parquet_lineage(path)
        marker = {
            "stage": stage,
            "config_hash": config_hash,
            "rows": int(sum(x["rows"] for x in lineage)),
            "files": sorted(lineage, key=lambda x: x["file"]),
            "counters": counters or {},
        }
        tmp = self.marker_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(marker, f, indent=1, sort_keys=True)
        os.replace(tmp, self.marker_path(stage))
        return marker

    def write_table(self, df: DataFrame, stage: str,
                    partition_by: list[str] | None = None) -> None:
        """Write ONLY the stage table (old marker removed first). The stage
        is incomplete until a later refresh_marker publishes the marker —
        use when counters come from a job running concurrently with the
        write, so the resume-complete marker never exists without them."""
        path = self.table_path(stage)
        if os.path.exists(self.marker_path(stage)):
            os.remove(self.marker_path(stage))
        if os.path.exists(path):
            shutil.rmtree(path)
        writer = df.write.mode("overwrite").format(self.fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    def append(self, df: DataFrame, stage: str,
               partition_by: list[str] | None = None) -> None:
        """Append rows to a stage table in its on-disk layout; the marker is
        left for the caller to republish (refresh_marker). Sharded tables
        (shard params in the marker) get the shard column recomputed and
        rows coalesced per shard, so a batch adds O(touched-shards) files.
        A zero-row table is the FLAT schema-file fallback of `write`;
        hive-partitioned dirs must not mix with it, so a partitioned append
        replaces it with a fresh partitioned write instead. Rows land in
        the table's column order (from its footer schema) whatever order
        ``df`` has them in."""
        # Spark takes a table's read schema from its first file by path, and
        # part-file names are random: a batch whose columns come in another
        # order would flip the read column order from one append to the next
        schema = self._data_schema(self.table_path(stage))
        if schema is not None:
            data_cols = [c for c in df.columns if c not in (partition_by or [])]
            if set(data_cols) == set(schema.names):
                df = df.select(*schema.names, *(partition_by or []))
        params = self.shard_params(stage)
        if params is not None:
            id_col, n_shards = params
            df = df.withColumn(SHARD_COL, shard_expr(id_col, n_shards)) \
                   .repartition(F.col(SHARD_COL))
            partition_by = (partition_by or []) + [SHARD_COL]
        if partition_by and not self.footer_rows(stage):
            self.write_table(df, stage, partition_by=partition_by)
            return
        w = df.write.mode("append").format(self.fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(self.table_path(stage))

    def refresh_marker(self, stage: str, config_hash: str,
                       counters: dict | None = None) -> dict:
        """Rebuild a stage marker from the table's parquet footers WITHOUT
        rewriting the table — used after incremental appends so markers
        (rows, per-file lineage) never go stale. Existing counters are kept
        unless new ones are passed."""
        if counters is None:
            old = self.read_marker(stage)
            counters = (old or {}).get("counters", {})
        lineage = self._parquet_lineage(self.table_path(stage))
        marker = {
            "stage": stage,
            "config_hash": config_hash,
            "rows": int(sum(x["rows"] for x in lineage)),
            "files": sorted(lineage, key=lambda x: x["file"]),
            "counters": counters or {},
        }
        tmp = self.marker_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(marker, f, indent=1, sort_keys=True)
        os.replace(tmp, self.marker_path(stage))
        return marker

    @staticmethod
    def _data_files(path: str) -> list[tuple[str, str]]:
        """(path relative to the table dir, full path) of every data file,
        sorted by path — the listing Spark's file index makes: names
        starting with ``.``, and names starting with ``_`` that hold no
        ``=`` (``_temporary``, ``_SUCCESS``), are skipped, files and dirs
        alike, so ``_shard=3/`` is kept."""
        def hidden(name):
            return name.startswith(".") or (name.startswith("_") and "=" not in name)
        out = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not hidden(d)]
            for fn in files:
                if hidden(fn) or not fn.endswith((".parquet", ".orc")):
                    continue
                full = os.path.join(root, fn)
                out.append((os.path.relpath(full, path), full))
        return sorted(out)

    def _footer(self, full: str) -> tuple[int, str | None]:
        """(rows, Spark schema JSON) of one data file from its footer —
        memoized per (path, mtime, size), so immutable files never re-open.
        The schema JSON is the one Spark stores in every parquet footer it
        writes (None for ORC, or a parquet file Spark did not write)."""
        st = os.stat(full)
        hit = self._lineage_memo.get(full)
        if hit is not None and hit[0] == st.st_mtime and hit[1] == st.st_size:
            return hit[2], hit[3]
        if full.endswith(".parquet"):
            import pyarrow.parquet as pq
            md = pq.read_metadata(full)
            rows = md.num_rows
            js = (md.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
            schema = js.decode() if js else None
        else:
            import pyarrow.orc as po
            rows, schema = po.ORCFile(full).nrows, None
        self._lineage_memo[full] = (st.st_mtime, st.st_size, rows, schema)
        return rows, schema

    def _parquet_lineage(self, path: str) -> list[dict]:
        """Per-file row counts straight from the columnar footers (no Spark
        job). Named for the primary format; ORC footers are read the same
        way via pyarrow, so `StageStore(fmt="orc")` keeps the full marker/
        lineage/resume contract (an Iceberg deployment gets this from the
        snapshot manifest instead)."""
        return [{"file": rel, "rows": self._footer(full)[0]}
                for rel, full in self._data_files(path)]

    def _data_schema(self, path: str) -> StructType | None:
        """The table's data schema — partition columns excluded, exactly as
        Spark's own inference yields it, from the same footer: the first
        data file by path (Spark sorts the listing before it picks one).
        None off parquet, for a table with no data file, or when that
        footer does not open or carries no Spark schema."""
        if self.fmt != "parquet":
            return None
        files = self._data_files(path)
        if not files:
            return None
        try:
            js = self._footer(files[0][1])[1]
        except (OSError, ValueError):
            return None
        return None if js is None else StructType.fromJson(json.loads(js))

    def lineage(self, stage: str) -> list[dict]:
        """Per-file row counts of a stage table (``file`` relative to the
        table dir, so hive partition values are readable from it)."""
        return self._parquet_lineage(self.table_path(stage))

    def footer_rows(self, stage: str) -> int:
        """Row count of a stage table from its footers — no Spark job."""
        return sum(x["rows"] for x in self.lineage(stage))

    def footer_max(self, stage: str, col: str):
        """Exact max of ``col`` across a parquet stage table from row-group
        statistics — driver-side, no Spark job, memoized per file. Returns
        None when unavailable (non-parquet store, stats missing)."""
        if self.fmt != "parquet":
            return None
        import pyarrow.parquet as pq
        mx = None
        for _rel, full in self._data_files(self.table_path(stage)):
            st = os.stat(full)
            hit = self._stat_memo.get((full, col))
            if hit is not None and hit[0] == st.st_mtime and hit[1] == st.st_size:
                fmax = hit[2]
            else:
                md = pq.read_metadata(full)
                fmax = None
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    for ci in range(row_group.num_columns):
                        c = row_group.column(ci)
                        if c.path_in_schema != col:
                            continue
                        s = c.statistics
                        if s is None or not s.has_min_max:
                            return None  # stats disabled -> caller falls back
                        fmax = s.max if fmax is None else max(fmax, s.max)
                self._stat_memo[(full, col)] = (st.st_mtime, st.st_size, fmax)
            if fmax is not None:
                mx = fmax if mx is None else max(mx, fmax)
        return mx

    def write_sharded(self, df: DataFrame, stage: str, config_hash: str,
                      n_shards: int, counters: dict | None = None,
                      sort_within: list[str] | None = None) -> dict:
        """Full stage write hash-bucketed into `_shard=pmod(doc_id,
        n_shards)/` partition dirs, for a table that update() scans pruned
        to a batch's shards (`signatures`). The pre-write repartition on
        the shard column keeps output to ~one file per shard instead of
        (tasks x shards) fragments. Shard params land in the marker
        counters, where shard-pruned reads find the layout
        (`shard_params`). ``sort_within`` orders rows inside each shard
        file, tightening parquet row-group min/max stats so pushed range
        predicates on those columns skip row groups."""
        counters = dict(counters or {})
        counters.update({"sharded_by": "doc_id", "n_shards": int(n_shards)})
        out = df.withColumn(SHARD_COL, shard_expr("doc_id", n_shards)) \
                .repartition(F.col(SHARD_COL))
        if sort_within:
            out = out.sortWithinPartitions(SHARD_COL, *sort_within)
        return self.write(out, stage, config_hash, counters=counters,
                          partition_by=[SHARD_COL])

    def shard_params(self, stage: str) -> tuple[str, int] | None:
        m = self.read_marker(stage)
        c = (m or {}).get("counters", {})
        if c.get("sharded_by") and c.get("n_shards"):
            return c["sharded_by"], int(c["n_shards"])
        return None

    def read(self, spark: SparkSession, stage: str,
             keep_shard: bool = False) -> DataFrame:
        """The stage table as a DataFrame — a plan, no Spark job. On
        parquet the data schema comes from the footers (`_data_schema`), so
        Spark skips its one-job schema inference; partition columns are left
        out of it and still come from the directory names, typed as
        inference types them (``is_valid`` reads back as STRING). Other
        formats, an empty dir or an unreadable footer load as Spark infers.
        The shard column is cast to int and dropped unless ``keep_shard``."""
        path = self.table_path(stage)
        reader = spark.read.format(self.fmt)
        schema = self._data_schema(path)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(path)
        if SHARD_COL in df.columns:
            # partition columns read back as strings; the shard id is an int
            df = df.withColumn(SHARD_COL, F.col(SHARD_COL).cast("int"))
            if not keep_shard:
                df = df.drop(SHARD_COL)
        return df

    def write_json(self, obj: dict, name: str) -> None:
        tmp = os.path.join(self.work_dir, f"{name}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.work_dir, f"{name}.json"))

    def read_json(self, name: str) -> dict | None:
        p = os.path.join(self.work_dir, f"{name}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
