#!/usr/bin/env python3
"""fastdup_spark benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dup_heavy --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

One closed-loop client drives the engine on ``local[N]``, N = min(4, usable
cores), with the Spark UI off. Every input is generated in this process
from ``--seed`` (perfbench/inputs.py). Only calls into public functions are
timed: ``FastdupSpark.run``/``update``/``search_many`` and the query
surface, each materialized. Every output is checked against the inputs'
ground truth before anything is reported.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
makes a separate traced pass instead and reports the per-layer metrics
(perfbench/spans.py, perfbench/replay.py). The last line
of stdout is the result object; the line before it records the workload,
seed, cores, Spark version and the raw samples. ``--smoke`` runs every
workload once at a tiny scale in one session and checks the output contract.

All files go under ``.perfbench_work/`` in the checkout; a run's store and
Spark scratch space are removed when it ends, span files are kept under
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("dup_heavy", "trickle_update")
MAX_OPS = 200  # caps a timed loop whose call has become very fast

# incremental phases reported as offsets (from update()'s phase_completed_s)
PHASES = ("tripwires", "extract", "membership", "signatures", "score",
          "appends", "extracted_append", "fin_markers", "fin_scope",
          "fin_derived", "fin_manifest")


def _cores() -> int:
    # at most 4: memory bandwidth caps the engine's useful parallelism there
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs) / 1e6


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Session:
    """The Spark session plus the benchmark's failure accounting."""

    def __init__(self, work: str, cores: int) -> None:
        from fastdup_spark import get_spark

        self.work = work
        self.cores = cores
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.driver.memory": "2g",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                # the traced pass reads every job of a run from the status
                # store; the defaults (1000) would evict a long run's jobs
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ready_s = time.perf_counter() - T_START
        self.jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def call(self, what: str, fn, *args):
        """Run one call; an exception counts as a failed call."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # a benchmark boundary: record, report, go on
            self.failed += 1
            self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, ok: bool, what: str) -> None:
        """A correctness gate; a failed gate counts as a failed call."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def peak_rss_mb(self) -> float:
        return _hwm_mb("self") + _hwm_mb(self.jvm_pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None and proc.poll() is None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Workload:
    """Inputs, store and calls of one workload in one session."""

    def __init__(self, ses: Session, name: str, seed: int, scale: dict) -> None:
        from fastdup_spark import FastdupSpark, PipelineConfig
        from fastdup_spark.fixtures.pages import pages_schema

        import inputs

        self.ses, self.name, self.seed, self.scale = ses, name, seed, scale
        spark = ses.spark
        if name == "dup_heavy":
            self.corpus = inputs.dup_heavy_corpus(
                scale["dup_pages"], scale["dup_clusters"],
                scale["dup_cluster_size"], seed)
            self.cfg = PipelineConfig(max_bucket_size=scale["dup_max_bucket"],
                                      bucket_salt_target=scale["dup_salt_target"])
        else:
            self.corpus = inputs.standard_corpus(scale["trickle_pages"], seed)
            self.cfg = PipelineConfig()
        self.queries = inputs.search_queries(self.corpus, scale["queries"], seed)
        self._batches: dict = {}
        self.applied: list = []  # batches folded into the store so far
        self._truth_key = None  # brute-force search truth, per corpus state
        self.schema = pages_schema()
        self.pages = spark.createDataFrame(self.corpus.pages,
                                           schema=self.schema)
        self.query_df = spark.createDataFrame(
            self.queries, "query_id long, text string")
        self.store_dir = os.path.join(ses.work, f"store-{name}")
        self.fd = FastdupSpark(spark, self.store_dir, self.cfg)

    def batch(self, i: int):
        """The i-th update batch, generated on first use (untimed)."""
        import inputs

        if i not in self._batches:
            self._batches[i] = inputs.trickle_batch(
                self.corpus.pages, self.scale["batch_pages"],
                self.scale["batch_copies"], self.seed, i)
        return self._batches[i]

    # --- timed calls -------------------------------------------------------
    def build(self) -> None:
        self.fd.run(self.pages, force=True)
        self.applied = []

    def update(self) -> dict:
        batch = self.batch(len(self.applied))
        df = self.ses.spark.createDataFrame(batch.pages, schema=self.schema)
        t = time.perf_counter()
        res = self.fd.update(df)
        dt = time.perf_counter() - t
        self.applied.append(batch)
        self.ses.check(res.get("new_docs") == batch.fresh_valid,
                       f"update new_docs {res.get('new_docs')} != "
                       f"{batch.fresh_valid} fresh pages")
        res["wall_s"] = dt
        return res

    def search(self) -> list:
        return self.fd.search_many(self.query_df, k=10,
                                   threshold=self.cfg.threshold).collect()

    def op(self) -> float:
        """The workload's timed call; returns its wall time."""
        if self.name == "trickle_update":
            return self.update()["wall_s"]
        t = time.perf_counter()
        self.build()
        return time.perf_counter() - t

    def reads(self) -> dict[str, float]:
        """One round of query-surface reads, each materialized."""
        fd = self.fd
        calls = [
            ("components_grouped", fd.components_grouped),
            ("duplicates", fd.duplicates),
            ("similarity", lambda: fd.similarity(limit=100)),
            ("outliers", fd.outliers),
            ("knn", fd.knn),
        ]
        out = {}
        for name, fn in calls:
            t = time.perf_counter()
            rows = self.ses.call(name, lambda: fn().collect())
            if rows is not None:
                out[name] = time.perf_counter() - t
                self.ses.check(len(rows) > 0, f"{name} returned no rows")
        return out

    # --- correctness gates -------------------------------------------------
    def dup_pairs(self) -> set:
        out = set(self.corpus.dup_pairs)
        for b in self.applied:
            out |= b.dup_pairs
        return out

    def check_pairs(self) -> float:
        """dup_pair_recall over every planted pair; boilerplate controls
        must not be emitted."""
        import inputs

        rows = self.fd.similarity(sort=False).select("url_from", "url_to") \
            .collect()
        found = {inputs.pair(r[0], r[1]) for r in rows}
        planted = self.dup_pairs()
        recall = len(planted & found) / len(planted)
        false_pairs = len(self.corpus.control_pairs & found)
        self.ses.check(recall >= 0.99, f"dup_pair_recall {recall:.4f} < 0.99")
        self.ses.check(false_pairs == 0, f"false_pairs {false_pairs} != 0")
        self.false_pairs = false_pairs
        return recall

    def check_search(self, rows) -> None:
        """Top-k of a seeded sample of queries equals brute-force exact
        Jaccard at >= threshold over the current corpus."""
        import numpy as np
        import pandas as pd

        import inputs

        rng = np.random.Generator(np.random.PCG64([self.seed, 4]))
        ids = sorted(rng.choice(len(self.queries), replace=False,
                                size=self.scale["checked_queries"]).tolist())
        key = len(self.applied)  # the corpus changes only with updates
        if self._truth_key != key:
            pages = pd.concat([self.corpus.pages]
                              + [b.pages for b in self.applied])
            self._truth = inputs.brute_force_matches(
                [self.queries.text.iloc[i] for i in ids], pages.url,
                pages.text, self.cfg.threshold)
            self._truth_key = key
        truth = self._truth
        got = {i: {} for i in ids}
        for r in rows:
            if r["query_id"] in got:
                got[r["query_id"]][r["url"]] = r["jaccard"]
        for i, want in zip(ids, truth):
            ok = got[i].keys() == want.keys() and all(
                abs(got[i][u] - j) <= 1e-6 for u, j in want.items())
            self.ses.check(ok, f"search query {i}: {got[i]} != {want}")


def timed_loop(ses: Session, wl: Workload, seconds: float) -> list[float]:
    """Closed loop: the next call starts when the previous one returns.
    One call at least; another only while the last call's duration still
    fits before ``seconds`` have passed."""
    samples = []
    t_end = time.perf_counter() + seconds
    while len(samples) < MAX_OPS:
        dt = ses.call(f"{wl.name} op", wl.op)
        if dt is None:
            break
        samples.append(dt)
        if time.perf_counter() + dt > t_end:
            break
    return samples


def setup(ses: Session, name: str, seed: int, scale: dict) -> Workload:
    """Inputs and a first ``fd.run``: the store trickle_update folds its
    batches into, and dup_heavy's warm-up. Without it dup_heavy's timed run
    would include the JVM's JIT compilation, which doubles its spread; a
    warm-up on a smaller corpus costs about as much."""
    t = time.perf_counter()
    wl = Workload(ses, name, seed, scale)
    t2 = time.perf_counter()
    wl.build()
    wl.setup_parts = {"session_s": ses.ready_s, "inputs_s": t2 - t,
                      "build_s": time.perf_counter() - t2}
    return wl


def end_to_end(ses: Session, wl: Workload, seconds: float,
               setup_s: float) -> tuple[dict, dict]:
    ops = timed_loop(ses, wl, seconds)
    reads = wl.reads()
    search_t = time.perf_counter()
    rows = ses.call("search_many", wl.search)
    if rows is not None:
        reads["search_many"] = time.perf_counter() - search_t
        wl.check_search(rows)
    recall = wl.check_pairs()
    metrics = {
        "setup_s": setup_s,
        "op_s": statistics.median(ops) if ops else None,
        "query_s": sum(reads.values()),
        "dup_pair_recall": recall,
        "store_mb": _du_mb(wl.store_dir),
    }
    # peak RSS follows the JVM's heap sizing more than the workload (its
    # spread across seeds is ~15%), so it is recorded, not a metric
    samples = {"setup": wl.setup_parts, "op_s": ops, "reads_s": reads,
               "peak_rss_mb": ses.peak_rss_mb(),
               "false_pairs": wl.false_pairs}
    return metrics, samples


def traced(ses: Session, wl: Workload, work: str) -> tuple[dict, dict]:
    """The traced pass over every layer. It opens with an untraced and a
    traced ``fd.run`` on the warm session; their difference is the tracing
    overhead."""
    from fastdup_spark.plans.pipeline import search_corpus

    import replay
    from spans import Tracer

    t = time.perf_counter()
    ses.call("run", wl.build)
    untraced_s = time.perf_counter() - t
    tr = Tracer(ses.spark)
    fd, cfg = wl.fd, wl.cfg

    with tr.span("plans.pipeline", "FastdupSpark.run", wl.store_dir) as run:
        ses.call("run", wl.build)
    run["extra"]["stages"] = run["markers_written"]
    run["extra"]["driver_gap_s"] = run["wall_s"] - run["task_s"] / ses.cores

    ses.call("replay", replay.replay_stage_chain, tr, wl.pages, cfg,
             os.path.join(work, f"replay-{wl.name}"))

    with tr.span("streaming.incremental", "FastdupSpark.update",
                 wl.store_dir) as upd:
        res = ses.call("update", wl.update) or {}
    phases = res.get("phase_completed_s", {})
    x = upd["extra"]
    x["touched_docs"] = res.get("touched_docs", 0)
    x["shards_rewritten"] = upd["shards_written"]
    x["bytes_written"] = upd["bytes_written"]
    # a phase a later version no longer reports counts as completed with
    # the next phase that is reported (offsets are completion marks)
    nxt = upd["wall_s"]
    for p in reversed(PHASES):
        nxt = phases.get(p, nxt)
        x[f"at_{p}_s"] = nxt

    with tr.span("search", "FastdupSpark.search_many") as srch:
        rows = ses.call("search_many", wl.search)
    if rows is not None:
        wl.check_search(rows)
    probed = search_corpus(
        wl.query_df, fd.store.read(ses.spark, "signatures")
        .select("doc_id", "shingles"), fd.store.read(ses.spark, "buckets"),
        cfg, k=1 << 30).count()
    srch["extra"]["candidates_probed"] = probed
    recall = wl.check_pairs()

    metrics = {}
    for layer, tot in tr.layer_totals().items():
        for k, v in tot.items():
            metrics[f"{layer}.{k}"] = v
    store_spans = [s for s in tr.spans if s["layer"] == "plans.store"]
    for s in tr.spans:
        for k, v in s["extra"].items():
            metrics[f"{s['layer']}.{k}"] = v
    metrics["plans.store.files_written"] = sum(
        s.get("files_written", 0) for s in store_spans)
    metrics["plans.store.bytes_written"] = sum(
        s.get("bytes_written", 0) for s in store_spans)
    metrics["plans.store.bytes_read"] = sum(
        s["input_bytes"] for s in store_spans
        if s["call"].startswith("StageStore.read"))
    metrics["perfbench.trace_overhead_s"] = run["wall_s"] - untraced_s
    trace_path = os.path.join(
        WORK_ROOT, "traces", f"{wl.name}-seed{wl.seed}-{os.getpid()}.json")
    tr.write(trace_path, {"workload": wl.name, "seed": wl.seed,
                          "cores": ses.cores, "untraced_run_s": untraced_s,
                          "dup_pair_recall": recall})
    return metrics, {"trace_file": trace_path}


def load_metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}


def run_one(ses: Session, name: str, seed: int, seconds: float, trace: int,
            scale: dict, units: dict) -> dict:
    """One workload in an open session -> the result object."""
    wl = setup(ses, name, seed, scale)
    setup_s = time.perf_counter() - T_START
    if trace:
        raw, samples = traced(ses, wl, ses.work)
    else:
        raw, samples = end_to_end(ses, wl, seconds, setup_s)
    metrics = {}
    for k, unit in units.items():
        v = raw.get(k)
        if v is None:
            ses.problems.append(f"metric {k} not measured")
            continue
        metrics[k] = {"value": v, "unit": unit}
    from pyspark import __version__ as spark_version
    context = {"workload": name, "seed": seed, "cores": ses.cores,
               "spark": spark_version, "trace": trace, "samples": samples,
               "problems": ses.problems}
    result = {"correct": ses.failed == 0 and not ses.problems,
              "attempted": ses.attempted, "failed": ses.failed,
              "metrics": metrics}
    return {"context": context, "result": result,
            "complete": len(metrics) == len(units)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at a tiny scale")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    if not os.path.isdir(os.path.join(ROOT, "fastdup_spark")):
        print(f"perfbench: no fastdup_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    units = load_metric_spec()

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    import inputs

    ses = None
    try:
        ses = Session(work, _cores())
        if args.smoke:
            return smoke(ses, units)
        out = run_one(ses, args.workload, args.seed, args.seconds,
                      args.trace, inputs.SCALES["full"], units[args.trace])
        print(json.dumps(out["context"], default=str))
        if not out["complete"]:
            print("\n".join(ses.problems), file=sys.stderr)
            return 1
        print(json.dumps(out["result"]))
        return 0
    finally:
        if ses is not None:
            ses.stop()
        shutil.rmtree(work, ignore_errors=True)


def smoke(ses: Session, units: dict) -> int:
    """Every workload once at the smoke scale (plus one traced pass); exit
    code 0 iff each result is complete and correct."""
    import inputs

    bad = 0
    runs = [(w, 0) for w in WORKLOADS] + [("dup_heavy", 1)]
    for name, trace in runs:
        ses.attempted = ses.failed = 0
        ses.problems = []
        t = time.perf_counter()
        out = run_one(ses, name, 1, 0.0, trace, inputs.SCALES["smoke"],
                      units[trace])
        ok = out["complete"] and out["result"]["correct"]
        if trace:  # every traced layer must have run at least one Spark job
            m = out["result"]["metrics"]
            idle = [k for k in m if k.endswith(".jobs") and m[k]["value"] < 1]
            ses.problems += [f"no Spark job in {k}" for k in idle]
            ok = ok and not idle
        bad += not ok
        print(json.dumps({"workload": name, "trace": trace, "ok": ok,
                          "seconds": round(time.perf_counter() - t, 1),
                          "problems": ses.problems}))
        ses.spark.catalog.clearCache()
    print(json.dumps({"smoke_ok": bad == 0}))
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
