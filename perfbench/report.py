"""Turns a finished ``Run`` into the result line, and (traced runs) the
span file.

The metric names here are the ones ``BENCHMARK.json`` lists;
``perfbench/test_stats.py`` checks the two agree. Every run prints every
metric of its mode: a per-layer metric of a layer the workload does not
call reads 0.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

from stats import geometric_mean, percentile, ratio, tail_percentile

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ok_op_ratio": ("ratio", "higher"),
    "op_latency_gmean_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
}

KERNEL_OPS = ("make_df", "from_columns", "nrow", "dims", "column",
              "slice_int", "slice_range", "slice_mask", "slice_keys",
              "count_rows", "map_rows_add_columns", "replace_column",
              "collect", "to_pandas", "group_agg", "top_k")
BATCH_FNS = ("relational.join_broadcast", "relational.join_orders",
             "relational.window_running", "relational.asof_join",
             "stats.iqr_outliers", "stats.corr_matrix")
CORPUS_FNS = ("dedup.minhash_near_duplicates",
              "dedup.embedding_near_duplicates", "similarity.cosine_topk",
              "textstats.repetition_stats", "curation.pii_redact",
              "pipeline.pipeline_filter", "graph.duplicate_clusters")


def _per_layer() -> dict:
    # the median and tail percentile of a run's one or two dozen ops did
    # not repeat within a tenth from run to run, so they are reported
    # here, not end to end
    m = {"op_latency_p50_ms": ("ms", "lower"),
         "op_latency_tail_ms": ("ms", "lower")}
    for op in KERNEL_OPS:
        m[f"frame.{op}.p50_ms"] = ("ms", "lower")
    m["frame.jobs_per_op"] = ("count", "lower")
    m["frame.driver_ms_per_op"] = ("ms", "lower")
    m["summary.column_summary.p50_ms"] = ("ms", "lower")
    m["summary.profile_table_s"] = ("s", "lower")
    m["summary.jobs_per_call"] = ("count", "lower")
    for fn in BATCH_FNS:
        m[f"{fn}_s"] = ("s", "lower")
        m[f"{fn}.shuffle_bytes"] = ("bytes", "lower")
        m[f"{fn}.spill_bytes"] = ("bytes", "lower")
        m[f"{fn}.gc_ms"] = ("ms", "lower")
    for fn in CORPUS_FNS:
        m[f"{fn}_s"] = ("s", "lower")
    m["dedup.candidate_pairs"] = ("count", "lower")
    m["dedup.verified_pairs"] = ("count", "higher")
    m["dedup.verify_ratio"] = ("ratio", "higher")
    for name in ("write", "merge", "delete", "read_latest", "read_pinned"):
        m[f"snapshots.{name}.p50_ms"] = ("ms", "lower")
    m["snapshots.bytes_written"] = ("bytes", "lower")
    m["snapshots.files_written"] = ("count", "lower")
    m["snapshots.optimize_s"] = ("s", "lower")
    m["snapshots.bytes_rewritten"] = ("bytes", "lower")
    m["matview.refresh.p50_ms"] = ("ms", "lower")
    m["matview.read.p50_ms"] = ("ms", "lower")
    m["matview.state_bytes"] = ("bytes", "lower")
    m["streaming.write_stream_to_snapshot_s"] = ("s", "lower")
    m["lake.commit_p50_ms"] = ("ms", "lower")
    m["lake.commit_tail_ms"] = ("ms", "lower")
    m["lake.read_p50_ms"] = ("ms", "lower")
    m["lake.write_amp"] = ("ratio", "lower")
    m["lake.space_amp"] = ("ratio", "lower")
    m["session.get_spark_s"] = ("s", "lower")
    m["spark.jobs"] = ("count", "lower")
    m["spark.tasks"] = ("count", "lower")
    m["spark.executor_busy_ratio"] = ("ratio", "higher")
    m["spark.shuffle_write_bytes"] = ("bytes", "lower")
    m["spark.spill_bytes"] = ("bytes", "lower")
    m["spark.gc_ms"] = ("ms", "lower")
    m["driver.self_ms"] = ("ms", "lower")
    m["trace.bookkeeping_ms"] = ("ms", "lower")
    m["trace.bookkeeping_ratio"] = ("ratio", "lower")
    return m


PER_LAYER = _per_layer()


def op_latencies_ms(run) -> list[float]:
    return [op.latency_s * 1000.0 for op in run.ops]


def end_to_end(run) -> dict:
    failed = sum(1 for op in run.ops if op.error)
    return {
        "setup_s": run.setup_s,
        "peak_rss_mb": run.rss.peak / 2 ** 20,
        "ok_op_ratio": ratio(len(run.ops) - failed, len(run.ops)),
        "op_latency_gmean_ms": geometric_mean(op_latencies_ms(run)),
        "ops_per_s": len(run.ops) / run.window_s,
    }


def engine_wide(run) -> dict:
    calls = [c for _, c in run.window_calls()]
    busy_ms = sum(c.get("executorRunTime", 0) for c in calls)
    return {
        "session.get_spark_s": sum(run.call_walls("session.get_spark")),
        "spark.jobs": sum(c.get("jobs", 0) for c in calls),
        "spark.tasks": sum(c.get("numTasks", 0) for c in calls),
        "spark.executor_busy_ratio": ratio(busy_ms / 1000.0,
                                           run.window_s * run.cores),
        "spark.shuffle_write_bytes": sum(c.get("shuffleWriteBytes", 0)
                                         for c in calls),
        "spark.spill_bytes": sum(c.get("memoryBytesSpilled", 0)
                                 + c.get("diskBytesSpilled", 0)
                                 for c in calls),
        "spark.gc_ms": sum(c.get("jvmGcTime", 0) for c in calls),
        "driver.self_ms": sum(c.get("driver_self_s", 0.0)
                              for c in calls) * 1000.0,
        "trace.bookkeeping_ms": run.bookkeeping_s * 1000.0,
        "trace.bookkeeping_ratio": ratio(run.bookkeeping_s, run.window_s),
    }


def environment(run) -> dict:
    sc = run.spark.sparkContext
    return {"nproc": run.cores, "spark": run.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "master": sc.master}


def _with_units(values: dict, spec: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": spec[k][0]}
            for k in spec}


def code_fingerprint(root: str) -> str:
    """SHA-256 over the program's and the benchmark's Python sources, so
    a traced run is compared only with an untraced run of the same code."""
    h = hashlib.sha256()
    for top in ("cl_data_frame_spark", "perfbench"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build(run, wl, mod, base_dir: str) -> dict:
    failed = [op for op in run.ops if op.error]
    for op in failed:
        print(f"perfbench: FAILED op {op.name}: {op.error.strip()}",
              file=sys.stderr)
    e2e = end_to_end(run)
    # the untraced run a traced run is compared with: same workload, seed
    # and code
    last_untraced = os.path.join(base_dir, "last",
                                 f"{run.workload}-seed{run.seed}.json")
    code = code_fingerprint(os.path.dirname(base_dir))
    if run.traced:
        values = {**wl.layer_metrics(), **engine_wide(run),
                  "op_latency_p50_ms": percentile(op_latencies_ms(run), 50),
                  "op_latency_tail_ms": percentile(op_latencies_ms(run),
                                                   mod.TAIL_Q)}
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = _with_units(values, PER_LAYER)
        overhead = None
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                plain = json.load(f)
            if plain.get("code") == code:
                overhead = {k: {"untraced": v, "traced": e2e[k],
                                "diff": e2e[k] - v}
                            for k, v in plain["end_to_end"].items() if k in e2e}
        run.write_trace(
            os.path.join(base_dir, "traces",
                         f"{run.workload}-seed{run.seed}.json"),
            {"environment": environment(run),
             "end_to_end_traced": e2e,
             # null when no untraced run of this seed and code ran in
             # this checkout before
             "overhead_vs_untraced_run": overhead,
             "bookkeeping_ms": run.bookkeeping_s * 1000.0,
             "tail_percentile": mod.TAIL_Q,
             "tail_percentile_rule": tail_percentile(len(run.ops)),
             "ops": len(run.ops),
             "notes": run.notes, "per_layer": values})
    else:
        metrics = _with_units(e2e, END_TO_END)
        os.makedirs(os.path.dirname(last_untraced), exist_ok=True)
        with open(last_untraced, "w") as f:
            json.dump({"code": code, "end_to_end": e2e}, f)
    print(f"perfbench: {run.workload} seed={run.seed} ops={len(run.ops)} "
          f"cycles={run.notes.get('cycles')} window_s={run.window_s:.2f} "
          f"tail=p{mod.TAIL_Q:g} (rule allows p{tail_percentile(len(run.ops))}) "
          f"notes={json.dumps(run.notes)}",
          file=sys.stderr)
    return {"correct": not failed and bool(run.ops),
            "attempted": len(run.ops), "failed": len(failed),
            "metrics": metrics}
