"""lake_ingest: writes beside reads on a snapshot table and its view.

Each cycle commits four seeded batches to a snapshot table — an append,
a ``snapshot_merge`` upsert, a ``snapshot_delete`` and an append that
arrives through ``streaming.write_stream_to_snapshot`` (drained with
``processAllAvailable``, then stopped) — then brings a per-group
aggregate view up to date with one ``matview_refresh`` over the four
versions. Each of these five steps is followed by a read rotating
through latest ``snapshot_read``, ``matview_read`` and a time-travel
read pinned to an older version; ``snapshot_optimize`` plus
``snapshot_vacuum`` close the cycle. A pandas model of every table
version checks each read.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa

import gen
from checks import frames_match, row_hash

NAME = "lake_ingest"
TAIL_Q = 90.0
KEEP_VERSIONS = 40
COLS = ["id", "grp", "qty", "price", "ts"]


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Workload:
    def __init__(self, run):
        self.run = run
        self.model: dict[int, pd.DataFrame] = {}
        self.latest = -1
        self.next_id = 0
        self.batch_bytes = 0          # in-memory Arrow bytes of every batch
        self.seen_files: dict[str, int] = {}
        self.written_bytes = 0
        self.written_files = 0
        self.rewritten_bytes = 0
        self.optimize_s: list[float] = []
        self.n_stream = 0

    def setup(self) -> None:
        from cl_data_frame_spark.operators import matview
        from cl_data_frame_spark.sources import snapshots
        run = self.run
        self.dir = os.path.join(run.work_dir, "lake")
        self.table = os.path.join(self.dir, "table")
        self.view = os.path.join(self.dir, "view")
        self.landing = os.path.join(self.dir, "landing")
        self.ckpt = os.path.join(self.dir, "checkpoint")
        self.rng = np.random.default_rng(run.seed)
        first = self._batch(gen.LAKE_BATCH_ROWS)
        f = self._frame(first)
        self.schema = f.spark_df.schema
        v = run.call("sources.snapshots", "write", lambda: snapshots.snapshot_write(
            f, self.table, stats_cols=["id"]))
        self._set_version(v, first)
        run.call("operators.matview", "create", lambda: matview.matview_create(
            run.spark, self.table, self.view, keys=["grp"],
            measure_cols=["qty", "price"]))
        self.view_version = self.latest
        self._track_files()
        run.notes["rows"] = {"batch": gen.LAKE_BATCH_ROWS}

    # -- helpers -----------------------------------------------------------------

    def _batch(self, rows: int) -> pd.DataFrame:
        b = gen.lake_batch(self.rng, self.next_id, rows)
        self.next_id += rows
        self.batch_bytes += pa.Table.from_pandas(b, preserve_index=False).nbytes
        return b

    def _frame(self, pdf: pd.DataFrame):
        """Hand a batch to the engine as generated parquet."""
        from cl_data_frame_spark.sources import read_parquet
        path = os.path.join(self.dir, "batches", f"b{self.next_id}.parquet")
        gen.write_table(pdf, path)
        return read_parquet(self.run.spark, path)

    def _set_version(self, v: int, df: pd.DataFrame) -> None:
        self.model[int(v)] = df.sort_values("id").reset_index(drop=True)
        self.latest = int(v)

    def _track_files(self) -> None:
        now = {**tree_files(self.table), **tree_files(self.view)}
        for p, size in now.items():
            if p not in self.seen_files:
                self.written_bytes += size
                self.written_files += 1
        self.seen_files.update(now)

    def _latest_version(self) -> int:
        from cl_data_frame_spark.sources import snapshots
        return int(snapshots.snapshot_history(self.table, limit=1)[-1]["version"])

    def refresh_view(self) -> None:
        from cl_data_frame_spark.operators import matview
        run = self.run
        with run.op("refresh_view"):
            run.call("operators.matview", "refresh",
                     lambda: matview.matview_refresh(run.spark, self.view))
        self.view_version = self.latest

    # -- ops ----------------------------------------------------------------------

    def commit_append(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        b = self._batch(gen.LAKE_BATCH_ROWS)
        f = self._frame(b)
        with self.run.op("commit_append"):
            v = self.run.call("sources.snapshots", "write", lambda: snapshots
                              .snapshot_write(f, self.table, stats_cols=["id"]))
        self._set_version(v, pd.concat([self.model[self.latest], b]))

    def commit_stream(self) -> None:
        from cl_data_frame_spark import streaming
        b = self._batch(gen.LAKE_BATCH_ROWS)
        gen.write_table(b, os.path.join(self.landing, f"s{self.n_stream}.parquet"))
        self.n_stream += 1
        run = self.run

        def drain():
            src = streaming.read_stream_parquet(run.spark, self.landing, self.schema)
            q = streaming.write_stream_to_snapshot(
                src, self.table, self.ckpt, app_id="perfbench-stream",
                stats_cols=["id"])
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        with run.op("commit_stream"):
            run.call("streaming", "write_stream_to_snapshot", drain)
        self._set_version(self._latest_version(),
                          pd.concat([self.model[self.latest], b]))

    def commit_merge(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        cur = self.model[self.latest]
        n_upd = gen.LAKE_BATCH_ROWS // 4
        upd = self._batch(n_upd)
        # half the rows update recent ids (recent keys are the hot ones),
        # half insert fresh ones
        recent = cur.id.to_numpy()[-4 * gen.LAKE_BATCH_ROWS:]
        old_ids = self.rng.choice(recent, n_upd // 2, replace=False)
        upd.loc[: n_upd // 2 - 1, "id"] = old_ids
        f = self._frame(upd)
        with self.run.op("commit_merge"):
            v = self.run.call("sources.snapshots", "merge", lambda: snapshots
                              .snapshot_merge(self.run.spark, self.table, f, on="id"))
        new = pd.concat([cur[~cur.id.isin(upd.id)], upd])
        self._set_version(v, new)

    def commit_delete(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        cur = self.model[self.latest]
        ids = [int(x) for x in self.rng.choice(cur.id.to_numpy(), 100, replace=False)]
        with self.run.op("commit_delete"):
            v = self.run.call("sources.snapshots", "delete", lambda: snapshots
                              .snapshot_delete(self.run.spark, self.table,
                                               [("id", "in", ids)]))
        self._set_version(v, cur[~cur.id.isin(ids)])

    def maintain(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        run = self.run
        before = tree_files(self.table)
        with run.op("optimize_vacuum"):
            # optimize rewrites files without changing rows, so the view
            # catches up at the next data commit's refresh
            v = run.call("sources.snapshots", "optimize", lambda: snapshots
                         .snapshot_optimize(run.spark, self.table))
            run.call("sources.snapshots", "vacuum", lambda: snapshots.snapshot_vacuum(
                self.table, keep_last=KEEP_VERSIONS, retain_hours=0, force=True))
        if run.recording:
            self.optimize_s.append(run.calls["sources.snapshots.optimize"][-1]["wall_s"])
            self.rewritten_bytes += sum(s for p, s in tree_files(self.table).items()
                                        if p not in before)
        self._set_version(v, self.model[self.latest])
        for old in [k for k in self.model if k < self.latest - KEEP_VERSIONS + 1]:
            del self.model[old]

    def read_latest(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        want = self.model[self.latest]
        with self.run.op("read_latest") as op:
            got = self.run.call("sources.snapshots", "read_latest", lambda: snapshots
                                .snapshot_read(self.run.spark, self.table)
                                .spark_df.toPandas())
            op.expect("latest version", lambda: _same_rows(got, want))

    def read_pinned(self) -> None:
        from cl_data_frame_spark.sources import snapshots
        older = sorted(k for k in self.model if k < self.latest)
        v = int(self.rng.choice(older)) if older else self.latest
        want = self.model[v]
        with self.run.op("read_pinned") as op:
            got = self.run.call("sources.snapshots", "read_pinned", lambda: snapshots
                                .snapshot_read(self.run.spark, self.table, version=v)
                                .spark_df.toPandas())
            op.expect(f"version {v}", lambda: _same_rows(got, want))

    def read_view(self) -> None:
        from cl_data_frame_spark.operators import matview
        base = self.model[self.view_version]
        with self.run.op("read_view") as op:
            got = self.run.call("operators.matview", "read", lambda: matview
                                .matview_read(self.run.spark, self.view)
                                .spark_df.toPandas())
            op.expect("view equals group-by of last refreshed", lambda: frames_match(
                got[list(_view(base).columns)], _view(base), atol=1e-4))

    # -- the cycle ----------------------------------------------------------------

    def warm_up(self) -> None:
        """Set-up's first write and view creation are the warm-up: after
        them, each commit's first call costs about its warm time."""

    def cycle(self, i: int) -> None:
        """Four commits (append, merge, delete, streamed append) and one
        view refresh, each followed by a read rotating through latest,
        view and pinned; then optimize + vacuum."""
        reads = [self.read_latest, self.read_view, self.read_pinned]
        for k, step in enumerate((self.commit_append, self.commit_merge,
                                  self.commit_delete, self.commit_stream,
                                  self.refresh_view)):
            step()
            self._track_files()
            reads[(5 * i + k) % 3]()
        self.maintain()
        self._track_files()

    # -- per-layer metrics ------------------------------------------------------

    def layer_metrics(self) -> dict:
        from stats import percentile, ratio
        run = self.run

        def p50(key):
            walls = run.call_walls(key)
            return percentile(walls, 50) * 1000.0 if walls else 0.0
        out = {f"snapshots.{k}.p50_ms": p50(f"sources.snapshots.{k}")
               for k in ("write", "merge", "delete", "read_latest", "read_pinned")}
        out["matview.refresh.p50_ms"] = p50("operators.matview.refresh")
        out["matview.read.p50_ms"] = p50("operators.matview.read")
        stream = run.call_walls("streaming.write_stream_to_snapshot")
        out["streaming.write_stream_to_snapshot_s"] = \
            percentile(stream, 50) if stream else 0.0
        commits = [op.latency_s * 1000.0 for op in run.ops
                   if op.name.startswith("commit_")]
        reads = [op.latency_s * 1000.0 for op in run.ops
                 if op.name.startswith("read_")]
        out["lake.commit_p50_ms"] = percentile(commits, 50)
        out["lake.commit_tail_ms"] = percentile(commits, 90)
        out["lake.read_p50_ms"] = percentile(reads, 50)
        out["snapshots.bytes_written"] = self.written_bytes
        out["snapshots.files_written"] = self.written_files
        out["snapshots.optimize_s"] = percentile(self.optimize_s, 50) \
            if self.optimize_s else 0.0
        out["snapshots.bytes_rewritten"] = self.rewritten_bytes
        out["matview.state_bytes"] = sum(tree_files(self.view).values())
        out["lake.write_amp"] = ratio(self.written_bytes, self.batch_bytes)
        fresh = gen.write_table(self.model[self.latest],
                                os.path.join(self.dir, "fresh.parquet"))
        out["lake.space_amp"] = ratio(sum(tree_files(self.table).values()),
                                      os.path.getsize(fresh))
        return out


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got = got[COLS]
    return len(got) == len(want) and row_hash(got) == row_hash(want) \
        and frames_match(got, want[COLS])


def _view(base: pd.DataFrame) -> pd.DataFrame:
    g = base.groupby("grp")
    out = pd.DataFrame({"grp": g.size().index, "cnt": g.size().to_numpy()})
    for c in ("qty", "price"):
        out[f"sum_{c}"] = g[c].sum().to_numpy()
        out[f"avg_{c}"] = g[c].mean().to_numpy()
        out[f"min_{c}"] = g[c].min().to_numpy()
        out[f"max_{c}"] = g[c].max().to_numpy()
    return out
