"""Measurement plumbing shared by the workloads.

``Run`` owns one benchmark run: the Spark session, the timed window,
the op and layer-call records, deferred output checks, the RSS sampler
and (in a traced run) the span list. All measurement is taken from
outside the program, around each call into a layer:

- wall time of every op and every layer call (both modes);
- in a traced run, the call's Spark jobs (attributed with
  ``setJobGroup``), read from Spark's ``AppStatusStore``: stages, tasks,
  executor run time, shuffle bytes, spill bytes and JVM GC time, plus
  driver self-time — the part of the call's wall with no job running;
- peak resident memory (PSS) of this process and its descendants (the
  JVM and its Python workers), sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from stats import self_time, union_length

# -- RSS ----------------------------------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """The process's proportional set size: resident pages, each shared
    page split among the processes sharing it (forked Python workers
    share most of their memory with their parent), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the resident memory (PSS) of this process
    and its descendants: the JVM and its Python workers."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-rss")

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(_pss_bytes(p) for p in _descendants(pid)))
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark status store ------------------------------------------------------

class SparkStatus:
    """Reads job and stage records for one job group from the driver's
    ``AppStatusStore`` (one JSON round trip per job and per stage)."""

    STAGE_FIELDS = ("numTasks", "executorRunTime", "shuffleReadBytes",
                    "shuffleWriteBytes", "memoryBytesSpilled",
                    "diskBytesSpilled", "jvmGcTime")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def group_jobs(self, group: str) -> list[dict]:
        """Finished jobs of *group*: id, epoch-second interval and the
        summed metrics of their (distinct, non-skipped) stages."""
        self._bus.waitUntilEmpty()
        jobs = []
        seen_stages: set[int] = set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            j = self._json(self._store.job(jid))
            m = dict.fromkeys(self.STAGE_FIELDS, 0)
            m["stages"] = 0
            for sid in j.get("stageIds") or ():
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                s = self._json(self._store.lastStageAttempt(sid))
                if s.get("status") == "SKIPPED":
                    continue
                m["stages"] += 1
                for k in self.STAGE_FIELDS:
                    m[k] += s.get(k) or 0
            sub = j.get("submissionTime")
            end = j.get("completionTime") or sub
            jobs.append({"id": jid, "status": j.get("status"),
                         "start": (sub or 0) / 1000.0,
                         "end": (end or 0) / 1000.0, **m})
        return jobs


# -- the run ------------------------------------------------------------------

class Op:
    """One workload op: a unit of user-visible work made of layer calls."""

    def __init__(self, name: str):
        self.name = name
        self.latency_s = 0.0
        self.error: str | None = None
        self.checks: list = []

    def expect(self, what: str, fn) -> None:
        """Defer an output check (run after the timed window). *fn*
        returns True/None when the output is right, or raises/returns
        False when it is wrong."""
        self.checks.append((what, fn))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work_dir: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work_dir = work_dir
        self.cores = cores
        self.spark = None
        self.status: SparkStatus | None = None
        self.recording = False        # True inside the timed window
        self.ops: list[Op] = []
        self.calls: dict[str, list[dict]] = defaultdict(list)
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self.t_epoch0 = time.time()
        self.window_s = 0.0
        self.setup_s = 0.0
        self.rss = RssSampler()
        self._span_ids = 0
        self._op_span: int | None = None
        self._group_seq = 0
        self.notes: dict = {}

    # -- session --------------------------------------------------------------

    def start_session(self):
        from cl_data_frame_spark import session
        e0 = time.time()
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        wall = time.perf_counter() - t0
        self.calls["session.get_spark"].append({"wall_s": wall})
        if self.traced:
            self.status = SparkStatus(self.spark)
            self.sc_set_group("perfbench-idle")
            self._new_span(kind="call", name="session.get_spark",
                           layer="session", parent=None,
                           start=e0 - self.t_epoch0,
                           end=e0 + wall - self.t_epoch0,
                           self_ms=wall * 1000.0, jobs=0)

    def sc_set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group, False)

    # -- spans ----------------------------------------------------------------

    def _new_span(self, **kw) -> dict:
        self._span_ids += 1
        span = {"id": self._span_ids, **kw}
        self.spans.append(span)
        return span

    # -- ops and calls ----------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """Time one op; an exception inside marks the op failed (logged,
        not raised) so the workload keeps running."""
        op = Op(name)
        span = None
        if self.traced and self.recording:
            span = self._new_span(kind="op", name=name, parent=None,
                                  start=time.time() - self.t_epoch0)
            self._op_span = span["id"]
        t0 = time.perf_counter()
        try:
            yield op
        except Exception:
            op.error = traceback.format_exc(limit=4)[-2000:]
            print(f"perfbench: op {name} failed:\n{op.error}",
                  file=sys.stderr)
        op.latency_s = time.perf_counter() - t0
        if span is not None:
            span["end"] = span["start"] + op.latency_s
            self._op_span = None
        if self.recording:
            self.ops.append(op)

    def call(self, layer: str, fn: str, thunk):
        """Run *thunk* as one call into *layer*; inside the timed window,
        record it (and in a traced run, its Spark jobs and a span)."""
        key = f"{layer}.{fn}"
        if not self.recording:
            return thunk()
        if not self.traced:
            t0 = time.perf_counter()
            out = thunk()
            self.calls[key].append({"wall_s": time.perf_counter() - t0})
            return out
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        self.sc_set_group(group)
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            out = thunk()
        finally:
            wall = time.perf_counter() - t0
            e1 = e0 + wall
            b0 = time.perf_counter()
            self.sc_set_group("perfbench-idle")
            jobs = self.status.group_jobs(group)
            self._record_call(key, layer, fn, e0, e1, wall, jobs)
            self.bookkeeping_s += time.perf_counter() - b0
        return out

    def _record_call(self, key, layer, fn, e0, e1, wall, jobs) -> None:
        intervals = [(j["start"], j["end"]) for j in jobs]
        rec = {"wall_s": wall, "jobs": len(jobs),
               "driver_self_s": self_time(e0, e1, intervals),
               "job_busy_s": union_length(intervals, e0, e1)}
        for k in ("stages", *SparkStatus.STAGE_FIELDS):
            rec[k] = sum(j[k] for j in jobs)
        self.calls[key].append(rec)
        span = self._new_span(kind="call", name=key, layer=layer,
                              parent=self._op_span,
                              start=e0 - self.t_epoch0,
                              end=e1 - self.t_epoch0,
                              self_ms=rec["driver_self_s"] * 1000.0,
                              **{k: rec[k] for k in rec
                                 if k not in ("wall_s", "driver_self_s")})
        for j in jobs:
            self._new_span(kind="job", name=f"job {j['id']}",
                           parent=span["id"], start=j["start"] - self.t_epoch0,
                           end=j["end"] - self.t_epoch0,
                           self_ms=(j["end"] - j["start"]) * 1000.0,
                           status=j["status"], stages=j["stages"],
                           tasks=j["numTasks"],
                           executor_run_ms=j["executorRunTime"])

    # -- the timed window -------------------------------------------------------

    def timed_window(self, cycle) -> None:
        """Call ``cycle(i)`` until ``seconds`` have passed; the cycle in
        progress at the deadline finishes, so every run ends on whole
        cycles and keeps its op mix fixed."""
        self.recording = True
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.seconds:
            cycle(i)
            i += 1
        self.window_s = time.perf_counter() - t0
        self.recording = False
        self.notes["cycles"] = i

    def run_checks(self) -> None:
        for op in self.ops:
            for what, fn in op.checks:
                if op.error:
                    break
                try:
                    ok = fn()
                except Exception:
                    ok = False
                    print(traceback.format_exc(limit=4), file=sys.stderr)
                if ok is False:
                    op.error = f"wrong output: {what}"
                    print(f"perfbench: op {op.name}: wrong output: {what}",
                          file=sys.stderr)

    # -- summaries ----------------------------------------------------------------

    def call_walls(self, key: str) -> list[float]:
        return [c["wall_s"] for c in self.calls.get(key, ())]

    def call_sum(self, key_prefix: str, field: str) -> float:
        return sum(c.get(field, 0) for k, recs in self.calls.items()
                   if k.startswith(key_prefix) for c in recs)

    def window_calls(self):
        return ((k, c) for k, recs in self.calls.items()
                if k != "session.get_spark" for c in recs)

    def write_trace(self, path: str, extra: dict) -> None:
        """Write the spans with each op span's self-time (its duration
        minus the part its layer calls cover)."""
        by_parent: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s.get("parent") is not None:
                by_parent[s["parent"]].append(s)
        for s in self.spans:
            if s["kind"] == "op":
                kids = [(c["start"], c["end"]) for c in by_parent[s["id"]]]
                s["self_ms"] = self_time(s["start"], s["end"], kids) * 1000.0
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "time_unit": "s since run start", **extra,
                       "spans": self.spans}, f)
