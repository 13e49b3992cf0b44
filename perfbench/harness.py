"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: a span tracer around the
benchmark's own calls into the package, a /proc sampler for the RSS of the
process tree, and a reader for Spark's status store (stage metrics) and
streaming progress events.  Nothing here edits or patches the package.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def now_ms() -> float:
    return time.time() * 1000.0


def pct(values, q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --------------------------------------------------------------------------
# Spans


class Tracer:
    """In-memory spans around calls into the package's layers.

    A span has a name, a layer, a trace id shared by every span of one
    micro-batch or query, a parent, and wall-clock start/end in epoch ms.
    The benchmark never opens a span inside another, so every parent is
    None and a span's self time is its whole duration.  When disabled,
    ``span`` costs one ``if`` and records nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_ms = 0.0

    @contextmanager
    def span(self, name: str, layer: str, trace_id: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer, "trace_id": trace_id,
               "parent": None, "start_ms": now_ms()}
        self.spans.append(rec)
        self.self_ms += (time.perf_counter() - t_in) * 1000.0
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end_ms"] = now_ms()
            self.self_ms += (time.perf_counter() - t_out) * 1000.0

    def self_times(self) -> dict[str, float]:
        """Per layer: the summed duration of its spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if "end_ms" in s:
                out[s["layer"]] = out.get(s["layer"], 0.0) + s["end_ms"] - s["start_ms"]
        return out


def union_ms(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------------
# Process-tree RSS from /proc (psutil is not available)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> bytes:
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return f.read()


def tree_hwm_bytes(root: int, exclude: set[int]) -> dict[int, int]:
    """pid -> peak resident set (VmHWM) for every process in the tree.

    A child of the JVM that still runs the JVM's own command line is
    skipped: the JVM spawns helpers through vfork, and until they exec they
    report the JVM's memory as their own.  Forked children of any other
    process, such as the workers ``pyspark.daemon`` forks, are counted."""
    kids = _children_map()
    out, todo = {}, [(root, None)]
    while todo:
        pid, parent_cmd = todo.pop()
        if pid in exclude:
            continue
        try:
            cmd = _cmdline(pid)
            if not (cmd == parent_cmd and _is_java(cmd)):
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            out[pid] = int(line.split()[1]) * 1024
                            break
        except OSError:
            continue
        todo.extend((k, cmd) for k in kids.get(pid, []))
    return out


def _is_java(cmdline: bytes) -> bool:
    return os.path.basename(cmdline.split(b"\0", 1)[0]) == b"java"


class Sampler(threading.Thread):
    """Tracks the peak RSS of this process tree (minus excluded pids, e.g.
    the load generator) as the sum of each process's kernel-kept high-water
    mark, so short spikes between samples still count; when given a
    ``persist_probe``, also samples Spark's persisted bytes."""

    INTERVAL_S = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.persist_probe = None
        self.exclude: set[int] = set()
        self.hwm: dict[int, int] = {}
        self.peak_persist = 0
        self._stop_evt = threading.Event()

    @property
    def peak_rss(self) -> int:
        return sum(self.hwm.values())

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.INTERVAL_S)

    def sample(self) -> None:
        for pid, hwm in tree_hwm_bytes(os.getpid(), self.exclude).items():
            self.hwm[pid] = max(self.hwm.get(pid, 0), hwm)
        if self.persist_probe is not None:
            try:
                self.peak_persist = max(self.peak_persist, self.persist_probe())
            except Exception:  # noqa: BLE001 - the session may be stopping
                pass

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()


# --------------------------------------------------------------------------
# Spark status store, read through the JVM's own Jackson (one round trip)


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(scala_mod.__getattr__("MODULE$"))
        mapper.registerModule(jvm.com.fasterxml.jackson.datatype.jsr310.JavaTimeModule())
        self._mapper = mapper

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        no_q = self._gw.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(None, False, False, no_q, None))

    def persisted_bytes(self) -> int:
        return sum(
            int(r.get("memoryUsed") or 0) + int(r.get("diskUsed") or 0)
            for r in self._json(self._store.rddList(True))
        )


def stage_totals(stages: list[dict], jobs: list[dict], start_ms: float, end_ms: float) -> dict:
    """Counters over the jobs and stages submitted in [start_ms, end_ms];
    ``driver_ms`` is the wall time not covered by any stage."""
    n_jobs = sum(
        1 for j in jobs if j.get("submissionTime") and start_ms <= j["submissionTime"] <= end_ms
    )
    sel = [
        s
        for s in stages
        if s.get("submissionTime") is not None
        and start_ms <= s["submissionTime"] <= end_ms
        and s.get("status") in ("COMPLETE", "FAILED")
    ]
    spans = [
        (s["submissionTime"], s.get("completionTime") or s["submissionTime"]) for s in sel
    ]

    def tot(key):
        return sum(int(s.get(key) or 0) for s in sel)

    return {
        "stages": len(sel),
        "jobs": n_jobs,
        "tasks": tot("numTasks"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "input_bytes": tot("inputBytes"),
        "input_records": tot("inputRecords"),
        "output_bytes": tot("outputBytes"),
        "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        "gc_ms": tot("jvmGcTime"),
        "executor_run_ms": tot("executorRunTime"),
        "executor_cpu_ms": tot("executorCpuTime") / 1e6,
        "driver_ms": max((end_ms - start_ms) - union_ms(spans), 0.0),
    }


def progress_of(query) -> list[dict]:
    """Every retained progress event of a query, as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def wait_for_progress(collector, query, batches: int, timeout_s: float = 10.0) -> None:
    """The listener bus is asynchronous: wait until the collector has seen
    a progress event for each of the query's ``batches``."""
    qid = str(query.id)
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if sum(1 for b in collector.batches if b.query_id == qid) >= batches:
            return
        time.sleep(0.05)


# --------------------------------------------------------------------------
# Directory accounting


def parquet_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return out


def per_batch_files(path: str) -> dict[int, tuple[int, int]]:
    """batch_id -> (files, bytes) for a batch_id-partitioned sink."""
    out: dict[int, tuple[int, int]] = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        if d.startswith("batch_id="):
            files = parquet_files(os.path.join(path, d))
            out[int(d.split("=", 1)[1])] = (len(files), sum(s for _, s in files))
    return out


def source_log(checkpoint_dir: str) -> dict[int, set[str]]:
    """batch_id -> file names the file source handed to that batch, read
    from the checkpoint's source metadata log (plain and .compact files)."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[int, set[str]] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                rec = json.loads(line)
                out.setdefault(int(rec["batchId"]), set()).add(os.path.basename(rec["path"]))
    return out
