"""The two workloads.  Each one generates its inputs from the seed, warms
the engine up on a small separate input with the same plan shapes, runs
the timed region, then checks outputs and fills ``ctx.e2e``/``ctx.layer``.

End-to-end metrics have one name per concept across workloads; what each
one measures on each workload is listed in perfbench/README.md.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np

import checks
import gen
from harness import (
    median, now_ms, parquet_files, pct, per_batch_files, progress_of, source_log,
    stage_totals, wait_for_progress,
)
from realtime_market_data_pipeline_spark.operators import readside
from realtime_market_data_pipeline_spark.operators.features import parse_ticks
from realtime_market_data_pipeline_spark.streaming import curation, dedup, job, sinks
from realtime_market_data_pipeline_spark.streaming.metrics import attach_metrics

# Sizes.  A run must stay near a minute including start-up and checks, so
# these are far below the reference probe sizes; README.md gives the reasons.
LIVE_WINDOW = "10 seconds"
LIVE_WARMUP_S = 3.0
WARM_LIVE_FILES = int(LIVE_WARMUP_S * 1000 / gen.LIVE_FILE_MS)
LIVE_LEAD_MS = 1000

BACKFILL_TICKS = 1_440_000
BACKFILL_TICKS_PER_FILE = 60_000
BACKFILL_FILES_PER_TRIGGER = 4  # 240k ticks per batch, six batches
BACKFILL_WINDOW = "1 minute"
DASH_KINDS = ("pivot_last", "kpi_summary", "topk_per_group")
# the dashboard runs every (range, panel) pair once, in this order
DASH_RANGES = ((0.5, 1.0), (0.0, 1.0))
DASH_HOT = 10

DOCS_PER_FILE = 1_000
DOCS_MAX_PER_S = 1_000  # generated docs cover --seconds at up to this rate
DOCS_WARM_PER_FILE = 200
GATE_KWARGS = {"min_words": 20, "max_words": 80, "required_words": gen.REQUIRED_WORDS}
DEDUP_THRESHOLD = 0.7

_STREAM_UNITS = {
    "job.batches": "count",
    "job.rows_per_batch_p50": "count",
    "job.trigger_ms_p50": "ms",
    "job.add_batch_ms_p50": "ms",
    "job.overhead_ms_p50": "ms",
    "job.plan_ms_p50": "ms",
    "job.wal_ms_p50": "ms",
    "job.commit_ms_p50": "ms",
    "source.latest_offset_ms_p50": "ms",
    "source.get_batch_ms_p50": "ms",
    "source.backlog_max": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms_p50": "ms",
    "state.update_ms_p50": "ms",
    "state.rows_dropped_late": "count",
    "sink.call_ms_p50": "ms",
    "sink.files_per_batch": "count",
    "sink.bytes_per_batch": "bytes",
}
# the backfill ingest stream reports the same layers under "ingest."
_INGEST_KEYS = (
    "job.batches", "job.rows_per_batch_p50", "job.add_batch_ms_p50", "job.overhead_ms_p50",
    "state.rows_total", "state.memory_bytes", "state.commit_ms_p50", "state.update_ms_p50",
    "state.rows_dropped_late", "sink.call_ms_p50", "sink.files_per_batch", "sink.bytes_per_batch",
)
LAYER_UNITS = {
    "session.start_s": "s",
    **_STREAM_UNITS,
    "gen.offered": "count",
    "gen.late_ms_max": "ms",
    **{f"ingest.{k}": _STREAM_UNITS[k] for k in _INGEST_KEYS},
    "ingest.wall_s": "s",
    "read.queries": "count",
    "read.query_ms_p50": "ms",
    "read.query_ms_p90": "ms",
    "read.pivot_last_ms_p50": "ms",
    "read.kpi_summary_ms_p50": "ms",
    "read.topk_per_group_ms_p50": "ms",
    "read.files_per_query": "count",
    "read.bytes_per_query": "bytes",
    "read.rows_examined_per_row_returned": "ratio",
    "read.driver_ms_p50": "ms",
    "gate.call_ms_p50": "ms",
    "gate.keep_ratio": "ratio",
    "gate.write_jobs_per_batch": "count",
    "dedup.call_ms_p50": "ms",
    "dedup.call_ms_growth": "ratio",
    "dedup.survivor_ratio": "ratio",
    "dedup.store_rows": "count",
    "dedup.store_files": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.persist_bytes_peak": "bytes",
    "spark.gc_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.driver_ms": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.latency_p90_ms": "ms",
    "trace.items_per_s": "1/s",
    "trace.spans": "count",
    "trace.self_ms": "ms",
}


class TimedWriter:
    """foreachBatch callable around a package writer: a span per call and
    the call's start/end (epoch ms), which the latency metrics need."""

    def __init__(self, ctx, inner, name: str, layer: str, phase: str):
        self.ctx, self.inner, self.name, self.layer, self.phase = ctx, inner, name, layer, phase
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, df, batch_id: int) -> None:
        t0 = now_ms()
        with self.ctx.tracer.span(self.name, self.layer, f"{self.phase}:batch:{batch_id}"):
            self.inner(df, batch_id)
        self.calls[batch_id] = (t0, now_ms())


def _feed(query, staged: str, src: str, groups: list[list[str]],
          until_s: float | None = None) -> dict[str, float]:
    """Closed loop with one client: move one group of files into the
    watched directory, wait until it has landed, repeat (until ``until_s``
    seconds have passed).  Returns {file: epoch ms it was handed over}."""
    os.makedirs(src, exist_ok=True)
    t0, fed = time.time(), {}
    for group in groups:
        for f in group:
            os.rename(os.path.join(staged, f), os.path.join(src, f))
            fed[f] = now_ms()
        query.processAllAvailable()
        if until_s is not None and time.time() - t0 >= until_s:
            break
    return fed


def _stream_stats(collector, query, ckpt, counts: dict[str, int],
                  batch_end_ms: dict[int, float], offered_at=None) -> dict[str, float]:
    """job.*, source.* and state.* of one query, from its progress events;
    work is counted from the generator's manifest through the checkpoint's
    source log, not from ``numInputRows``."""
    wait_for_progress(collector, query, len(batch_end_ms))
    bms = [b for b in collector.batches if b.query_id == str(query.id)]
    dur = lambda key: [b.duration_breakdown_ms.get(key, 0) for b in bms]  # noqa: E731
    trig, add = dur("triggerExecution"), dur("addBatch")
    st = {
        "job.batches": len(bms),
        "job.trigger_ms_p50": median(trig),
        "job.add_batch_ms_p50": median(add),
        "job.overhead_ms_p50": median([t - a for t, a in zip(trig, add)]),
        "job.plan_ms_p50": median(dur("queryPlanning")),
        "job.wal_ms_p50": median(dur("walCommit")),
        "job.commit_ms_p50": median(dur("commitOffsets")),
        "source.latest_offset_ms_p50": median(dur("latestOffset")),
        "source.get_batch_ms_p50": median(dur("getBatch")),
    }
    rows = {b: sum(counts.get(f, 0) for f in files) for b, files in source_log(ckpt).items()}
    st["job.rows_per_batch_p50"] = median([r for r in rows.values() if r])
    total = sum(counts.values())
    landed, backlog = 0, []
    for b in sorted(batch_end_ms):
        landed += rows.get(b, 0)
        offered = total if offered_at is None else offered_at(batch_end_ms[b])
        backlog.append(offered - landed)
    st["source.backlog_max"] = max(backlog) if backlog else total

    prog = [p for p in progress_of(query) if p.get("stateOperators")]
    ops = lambda p, k: sum(int(o.get(k) or 0) for o in p["stateOperators"])  # noqa: E731
    if prog:
        st["state.rows_total"] = ops(prog[-1], "numRowsTotal")
        st["state.memory_bytes"] = max(ops(p, "memoryUsedBytes") for p in prog)
        st["state.commit_ms_p50"] = median([ops(p, "commitTimeMs") for p in prog])
        st["state.update_ms_p50"] = median([ops(p, "allUpdatesTimeMs") for p in prog])
    st["state.rows_dropped_late"] = sum(ops(p, "numRowsDroppedByWatermark") for p in prog)
    return st


def _sink_stats(writer: TimedWriter, sink_dir: str) -> dict[str, float]:
    per = [v for v in per_batch_files(sink_dir).values() if v[0]]
    return {
        "sink.call_ms_p50": median([e - s for s, e in writer.calls.values()]),
        "sink.files_per_batch": median([f for f, _ in per]),
        "sink.bytes_per_batch": median([b for _, b in per]),
    }


def _spark_layers(ctx, phases: list[tuple[str, float, float]]) -> None:
    """spark.* summed over the timed phases: jobs and stages submitted
    inside each phase's [start, end] (epoch ms)."""
    stages, jobs = ctx.status.stages(), ctx.status.jobs()
    per_phase = {name: stage_totals(stages, jobs, s, e) for name, s, e in phases}
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                "input_bytes", "output_bytes", "spill_bytes", "gc_ms", "executor_run_ms",
                "executor_cpu_ms", "driver_ms"):
        ctx.layer[f"spark.{key}"] = sum(p[key] for p in per_phase.values())
    ctx.trace_doc["phases"] = per_phase


def _finish(ctx) -> None:
    """Mirror the end-to-end numbers into trace.* and fill untouched layers."""
    L = ctx.layer
    L["trace.latency_p50_ms"] = ctx.e2e["latency_p50_ms"]
    L["trace.latency_p90_ms"] = ctx.e2e["latency_p90_ms"]
    L["trace.items_per_s"] = ctx.e2e["items_per_s"]
    L["trace.spans"] = len(ctx.tracer.spans)
    L["trace.self_ms"] = ctx.tracer.self_ms
    for k in LAYER_UNITS:
        L.setdefault(k, 0.0)
    if ctx.trace:
        ctx.trace_doc.update({
            "workload": ctx.args.workload, "seed": ctx.seed, "seconds": ctx.seconds,
            "spans": ctx.tracer.spans, "self_ms_by_layer": ctx.tracer.self_times(),
            "layer": dict(L), "end_to_end": dict(ctx.e2e),
        })


# --------------------------------------------------------------------------
# ticks: live open loop -> backfill ingest -> dashboard


def _ticks_source(spark, path: str, files_per_trigger: int | None = None):
    os.makedirs(path, exist_ok=True)
    reader = spark.readStream.schema("value string")
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return parse_ticks(reader.text(path))


def _start_tick_stream(ctx, src_dir, sink_dir, ckpt, window, phase,
                       files_per_trigger=None, available_now=False):
    writer = TimedWriter(ctx, sinks.idempotent_parquet_writer(sink_dir),
                         "idempotent_parquet_writer", "sink", phase)
    with ctx.tracer.span("features_stream", "job", f"{phase}:start"):
        feats = job.features_stream(
            _ticks_source(ctx.spark, src_dir, files_per_trigger), window=window, watermark=window
        )
        query = job.start_features_stream(feats, writer, ckpt, output_mode="update",
                                          available_now=available_now)
    return query, writer


def _dash_ranges(n_ticks: int):
    t0, span = gen.BASE_EVENT_MS, n_ticks * gen.BACKLOG_SPACING_MS
    to_dt = lambda ms: datetime.fromtimestamp(ms / 1000, tz=timezone.utc).replace(tzinfo=None)  # noqa: E731
    return [(to_dt(t0 + int(a * span)), to_dt(t0 + int(b * span) + 60_000)) for a, b in DASH_RANGES]


def _hot_symbols() -> list[str]:
    return gen.symbol_names()[:DASH_HOT]


def _dashboard_query(spark, sink_dir, kind, lo, hi, hot):
    """One dashboard refresh: time range -> last write wins -> the panel."""
    df = spark.read.parquet(sink_dir)
    df = readside.time_range_filter(df, "window_end", lower=lo, upper=hi)
    df = readside.dedup_last_write_wins(df, ["symbol", "window_start"], "batch_id")
    if kind == "pivot_last":
        out = readside.pivot_last(df, "window_start", "symbol", "last_price", hot, order_col="window_end")
    elif kind == "kpi_summary":
        out = readside.kpi_summary(df, ("latency_ms", "volatility"))
    else:
        out = readside.topk_per_group(df, ["symbol"], "volatility", 3, tiebreak=("window_start",)).select(
            "symbol", "window_start", "volatility", "num_ticks")
    return out.columns, out.collect()


def _dashboard(ctx, sink, ranges, hot):
    """One closed-loop client running every panel over every time range."""
    sc = ctx.spark.sparkContext
    results = []
    for i, ((lo, hi), kind) in enumerate((r, k) for r in ranges for k in DASH_KINDS):
        sc.setJobGroup(f"dash:{i}", f"dashboard {kind}")
        t0 = now_ms()
        with ctx.tracer.span(kind, "read", f"dash:{i}"):
            cols, rows = _dashboard_query(ctx.spark, sink, kind, lo, hi, hot)
        results.append(checks.DashResult(i, kind, lo, hi, cols, rows, t0, now_ms()))
    sc.setJobGroup("perfbench", "benchmark bookkeeping")
    return results


def _read_layers(ctx, sink, results) -> None:
    L = ctx.layer
    ms = [r.t1 - r.t0 for r in results]
    L["read.queries"] = len(results)
    L["read.query_ms_p50"] = median(ms)
    L["read.query_ms_p90"] = pct(ms, 90)
    for kind in DASH_KINDS:
        L[f"read.{kind}_ms_p50"] = median([r.t1 - r.t0 for r in results if r.kind == kind])
    L["read.files_per_query"] = len(parquet_files(sink))
    stages = {s["stageId"]: s for s in ctx.status.stages()}
    by_group: dict[str, tuple[list, list]] = {}
    for j in ctx.status.jobs():
        g = j.get("jobGroup") or ""
        if g.startswith("dash:"):
            js, st = by_group.setdefault(g, ([], []))
            js.append(j)
            st.extend(stages[s] for s in j["stageIds"] if s in stages)
    in_bytes = in_recs = out_rows = 0
    drv = []
    for r in results:
        js, st = by_group.get(f"dash:{r.index}", ([], []))
        tot = stage_totals(st, js, r.t0, r.t1)
        in_bytes += tot["input_bytes"]
        in_recs += tot["input_records"]
        out_rows += len(r.rows)
        drv.append(tot["driver_ms"])
    L["read.bytes_per_query"] = in_bytes / max(len(results), 1)
    L["read.rows_examined_per_row_returned"] = in_recs / max(out_rows, 1)
    L["read.driver_ms_p50"] = median(drv)


def _sink_latencies(sink_dir: str, end_ms: dict[int, float]) -> np.ndarray:
    """Per landed feature row: writer return of its batch minus the due time
    of the newest tick in it."""
    import pyarrow.dataset as ds

    t = ds.dataset(sink_dir, format="parquet", partitioning="hive").to_table(
        columns=["batch_id", "max_event_time_ms"])
    ends = np.array([end_ms[int(b)] for b in t.column("batch_id").to_numpy()])
    return ends - t.column("max_event_time_ms").to_numpy()


def _run_generator(ctx, live_in: str, manifest_path: str, start_ms: int) -> list[dict]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"),
         "--out", live_in, "--manifest", manifest_path, "--seed", str(ctx.seed),
         "--seconds", str(ctx.seconds), "--start-ms", str(start_ms)],
    )
    ctx.sampler.exclude.add(proc.pid)
    try:
        rc = proc.wait(timeout=ctx.seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    return gen.read_manifest(manifest_path)


def ticks_inputs(ctx) -> None:
    """The historical backlog, and a small separate warm-up input."""
    gen.write_backlog(ctx.path("backlog"), ctx.path("backlog_manifest.jsonl"), ctx.seed,
                      BACKFILL_TICKS, BACKFILL_TICKS_PER_FILE)
    warm = ctx.path("warm_live_staged")
    os.makedirs(warm)
    ticks = gen.live_ticks(ctx.seed + 7919, LIVE_WARMUP_S)
    start_ms = int(now_ms() - LIVE_WARMUP_S * 1000)
    for i in range(WARM_LIVE_FILES):
        name, body = gen.live_file(ticks, start_ms, i)
        with open(os.path.join(warm, name), "w") as f:
            f.write(body)


def ticks(ctx) -> None:
    spark = ctx.spark
    collector, detach = attach_metrics(spark, max_batches=100_000)
    backlog, backlog_man = ctx.path("backlog"), gen.read_manifest(ctx.path("backlog_manifest.jsonl"))
    n_ticks = sum(m["n"] for m in backlog_man)
    hot = _hot_symbols()

    # warm-up: the live plan and every dashboard panel on small inputs; the
    # ingest gets none of its own, because it runs after the live phase has
    # exercised the same operators
    q, _ = _start_tick_stream(ctx, ctx.path("warm_live"), ctx.path("warm_live_sink"),
                              ctx.path("warm_live_ckpt"), LIVE_WINDOW, "warmup")
    files = sorted(os.listdir(ctx.path("warm_live_staged")))
    _feed(q, ctx.path("warm_live_staged"), ctx.path("warm_live"),
          [files[: WARM_LIVE_FILES // 2], files[WARM_LIVE_FILES // 2 :]])
    q.stop()
    lo, hi = datetime(2000, 1, 1), datetime(2100, 1, 1)
    for kind in DASH_KINDS:
        _dashboard_query(spark, ctx.path("warm_live_sink"), kind, lo, hi, hot)
    ctx.setup_done()

    # 1. live: open loop at a fixed rate from a separate generator process;
    # it runs first because its batches also warm the JIT for the operators
    # the ingest shares
    live_in, sink, ckpt = ctx.path("live_in"), ctx.path("live", "sink"), ctx.path("live", "ckpt")
    t_live = now_ms()
    query, writer = _start_tick_stream(ctx, live_in, sink, ckpt, LIVE_WINDOW, "live")
    start_ms = int(now_ms()) + LIVE_LEAD_MS
    live_man = _run_generator(ctx, live_in, ctx.path("live_manifest.jsonl"), start_ms)
    query.processAllAvailable()
    query.stop()

    # 2. backfill ingest: drain the backlog (closed loop)
    ingest_sink, ingest_ckpt = ctx.path("ingest", "sink"), ctx.path("ingest", "ckpt")
    t_ingest = now_ms()
    ingest_q, ingest_w = _start_tick_stream(
        ctx, backlog, ingest_sink, ingest_ckpt, BACKFILL_WINDOW, "ingest",
        files_per_trigger=BACKFILL_FILES_PER_TRIGGER, available_now=True)
    ingest_q.awaitTermination()
    t_dash = now_ms()
    counts = lambda man: {m["file"]: m["n"] for m in man}  # noqa: E731
    ctx.e2e["items_per_s"] = n_ticks / ((t_dash - t_ingest) / 1000.0)

    # 3. dashboard over the sink just landed (closed loop, one client)
    results = _dashboard(ctx, ingest_sink, _dash_ranges(n_ticks), hot)
    t_end = now_ms()
    ctx.measured_done()

    end_ms = {b: e for b, (_, e) in writer.calls.items()}
    lat = _sink_latencies(sink, end_ms)
    ctx.e2e["latency_p50_ms"] = pct(lat, 50)
    ctx.e2e["latency_p90_ms"] = pct(lat, 90)

    written = sorted((m["written_ms"], m["n"]) for m in live_man)
    w_t = np.array([w for w, _ in written])
    w_n = np.cumsum([n for _, n in written])

    def offered_at(t):
        k = int(np.searchsorted(w_t, t, side="right"))
        return int(w_n[k - 1]) if k else 0

    L = ctx.layer
    L.update(_stream_stats(collector, query, ckpt, counts(live_man), end_ms, offered_at))
    L.update(_sink_stats(writer, sink))
    L["gen.offered"] = sum(m["n"] for m in live_man)
    L["gen.late_ms_max"] = max(m["late_ms"] for m in live_man)
    ingest = _stream_stats(collector, ingest_q, ingest_ckpt, counts(backlog_man),
                           {b: e for b, (_, e) in ingest_w.calls.items()})
    ingest.update(_sink_stats(ingest_w, ingest_sink))
    L.update({f"ingest.{k}": ingest[k] for k in _INGEST_KEYS})
    L["ingest.wall_s"] = (t_dash - t_ingest) / 1000.0
    detach()
    if ctx.trace:
        _spark_layers(ctx, [("live", t_live, t_ingest), ("ingest", t_ingest, t_dash),
                            ("dashboard", t_dash, t_end)])
        _read_layers(ctx, ingest_sink, results)

    # checks: (a) each sink against batch compute_features over exactly the
    # ticks it consumed, no late drops; (b) each dashboard result against
    # DuckDB over the same sink files
    bad = set()
    unpinned = int(L["state.rows_dropped_late"] > 0) + int(L["ingest.state.rows_dropped_late"] > 0)
    for name, s, src, window in (("ingest", ingest_sink, backlog, BACKFILL_WINDOW),
                                 ("live", sink, live_in, LIVE_WINDOW)):
        wrong, missing = checks.check_tick_sink(spark, s, src, window)
        bad.update((name, b) for b in wrong)
        unpinned += missing
    bad.update(("dash", i) for i in checks.check_dashboard(ingest_sink, results, hot))
    ctx.attempted = len(ingest_w.calls) + len(results) + len(writer.calls)
    ctx.failed = checks.failed_ops(bad, unpinned, ctx.attempted)
    _finish(ctx)


# --------------------------------------------------------------------------
# curation_stream


class Curate:
    """foreachBatch body: the Gopher gate writer, then the MinHash dedup
    writer over the keepers the gate just landed."""

    def __init__(self, ctx, root: str, phase: str):
        self.ctx, self.phase = ctx, phase
        self.curated = os.path.join(root, "curated")
        self.rejects = os.path.join(root, "rejects")
        self.accepted = os.path.join(root, "accepted")
        self.store = os.path.join(root, "store")
        self.gate = curation.quality_gate_writer(
            self.curated, self.rejects, repetition=True, **GATE_KWARGS)
        self.dedup = dedup.minhash_dedup_writer(self.store, self.accepted, threshold=DEDUP_THRESHOLD)
        self.calls: dict[int, dict[str, tuple[float, float]]] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        spark, tr, tid = batch_df.sparkSession, self.ctx.tracer, f"{self.phase}:batch:{batch_id}"
        rec = self.calls[batch_id] = {}
        t0 = now_ms()
        with tr.span("quality_gate_writer", "gate", tid):
            self.gate(batch_df, batch_id)
        t1 = now_ms()
        rec["gate"] = (t0, t1)
        part = os.path.join(self.curated, f"batch_id={batch_id}")
        if os.path.isdir(part):
            keepers = spark.read.parquet(part).select("doc_id", "text")
            with tr.span("minhash_dedup_writer", "dedup", tid):
                self.dedup(keepers, batch_id)
            rec["dedup"] = (t1, now_ms())
        rec["all"] = (t0, now_ms())


def _curation_stream(ctx, src, root, phase):
    writer = Curate(ctx, root, phase)
    os.makedirs(src, exist_ok=True)
    docs = ctx.spark.readStream.schema("doc_id long, text string").parquet(src)
    ckpt = os.path.join(root, "ckpt")
    query = job.start_features_stream(docs, writer, ckpt, output_mode="append")
    return query, writer, ckpt


def curation_stream_inputs(ctx) -> None:
    """Enough documents to feed --seconds at up to DOCS_MAX_PER_S, and a
    small separate warm-up corpus."""
    n_docs = DOCS_PER_FILE * int(ctx.seconds * DOCS_MAX_PER_S / DOCS_PER_FILE + 2)
    ids, texts = gen.documents(ctx.seed, n_docs)
    gen.write_documents(ctx.path("docs_staged"), ctx.path("docs_manifest.jsonl"), ids, texts,
                        DOCS_PER_FILE)
    w_ids, w_texts = gen.documents(ctx.seed + 7919, 2 * DOCS_WARM_PER_FILE, first_id=10_000_000)
    gen.write_documents(ctx.path("warm_staged"), ctx.path("warm_manifest.jsonl"), w_ids, w_texts,
                        DOCS_WARM_PER_FILE)


def curation_stream(ctx) -> None:
    spark = ctx.spark
    collector, detach = attach_metrics(spark, max_batches=100_000)
    staged, man_path = ctx.path("docs_staged"), ctx.path("docs_manifest.jsonl")
    warm_staged = ctx.path("warm_staged")
    q, _, _ = _curation_stream(ctx, ctx.path("warm_docs"), ctx.path("warm"), "warmup")
    _feed(q, warm_staged, ctx.path("warm_docs"), [[f] for f in sorted(os.listdir(warm_staged))])
    q.stop()

    src, root = ctx.path("docs"), ctx.path("run")
    query, writer, ckpt = _curation_stream(ctx, src, root, "curation")
    manifest = gen.read_manifest(man_path)
    ctx.setup_done()
    t0 = now_ms()
    fed = _feed(query, staged, src, [[m["file"]] for m in manifest], until_s=ctx.seconds)
    t1 = now_ms()
    query.stop()
    ctx.measured_done()
    manifest = [m for m in manifest if m["file"] in fed]
    ctx.e2e["items_per_s"] = sum(m["n"] for m in manifest) / ((t1 - t0) / 1000.0)
    batch_ms = [r["all"][1] - r["all"][0] for r in writer.calls.values()]
    ctx.e2e["latency_p50_ms"] = pct(batch_ms, 50)
    ctx.e2e["latency_p90_ms"] = pct(batch_ms, 90)

    fed_at = sorted((fed[m["file"]], m["n"]) for m in manifest)

    def offered_at(t):
        return sum(n for at, n in fed_at if at <= t)

    ctx.layer.update(_stream_stats(collector, query, ckpt, {m["file"]: m["n"] for m in manifest},
                                   {b: r["all"][1] for b, r in writer.calls.items()}, offered_at))
    ctx.layer["gen.offered"] = sum(m["n"] for m in manifest)
    detach()
    if ctx.trace:
        _spark_layers(ctx, [("curation", t0, t1)])
        _curation_layers(ctx, writer, sum(m["n"] for m in manifest))

    bad, unpinned = _check_curation(spark, src, writer, ckpt, manifest)
    ctx.attempted = len(writer.calls)
    ctx.failed = checks.failed_ops(bad, unpinned, ctx.attempted)
    _finish(ctx)


def _curation_layers(ctx, writer: Curate, n_docs: int) -> None:
    import pyarrow.dataset as ds

    L = ctx.layer
    calls = [writer.calls[b] for b in sorted(writer.calls)]
    gate_ms = [c["gate"][1] - c["gate"][0] for c in calls]
    dedup_ms = [c["dedup"][1] - c["dedup"][0] for c in calls if "dedup" in c]
    L["gate.call_ms_p50"] = median(gate_ms)
    L["dedup.call_ms_p50"] = median(dedup_ms)
    q = max(len(dedup_ms) // 4, 1)
    L["dedup.call_ms_growth"] = (sum(dedup_ms[-q:]) / q) / max(sum(dedup_ms[:q]) / q, 1e-9)
    jobs = [j for j in ctx.status.jobs() if j.get("submissionTime")]
    per_batch = []
    for c in calls:
        s, e = c["gate"]
        per_batch.append(sum(1 for j in jobs if s <= j["submissionTime"] <= e))
    L["gate.write_jobs_per_batch"] = median(per_batch)
    rows = lambda p: ds.dataset(p, format="parquet", partitioning="hive").count_rows()  # noqa: E731
    kept = rows(writer.curated)
    accepted = rows(writer.accepted)
    L["gate.keep_ratio"] = kept / n_docs
    L["dedup.survivor_ratio"] = accepted / max(kept, 1)
    L["dedup.store_rows"] = rows(writer.store)
    L["dedup.store_files"] = len(parquet_files(writer.store))


def _check_curation(spark, src, writer: Curate, ckpt, manifest):
    """(c): every document lands exactly once in keep or reject; keep ∪
    reject equals one batch run of gopher_quality ⋈ gopher_repetition; no
    two dedup survivors form a pair the writer's threshold flags."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import dedup as odedup
    from realtime_market_data_pipeline_spark.operators import text as tx

    # doc id -> batch that consumed it, from the source log and the manifest
    file_batch = {f: b for b, files in source_log(ckpt).items() for f in files}
    id_batch = []
    for m in manifest:
        lo, hi = m["ids"]
        id_batch.append((lo, hi, file_batch.get(m["file"], -1)))

    def batch_of(doc_id):
        for lo, hi, b in id_batch:
            if lo <= doc_id <= hi:
                return b
        return -1

    bad: set[int] = set()
    unpinned = 0

    def charge(doc_id: int) -> None:
        nonlocal unpinned
        b = batch_of(doc_id)
        if b < 0:
            unpinned += 1
        else:
            bad.add(b)

    acc = spark.read.parquet(writer.curated).unionByName(spark.read.parquet(writer.rejects))
    docs = spark.read.parquet(src)
    n_docs = sum(m["n"] for m in manifest)
    dup = acc.groupBy("doc_id").agg(F.count("*").alias("n"), F.max("batch_id").alias("b")).filter("n > 1")
    bad.update(int(r.b) for r in dup.collect())
    lost = docs.select("doc_id").join(acc.select("doc_id"), "doc_id", "left_anti").collect()
    for r in lost:
        charge(int(r.doc_id))

    twin = (
        tx.gopher_quality(docs, extra_cols=("text",), **GATE_KWARGS)
        .withColumnRenamed("keep", "keep_structural")
        .join(tx.gopher_repetition(docs).withColumnRenamed("keep", "keep_repetition"), "doc_id")
        .withColumn("keep", F.col("keep_structural") & F.col("keep_repetition"))
    )
    cols = sorted(c for c in acc.columns if c != "batch_id")
    if sorted(twin.columns) != cols:
        return bad, n_docs
    extra = acc.select(*cols).exceptAll(twin.select(*cols))
    short = twin.select(*cols).exceptAll(acc.select(*cols))
    for r in extra.select("doc_id").distinct().collect() + short.select("doc_id").distinct().collect():
        charge(int(r.doc_id))

    survivors = spark.read.parquet(writer.accepted)
    sigs = odedup.minhash_signature(survivors, "text", "doc_id")
    bands = odedup.band_key_rows(sigs, "doc_id")
    pairs = (
        bands.alias("x").join(bands.alias("y"), ["band_id", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")).distinct()
    )
    s1 = sigs.select([F.col(c).alias(f"a_{c}") for c in sigs.columns])
    s2 = sigs.select([F.col(c).alias(f"b_{c}") for c in sigs.columns])
    agree = sum(F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1).otherwise(0) for i in range(16))
    flagged = (
        pairs.join(s1, pairs.a == s1.a_doc_id).join(s2, pairs.b == s2.b_doc_id)
        .filter(agree / F.lit(16.0) >= F.lit(DEDUP_THRESHOLD))
        .select("b").collect()
    )
    for r in flagged:
        charge(int(r.b))
    return bad, unpinned
