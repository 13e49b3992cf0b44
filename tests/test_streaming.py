"""Streaming wrap tests (SURVEY.md §7.2 step 4, §5 batch-equivalence trick).

The streaming plan is the same operator chain as batch, so correctness is
checked by: generate deterministic GBM ticks → split across parquet files →
consume as a stream one file per micro-batch (update mode) → keyed
last-write-wins sink state must equal the batch result over the full input.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from realtime_market_data_pipeline_spark.operators.features import (
    compute_features,
    parse_ticks,
)
from realtime_market_data_pipeline_spark.operators.readside import (
    dedup_last_write_wins,
)
from realtime_market_data_pipeline_spark.sources import ticks as src
from realtime_market_data_pipeline_spark.streaming import job, sinks

DET_COLS = [
    "symbol",
    "window_start",
    "window_end",
    "first_price",
    "last_price",
    "log_return",
    "volatility",
    "num_ticks",
    "max_event_time_ms",
]

OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture(autouse=True)
def _overwrite_mode_never_set(request):
    """Every test here runs with a static session overwrite mode and
    fails if package code sets that conf: online writers overwrite per
    write (``sinks.land``), so queries sharing a session never see it
    flipped. Patched on the class, so the session wrappers foreachBatch
    builds are watched too."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = spark.conf.get(OVERWRITE_MODE)
    spark.conf.set(OVERWRITE_MODE, "static")
    sets = []
    real_set = RuntimeConfig.set

    def spy(self, key, value):
        if key == OVERWRITE_MODE:
            sets.append(value)
        return real_set(self, key, value)

    RuntimeConfig.set = spy
    try:
        yield
    finally:
        RuntimeConfig.set = real_set
        spark.conf.set(OVERWRITE_MODE, before)
    assert not sets, f"package code set {OVERWRITE_MODE} to {sets}"


@pytest.fixture(scope="module")
def gbm_ticks(spark):
    return src.synthetic_ticks_batch(spark, n_per_symbol=400, seed=7).cache()


@pytest.fixture(scope="module")
def tick_dir(spark, gbm_ticks, tmp_path_factory):
    """Three time-ordered parquet files so a maxFilesPerTrigger=1 stream sees
    three micro-batches, each updating windows that span file boundaries."""
    d = str(tmp_path_factory.mktemp("ticks_stream") / "ticks")
    bounds = [(0, 9), (9, 17), (17, 60)]
    for lo, hi in bounds:
        chunk = gbm_ticks.filter(
            (F.col("event_time") >= F.timestamp_millis(F.lit(1_704_067_200_000 + lo * 1000)))
            & (F.col("event_time") < F.timestamp_millis(F.lit(1_704_067_200_000 + hi * 1000)))
        )
        chunk.coalesce(1).write.mode("append").parquet(d)
    return d


def _batch_expected(gbm_ticks, window="10 seconds"):
    return {
        tuple(r)
        for r in compute_features(gbm_ticks, window=window)
        .select(*DET_COLS)
        .collect()
    }


def test_synthetic_gbm_deterministic(spark):
    a = src.synthetic_ticks_batch(spark, n_per_symbol=50, seed=11).collect()
    b = src.synthetic_ticks_batch(spark, n_per_symbol=50, seed=11).collect()
    assert sorted(a) == sorted(b)
    assert all(r.price > 0 for r in a)
    assert {r.symbol for r in a} == {"AAPL", "MSFT", "GOOG"}
    # different seed → different path
    c = src.synthetic_ticks_batch(spark, n_per_symbol=50, seed=12).collect()
    assert sorted(a) != sorted(c)


def test_kafka_payload_roundtrip(spark, gbm_ticks):
    sample = gbm_ticks.limit(100)
    back = parse_ticks(src.to_kafka_payload(sample))
    orig = {tuple(r) for r in sample.select("symbol", "price", "event_time_ms").collect()}
    rt = {tuple(r) for r in back.select("symbol", "price", "event_time_ms").collect()}
    assert rt == orig


def test_csv_backfill_roundtrip(spark, tmp_path):
    p = tmp_path / "backfill.csv"
    p.write_text(
        "symbol,price,event_time_ms\n"
        " aapl ,190.5,1704067200000\n"
        "MSFT,410.25,1704067201000\n"
    )
    out = src.read_tick_csv(spark, str(p)).collect()
    by_sym = {r.symbol: r for r in out}
    assert set(by_sym) == {"AAPL", "MSFT"}  # strip().upper() normalization
    assert by_sym["AAPL"].price == 190.5
    assert by_sym["AAPL"].event_time.isoformat().startswith("2024-01-01T00:00:00")


def test_stream_matches_batch_update_mode(spark, gbm_ticks, tick_dir, tmp_path):
    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    feats = job.features_stream(
        stream, window="10 seconds", watermark="0 seconds", with_latency=False
    )
    q = job.start_features_stream(
        feats,
        sinks.memory_upsert_writer(state),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="update",
        available_now=True,
    )
    q.awaitTermination(timeout=300)
    got = {tuple(v[c] for c in DET_COLS) for v in state.values()}
    assert got == _batch_expected(gbm_ticks)


def test_stream_duckdb_sink_and_readside_dedup(spark, gbm_ticks, tick_dir, tmp_path):
    """K1 semantics end-to-end: update mode + append-only INSERT duplicates
    rows per window (§2.2 trap); the read-side last-write-wins dedup recovers
    the batch answer."""
    import duckdb

    db = str(tmp_path / "features.duckdb")
    sinks.ensure_duckdb_schema(db)
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    feats = job.features_stream(stream, window="10 seconds", watermark="0 seconds")
    q = job.start_features_stream(
        feats,
        sinks.duckdb_append_writer(db),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        output_mode="update",
        available_now=True,
    )
    q.awaitTermination(timeout=300)

    con = duckdb.connect(db)
    try:
        pdf = con.execute("SELECT * FROM features ORDER BY ingest_ts").df()
    finally:
        con.close()
    expected = _batch_expected(gbm_ticks)
    # the trap reproduced: more sink rows than final windows
    assert len(pdf) > len(expected)

    sunk = spark.createDataFrame(pdf)
    deduped = dedup_last_write_wins(
        sunk, ["window_start", "symbol"], "ingest_ts", tiebreak=["num_ticks"]
    )
    got = {tuple(r) for r in deduped.select(*DET_COLS).collect()}
    assert got == expected


def test_idempotent_sink_replay_no_double_insert(spark, gbm_ticks, tmp_path):
    """T7 improvement: replaying a micro-batch overwrites its own partition."""
    out = str(tmp_path / "sink")
    feats = compute_features(gbm_ticks, window="10 seconds")
    writer = sinks.idempotent_parquet_writer(out)
    writer(feats, 0)
    writer(feats, 0)  # replay of the same batch_id
    got = {
        tuple(r)
        for r in spark.read.parquet(out).select(*DET_COLS).collect()
    }
    assert got == _batch_expected(gbm_ticks)


def test_sliding_stream_matches_batch(spark, gbm_ticks, tick_dir, tmp_path):
    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    feats = job.features_stream(
        stream, window="20 seconds", slide="5 seconds",
        watermark="0 seconds", with_latency=False,
    )
    q = job.start_features_stream(
        feats,
        sinks.memory_upsert_writer(state),
        checkpoint_dir=str(tmp_path / "ckpt3"),
        output_mode="update",
        available_now=True,
    )
    q.awaitTermination(timeout=300)
    expected = {
        tuple(r)
        for r in compute_features(gbm_ticks, window="20 seconds", slide="5 seconds")
        .select(*DET_COLS)
        .collect()
    }
    got = {tuple(v[c] for c in DET_COLS) for v in state.values()}
    assert got == expected


def test_stateful_intra_window_vol_matches_batch(spark, gbm_ticks, tick_dir, tmp_path):
    """applyInPandasWithState realized vol == batch lag+stddev version, with
    the return chain crossing micro-batch boundaries."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators.features import (
        intra_window_volatility,
    )
    from realtime_market_data_pipeline_spark.streaming.stateful import (
        intra_window_vol_stream,
    )

    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    out = intra_window_vol_stream(stream, window="10 seconds")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(
            sinks.memory_upsert_writer(state, key_cols=("symbol", "window_start_ms"))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    expected = {
        (r["symbol"], r["ws"]): (
            None if r["realized_vol"] is None else round(r["realized_vol"], 6),
            r["num_returns"],
        )
        for r in intra_window_volatility(gbm_ticks, window="10 seconds")
        .withColumn("ws", F.unix_millis("window_start"))
        .collect()
    }
    got = {
        (v["symbol"], v["window_start_ms"]): (
            None if v["realized_vol"] is None else round(v["realized_vol"], 6),
            v["num_returns"],
        )
        for v in state.values()
    }
    assert got == expected


def test_append_mode_emits_only_closed_windows(spark, gbm_ticks, tick_dir, tmp_path):
    """T4: append mode + watermark emits exactly the windows whose end ≤ final
    watermark (= max event time with 0s delay); open windows stay in state."""
    rows: list = []

    def collect_appends(batch_df, batch_id):
        rows.extend(batch_df.collect())

    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    feats = job.features_stream(
        stream, window="10 seconds", watermark="0 seconds", with_latency=False
    )
    q = (
        feats.writeStream.outputMode("append")
        .foreachBatch(collect_appends)
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    max_ms = gbm_ticks.agg(F.max("event_time_ms")).first()[0]
    expected = {
        t for t in _batch_expected(gbm_ticks)
        if t[2].timestamp() * 1000 <= max_ms  # window_end ≤ watermark
    }
    got = {tuple(r[c] for c in DET_COLS) for r in rows}
    assert got == expected
    # and strictly fewer than the full batch result (open windows held back)
    assert len(got) < len(_batch_expected(gbm_ticks))


def test_synthetic_stream_rate_source(spark, tmp_path):
    """S7 streaming: rate-source GBM ticks produce schema-correct positive
    prices (one real micro-batch via rate-micro-batch for determinism)."""
    ticks = src.synthetic_ticks_stream(spark, tps=30)
    assert dict(ticks.dtypes) == {
        "symbol": "string",
        "price": "double",
        "event_time_ms": "bigint",
        "event_time": "timestamp",
    }
    rows: list = []

    def grab(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (
        ticks.writeStream.outputMode("append")
        .foreachBatch(grab)
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .trigger(processingTime="1 second")
        .start()
    )
    import time as _time

    deadline = _time.time() + 60
    while not rows and _time.time() < deadline:
        _time.sleep(1)
    q.stop()
    assert rows, "rate source produced no ticks within 60s"
    assert all(r.price > 0 for r in rows)
    assert {r.symbol for r in rows} <= {"AAPL", "MSFT", "GOOG"}


def test_cli_parquet_source_to_idempotent_sink(spark, gbm_ticks, tick_dir, tmp_path):
    """End-to-end through the CLI wiring: parquet stream → idempotent sink."""
    from realtime_market_data_pipeline_spark import cli

    out = str(tmp_path / "cli_sink")
    cli.main([
        "--source", f"parquet:{tick_dir}",
        "--window", "10s", "--slide", "10s",
        "--sink", f"idempotent:{out}",
        "--checkpoint", str(tmp_path / "cli_ckpt"),
        "--once",
    ])
    sunk = spark.read.parquet(out)
    deduped = dedup_last_write_wins(
        sunk, ["window_start", "symbol"], "batch_id", tiebreak=["num_ticks"]
    )
    got = {tuple(r) for r in deduped.select(*DET_COLS).collect()}
    assert got == _batch_expected(gbm_ticks)


def test_multimodal_frame_and_audio_stubs(spark):
    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import multimodal as mm

    media = mm.documents_as_media(
        load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    )
    frames = mm.frame_sample_stub(media, every_n_bytes=50).collect()
    assert frames and all(f.frame_byte >= 0 for f in frames)
    per_media: dict = {}
    for f in frames:
        per_media.setdefault(f.media_id, []).append(f.frame_idx)
    for idxs in per_media.values():
        assert sorted(idxs) == list(range(len(idxs)))  # dense frame indices

    audio = mm.audio_features_stub(media, frame_len=64).collect()
    assert audio and all(a.energy >= 0 for a in audio)


def test_stream_static_enrichment_join(spark, gbm_ticks, tick_dir, tmp_path):
    """SURVEY.md §2.4: live enrichment = stream-static broadcast join; the
    dimension is joined per micro-batch without interrupting the stream."""
    dim = spark.createDataFrame(
        [("AAPL", "tech"), ("MSFT", "tech"), ("GOOG", "comms")],
        ["symbol", "sector"],
    )
    rows: list = []
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    enriched = stream.join(F.broadcast(dim), "symbol", "left")
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert len(rows) == gbm_ticks.count()
    assert all(r.sector in ("tech", "comms") for r in rows)


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """T1 late-data policy: a row whose window was already finalized and
    evicted (watermark passed the window end in an EARLIER batch) is dropped.
    A late row arriving in the same batch as the eviction still merges —
    Spark's watermark is a guarantee about sufficiently-late data, not an
    exact cutoff — hence three micro-batches here."""
    import time as _time

    base = 1_704_067_200_000
    d = str(tmp_path / "late_ticks")
    batches = [
        [("AAPL", 1.0, base + 1_000)],   # seeds window [0s,10s)
        [("AAPL", 2.0, base + 95_000)],  # watermark (next batch) reaches 85s
        [("AAPL", 3.0, base + 96_000)],  # [0,10s) finalized + evicted this batch
        [("AAPL", 99.0, base + 5_000)],  # late: window already closed → dropped
    ]
    for data in batches:
        df = spark.createDataFrame(
            data, ["symbol", "price", "event_time_ms"]
        ).withColumn("event_time", F.timestamp_millis("event_time_ms"))
        df.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)  # distinct mtimes → stable file→batch order

    rows: list = []
    stream = job.read_parquet_ticks_stream(spark, d, max_files_per_trigger=1)
    feats = job.features_stream(
        stream, window="10 seconds", watermark="10 seconds", with_latency=False
    )
    q = (
        feats.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    first_window = [r for r in rows if r.window_start.isoformat().endswith("00:00:00")]
    assert len(first_window) == 1  # emitted exactly once, never re-opened
    # the late 99.0 tick was dropped: the closed window still shows price 1.0
    assert first_window[0].num_ticks == 1
    assert first_window[0].last_price == 1.0


def test_cli_backfill_replays_into_stream_dir(spark, tmp_path):
    """Backfill parity: CSV rows land in the watched dir and flow through the
    stream with their original event times."""
    from realtime_market_data_pipeline_spark import cli

    csv = tmp_path / "hist.csv"
    csv.write_text(
        "symbol,price,event_time_ms\n"
        "aapl,100.0,1704067201000\n"
        "aapl,101.0,1704067205000\n"
        "msft,200.0,1704067202000\n"
    )
    d = str(tmp_path / "stream_in")
    cli.main([
        "--source", f"parquet:{d}",
        "--backfill", str(csv),
    ])
    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, d)
    feats = job.features_stream(stream, window="10 seconds", with_latency=False)
    q = job.start_features_stream(
        feats, sinks.memory_upsert_writer(state),
        checkpoint_dir=str(tmp_path / "ck_bf"), available_now=True,
    )
    q.awaitTermination(timeout=300)
    by_sym = {k[1]: v for k, v in state.items()}
    assert by_sym["AAPL"]["num_ticks"] == 2 and by_sym["AAPL"]["last_price"] == 101.0
    assert by_sym["MSFT"]["num_ticks"] == 1


def test_stateful_vol_horizon_prunes_state(spark, gbm_ticks, tick_dir, tmp_path):
    """Event-time TTL: with a horizon shorter than the data span, old window
    accumulators are pruned but emitted results for recent windows are
    unchanged (pruning only forgets, never corrupts current windows)."""
    from realtime_market_data_pipeline_spark.streaming.stateful import (
        intra_window_vol_stream,
    )

    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    out = intra_window_vol_stream(stream, window="10 seconds", horizon="15 seconds")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(
            sinks.memory_upsert_writer(state, key_cols=("symbol", "window_start_ms"))
        )
        .option("checkpointLocation", str(tmp_path / "ck_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert state  # stream still produces windows with TTL active
    # every emitted (symbol, window) matches the no-TTL run's values
    from realtime_market_data_pipeline_spark.operators.features import (
        intra_window_volatility,
    )
    from pyspark.sql import functions as F

    expected = {
        (r["symbol"], r["ws"]): r["num_returns"]
        for r in intra_window_volatility(gbm_ticks, window="10 seconds")
        .withColumn("ws", F.unix_millis("window_start"))
        .collect()
    }
    for (sym, ws), v in state.items():
        assert expected[(sym, ws)] == v["num_returns"]


def test_session_window_streaming_matches_batch(spark, tmp_path):
    """T2 completeness: native session_window aggregation in streaming —
    append mode only (update is rejected for session windows); sessions emit
    once the watermark passes their end, including a merge across batches
    (events 0s and 20s arrive in different files but share one session)."""
    import time as _time

    base = 1_704_067_200_000
    d = str(tmp_path / "sess_in")
    files = [
        [(1, base + 0), (2, base + 1_000)],
        [(1, base + 20_000), (2, base + 20_000), (1, base + 90_000)],
        [(3, base + 300_000)],   # advances watermark → closes all user-1/2 sessions
        [(3, base + 400_000)],   # extra batch so eviction definitely runs
    ]
    all_rows = [r for f in files for r in f]
    for data in files:
        spark.createDataFrame(data, ["user_id", "event_time_ms"]).withColumn(
            "ts", F.timestamp_millis("event_time_ms")
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    def sessionize(df):
        return (
            df.groupBy(F.session_window("ts", "30 seconds").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "0 seconds")
    )
    emitted: list = []
    q = (
        sessionize(stream)
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    src_df = spark.createDataFrame(
        all_rows, ["user_id", "event_time_ms"]
    ).withColumn("ts", F.timestamp_millis("event_time_ms"))
    import datetime as _dt

    final_wm = _dt.datetime.utcfromtimestamp((base + 400_000) / 1000)
    expected = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in sessionize(src_df).collect()
        if r.session_end <= final_wm  # later sessions stay open in state
    }
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events) for r in emitted
    }
    assert got == expected
    # cross-batch session merge: user 1's 0s and 20s events share one session
    assert got[(1, __import__("datetime").datetime(2024, 1, 1, 0, 0, 0))][1] == 2


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """T6/T7: restarting a checkpointed stream neither reprocesses consumed
    input (no duplicate sink rows) nor misses files added between runs."""
    import duckdb

    base = 1_704_067_200_000
    d = str(tmp_path / "ck_ticks")
    db = str(tmp_path / "ck_features.duckdb")
    ckpt = str(tmp_path / "ck_recover")

    def write_file(rows):
        spark.createDataFrame(
            rows, ["symbol", "price", "event_time_ms"]
        ).withColumn("event_time", F.timestamp_millis("event_time_ms")).coalesce(
            1
        ).write.mode("append").parquet(d)

    def run_stream():
        stream = job.read_parquet_ticks_stream(spark, d, max_files_per_trigger=1)
        feats = job.features_stream(stream, window="10 seconds", watermark="0 seconds")
        q = job.start_features_stream(
            feats, sinks.duckdb_append_writer(db), checkpoint_dir=ckpt,
            output_mode="update", available_now=True,
        )
        q.awaitTermination(timeout=300)

    def sink_rows():
        con = duckdb.connect(db)
        try:
            return con.execute(
                "SELECT count(*), count(DISTINCT window_start) FROM features"
            ).fetchone()
        finally:
            con.close()

    sinks.ensure_duckdb_schema(db)
    write_file([("AAPL", 1.0, base + 1_000), ("AAPL", 2.0, base + 3_000)])
    run_stream()
    n1, w1 = sink_rows()
    assert n1 == 1 and w1 == 1

    run_stream()  # restart, no new input → nothing reprocessed
    assert sink_rows() == (n1, w1)

    write_file([("AAPL", 3.0, base + 15_000)])
    run_stream()  # restart with one new file → exactly one new row
    n3, w3 = sink_rows()
    assert (n3, w3) == (n1 + 1, 2)


def test_dedup_within_watermark_stream(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed ticks (same symbol +
    event_time_ms) inside the watermark horizon are dropped — the
    source-side fix for the reference's T7 double-insert gap — with state
    bounded by the watermark (unlike streaming dropDuplicates)."""
    import time as _time

    base = 1_704_067_200_000
    d = str(tmp_path / "dup_ticks")
    batches = [
        # batch 1: one genuine dup inside the batch
        [("AAPL", 1.0, base + 1_000), ("AAPL", 1.0, base + 1_000),
         ("MSFT", 2.0, base + 2_000)],
        # batch 2: replays a batch-1 tick (within watermark) + one new tick
        [("AAPL", 1.0, base + 1_000), ("AAPL", 3.0, base + 8_000)],
    ]
    for data in batches:
        df = spark.createDataFrame(
            data, ["symbol", "price", "event_time_ms"]
        ).withColumn("event_time", F.timestamp_millis("event_time_ms"))
        df.coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    rows: list = []
    stream = job.read_parquet_ticks_stream(spark, d, max_files_per_trigger=1)
    deduped = job.dedup_ticks_stream(stream, watermark="60 seconds")
    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    keys = sorted((r.symbol, r.event_time_ms) for r in rows)
    assert keys == [
        ("AAPL", base + 1_000),
        ("AAPL", base + 8_000),
        ("MSFT", base + 2_000),
    ]


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join (trades×quotes shape): the availableNow
    streaming run must produce exactly the pairs of the batch join with the
    same range condition."""
    import time as _time

    base = 1_704_067_200_000

    def write_two_files(path, rows, val_col):
        for chunk in (rows[: len(rows) // 2], rows[len(rows) // 2:]):
            df = spark.createDataFrame(
                chunk, ["symbol", "event_time_ms", val_col]
            ).withColumn("event_time", F.timestamp_millis("event_time_ms"))
            df.coalesce(1).write.mode("append").parquet(path)
            _time.sleep(1.2)

    trades = [("AAPL", base + t * 1_000, float(t)) for t in (5, 10, 20, 40)] + [
        ("MSFT", base + 12_000, 99.0)
    ]
    quotes = [("AAPL", base + t * 1_000, 100.0 + t) for t in (2, 4, 9, 33)] + [
        ("MSFT", base + 11_000, 55.0)
    ]
    td, qd = str(tmp_path / "trades"), str(tmp_path / "quotes")
    write_two_files(td, trades, "price")
    write_two_files(qd, quotes, "quote")

    rows: list = []
    joined = job.interval_join_streams(
        job.read_parquet_ticks_stream(spark, td),
        job.read_parquet_ticks_stream(spark, qd),
        key="symbol",
        left_ts="event_time",
        right_ts="event_time",
        lookback="5 seconds",
        right_cols=("quote",),
    )
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    got = sorted((r.symbol, r.event_time_ms, r.right_quote) for r in rows)

    tdf = spark.read.parquet(td)
    qdf = spark.read.parquet(qd).select(
        F.col("symbol").alias("qs"), F.col("event_time").alias("qt"), "quote"
    )
    batch = tdf.join(
        qdf,
        (tdf.symbol == F.col("qs"))
        & (F.col("qt") >= tdf.event_time - F.expr("INTERVAL 5 seconds"))
        & (F.col("qt") <= tdf.event_time),
    )
    want = sorted(
        (r.symbol, r.event_time_ms, r.quote) for r in batch.collect()
    )
    assert got == want and len(got) > 0


def test_metrics_listener_captures_progress(spark, gbm_ticks, tick_dir, tmp_path):
    """T8 generalization: the progress listener sees every micro-batch with
    input-row counts and (for the stateful agg) state-store rows."""
    import time as _time

    from realtime_market_data_pipeline_spark.streaming.metrics import attach_metrics

    collector, detach = attach_metrics(spark)
    try:
        stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
        feats = job.features_stream(stream, window="10 seconds", with_latency=False)
        q = (
            feats.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: df.count())
            .option("checkpointLocation", str(tmp_path / "ckpt_metrics"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)
        # listener events are delivered asynchronously after termination
        deadline = _time.time() + 30
        while _time.time() < deadline and collector.total_input_rows < gbm_ticks.count():
            _time.sleep(0.5)
    finally:
        detach()
    s = collector.summary()
    assert s["batches"] >= 3  # one per input file
    assert s["total_input_rows"] == gbm_ticks.count()
    assert s["final_state_rows"] > 0  # windowed agg holds state
    assert all(b.batch_duration_ms >= 0 for b in collector.batches)


def test_stateful_ewma_matches_batch(spark, gbm_ticks, tick_dir, tmp_path):
    """Streaming per-symbol EWMA == batch applyInPandas twin, with the
    recursion crossing micro-batch boundaries via keyed state."""
    from realtime_market_data_pipeline_spark.streaming.stateful import (
        ewma_batch,
        ewma_stream,
    )

    rows: list = []
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    out = ewma_stream(stream, half_life="15 seconds")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = {
        (r.symbol, r.event_time_ms): round(r.ewma, 9) for r in rows
    }
    want = {
        (r.symbol, r.event_time_ms): round(r.ewma, 9)
        for r in ewma_batch(gbm_ticks, half_life="15 seconds").collect()
    }
    assert len(got) == gbm_ticks.count()
    assert got == want
    # EWMA of the very first tick per symbol is the price itself
    firsts = {
        r.symbol: (r.event_time_ms, r.price)
        for r in gbm_ticks.orderBy("event_time_ms").collect()[::-1]
    }  # reversed → dict keeps the EARLIEST per symbol after full pass
    for sym, (t, p) in firsts.items():
        assert got[(sym, t)] == round(p, 9)


def test_interval_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: unmatched trades surface with
    NULL quote once the watermark passes their interval; matched pairs equal
    the inner join. A far-future sentinel row advances the watermark so all
    outer results flush in the bounded replay."""
    import time as _time

    base = 1_704_067_200_000
    sentinel_t = base + 10_000_000  # pushes watermark far past all real rows

    def write_files(path, chunks, val_col):
        for chunk in chunks:
            df = spark.createDataFrame(
                chunk, ["symbol", "event_time_ms", val_col]
            ).withColumn("event_time", F.timestamp_millis("event_time_ms"))
            df.coalesce(1).write.mode("append").parquet(path)
            _time.sleep(1.2)

    # AAPL@5s and AAPL@20s have a quote within 5s lookback; AAPL@40 and
    # MSFT@12 do not (MSFT quote is 6s stale) -> expect NULLs for those.
    trades = [("AAPL", base + t * 1_000, float(t)) for t in (5, 20, 40)] + [
        ("MSFT", base + 12_000, 99.0)
    ]
    quotes = [
        ("AAPL", base + 2_000, 102.0),
        ("AAPL", base + 19_000, 119.0),
        ("MSFT", base + 6_000, 55.0),
    ]
    td, qd = str(tmp_path / "trades_o"), str(tmp_path / "quotes_o")
    write_files(td, [trades, [("ZZZ", sentinel_t, 0.0)]], "price")
    write_files(qd, [quotes, [("ZZZ", sentinel_t, 0.0)]], "quote")

    rows: list = []
    joined = job.interval_join_streams(
        job.read_parquet_ticks_stream(spark, td),
        job.read_parquet_ticks_stream(spark, qd),
        key="symbol",
        left_ts="event_time",
        right_ts="event_time",
        lookback="5 seconds",
        right_cols=("quote",),
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_outer"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = sorted(
        (r.symbol, r.event_time_ms, r.right_quote)
        for r in rows
        if r.symbol != "ZZZ"
    )
    want = sorted(
        [
            ("AAPL", base + 5_000, 102.0),
            ("AAPL", base + 20_000, 119.0),
            ("AAPL", base + 40_000, None),
            ("MSFT", base + 12_000, None),
        ]
    )
    assert got == want


def test_streaming_ohlc_bars_match_batch(spark, gbm_ticks, tick_dir, tmp_path):
    """Streaming finest-tier OHLC bars (update mode, keyed upsert sink) must
    equal the batch bars over the full input — the incremental refresh leg
    of the tiered-rollup contract."""
    from realtime_market_data_pipeline_spark.operators import rollup as ro

    state: dict = {}
    stream = job.read_parquet_ticks_stream(spark, tick_dir, max_files_per_trigger=1)
    bars = ro.finalize_bars(
        ro.ohlc_bars(stream, bar="10 seconds", watermark="0 seconds")
    )
    q = (
        bars.writeStream.outputMode("update")
        .foreachBatch(sinks.memory_upsert_writer(state, key_cols=("symbol", "bar_start")))
        .option("checkpointLocation", str(tmp_path / "ckpt_bars"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    cols = ("symbol", "bar_start", "open_price", "high_price", "low_price",
            "close_price", "n_ticks", "avg_price")
    want = {
        tuple(r[c] for c in cols)
        for r in ro.finalize_bars(ro.ohlc_bars(gbm_ticks, bar="10 seconds")).collect()
    }
    got = {tuple(v[c] for c in cols) for v in state.values()}
    assert got == want and len(got) > 0


def test_streaming_minhash_dedup_across_batches(spark, tmp_path):
    """Streaming near-dup filter: new docs are checked against the
    persistent signature store of previously ACCEPTED docs (and lower-id
    in-batch docs); survivors' rows and signatures land partitioned by
    batch_id; a replayed batch rewrites itself (exactly-once landing)."""
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    d = str(tmp_path / "docs_in")
    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "dedup_ckpt")

    base_text = (
        "the quick brown fox jumps over the lazy dog while the patient cat "
        "watches carefully from the warm windowsill every single day of the "
        "long quiet summer without ever moving much at all"
    )
    near = base_text.replace("summer", "winter")  # 3 of ~33 shingles differ
    uniq2 = (
        "completely different second document describing distributed query "
        "engines adaptive execution and shuffle partitioning strategies for "
        "large analytical workloads running on many machines"
    )
    uniq3 = (
        "a third unrelated text regarding minhash signatures banding "
        "thresholds and candidate generation trade offs for web scale "
        "corpora with heavy tailed duplication patterns"
    )

    writer = sdedup.minhash_dedup_writer(store, out, threshold=0.6)

    def write_file(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    def accepted():
        return {r.doc_id for r in sdedup.accepted_docs(spark, out).collect()}

    # batch 0: doc 3 is an in-batch near-dup of doc 1 (lower id wins)
    write_file([(1, base_text), (2, uniq2), (3, near)])
    run()
    assert accepted() == {1, 2}

    # batch 1: doc 4 duplicates ACCEPTED history (doc 1, exact text);
    # doc 5 is genuinely new
    write_file([(4, base_text), (5, uniq3)])
    run()
    assert accepted() == {1, 2, 5}

    # store holds signatures only for survivors, partitioned by batch
    st = spark.read.parquet(store)
    assert {r.doc_id for r in st.select("doc_id").collect()} == {1, 2, 5}
    assert {r.batch_id for r in st.select("batch_id").collect()} == {0, 1}

    # replay of the last batch (same batch_id) must not change the outcome:
    # the store read excludes partitions >= the replayed id, and the
    # dynamic overwrite rewrites rather than appends
    writer(
        spark.createDataFrame(
            [(4, base_text), (5, uniq3)], "doc_id long, text string"
        ),
        1,
    )
    assert accepted() == {1, 2, 5}
    st2 = spark.read.parquet(store)
    assert {r.doc_id for r in st2.select("doc_id").collect()} == {1, 2, 5}


def _words(seed: int, n: int = 30) -> list[str]:
    r = random.Random(seed)
    return [
        f"{r.choice('bcdfg')}{r.choice('aeiou')}{r.choice('klmnp')}"
        f"{r.randrange(100)}"
        for _ in range(n)
    ]


def _swap(words: list[str], *edits: tuple[int, str]) -> list[str]:
    out = list(words)
    for pos, w in edits:
        out[pos] = w
    return out


def _first_accepted_reference(batches, matches):
    """Pure-Python form of the pairwise writers' rule: ``batches`` is the
    (batch_id, ids) call sequence, replays included, and ``matches(i,
    j)`` says whether new row i is a near-dup of reference row j (same
    candidate key and verified). A row is a dup iff it matches a stored
    row of a batch < batch_id, or a lower id of its own batch, dup or
    not. Returns {batch: accepted ids}."""
    accepted = {}
    for b, ids in batches:
        hist = [j for sb, acc in accepted.items() if sb < b for j in acc]
        accepted[b] = {
            i for i in ids
            if not any(matches(i, j) for j in hist + [j for j in ids if j < i])
        }
    return accepted


def _landed_ids(spark, path, id_col):
    got = {}
    for r in spark.read.parquet(path).select("batch_id", id_col).collect():
        got.setdefault(r.batch_id, []).append(r[id_col])
    return {b: sorted(ids) for b, ids in got.items()}


def test_minhash_dedup_writer_matches_python_reference(spark, tmp_path):
    """Decision parity: three batches and a replay through the writer
    land exactly the ids and store rows that the pure-Python rule picks
    from the same signatures — exact and near dups in-batch and across
    batches, an A~B~C chain with A≁C (greedy-by-id drops B and C),
    docs too short to shingle (accepted, no signature stored)."""
    from realtime_market_data_pipeline_spark.operators.dedup import (
        minhash_signature,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    th = 0.7
    a = _words(30)
    b = _swap(a, (8, "xchg1"))
    c = _swap(b, (20, "xchg2"), (21, "xchg3"))
    u = {k: _words(100 + k) for k in range(1, 6)}
    texts = {
        1: a, 2: b, 3: c, 4: u[1], 5: u[1], 6: u[2],
        7: _swap(u[2], (10, "near7")), 8: ["hi", "there"], 9: u[3],
        10: u[3], 11: _swap(u[2], (15, "near11")), 12: u[4],
        13: _swap(u[4], (6, "near13")), 14: b, 15: None,
        16: c, 17: u[5], 18: u[5], 19: _swap(u[1], (5, "near19")),
    }
    texts = {i: None if t is None else " ".join(t) for i, t in texts.items()}
    batches = [(0, range(1, 10)), (1, range(10, 16)), (2, range(16, 20))]
    schema = "doc_id long, text string"
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    writer = sdedup.minhash_dedup_writer(store, out, threshold=th)
    calls = batches + [batches[-1]]  # replay of the last batch
    for bid, ids in calls:
        writer(
            spark.createDataFrame([(i, texts[i]) for i in ids], schema), bid
        )

    mh = [f"mh{i}" for i in range(16)]
    sigs = {
        r.doc_id: tuple(r[c] for c in mh)
        for r in minhash_signature(
            spark.createDataFrame(list(texts.items()), schema)
        ).collect()
    }

    def est(i, j):
        return sum(x == y for x, y in zip(sigs[i], sigs[j])) / 16.0

    def matches(i, j):  # a shared full 4-hash band, then est >= th
        return (
            i in sigs and j in sigs
            and any(
                sigs[i][k:k + 4] == sigs[j][k:k + 4] for k in range(0, 16, 4)
            )
            and est(i, j) >= th
        )

    # the chain the data is built to exercise
    assert est(1, 2) >= th and est(2, 3) >= th and est(1, 3) < th
    assert 8 not in sigs and 15 not in sigs
    want = _first_accepted_reference(
        [(bid, list(ids)) for bid, ids in calls], matches
    )
    assert want == {0: {1, 4, 6, 8, 9}, 1: {12, 15}, 2: {16, 17}}
    assert _landed_ids(spark, out, "doc_id") == {
        b: sorted(ids) for b, ids in want.items()
    }
    got_store = sorted(
        (r.batch_id, r.doc_id, tuple(r[c] for c in mh))
        for r in spark.read.parquet(store).collect()
    )
    assert got_store == sorted(
        (b, i, sigs[i]) for b, ids in want.items() for i in ids if i in sigs
    )


def test_minhash_dedup_writer_per_write_overwrite_and_job_count(
    spark, tmp_path
):
    """Under a static session default (the conf itself is watched by the
    autouse fixture), a replayed batch of the MinHash writer rewrites
    only its own batch_id partition. A steady-state call (history
    present, one dup) runs a pinned number of Spark jobs, counted by
    job group: one banded join, then two landing writes — 10, or 11
    when AQE, which submits independent query stages from its own
    threads, runs one shuffle stage in a job of its own (seen in ~1
    call in 13 under CPU contention). 20-23 before the join was
    fused."""
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    sc = spark.sparkContext
    group = f"w:minhash_dedup_writer:{tmp_path.name}"
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    writer = sdedup.minhash_dedup_writer(store, out)
    schema = "doc_id long, text string"

    def docs(lo, copy_of):
        rows = [(i, " ".join(_words(i))) for i in range(lo, lo + 4)]
        rows.append((lo + 4, " ".join(_words(copy_of))))
        return spark.createDataFrame(rows, schema)

    writer(docs(0, 0), 0)
    writer(docs(10, 1), 1)
    sc.setJobGroup(group, "steady-state minhash_dedup_writer call")
    try:
        writer(docs(20, 2), 1)  # replay of batch 1, other content
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    def landed(d):
        rows = spark.read.parquet(d).select("batch_id", "doc_id")
        return sorted((r.batch_id, r.doc_id) for r in rows.collect())

    want = [(0, i) for i in range(4)] + [(1, i) for i in range(20, 24)]
    assert landed(out) == want
    assert landed(store) == want
    assert n_jobs in (10, 11), n_jobs


def test_minhash_dedup_writer_raises_on_corrupt_store(spark, tmp_path):
    """A store file that cannot be read fails the writer: it must not be
    taken for an empty store, which would land every later document as
    new. Nothing of the failed batch lands."""
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    writer = sdedup.minhash_dedup_writer(store, out)
    schema = "doc_id long, text string"
    writer(spark.createDataFrame([(1, " ".join(_words(1)))], schema), 0)
    with open(os.path.join(store, "batch_id=0", "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception, match="parquet|FAILED_READ_FILE"):
        writer(spark.createDataFrame([(2, " ".join(_words(2)))], schema), 1)
    assert [d for d in os.listdir(out) if d.startswith("batch_id=")] == [
        "batch_id=0"
    ]
    assert not os.path.exists(os.path.join(store, "batch_id=1"))


def test_embedding_dedup_writer_matches_python_reference(spark, tmp_path):
    """Decision parity for the embedding writer: three batches and a
    replay land exactly the ids the pure-Python rule picks from the
    same LSH buckets and the same left-to-right cosine folds — exact
    and near copies in-batch and across batches, an A~B~C chain with
    A≁C (greedy-by-id drops B and C), and a re-sent id that was already
    accepted (a dup of its own stored copy)."""
    import math

    from realtime_market_data_pipeline_spark.operators.similarity import (
        lsh_bucket_rows,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    th, dim, n_tables = 0.98, 8, 4
    rng = random.Random(5)
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(16)]

    def unit():
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    def near(v, eps=0.01):
        return [x + rng.gauss(0, eps) for x in v]

    u = unit()
    w0 = unit()
    d = sum(x * y for x, y in zip(u, w0))
    w = [y - d * x for x, y in zip(u, w0)]
    n = math.sqrt(sum(x * x for x in w))
    w = [x / n for x in w]

    def arc(t):  # unit vector at angle t from u towards w
        return [math.cos(t) * x + math.sin(t) * y for x, y in zip(u, w)]

    step = math.acos(0.985)
    base = {k: unit() for k in range(6)}
    vecs = {
        1: arc(0), 2: arc(step), 3: arc(2 * step), 4: base[0],
        5: list(base[0]), 6: base[1], 7: near(base[1]), 8: base[2],
        9: near(base[0]), 10: base[3], 11: list(base[3]), 12: near(base[2]),
        13: base[4], 14: list(arc(step)),
        15: base[5], 16: near(base[5]), 17: list(base[4]), 18: near(base[3]),
    }
    calls = [(0, [1, 2, 3, 4, 5, 6, 7, 8]), (1, [9, 10, 11, 12, 13, 14]),
             (2, [15, 16, 17, 18, 1])]
    calls.append(calls[-1])  # replay of the last batch
    schema = "vec_id long, embedding array<double>"
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    writer = sdedup.embedding_dedup_writer(
        store, out, planes, n_tables=n_tables, threshold=th
    )
    for bid, ids in calls:
        writer(spark.createDataFrame([(i, vecs[i]) for i in ids], schema), bid)

    buckets = {}
    for r in lsh_bucket_rows(
        spark.createDataFrame(list(vecs.items()), schema), planes, n_tables
    ).collect():
        buckets.setdefault(r.vec_id, {})[r.tbl] = r.bucket

    def dot(a, b):  # the writer's left-to-right fold
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(i, j):
        a, b = vecs[i], vecs[j]
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    def matches(i, j):
        return (
            any(buckets[i][t] == buckets[j][t] for t in range(n_tables))
            and cos(i, j) >= th
        )

    # the chain the data is built to exercise
    assert matches(2, 1) and matches(3, 2) and not matches(3, 1)
    want = _first_accepted_reference(calls, matches)
    assert want == {0: {1, 4, 6, 8}, 1: {10, 13}, 2: {15}}
    want = {b: sorted(ids) for b, ids in want.items()}
    assert _landed_ids(spark, out, "vec_id") == want
    assert _landed_ids(spark, store, "vec_id") == want


def _dhash_bmp(bits):
    """A 9x8 grayscale BMP whose dHash is ``bits`` (64 booleans,
    row-major): each row climbs for a 1 and falls for a 0."""
    import numpy as np

    from realtime_market_data_pipeline_spark.operators import (
        multimodal as mm,
    )

    v = np.zeros((8, 9), dtype=np.int64)
    v[:, 0] = 100
    for y in range(8):
        for x in range(8):
            v[y, x + 1] = v[y, x] + (10 if bits[8 * y + x] else -10)
    return mm.encode_bmp_pixels(
        np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)
    )


def test_image_dedup_writer_matches_python_reference(spark, tmp_path):
    """Decision parity for the image writer: three batches and a replay
    land exactly the ids the pure-Python rule picks from the same
    dHashes (exact hamming <= budget; the pigeonhole bands miss no such
    pair) — exact and near copies in-batch and across batches, an
    A~B~C chain with A≁C (greedy-by-id drops B and C), and a re-sent
    id that was already accepted, which is a dup of its own stored
    copy."""
    from realtime_market_data_pipeline_spark.operators import (
        multimodal as mm,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    budget = 8
    rng = random.Random(3)
    base = {k: [rng.random() < 0.5 for _ in range(64)] for k in range(6)}

    def flip(bits, *pos):
        return [b != (i in pos) for i, b in enumerate(bits)]

    a = base[0]
    b = flip(a, *range(6))
    c = flip(b, *range(6, 12))
    pats = {
        1: a, 2: b, 3: c, 4: base[1], 5: base[1], 6: base[2],
        7: flip(base[2], 3, 17, 40), 8: base[3],
        9: flip(base[1], 60), 10: base[4], 11: base[4],
        12: flip(base[3], *range(20, 28)), 13: base[5], 14: b,
        15: flip(base[5], *range(30, 39)), 16: flip(base[4], 1, 2),
    }
    calls = [(0, [1, 2, 3, 4, 5, 6, 7, 8]), (1, [9, 10, 11, 12, 13, 14]),
             (2, [15, 16, 1])]
    calls.append(calls[-1])  # replay of the last batch
    schema = "media_id long, payload binary, media_type string"

    def media(ids):
        return spark.createDataFrame(
            [(i, bytearray(_dhash_bmp(pats[i])), "image/bmp") for i in ids],
            schema,
        )

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    writer = sdedup.image_dedup_writer(store, out, max_hamming=budget)
    for bid, ids in calls:
        writer(media(ids), bid)

    h = {
        r.media_id: r.dhash
        for r in mm.image_dhash(media(sorted(pats))).collect()
    }

    def hamming(i, j):
        return bin((h[i] ^ h[j]) & (2**64 - 1)).count("1")

    def matches(i, j):
        return hamming(i, j) <= budget

    assert hamming(1, 2) == 6 and hamming(2, 3) == 6 and hamming(1, 3) == 12
    assert hamming(15, 13) == 9  # one bit past the budget
    want = _first_accepted_reference(calls, matches)
    assert want == {0: {1, 4, 6, 8}, 1: {10, 13}, 2: {15}}
    want = {b: sorted(ids) for b, ids in want.items()}
    assert _landed_ids(spark, out, "media_id") == want
    assert _landed_ids(spark, store, "media_id") == want


def test_semdedup_replay_under_retrained_index_replaces_batch(spark, tmp_path):
    """A replay under a re-trained index assigns the batch's rows to
    other clusters than the first attempt did. The store must then hold
    only the replay's rows for that batch: no cluster subtree of the
    first attempt may survive as accepted history."""
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    eye = [[float(i == j) for j in range(4)] for i in range(4)]
    first, retrained = str(tmp_path / "idx1"), str(tmp_path / "idx2")
    sim.save_ann_index(spark, f"{first}/meta", centroids=eye)
    sim.save_ann_index(
        spark, f"{retrained}/meta", centroids=[[-1.0] * 4, [1.0] * 4]
    )
    schema = "vec_id long, embedding array<double>"
    b0 = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.1])], schema)
    b1 = spark.createDataFrame(
        [(1, [0.0, 0.0, 1.0, 0.1]), (2, [0.0, 0.3, 0.0, 1.0]),
         (3, [0.2, 1.0, 0.0, 0.0])],
        schema,
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    sdedup.semdedup_writer(first, store, out)(b0, 0)
    sdedup.semdedup_writer(first, store, out)(b1, 1)
    assert {
        r.cluster for r in spark.read.parquet(store).collect()
    } == {0, 1, 2, 3}
    sdedup.semdedup_writer(retrained, store, out)(b1, 1)  # the replay
    st = spark.read.parquet(store).filter("batch_id = 1").collect()
    assert sorted((r.vec_id, r.cluster) for r in st) == [(1, 1), (2, 1), (3, 1)]
    assert _landed_ids(spark, out, "vec_id") == {0: [0], 1: [1, 2, 3]}
    # an empty batch lands under the same layout and reads back
    sdedup.semdedup_writer(retrained, store, out)(b1.limit(0), 2)
    assert spark.read.parquet(store).count() == 4


def test_streaming_embedding_dedup_across_batches(spark, tmp_path):
    """Online semantic dedup: vectors near-identical (cosine >= threshold)
    to previously accepted vectors — or to lower-id vectors in the same
    batch — are dropped; the store doubles as the vector index."""
    import random as _random

    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    d = str(tmp_path / "vec_in")
    store = str(tmp_path / "vec_store")
    out = str(tmp_path / "vec_accepted")
    ckpt = str(tmp_path / "vec_ckpt")

    rng = _random.Random(11)
    dim = 16

    def vec():
        return [rng.gauss(0, 1) for _ in range(dim)]

    def perturb(v):
        return [x + rng.gauss(0, 0.005) for x in v]

    v1, v2, v3 = vec(), vec(), vec()
    planes = [[_random.Random(9000 + h).gauss(0, 1) for _ in range(dim)] for h in range(16)]
    writer = sdedup.embedding_dedup_writer(store, out, planes, n_tables=4, threshold=0.98)

    def write_file(rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(d)

    def run():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    def accepted():
        return {r.vec_id for r in sdedup.accepted_docs(spark, out).collect()}

    # batch 0: id 3 is an in-batch near-copy of id 1
    write_file([(1, v1), (2, v2), (3, perturb(v1))])
    run()
    assert accepted() == {1, 2}

    # batch 1: id 4 near-copies ACCEPTED id 2; id 5 is new content
    write_file([(4, perturb(v2)), (5, v3)])
    run()
    assert accepted() == {1, 2, 5}

    # store = surviving vectors only; replay of batch 1 changes nothing
    st = {r.vec_id for r in spark.read.parquet(store).select("vec_id").collect()}
    assert st == {1, 2, 5}
    writer(
        spark.createDataFrame(
            [(4, perturb(v2)), (5, v3)], "vec_id long, embedding array<double>"
        ),
        1,
    )
    assert accepted() == {1, 2, 5}


def test_funnel_stream_matches_batch(spark, tmp_path):
    """The per-user funnel state machine must reach the same per-user stage
    times as the batch window-min plan, with conversions crossing micro-batch
    boundaries (u1's purchase arrives two batches after their view) and the
    strict ordering rule enforced across batches (u2's early purchase, before
    any click, never counts)."""
    import time as _time

    base = 1_704_067_200_000
    d = str(tmp_path / "funnel_in")
    files = [
        [(1, "view", base), (2, "view", base), (2, "purchase", base + 1000)],
        [(1, "click", base + 2000), (2, "click", base + 3000)],
        [(1, "purchase", base + 4000), (3, "click", base + 5000)],
    ]
    for data in files:
        spark.createDataFrame(
            data, "user_id long, event_type string, ts_ms long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import funnel_stream

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    emitted: list = []
    q = (
        funnel_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    # last emission per user = the stream's final state
    got = {}
    for r in emitted:
        got[r.user_id] = (r.stage_reached, r.t_s1_ms, r.t_s2_ms, r.t_s3_ms)

    from realtime_market_data_pipeline_spark.operators.behavior import (
        funnel_user_stages,
    )

    all_rows = [r for f in files for r in f]
    batch = (
        spark.createDataFrame(all_rows, "user_id long, event_type string, ts_ms long")
        .withColumn("ts", F.timestamp_millis("ts_ms"))
    )
    import datetime as _dt

    ms = lambda t: (
        None
        if t is None
        else int(t.replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
    )
    expected = {
        r.user_id: (
            sum(x is not None for x in (r.t_s1, r.t_s2, r.t_s3)),
            ms(r.t_s1), ms(r.t_s2), ms(r.t_s3),
        )
        for r in funnel_user_stages(batch).collect()
    }
    assert got == expected
    # the cross-batch conversion actually happened
    assert got[1][0] == 3
    # u2's pre-click purchase correctly did NOT convert stage 3
    assert got[2][0] == 2
    # u3 never viewed -> stage 0
    assert got[3][0] == 0


def test_transitions_stream_matches_batch(spark, tmp_path):
    """Summing the streaming per-batch transition deltas must equal the
    batch Markov counts, including transitions whose two events arrive in
    DIFFERENT micro-batches (u1: click in file 1 -> view in file 2)."""
    import time as _time
    from collections import Counter

    base = 1_704_067_200_000
    d = str(tmp_path / "trans_in")
    files = [
        [(1, "view", base), (1, "click", base + 1000), (2, "view", base + 500)],
        [(1, "view", base + 2000), (2, "click", base + 3000)],
        [(2, "purchase", base + 4000), (3, "error", base + 5000)],
    ]
    for data in files:
        spark.createDataFrame(
            data, "user_id long, event_type string, ts_ms long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import (
        transitions_stream,
    )

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    emitted: list = []
    q = (
        transitions_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_trans"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    folded = Counter()
    for r in emitted:
        folded[(r.from_type, r.to_type)] += r.n

    from realtime_market_data_pipeline_spark.operators.behavior import (
        event_transitions,
    )

    all_rows = [
        (eid, u, typ, t)
        for eid, (u, typ, t) in enumerate(r for f in files for r in f)
    ]
    batch = spark.createDataFrame(
        all_rows, "event_id long, user_id long, event_type string, ts_ms long"
    ).withColumn("ts", F.timestamp_millis("ts_ms"))
    expected = {
        (r.from_type, r.to_type): r.n for r in event_transitions(batch).collect()
    }
    assert dict(folded) == expected
    # the cross-batch edge exists: u1 click(batch1) -> view(batch2)
    assert folded[("click", "view")] == 1


def test_gapfill_locf_stream_matches_batch(spark, tmp_path):
    """LWW-folding the streaming LOCF emissions must equal the batch
    gapfill_locf bars exactly (6-dp rounded), with a bucket ACCUMULATING
    ACROSS micro-batches (minute 0 has ticks in files 1 and 2) and a gap
    spanning a batch boundary (minutes 2-3 empty, next tick in file 3)."""
    import time as _time

    base = 1_704_067_200_000
    m = 60_000
    d = str(tmp_path / "locf_in")
    files = [
        [("A", 10.0, base + 1_000), ("A", 11.0, base + 2_000),
         ("B", 5.0, base + 500)],
        [("A", 13.0, base + 50_000),          # still minute 0
         ("A", 20.0, base + m + 1_000)],      # minute 1 -> finalizes m0
        [("A", 30.0, base + 4 * m + 1_000),   # minute 4 -> gaps 2,3
         ("B", 6.0, base + 2 * m)],           # minute 2 -> gap 1 for B
    ]
    for data in files:
        spark.createDataFrame(
            data, "symbol string, price double, event_time_ms long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import (
        gapfill_locf_stream,
    )

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    emitted: list = []
    q = (
        gapfill_locf_stream(stream, bucket_ms=m)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_locf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = {}
    for r in emitted:  # last write wins per (symbol, bucket)
        got[(r.symbol, r.bucket_ms)] = (r.n_ticks, round(r.price_locf, 6), r.is_gap)

    from realtime_market_data_pipeline_spark.operators.rollup import gapfill_locf

    all_rows = [r for f in files for r in f]
    batch_ticks = spark.createDataFrame(
        all_rows, "symbol string, price double, event_time_ms long"
    ).withColumn("event_time", F.timestamp_millis("event_time_ms"))
    expected = {
        (r.symbol, int(r.bucket_ts.replace(tzinfo=__import__("datetime").timezone.utc).timestamp() * 1000)):
            (r.n_ticks, r.price_locf, r.is_gap)
        for r in gapfill_locf(batch_ticks, grain="minute").collect()
    }
    assert got == expected
    # the cross-batch bucket really accumulated: A minute 0 has 3 ticks
    assert got[("A", base // m * m)][0] == 3
    # the gap rows exist and carry the finalized average forward
    assert got[("A", base // m * m + 2 * m)] == (0, 20.0, True)
    assert got[("A", base // m * m + 3 * m)] == (0, 20.0, True)


def test_heavy_hitters_stream_contract(spark, tmp_path):
    """Space-saving sketch across micro-batches: every user whose exact
    count exceeds n/k must be in the final table, with
    est - err <= exact <= est, and the state stays bounded at k rows."""
    import time as _time
    from collections import Counter

    base = 1_704_067_200_000
    d = str(tmp_path / "hh_in")
    # skewed stream: u1 dominates 'view', u2 is a moderate hitter, a long
    # tail of one-off users forces constant eviction with k=4
    files = [
        [("view", 1, base + i) for i in range(20)]
        + [("view", 2, base + 100 + i) for i in range(8)]
        + [("view", 100 + i, base + 200 + i) for i in range(6)],
        [("view", 1, base + 1000 + i) for i in range(15)]
        + [("view", 200 + i, base + 1200 + i) for i in range(7)],
        [("view", 2, base + 2000 + i) for i in range(9)]
        + [("view", 300 + i, base + 2200 + i) for i in range(5)],
    ]
    for data in files:
        spark.createDataFrame(
            data, "event_type string, user_id long, ts_ms long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    k = 4
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    snapshots: dict = {}
    q = (
        heavy_hitters_stream(stream, k=k)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: snapshots.__setitem__(bid, df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ck_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    final = snapshots[max(snapshots)]
    assert 0 < len(final) <= k  # bounded state
    exact = Counter(u for f in files for _, u, _ in f)
    n = sum(exact.values())
    assert all(r.n_total == n for r in final)
    table = {r.user_id: r for r in final}
    # completeness: all true heavy hitters (> n/k) survive eviction churn
    for uid, c in exact.items():
        if c > n / k:
            assert uid in table, (uid, c, n / k)
    # soundness: est brackets the true count for every tracked user
    for uid, r in table.items():
        assert r.est_count - r.err <= exact[uid] <= r.est_count, (uid, r)
    # the two planted hitters are the top-2 by estimate
    top2 = {r.user_id for r in sorted(final, key=lambda r: -r.est_count)[:2]}
    assert top2 == {1, 2}


def test_scd2_stream_matches_batch(spark, tmp_path):
    """Folding the streaming SCD2 emissions (closed finals + last open
    snapshot per (user, version)) must reproduce the batch SCD2 intervals,
    including a version that OPENS in one micro-batch and CLOSES in a
    later one (u1 stays 'view' across files 1-2, flips in file 3)."""
    import time as _time

    base = 1_704_067_200_000
    d = str(tmp_path / "scd2_in")
    files = [
        [(1, 1, "view", base), (2, 2, "click", base + 100)],
        [(3, 1, "view", base + 1000), (4, 2, "view", base + 1100)],
        [(5, 1, "click", base + 2000), (6, 2, "view", base + 2100),
         (7, 1, "view", base + 3000)],
    ]
    for data in files:
        spark.createDataFrame(
            data, "event_id long, user_id long, event_type string, ts_ms long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import scd2_stream

    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    emitted: list = []
    q = (
        scd2_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_scd2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    # fold: closed rows are final; open snapshots upsert by (user, version)
    folded: dict = {}
    for r in emitted:
        k = (r.user_id, r.version_no)
        if k not in folded or folded[k].is_open:
            folded[k] = r

    # batch truth via the registered SCD2 statement over the same rows
    all_rows = [r for f in files for r in f]
    spark.createDataFrame(
        all_rows, "event_id long, user_id long, event_type string, ts_ms long"
    ).withColumn("ts", F.timestamp_millis("ts_ms")).createOrReplaceTempView(
        "events"
    )
    from realtime_market_data_pipeline_spark.queries import _SCD2_STMT

    batch = {
        (r.user_id, r.version_no): r for r in spark.sql(_SCD2_STMT).collect()
    }
    spark.catalog.dropTempView("events")

    assert set(folded) == set(batch)
    for k, b in batch.items():
        s = folded[k]
        assert s.event_type == b.event_type, k
        assert s.valid_from_ms == int(b.valid_from.timestamp() * 1000), k
        bt = None if b.valid_to is None else int(b.valid_to.timestamp() * 1000)
        assert s.valid_to_ms == bt, k
        assert s.n_events == b.n_events, k
        assert s.is_open == (b.valid_to is None), k
    # the cross-batch version: u1's 'view' v1 spans files 1-2, closed in 3
    assert folded[(1, 1)].n_events == 2 and not folded[(1, 1)].is_open


def test_kmv_stream_matches_batch(spark, tmp_path):
    """The streamed bottom-k sketch after the final micro-batch must be
    bit-identical to the batch sketch over the union of all batches
    (bottom-k merge law), including a type whose distinct users exceed k
    (estimation branch) and one that stays below k (exact branch)."""
    import time as _time

    d = str(tmp_path / "kmv_in")
    files = [
        [("view", u) for u in range(30)] + [("click", 1), ("click", 2)],
        [("view", u) for u in range(20, 50)] + [("click", 2), ("click", 3)],
        [("view", u) for u in range(40, 70)] + [("click", 1)],
    ]
    for data in files:
        spark.createDataFrame(
            data, "event_type string, user_id long"
        ).coalesce(1).write.mode("append").parquet(d)
        _time.sleep(1.2)

    from realtime_market_data_pipeline_spark.streaming.stateful import kmv_stream

    k = 8
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    snapshots: dict = {}
    q = (
        kmv_stream(stream, k=k)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: snapshots.__setitem__(bid, df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    final = {r.event_type: r for r in snapshots[max(snapshots)]}

    from realtime_market_data_pipeline_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    union = spark.createDataFrame(
        [r for f in files for r in f], "event_type string, user_id long"
    )
    batch = {
        r.event_type: r
        for r in kmv_distinct_estimate(
            union, by="event_type", id_col="user_id", k=k
        ).collect()
    }
    assert set(final) == set(batch) == {"view", "click"}
    for t in batch:
        assert final[t].k_used == batch[t].k_used, t
        assert final[t].u_k == batch[t].u_k, t
        assert final[t].est_distinct == batch[t].est_distinct, t
    # 'click' stayed under k -> exact branch; 'view' is estimating 70
    assert final["click"].k_used == 3 and final["click"].est_distinct == 3.0
    assert final["view"].k_used == k
    assert batch["view"].within_bound


def test_heavy_hitters_batch_twin_matches_stream_fold(spark):
    """The batch certification twin (operators/sketches.heavy_hitters_
    topk_sketch) runs the SAME fold as the stream; on a stream whose
    micro-batch order equals global (ts_ms, user_id) order, the final
    streaming snapshot and the batch sketch must be identical tables."""
    from realtime_market_data_pipeline_spark.operators.sketches import (
        heavy_hitters_topk_sketch,
        make_space_saving_fold,
    )

    base = 1_704_067_200_000
    rows = (
        [("view", 1, base + i) for i in range(20)]
        + [("view", 2, base + 100 + i) for i in range(8)]
        + [("view", 100 + i, base + 200 + i) for i in range(6)]
        + [("view", 1, base + 1000 + i) for i in range(15)]
        + [("view", 200 + i, base + 1200 + i) for i in range(7)]
        + [("view", 2, base + 2000 + i) for i in range(9)]
        + [("view", 300 + i, base + 2200 + i) for i in range(5)]
    )
    k = 4
    df = spark.createDataFrame(
        rows, "event_type string, user_id long, ts_ms long"
    )
    got = {
        (r.user_id): (r.est_count, r.err, r.n_total)
        for r in heavy_hitters_topk_sketch(
            df.repartition(8), k=k
        ).collect()
    }
    # reference: the shared fold applied driver-side in global order
    fold = make_space_saving_fold(k)
    table: dict = {}
    n = fold(table, 0, [u for _, u, _ in sorted(rows, key=lambda r: (r[2], r[1]))])
    want = {u: (c, e, n) for u, (c, e) in table.items()}
    assert got == want
    assert len(got) == k


def test_socket_source_live_push_matches_batch(spark, gbm_ticks, tmp_path):
    """S1 evidence upgrade (r6): a LIVE unbounded network push source —
    Spark's socket source fed by an in-test TCP server emitting the K3
    producer payload — through the identical parse+features plan the
    Kafka path runs. No files, no replay: rows arrive over a socket while
    the query is running, exactly a broker's delivery shape minus
    offsets/partitions (the two things the container's missing broker
    would add). Keyed LWW state over update-mode emissions must equal the
    batch answer on the same ticks."""
    import socket
    import threading
    import time as _t

    payload_rows = [
        r["value"]
        for r in src.to_kafka_payload(gbm_ticks).select("value").collect()
    ]

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)

    def serve():
        conn, _ = server.accept()
        try:
            data = ("\n".join(payload_rows) + "\n").encode()
            conn.sendall(data)
            # keep the connection open so the source doesn't see EOF
            # before the query drains it
            _t.sleep(30)
        except OSError:
            pass  # query stopped first — expected
        finally:
            conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    state: dict = {}
    ticks = job.read_socket_ticks(spark, host="127.0.0.1", port=port)
    feats = job.features_stream(
        ticks, window="10 seconds", watermark="0 seconds", with_latency=False
    )
    q = (
        feats.writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: state.update(
                {
                    (r["window_start"], r["symbol"]): tuple(
                        r[c] for c in DET_COLS
                    )
                    for r in df.collect()
                }
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_socket"))
        .start()
    )
    try:
        expected = _batch_expected(gbm_ticks)
        deadline = _t.time() + 120
        while _t.time() < deadline and set(state.values()) != expected:
            _t.sleep(1.0)
    finally:
        q.stop()
        server.close()
    assert set(state.values()) == expected


def test_streaming_multimodal_decode_matches_batch(spark, tmp_path):
    """The multimodal decode operators compose unchanged with Structured
    Streaming: plant_media -> decode_media over a file stream (one file
    per trigger) produces exactly the batch decode of the same docs —
    the engine's same-operator-batch-and-stream claim extended to the
    binary-column path (mapInPandas is stateless, so each micro-batch
    decodes independently; payload bytes never cross an exchange or a
    state store)."""
    from realtime_market_data_pipeline_spark.operators import multimodal as mm

    d = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt_mm")
    got: dict[int, tuple] = {}

    def writer(batch_df, batch_id):
        decoded = mm.decode_media(mm.plant_media(batch_df))
        for r in decoded.collect():
            got[r["media_id"]] = (
                r["media_type"], r["width"], r["height"], r["pixel_sum"],
                r["sample_rate"], r["n_samples"], r["sample_sum"],
            )

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    ids_a, ids_b = [0, 1, 2, 3], [10, 11, 12, 13]
    spark.createDataFrame([(i,) for i in ids_a], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(d)
    run_stream()
    assert set(got) == set(ids_a)
    spark.createDataFrame([(i,) for i in ids_b], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(d)
    run_stream()
    assert set(got) == set(ids_a + ids_b)

    batch_docs = spark.createDataFrame(
        [(i,) for i in ids_a + ids_b], "doc_id long"
    )
    expected = {
        r["media_id"]: (
            r["media_type"], r["width"], r["height"], r["pixel_sum"],
            r["sample_rate"], r["n_samples"], r["sample_sum"],
        )
        for r in mm.decode_media(mm.plant_media(batch_docs)).collect()
    }
    assert got == expected


def test_streaming_quarantine_survives_corrupt_payloads(spark, tmp_path):
    """r8: the quarantine router composes with Structured Streaming AND
    keeps the stream alive through corrupt payloads — a micro-batch
    containing truncated media lands its rows with error_class instead
    of failing the query (what a 24/7 ingest pipeline needs: poison
    payloads become monitorable rows, not restarts). The stream's
    accumulated output equals the batch routing of the same docs."""
    from realtime_market_data_pipeline_spark.operators import multimodal as mm

    d = str(tmp_path / "docs_q")
    ckpt = str(tmp_path / "ckpt_q")
    got: dict[int, tuple] = {}

    def writer(batch_df, batch_id):
        routed = mm.probe_media_routed(
            mm.truncate_subset(mm.plant_mixed_media(batch_df))
        )
        for r in routed.collect():
            got[r["media_id"]] = (r["container"], r["error_class"])

    # ids 3 and 10 hit the doc_id%7==3 fault stripe (both avi under the
    # r11 %7-keyed plant — this test is about stream survival, not
    # per-container class coverage, which the quarantine oracle pins)
    ids = [0, 1, 2, 3, 4, 5, 10, 11]
    spark.createDataFrame([(i,) for i in ids], "doc_id long").coalesce(
        1
    ).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert set(got) == set(ids)
    assert got[3] == (None, "NotImplementedError")  # 3%7=3 avi, 'RI' cut
    assert got[10] == (None, "NotImplementedError")  # 10%7=3 avi, 'RI' cut
    assert got[0] == ("bmp", None) and got[5] == ("ogg", None)
    expected = {
        r["media_id"]: (r["container"], r["error_class"])
        for r in mm.probe_media_routed(
            mm.truncate_subset(
                mm.plant_mixed_media(
                    spark.createDataFrame([(i,) for i in ids], "doc_id long")
                )
            )
        ).collect()
    }
    assert got == expected


def test_streaming_decontamination_across_batches(spark, tmp_path):
    """r9 (verdict #7): newly ingested docs are flagged against the eval
    bloom per micro-batch — bloom prefilter (broadcast bitmap, codegen
    bit probes) + exact verify against the eval-shingle store — and the
    flags across ALL batches equal the batch-mode shingle join on the
    same corpus; a replayed batch rewrites itself."""
    from realtime_market_data_pipeline_spark.operators import bloom
    from realtime_market_data_pipeline_spark.operators.text import (
        shingles_long,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    d = str(tmp_path / "docs_in")
    ev_dir = str(tmp_path / "eval_shingles")
    out = str(tmp_path / "decon_out")
    ckpt = str(tmp_path / "decon_ckpt")

    eval_text = (
        "the held out benchmark question asks which planet is closest to "
        "the sun and expects mercury as the only acceptable answer"
    )
    clean1 = (
        "a completely unrelated training document about parquet row group "
        "sizes and adaptive query execution in distributed engines"
    )
    leak = (
        "students memorize that the benchmark question asks which planet "
        "is closest to the sun before the exam starts"
    )  # shares 8-grams with eval_text
    clean2 = (
        "another clean training text describing bloom filter bit probes "
        "and broadcast relations in analytical query planners"
    )

    K = 8
    ev_docs = spark.createDataFrame(
        [(1000, eval_text)], "doc_id long, text string"
    )
    ev_sh = shingles_long(ev_docs, k=K).select("shingle").distinct()
    ev_sh.write.mode("overwrite").parquet(ev_dir)
    m_bits = 1 << 12
    bm = bloom.bloom_build(ev_sh, "shingle", m_bits=m_bits)

    writer = sdedup.decontamination_writer(ev_dir, bm, m_bits, out, k=K)

    def write_file(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    def run():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    write_file([(1, clean1), (2, leak)])
    run()
    write_file([(3, clean2)])
    run()

    got = {
        r.doc_id: (r.n_shared_ngrams, r.contaminated)
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1][1] is False and got[3][1] is False
    assert got[2][1] is True and got[2][0] > 0

    # stream ≡ batch: the flags equal the exact batch-mode shingle join
    all_docs = spark.createDataFrame(
        [(1, clean1), (2, leak), (3, clean2)], "doc_id long, text string"
    )
    sh = shingles_long(all_docs, k=K)
    exact = {
        r.doc_id: r.n
        for r in sh.join(spark.read.parquet(ev_dir), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for did in (1, 2, 3):
        assert got[did][0] == exact.get(did, 0)

    # replay of batch 1 (doc 3) rewrites its partition, outcome unchanged
    writer(
        spark.createDataFrame([(3, clean2)], "doc_id long, text string"), 1
    )
    got2 = {
        r.doc_id: (r.n_shared_ngrams, r.contaminated)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == got


def test_streaming_ann_search_with_persisted_index(spark, tmp_path):
    """r9: query vectors arriving as a stream are searched per
    micro-batch against the ON-DISK IVF index (codebook + the corpus
    cluster-partitioned, built once); each batch's scan reads only its
    probed buckets, stream results across all batches equal the batch
    search with the trained centroids, and a replayed batch rewrites
    its own partition."""
    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import ann as sann

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "ivf_idx")
    centers = sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)

    q_in = str(tmp_path / "queries_in")
    out = str(tmp_path / "hits_out")
    ckpt = str(tmp_path / "ann_ckpt")
    writer = sann.ann_search_writer(spark, idx, out, k=3, n_probe=3)

    qvecs = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 6).collect()
    ]
    schema = "query_id long, embedding array<float>"
    spark.createDataFrame(qvecs[:3], schema).coalesce(1).write.mode(
        "append"
    ).parquet(q_in)
    spark.createDataFrame(qvecs[3:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(q_in)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(q_in)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)

    got = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in sim.ann_topk_ivf(
            emb,
            spark.createDataFrame(qvecs, schema),
            centers,
            k=3,
            n_probe=3,
        ).collect()
    )
    assert got == want and len(got) == 18  # 6 queries x k=3
    assert {r["batch_id"] for r in spark.read.parquet(out).collect()} == {
        0, 1,
    }

    # replay of batch 1 rewrites in place — no duplicate hits
    writer(spark.createDataFrame(qvecs[3:], schema), 1)
    got2 = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out).collect()
    )
    assert got2 == got

    # a missing index fails at writer CONSTRUCTION, not in a batch
    import pytest as _pytest

    with _pytest.raises(Exception):
        sann.ann_search_writer(spark, str(tmp_path / "nope"), out)


def test_streaming_writers_tolerate_empty_batches(spark, tmp_path):
    """r9: availableNow triggers can hand foreachBatch an EMPTY batch
    (no new files); the r9 writers must treat that as a no-op, not a
    crash — and must not disturb previously landed partitions."""
    from realtime_market_data_pipeline_spark.operators import bloom
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.operators.text import (
        shingles_long,
    )
    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.streaming import ann as sann
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    # decontamination: land one real batch, then an empty one
    ev_dir = str(tmp_path / "ev")
    out1 = str(tmp_path / "decon")
    ev_docs = spark.createDataFrame(
        [(9, "benchmark words appear here in this exact held out row "
              "and keep going long enough for eight gram shingles")],
        "doc_id long, text string",
    )
    shingles_long(ev_docs, k=8).select("shingle").distinct().write.mode(
        "overwrite"
    ).parquet(ev_dir)
    bm = bloom.bloom_build(
        spark.read.parquet(ev_dir), "shingle", m_bits=1 << 12
    )
    w1 = sdedup.decontamination_writer(ev_dir, bm, 1 << 12, out1, k=8)
    w1(spark.createDataFrame(
        [(1, "a clean text about query engines and shuffles only")],
        "doc_id long, text string"), 0)
    before = sorted(map(tuple, spark.read.parquet(out1).collect()))
    w1(spark.createDataFrame([], "doc_id long, text string"), 1)
    assert sorted(map(tuple, spark.read.parquet(out1).collect())) == before

    # ANN search: empty query batch is a no-op
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    sim.build_ivf_index(emb, idx, n_centroids=4, n_iter=1)
    out2 = str(tmp_path / "hits")
    w2 = sann.ann_search_writer(spark, idx, out2, k=2, n_probe=2)
    w2(
        spark.createDataFrame(
            [(r["vec_id"], r["embedding"])
             for r in emb.filter(F.col("vec_id") < 2).collect()],
            "query_id long, embedding array<float>",
        ),
        0,
    )
    hits_before = sorted(map(tuple, spark.read.parquet(out2).collect()))
    w2(spark.createDataFrame([], "query_id long, embedding array<float>"), 1)
    assert (
        sorted(map(tuple, spark.read.parquet(out2).collect())) == hits_before
    )


def test_streaming_decode_survives_poison_payloads(spark, tmp_path):
    """r9: the routed DECODE stage holds its quarantine contract inside
    a live stream — a micro-batch carrying corrupt and NULL payloads
    produces error_class rows and the query keeps running (the
    unrouted decoder would kill the stream on batch 1)."""
    from realtime_market_data_pipeline_spark.operators import (
        multimodal as mm,
    )

    d = str(tmp_path / "media_in")
    ckpt = str(tmp_path / "media_ckpt")
    good = mm.make_bmp(1, 5, 4)
    b0 = [(1, bytearray(good), "image/bmp")]
    b1 = [
        (2, bytearray(good[:2]), "image/bmp"),     # poison: magic cut
        (3, None, "image/bmp"),                    # poison: null payload
        (4, bytearray(mm.make_wav(4, 10, 8000)), "audio/wav"),  # good
    ]
    schema = "media_id long, payload binary, media_type string"
    for rows in (b0, b1):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    got: dict = {}

    def writer(batch_df, bid):
        for r in mm.decode_media_routed(batch_df).collect():
            got[r["media_id"]] = (r["error_class"], r["pixel_sum"],
                                  r["sample_sum"])

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)
    assert q.exception() is None  # the stream SURVIVED the poison batch
    assert set(got) == {1, 2, 3, 4}
    assert got[1][0] is None and got[1][1] is not None
    assert got[2][0] == "ValueError"
    assert got[3][0] == "ValueError"
    assert got[4][0] is None and got[4][2] is not None


def test_streaming_ann_search_sees_appended_index_growth(spark, tmp_path):
    """r10: the on-disk index grows BETWEEN micro-batches
    (ivf_index_append — assignment of only the delta against the frozen
    centroids) and the very next batch's pruned scan sees the new
    vectors with NO writer restart: the vectors relation is read lazily
    per batch, so online corpus growth is free. Each batch's results
    equal the batch search over the index state at that moment."""
    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import ann as sann

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "grow_idx")
    sim.build_ivf_index(even, idx, n_centroids=8, n_iter=1)

    out = str(tmp_path / "hits_out")
    writer = sann.ann_search_writer(spark, idx, out, k=3, n_probe=3)
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # batch 0: index holds the even half only
    writer(queries_df, 0)
    got0 = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out).collect()
    )
    assert got0 and all(v % 2 == 0 for _, v, _, _ in got0)

    # grow the index, then batch 1 with the SAME writer and queries
    sim.ivf_index_append(odd, idx)
    writer(queries_df, 1)
    by_batch = {
        b: sorted(
            (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
            for r in spark.read.parquet(out)
            .filter(F.col("batch_id") == b)
            .collect()
        )
        for b in (0, 1)
    }
    assert by_batch[0] == got0  # batch 0's partition untouched
    want1 = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in sim.ann_topk_ivf_indexed(
            spark, idx, queries_df, k=3, n_probe=3
        ).collect()
    )
    assert by_batch[1] == want1
    # growth is visible in the results (deterministic: odd vectors enter
    # some query's top-3, which an even-only index cannot produce)
    assert by_batch[1] != by_batch[0]


def test_streaming_ivfpq_search_matches_batch_and_replays(spark, tmp_path):
    """r10: the compressed-tier streaming search — query micro-batches
    against the on-disk IVFPQ index (pruned scan + ADC + exact re-rank
    per batch). Stream results equal the batch ann_topk_ivfpq, a
    replayed batch rewrites its own partition idempotently, and a
    missing codebook fails at writer construction."""
    import pytest as _pytest

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import ann as sann

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "ivfpq_idx")
    sim.build_ivfpq_index(
        emb, idx, n_centroids=8, n_iter=1, n_subspaces=8, k_sub=16
    )
    out = str(tmp_path / "hits_out")
    writer = sann.ann_search_writer_ivfpq(
        spark, idx, out, k=3, n_probe=4, rerank=50
    )
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    writer(queries_df, 0)
    got = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in sim.ann_topk_ivfpq(
            spark, idx, queries_df, k=3, n_probe=4, rerank=50
        ).collect()
    )
    assert got == want and len(got) > 0
    # idempotent replay: same batch id rewrites its partition in place
    writer(queries_df, 0)
    again = sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"], r["rank"])
        for r in spark.read.parquet(out).collect()
    )
    assert again == got
    # missing codebooks fail at construction, not in batch 17
    bare = str(tmp_path / "bare_idx")
    sim.save_ann_index(spark, f"{bare}/meta", centroids=[[0.0] * 64])
    sim.save_pq_books(spark, f"{bare}/pq", [[[0.0] * 8]])
    with _pytest.raises(Exception, match="no centroids|no PQ|Path does not exist"):
        sann.ann_search_writer_ivfpq(spark, str(tmp_path / "nope"), out)


def test_streaming_exact_substring_dedup_across_batches(spark, tmp_path):
    """Online exact-substring dedup (late r10): spans of a NEW doc whose
    w-token windows were seen in this batch or anywhere in ingestion
    history are flagged; history is never retro-flagged (first-seen-
    wins), the flagged spans for the newest batch equal a batch
    duplicate_spans over everything ingested so far RESTRICTED to the
    new docs, and a replayed batch rewrites itself."""
    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    d = str(tmp_path / "docs_in")
    store = str(tmp_path / "gram_store")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "es_ckpt")
    W = 4

    shared = "one two three four"  # one w=4 window
    rows_b0 = [
        (1, f"alpha {shared} beta"),
        (2, f"x y {shared}"),          # cross-doc dup WITHIN batch 0
        (3, "all unique tokens in here nothing repeats"),
    ]
    rows_b1 = [
        (4, f"gamma delta {shared} epsilon"),  # dup vs HISTORY only
        (5, "another fully unique document body with fresh words"),
    ]

    writer = sdedup.exact_substring_writer(store, out, w=W, min_count=2)

    def write_file(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    def spans(batch=None):
        df = spark.read.parquet(out)
        if batch is not None:
            df = df.filter(F.col("batch_id") == batch)
        return sorted(
            (r.doc_id, r.span_id, r.start_tok, r.end_tok, r.n_tokens)
            for r in df.collect()
        )

    write_file(rows_b0)
    run()
    # in-batch duplication flagged on BOTH sides (the batch op's
    # semantics within one batch)
    assert spans(batch=0) == [(1, 1, 1, 4, 4), (2, 1, 2, 5, 4)]

    write_file(rows_b1)
    run()
    # doc 4's shared window exists only once in batch 1 — the store
    # supplies the second occurrence; doc 5 stays clean; history is
    # not retro-flagged (batch 0 partition unchanged)
    assert spans(batch=1) == [(4, 1, 2, 5, 4)]
    assert spans(batch=0) == [(1, 1, 1, 4, 4), (2, 1, 2, 5, 4)]

    # online contract: newest batch's spans == batch duplicate_spans
    # over everything ingested so far, restricted to the new docs
    all_docs = spark.createDataFrame(
        rows_b0 + rows_b1, "doc_id long, text string"
    )
    batch_all = {
        (r.doc_id, r.span_id, r.start_tok, r.end_tok, r.n_tokens)
        for r in tx.duplicate_spans(all_docs, w=W, min_count=2).collect()
        if r.doc_id in (4, 5)
    }
    assert set(spans(batch=1)) == batch_all

    # replay of batch 1 rewrites itself: same spans, store partition
    # rewritten not duplicated
    writer(
        spark.createDataFrame(rows_b1, "doc_id long, text string"), 1
    )
    assert spans(batch=1) == [(4, 1, 2, 5, 4)]
    st = spark.read.parquet(store)
    assert {r.batch_id for r in st.select("batch_id").distinct().collect()} == {0, 1}
    # store carries (digest, count) only — never text (r11: counts make
    # min_count > 2 honest across batches)
    assert set(st.columns) == {"h", "c", "batch_id"}


def test_streaming_image_dedup_across_batches(spark, tmp_path):
    """Online perceptual image dedup (late r10): images within
    max_hamming dHash bits of accepted history — or of a lower-id
    image in the same batch — are dropped, first-accepted-wins; a
    genuinely novel image survives; the store carries one 8-byte hash
    per accepted image (never pixels); a replayed batch rewrites
    itself."""
    import numpy as np

    from realtime_market_data_pipeline_spark.operators import (
        multimodal as mm,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    d = str(tmp_path / "media_in")
    store = str(tmp_path / "hash_store")
    out = str(tmp_path / "accepted_media")
    ckpt = str(tmp_path / "img_ckpt")

    def row(mid, payload):
        return (mid, bytearray(payload), "image/bmp")

    # batch 0: the five base patterns (ids 0..4) + id 10 (exact dup of
    # id 0's pattern: 10 % 10 == 0)
    b0 = [row(i, mm.make_phash_bmp(i)) for i in (0, 1, 2, 3, 4, 10)]
    # batch 1: id 5 = group-0 VARIANT (hamming exactly 8 from id 0),
    # id 21 = exact dup of id 1's pattern (21 % 10 == 1), id 99 = a
    # genuinely novel raster (checkerboard, far from every plant)
    novel = np.zeros((8, 9, 3), dtype=np.uint8)
    novel[::2, 1::2] = 255
    novel[1::2, ::2] = 255
    b1 = [
        row(5, mm.make_phash_bmp(5)),
        row(21, mm.make_phash_bmp(21)),
        row(99, mm.encode_bmp_pixels(novel)),
    ]

    writer = sdedup.image_dedup_writer(store, out, max_hamming=8)

    def write_file(rows):
        spark.createDataFrame(
            rows, "media_id long, payload binary, media_type string"
        ).coalesce(1).write.mode("append").parquet(d)

    def run():
        stream = (
            spark.readStream.schema(
                "media_id long, payload binary, media_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
        )
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    def accepted():
        return {
            r.media_id for r in spark.read.parquet(out).collect()
        }

    write_file(b0)
    run()
    assert accepted() == {0, 1, 2, 3, 4}  # 10 dropped vs in-batch id 0

    write_file(b1)
    run()
    # 5 dropped vs history (hamming 8 <= budget), 21 dropped vs
    # history (hamming 0), the novel raster survives
    assert accepted() == {0, 1, 2, 3, 4, 99}

    st = spark.read.parquet(store)
    assert set(st.columns) == {"media_id", "dhash", "batch_id"}
    assert {r.media_id for r in st.collect()} == {0, 1, 2, 3, 4, 99}

    # replay of batch 1 rewrites itself
    writer(
        spark.createDataFrame(
            b1, "media_id long, payload binary, media_type string"
        ),
        1,
    )
    assert accepted() == {0, 1, 2, 3, 4, 99}
    st2 = spark.read.parquet(store)
    assert {r.media_id for r in st2.collect()} == {0, 1, 2, 3, 4, 99}


def test_exact_substring_writer_min_count_across_batches(spark, tmp_path):
    """r11 (advice item): the online form now honors min_count ACROSS
    batches — the digest store keeps per-digest counts, and a window is
    flagged only when history + in-batch occurrences reach min_count.
    At min_count=3 the second total sighting stays clean and the third
    is flagged, matching a batch duplicate_spans re-run restricted to
    the newest docs."""
    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    store = str(tmp_path / "mc_store")
    out = str(tmp_path / "mc_out")
    shared = "one two three four"
    batches = [
        [(1, f"alpha {shared} beta"), (2, "unique words only in here")],
        [(3, f"second sighting {shared} now")],
        [(4, f"third time {shared} lucky")],
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    writer = sdedup.exact_substring_writer(store, out, w=4, min_count=3)
    for i, rows in enumerate(batches):
        writer(mk(rows), i)

    spans = sorted(
        (r.doc_id, r.start_tok, r.end_tok, r.batch_id)
        for r in spark.read.parquet(out).collect()
    )
    # occurrences 1 and 2 (docs 1, 3) stay clean; occurrence 3 (doc 4)
    # crosses the threshold
    assert [s[0] for s in spans] == [4]
    # contract: newest batch == batch re-run at the same min_count,
    # restricted to the new docs
    all_docs = mk([r for rows in batches for r in rows])
    twin = {
        (r.doc_id, r.start_tok, r.end_tok)
        for r in tx.duplicate_spans(all_docs, w=4, min_count=3).collect()
        if r.doc_id == 4
    }
    assert {(s[0], s[1], s[2]) for s in spans} == twin


def test_exact_substring_writer_reads_legacy_store(spark, tmp_path):
    """r12 (advice fix): a stream resumed over a pre-r11 digest store —
    rows are (h, batch_id) with NO count column — must not fail on the
    first post-upgrade batch; each legacy digest row counts as one
    occurrence, so cross-batch min_count keeps working."""
    from realtime_market_data_pipeline_spark.operators.text import (
        gram_hashes,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    store = str(tmp_path / "leg_store")
    out = str(tmp_path / "leg_out")
    shared = "one two three four"

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # plant a LEGACY-format batch_id=0 partition: digests of one prior
    # sighting of the shared phrase, no `c` column
    legacy = (
        gram_hashes(mk([(1, f"alpha {shared} beta")]), w=4)
        .select("h")
        .withColumn("batch_id", F.lit(0))
    )
    legacy.write.partitionBy("batch_id").parquet(store)
    assert "c" not in spark.read.parquet(store).columns

    # new batch holds two more sightings: 1 (legacy) + 2 (batch) = 3
    writer = sdedup.exact_substring_writer(store, out, w=4, min_count=3)
    writer(
        mk(
            [
                (2, f"second look {shared} here"),
                (3, f"third look {shared} there"),
            ]
        ),
        1,
    )
    flagged = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert flagged == {2, 3}
    # the store is now MIXED-schema (legacy count-less batch 0 beside
    # the counted batch 1); the next batch's history read must see
    # legacy rows as count 1 AND the upgraded partition's real counts:
    # history total is 1 (legacy) + 2 (batch 1) = 3, so one more
    # sighting flags immediately
    writer(mk([(4, f"fourth look {shared} anywhere")]), 2)
    flagged = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert flagged == {2, 3, 4}
    # a never-duplicated phrase in the same batches stays clean
    writer(mk([(5, "entirely novel body of words")]), 3)
    assert {
        r.doc_id for r in spark.read.parquet(out).collect()
    } == {2, 3, 4}


def test_compact_store_preserves_decisions_and_shrinks_files(spark, tmp_path):
    """r11 (verdict item): the batch_id-partitioned dedup stores get a
    maintenance hook — compact_store folds committed batch partitions
    into one (summing nothing; the reader aggregates), so the per-batch
    store read stops paying one footer per historical batch. Dedup
    decisions are IDENTICAL with and without compaction, the file count
    drops, the replay guard still works, and a crashed compaction
    recovers at the next call."""
    import os

    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    shared = "one two three four"
    batches = [
        [(1, f"alpha {shared} beta"), (2, "unique words only in here")],
        [(3, f"second sighting {shared} now")],
        [(4, f"third time {shared} lucky")],
        [(5, f"fourth {shared} indeed"), (6, "still a novel body text")],
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def run(store, out, compact_before=None):
        w = sdedup.exact_substring_writer(store, out, w=4, min_count=3)
        for i, rows in enumerate(batches):
            if compact_before is not None and i == compact_before:
                fb, fa = sdedup.compact_store(
                    spark, store, upto_batch=i - 1
                )
                assert fa < fb
            w(mk(rows), i)
        return sorted(
            (r.doc_id, r.start_tok, r.end_tok)
            for r in spark.read.parquet(out).collect()
        )

    plain = run(str(tmp_path / "s0"), str(tmp_path / "o0"))
    store1 = str(tmp_path / "s1")
    compacted = run(store1, str(tmp_path / "o1"), compact_before=2)
    assert compacted == plain and [d for d, *_ in plain] == [4, 5]
    # the folded store still sums to the true historical counts
    st = spark.read.parquet(store1)
    parts = {
        r.batch_id for r in st.select("batch_id").distinct().collect()
    }
    assert 0 not in parts and 1 in parts  # 0 folded into 1
    # idempotent: nothing below upto_batch left to fold
    fb, fa = sdedup.compact_store(spark, store1, upto_batch=1)
    assert fb == fa
    # crash recovery: displace a partition as a crashed compaction
    # would, then a fresh compact_store call restores it first
    old_root = store1.rstrip("/") + "._compact_old"
    os.makedirs(old_root)
    os.rename(
        os.path.join(store1, "batch_id=1"),
        os.path.join(old_root, "batch_id=1"),
    )
    n_before = spark.read.parquet(store1).count()
    sdedup.compact_store(spark, store1, upto_batch=1)
    assert not os.path.exists(old_root)
    assert spark.read.parquet(store1).count() > n_before
    # POST-commit crash window (r12 advice fix): crash landed after the
    # folded batch_id=upto partition was installed but before the
    # staging rmtree — old_root still holds the displaced dirs, but
    # their rows already live inside the folded partition. Recovery
    # must DISCARD the staging (restoring would double every batch <
    # upto and inflate the reader's SUM(c), flagging spans below the
    # true min_count). Simulate by folding 1..3, then reconstructing
    # the staging dir as if rmtree never ran.
    import shutil as _sh

    store2 = str(tmp_path / "s2")
    run(store2, str(tmp_path / "o2"))
    snap = str(tmp_path / "snap")
    _sh.copytree(store2, snap)
    fb, fa = sdedup.compact_store(spark, store2, upto_batch=3)
    assert fa < fb
    truth = sorted(
        (r.h, r.c, r.batch_id)
        for r in spark.read.parquet(store2).collect()
    )
    old2 = store2.rstrip("/") + "._compact_old"
    os.makedirs(old2)
    for b in (0, 1, 2, 3):
        d = f"batch_id={b}"
        if os.path.isdir(os.path.join(snap, d)):
            _sh.copytree(
                os.path.join(snap, d), os.path.join(old2, d)
            )
    # live batch_id=3 (the folded partition) exists -> fold committed
    sdedup.compact_store(spark, store2, upto_batch=3)
    assert not os.path.exists(old2)
    assert (
        sorted(
            (r.h, r.c, r.batch_id)
            for r in spark.read.parquet(store2).collect()
        )
        == truth
    )


def test_streaming_image_dedup_wide_hash_path(spark, tmp_path):
    """r11 (band-width fix, writer leg): the online image dedup can run
    on the 256-bit wide dHash — the 100 TB form where the 64-bit
    pack's pigeonhole bands collapse — with a >= 16-bit band floor
    enforced, an array<bigint> hash store, and the same
    first-accepted-wins decisions (exact dups collapse in-batch and
    against history)."""
    from realtime_market_data_pipeline_spark.operators import (
        multimodal as mm,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    store = str(tmp_path / "wide_store")
    out = str(tmp_path / "wide_out")
    writer = sdedup.image_dedup_writer(
        store, out, max_hamming=12, hash_bits=256, min_band_bits=16
    )

    def df_of(ids):
        return spark.createDataFrame(
            [(i, bytearray(mm.make_phash_bmp(i)), "image/bmp") for i in ids],
            "media_id long, payload binary, media_type string",
        )

    # batch 0: five base patterns + id 10 (10 % 10 == 0: exact dup of 0)
    writer(df_of([0, 1, 2, 3, 4, 10]), 0)
    acc0 = {
        r.media_id
        for r in spark.read.parquet(out).filter("batch_id = 0").collect()
    }
    assert acc0 == {0, 1, 2, 3, 4}
    # batch 1: id 30 (30 % 10 == 0, even: exact dup of accepted 0) and
    # id 32 (32 % 10 == 2, even: exact dup of accepted 2)
    writer(df_of([30, 32]), 1)
    acc1 = {
        r.media_id
        for r in spark.read.parquet(out).filter("batch_id = 1").collect()
    }
    assert acc1 == set()  # both are history dups
    st = spark.read.parquet(store)
    assert dict(st.dtypes)["dhash"] == "array<bigint>"
    assert st.count() == 5
    # config guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple of 64"):
        sdedup.image_dedup_writer(store, out, hash_bits=96)


def test_streaming_quality_gate_routes_and_replays(spark, tmp_path):
    """r11: the Gopher quality gate as an ingestion writer — keepers
    land with their signal columns, rejects land with the per-rule
    booleans naming why, the accumulated split equals the batch
    operator over the same docs, and a replayed batch rewrites
    itself."""
    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import curation

    d = str(tmp_path / "docs_in")
    out = str(tmp_path / "curated")
    rej = str(tmp_path / "rejected")
    ckpt = str(tmp_path / "qg_ckpt")
    kw = dict(min_words=5, max_words=80, required_words=("the", "data"))

    rows_b0 = [
        (0, "the data " + " ".join(f"word{i}" for i in range(20))),  # keep
        (1, "- the data\n- some rows\n- all bullets here"),          # reject
    ]
    rows_b1 = [
        (2, "the data " + " ".join(f"token{i}" for i in range(30))),  # keep
        (3, "zz qq " + " ".join(f"word{i}" for i in range(25))),      # reject
        (4, None),  # NULL text -> NULL signals -> must route to rejects
    ]
    writer = curation.quality_gate_writer(out, rej, **kw)

    def write_file(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(d)

    def run():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    write_file(rows_b0)
    run()
    write_file(rows_b1)
    run()
    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    # doc 4 (NULL text): keep is NULL, and before the r12 advice fix
    # it vanished from BOTH tables — the split-and-route contract says
    # every input doc lands exactly once, so it must be a reject
    assert set(kept) == {0, 2} and set(dropped) == {1, 3, 4}
    assert not dropped[1].pass_bullet_lines     # why doc 1 was cut
    assert not dropped[3].pass_stopwords        # why doc 3 was cut
    assert dropped[4].keep is None              # NULL signals preserved
    assert kept[0].text.startswith("the data")  # original text carried
    # accumulated split == the batch operator over all docs (NULL keep
    # routing to rejects is the writer's documented tie-break)
    all_docs = spark.createDataFrame(
        rows_b0 + rows_b1, "doc_id long, text string"
    )
    twin = {
        r.doc_id: bool(r.keep)
        for r in tx.gopher_quality(all_docs, **kw).collect()
    }
    assert {i: True for i in kept} | {i: False for i in dropped} == twin
    # replay rewrites itself
    writer(spark.createDataFrame(rows_b1, "doc_id long, text string"), 1)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {0, 2}


def test_streaming_semdedup_against_persisted_index(spark, tmp_path):
    """r11: the online SemDeDup writer — micro-batches assign to the
    FROZEN centroids of a persisted ANN index (dedup filter and search
    index share one codebook), exact copies of accepted history drop,
    novel vectors survive, a replayed batch rewrites itself, and the
    store keeps (id, vector, cluster)."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "sd_idx")
    sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    store = str(tmp_path / "sd_store")
    out = str(tmp_path / "sd_out")
    writer = sdedup.semdedup_writer(idx, store, out, threshold=0.98)

    b0 = emb.filter(F.col("vec_id") < 50)
    writer(b0, 0)
    acc0 = {r.vec_id for r in spark.read.parquet(out).collect()}
    # this corpus's natural pairwise cosine tops out ~0.48, far below
    # 0.98 — nothing in batch 0 collides
    assert acc0 == set(range(50))

    # batch 1: ten novel vectors + exact copies of five ACCEPTED ones
    novel = emb.filter(
        (F.col("vec_id") >= 50) & (F.col("vec_id") < 60)
    )
    copies = (
        emb.filter(F.col("vec_id") < 5)
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    )
    b1 = novel.unionByName(copies)
    writer(b1, 1)
    acc1 = {
        r.vec_id
        for r in spark.read.parquet(out).filter("batch_id = 1").collect()
    }
    assert acc1 == set(range(50, 60))  # copies of history dropped

    # replay rewrites itself: under the static session default only the
    # (batch_id=1, cluster=*) subtree of the store is rewritten
    def files(batch):
        root = os.path.join(store, f"batch_id={batch}")
        return {
            os.path.join(os.path.relpath(d, root), f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        }

    b0_files, b1_files = files(0), files(1)
    writer(b1, 1)
    acc1b = {
        r.vec_id
        for r in spark.read.parquet(out).filter("batch_id = 1").collect()
    }
    assert acc1b == acc1
    assert files(0) == b0_files
    assert files(1) and not files(1) & b1_files
    assert {f.split(os.sep)[0] for f in files(1)} == {
        f.split(os.sep)[0] for f in b1_files
    }
    st = spark.read.parquet(store)
    assert set(st.columns) == {"vec_id", "embedding", "cluster", "batch_id"}
    assert st.count() == 60
    # a missing index fails loudly at the first batch
    import pytest as _pytest

    bad = sdedup.semdedup_writer(
        str(tmp_path / "nope"), store, out, threshold=0.98
    )
    with _pytest.raises(Exception):
        bad(b0, 2)


def test_compact_store_preserves_secondary_partitioning(spark, tmp_path):
    """r11: compacting the semdedup writer's (batch_id, cluster)-
    partitioned store keeps the cluster layout — the folded partition
    still has cluster= subdirs (pruned history reads keep working),
    dedup decisions after compaction are identical, and the file count
    drops."""
    import os

    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import (
        similarity as sim,
    )
    from realtime_market_data_pipeline_spark.streaming import dedup as sdedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "cp_idx")
    sim.build_ivf_index(emb, idx, n_centroids=8, n_iter=1)
    batches = [
        emb.filter(F.col("vec_id") < 30),
        emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60)),
        # batch 2 carries copies of batch-0 vectors (must drop) and
        # novel ones (must survive) — the decisions the fold must keep
        emb.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 70))
        .unionByName(
            emb.filter(F.col("vec_id") < 5).select(
                (F.col("vec_id") + 2000).alias("vec_id"), "embedding"
            )
        ),
    ]

    def run(store, out, compact_before=None):
        w = sdedup.semdedup_writer(idx, store, out, threshold=0.98)
        for i, b in enumerate(batches):
            if compact_before is not None and i == compact_before:
                fb, fa = sdedup.compact_store(
                    spark, store, upto_batch=i - 1,
                    partition_cols=("batch_id", "cluster"),
                )
                assert fa < fb
            w(b, i)
        return sorted(
            r.vec_id for r in spark.read.parquet(out).collect()
        )

    plain = run(str(tmp_path / "cs0"), str(tmp_path / "co0"))
    store1 = str(tmp_path / "cs1")
    compacted = run(store1, str(tmp_path / "co1"), compact_before=2)
    assert compacted == plain
    assert not any(v >= 2000 for v in plain)  # history copies dropped
    # the folded partition keeps its cluster= layout
    folded = os.path.join(store1, "batch_id=1")
    assert any(d.startswith("cluster=") for d in os.listdir(folded))
    # misuse guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lead with batch_id"):
        sdedup.compact_store(
            spark, store1, upto_batch=1, partition_cols=("cluster",)
        )


def test_streaming_c4_gate_rewrites_and_routes(spark, tmp_path):
    """r13: the C4 gate writer REWRITES documents on the way in —
    keepers land with their line-filtered clean_text, rejects carry
    the why-booleans, NULL text routes with NULL signals, and a
    replayed batch rewrites itself."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.streaming import curation

    rows_b0 = [
        (0, "first good sentence here.\nsecond fine line stays!\n"
            "third one also stays.\nno punctuation so dropped"),
        (1, "a fine long sentence stays here.\nlorem ipsum dolor sit amet."),
    ]
    rows_b1 = [
        (2, "one sentence only stays here."),  # under the floor
        (3, None),
    ]
    out = str(tmp_path / "c4_out")
    rej = str(tmp_path / "c4_rej")
    writer = curation.c4_gate_writer(out, rej, min_sentences=3)
    writer(spark.createDataFrame(rows_b0, "doc_id long, text string"), 0)
    writer(spark.createDataFrame(rows_b1, "doc_id long, text string"), 1)
    writer(spark.createDataFrame(rows_b1, "doc_id long, text string"), 1)

    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    assert set(kept) == {0} and set(dropped) == {1, 2, 3}
    # the landed text IS the cleaned form — the unpunctuated line gone
    assert kept[0].clean_text == (
        "first good sentence here.\nsecond fine line stays!\n"
        "third one also stays."
    )
    assert dropped[1].has_lorem
    assert dropped[2].n_sentences == 1
    assert dropped[3].clean_text is None and dropped[3].keep is False


def test_streaming_classifier_gate_against_persisted_weights(
    spark, tmp_path
):
    """r13: hashed-classifier gate online — the persisted (bucket,
    weight) model scores micro-batches bit-equal to the batch
    operator, the threshold split is exact, NULL-text docs route to
    rejects with NULL score, and a replayed batch rewrites itself."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import curation

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(F.col("doc_id") < 120)
    weights_path = str(tmp_path / "qcls_weights")
    tx.seeded_classifier_weights(spark, n_buckets=4096).write.parquet(
        weights_path
    )
    weights = spark.read.parquet(weights_path)
    twin = {
        r.doc_id: r
        for r in tx.classifier_score(docs, weights).collect()
    }
    nulldoc = spark.createDataFrame(
        [(100000, None)], "doc_id long, text string"
    )
    out = str(tmp_path / "cls_out")
    rej = str(tmp_path / "cls_rej")
    writer = curation.classifier_gate_writer(
        weights_path, out, rej, threshold=0.0
    )
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(nulldoc)
    writer(b0, 0)
    writer(b1, 1)
    writer(b1, 1)  # replay rewrites itself

    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    assert set(kept) | set(dropped) == set(twin) | {100000}
    assert not (set(kept) & set(dropped))
    for did, t in twin.items():
        r = (kept if t.score is not None and t.score > 0.0
             else dropped)[did]
        assert r.score == t.score and r.margin == t.margin
    r = dropped[100000]
    assert r.score is None and r.margin is None  # NULL text -> rejects


def test_streaming_dsir_gate_against_fitted_model(spark, tmp_path):
    """r12: DSIR online — fit the model once (dsir_fit persisted),
    gate micro-batches against it: accumulated weights are bit-equal
    to the batch operator run over the same docs (decimal sums are
    order-free, lam values identical by construction), the threshold
    split is exact, NULL-text docs route to rejects with NULL log_w,
    and a replayed batch rewrites itself."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import load_table
    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import curation

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % 7 == 3).alias("is_target"),
        "text",
    ).filter(F.col("doc_id") < 120)
    model_path = str(tmp_path / "dsir_model")
    tx.dsir_fit(docs, target_col="is_target").write.parquet(model_path)

    # the stream carries the RAW pool (non-target) plus one NULL doc
    raw = docs.filter(~F.col("is_target")).select("doc_id", "text")
    nulldoc = spark.createDataFrame(
        [(100000, None)], "doc_id long, text string"
    )
    # calibrate the threshold offline (the documented production
    # step): median weight of the raw pool under the fitted model
    model = spark.read.parquet(model_path)
    twin = {
        r.doc_id: r.log_w
        for r in tx.dsir_score(raw, model).collect()
    }
    thr = sorted(twin.values())[len(twin) // 2]
    out = str(tmp_path / "dsir_out")
    rej = str(tmp_path / "dsir_rej")
    writer = curation.dsir_gate_writer(
        model_path, out, rej, threshold=thr
    )
    b0 = raw.filter(F.col("doc_id") % 2 == 0)
    b1 = raw.filter(F.col("doc_id") % 2 == 1).unionByName(nulldoc)
    writer(b0, 0)
    writer(b1, 1)
    writer(b1, 1)  # replay rewrites itself

    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    assert set(kept) | set(dropped) == set(twin) | {100000}
    assert not (set(kept) & set(dropped))
    for did, w in twin.items():
        r = (kept if w >= thr else dropped)[did]
        assert r.log_w == w
    assert dropped[100000].log_w is None  # NULL text -> rejects
    # fit-then-score == the one-shot operator on the full corpus
    one_shot = {
        r.doc_id: r.log_w
        for r in tx.dsir_weights(docs, target_col="is_target").collect()
        if not r.is_target
    }
    assert one_shot == twin


def test_streaming_full_gopher_gate_with_repetition(spark, tmp_path):
    """r12: quality_gate_writer(repetition=True) runs the FULL Gopher
    gate — structural AND repetition families — per micro-batch:
    rejects carry both families' why-booleans, keep is the conjunction
    of both, the accumulated split equals the two batch operators
    joined, and NULL text still routes to rejects."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import curation

    kw = dict(min_words=5, max_words=200,
              required_words=("the", "data"))
    rows_b0 = [
        (0, "the data " + " ".join(f"word{i}" for i in range(20))),  # keep
        (1, "the data\nrepeat line\nrepeat line\nrepeat line\nmore "
            + " ".join(f"token{i}" for i in range(10))),  # structural OK, repetition FAIL
    ]
    rows_b1 = [
        (2, "zz qq " + " ".join(f"word{i}" for i in range(25))),  # structural FAIL
        (3, None),  # NULL text -> rejects
    ]
    out = str(tmp_path / "full_out")
    rej = str(tmp_path / "full_rej")
    writer = curation.quality_gate_writer(
        out, rej, repetition=True, **kw
    )
    writer(spark.createDataFrame(rows_b0, "doc_id long, text string"), 0)
    writer(spark.createDataFrame(rows_b1, "doc_id long, text string"), 1)
    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    assert set(kept) == {0} and set(dropped) == {1, 2, 3}
    assert dropped[1].keep_structural and not dropped[1].keep_repetition
    assert not dropped[1].pass_dup_line_frac  # the why-boolean
    assert not dropped[2].keep_structural and not dropped[2].pass_stopwords
    # NULL text routes EXPLICITLY to keep=false (r12 advice fix: the
    # repetition family guards NULL/empty text instead of emitting NULL
    # through F.size(NULL) = -1 arithmetic), so the gate boolean is
    # False — routed, never silently NULL
    assert dropped[3].keep is False
    # accumulated == both batch operators joined
    all_docs = spark.createDataFrame(
        rows_b0 + rows_b1, "doc_id long, text string"
    )
    twin = {
        r.doc_id: bool(r.keep_q and r.keep_r)
        for r in tx.gopher_quality(all_docs, **kw)
        .select("doc_id", F.col("keep").alias("keep_q"))
        .join(
            tx.gopher_repetition(all_docs)
            .select("doc_id", F.col("keep").alias("keep_r")),
            "doc_id",
        )
        .collect()
    }
    assert {i: True for i in kept} | {i: False for i in dropped} == twin


def test_quality_gate_writer_per_write_dynamic_overwrite(spark, tmp_path):
    """Under a static session default (the conf itself is watched by the
    autouse fixture), a replayed batch of the gate writer rewrites only
    its own batch_id partition in both the keeper and the reject
    table."""
    from realtime_market_data_pipeline_spark.streaming import curation

    out, rej = str(tmp_path / "out"), str(tmp_path / "rej")
    writer = curation.quality_gate_writer(
        out, rej, repetition=True, min_words=3,
        required_words=("the", "data"),
    )
    good = "the data " + " ".join(f"word{i}" for i in range(8))
    schema = "doc_id long, text string"
    writer(spark.createDataFrame([(0, good), (1, "zz")], schema), 0)
    writer(spark.createDataFrame([(2, good), (3, "zz")], schema), 1)
    # replay of batch 1 with different content
    writer(spark.createDataFrame([(4, good), (5, "zz")], schema), 1)

    def landed(d):
        rows = spark.read.parquet(d).collect()
        return sorted((r.batch_id, r.doc_id) for r in rows)

    assert landed(out) == [(0, 0), (1, 4)]
    assert landed(rej) == [(0, 1), (1, 5)]


def test_two_writers_share_one_session(spark, tmp_path):
    """Two online writers land concurrently from two threads of one
    session whose overwrite default is static (the autouse fixture):
    each lands two batches and replays one with other rows, and each
    table then holds exactly its own batch_id partitions and rows. A
    writer that flipped the session conf could restore static while
    the other thread writes, and that write would replace the other
    thread's whole table."""
    import threading

    from realtime_market_data_pipeline_spark.streaming import curation

    ticks_dir, docs_dir = str(tmp_path / "ticks"), str(tmp_path / "docs")
    text = (
        "first good sentence here.\nsecond fine line stays!\n"
        "third one also stays."
    )

    def ticks(rows):
        return spark.createDataFrame(
            [(i, f"S{i % 3}") for i in rows], "seq long, symbol string"
        )

    def docs(rows):
        return spark.createDataFrame(
            [(i, text) for i in rows], "doc_id long, text string"
        )

    # (batch_id, rows): batch 1 is replayed with other rows
    plan = [(0, range(0, 3)), (1, range(10, 13)), (1, range(20, 23))]
    barrier = threading.Barrier(2)
    errors = []

    def run(writer, batch):
        try:
            for batch_id, rows in plan:
                barrier.wait(timeout=300)
                writer(batch(rows), batch_id)
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)
            barrier.abort()

    threads = [
        threading.Thread(
            target=run, args=(sinks.idempotent_parquet_writer(ticks_dir), ticks)
        ),
        threading.Thread(
            target=run,
            args=(curation.c4_gate_writer(docs_dir, min_sentences=3), docs),
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors

    want = [(0, i) for i in range(0, 3)] + [(1, i) for i in range(20, 23)]
    for path, key in ((ticks_dir, "seq"), (docs_dir, "doc_id")):
        rows = spark.read.parquet(path).collect()
        assert sorted((r.batch_id, r[key]) for r in rows) == want
        assert sorted(
            d for d in os.listdir(path) if d.startswith("batch_id=")
        ) == ["batch_id=0", "batch_id=1"]


def test_streaming_mixture_gate_against_calibrated_rates(spark, tmp_path):
    """r14: mixture gate online — the offline-calibrated exact-rational
    rate table gates micro-batches with the batch operator's integer
    membership test: accumulated keeps equal a batch mixture_sample
    run on the same ids (bit-identical u48 test by construction),
    unknown AND NULL domains route to rejects with NULL p_sample
    (never dropped), and a replayed batch rewrites itself."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators import text as tx
    from realtime_market_data_pipeline_spark.streaming import curation

    weights = {"en": (3, 4), "de": (1, 4)}
    budget = 4
    rows = (
        [(i, "en") for i in range(8)]
        + [(100, "de"), (101, "de")]
        + [(200, "xx"), (201, None)]  # unknown + NULL domain
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    # offline calibration: exact rationals from the corpus histogram
    counts = {
        r.lang: r.n for r in docs.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n")
        ).collect() if r.lang in weights
    }
    rates_path = str(tmp_path / "mix_rates")
    spark.createDataFrame(
        [
            (dom, budget * num, den * counts[dom])
            for dom, (num, den) in weights.items()
        ],
        "domain string, num long, den long",
    ).write.parquet(rates_path)

    out = str(tmp_path / "mix_out")
    rej = str(tmp_path / "mix_rej")
    writer = curation.mixture_gate_writer(rates_path, out, rej)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    writer(b0, 0)
    writer(b1, 1)
    writer(b1, 1)  # replay rewrites itself

    kept = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    dropped = {r.doc_id: r for r in spark.read.parquet(rej).collect()}
    assert set(kept) | set(dropped) == {r[0] for r in rows}
    assert not (set(kept) & set(dropped))
    # unknown + NULL domains: rejects, NULL p, row preserved
    assert dropped[200].p_sample is None and dropped[201].p_sample is None
    assert dropped[201].lang is None
    # accumulated split == the batch operator on the same corpus
    twin = {
        r.doc_id: r
        for r in tx.mixture_sample(
            docs, weights=weights, budget_n=budget
        ).collect()
    }
    for did, t in twin.items():
        r = (kept if t.kept else dropped)[did]
        assert r.p_sample == t.p_sample
