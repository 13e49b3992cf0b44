"""events.ts must load as epoch-based TIMESTAMP whatever physical flavor the
corpus ships (it has changed twice across driver rounds: TIMESTAMP(NANOS) →
int64-nanos quirk in r1, micros-without-timezone → TIMESTAMP_NTZ in r2).
A flavor regression here broke 14 driver queries + the bench in round 2."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_market_data_pipeline_spark.io import load_events_range, load_table

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_epoch_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        f"{sf_dir}: ts loaded as {df.schema['ts'].dataType}, not TIMESTAMP"
    )
    # the r2 regression: unix_millis threw DATATYPE_MISMATCH on TIMESTAMP_NTZ
    row = df.select(
        F.min(F.unix_millis("ts")).alias("lo"), F.max(F.unix_millis("ts")).alias("hi")
    ).first()
    assert row.lo is not None and row.lo <= row.hi


@pytest.mark.parametrize("sf_dir", SF_DIRS[:2])
def test_events_epoch_values_match_duckdb(spark, sf_dir):
    """Not just the type — the epoch VALUES must equal DuckDB's read of the
    same file (the driver oracle), independent of session timezone."""
    got = load_table(spark, sf_dir, "events").select(
        F.min(F.unix_millis("ts")).alias("lo"),
        F.max(F.unix_millis("ts")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    want = duckdb.sql(
        "SELECT CAST(epoch_ms(min(ts)) AS BIGINT), CAST(epoch_ms(max(ts)) AS BIGINT),"
        f" count(*) FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    assert (got.lo, got.hi, got.n) == want


@pytest.mark.parametrize("sf_dir", SF_DIRS[:1])
def test_events_range_filter_matches_load_table(spark, sf_dir):
    lo, hi = "2024-01-02 00:00:00", "2024-01-03 00:00:00"
    ranged = load_events_range(spark, sf_dir, lo, hi).count()
    full = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .count()
    )
    assert ranged == full


def test_synthetic_long_and_string_flavors(spark, tmp_path):
    """Future-proofing: a plain int64 epoch column in ANY unit (s/ms/µs/ns)
    and an ISO-string column must all normalize to the same instants —
    the unit is inferred from parquet footer stats, never assumed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    offsets_us = [0, 1_500_000, 86_400_000_000]
    expect_ms = [(base_us + o) // 1000 for o in offsets_us]

    cases = {
        "s": [(base_us + o) // 1_000_000 for o in offsets_us],
        "ms": [(base_us + o) // 1000 for o in offsets_us],
        "us": [base_us + o for o in offsets_us],
        "ns": [(base_us + o) * 1000 for o in offsets_us],
    }
    for unit, vals in cases.items():
        d = tmp_path / f"events_{unit}"
        d.mkdir()
        p = str(d / "events.parquet")
        pq.write_table(
            pa.table({"event_id": [1, 2, 3], "ts": pa.array(vals, pa.int64())}), p
        )
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), unit
        got = sorted(r.ms for r in df.select(F.unix_millis("ts").alias("ms")).collect())
        want = sorted(
            ms if unit != "s" else (ms // 1000) * 1000 for ms in expect_ms
        )
        assert got == want, (unit, got, want)

    d = tmp_path / "events_str"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": ["2024-01-01 00:00:00", "2024-01-02 00:00:01.500"],
            }
        ),
        str(d / "events.parquet"),
    )
    df = load_table(spark, str(d), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(r.ms for r in df.select(F.unix_millis("ts").alias("ms")).collect())
    assert got == [1_704_067_200_000, 1_704_153_601_500]


def test_load_table_pins_utc_for_every_table(spark):
    """A session whose timeZone drifted (embedding app, notebook) must be
    re-pinned to UTC by ANY load_table call — wall-clock derivations
    (year(), window(), date_trunc) on any table's timestamps follow the
    session zone, and the oracle treats the same instants as naive-UTC."""
    for table in ("orders", "events", "documents"):
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            load_table(spark, "/root/testdata/sf0.001", table)
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC", table
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_epoch_unit_decision_mixed_and_missing_stats(tmp_path):
    """Unit inference must decide from the row groups that HAVE stats
    (a stats-less group must not discard observed maxima) and fail loudly
    when NO group has stats — guessing risks a 10^3-10^9x mis-scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from realtime_market_data_pipeline_spark.io import (
        _epoch_unit_from_footer,
        _epoch_unit_from_maxima,
    )

    # pure decision: mixed stats/stats-less row groups
    assert _epoch_unit_from_maxima([None, 1_700_000_000_000_000], "p") == "us"
    assert _epoch_unit_from_maxima([1_700_000_000_000, None], "p") == "ms"
    assert _epoch_unit_from_maxima([1_700_000_000], "p") == "s"
    assert _epoch_unit_from_maxima([None, 1_700_000_000_000_000_000], "p") == "ns"
    with pytest.raises(ValueError, match="no row group carries statistics"):
        _epoch_unit_from_maxima([None, None], "p")

    # file-level: all-stats file infers; all-stats-less file raises
    tbl = pa.table({"ts": pa.array([1_700_000_000_000_000], pa.int64())})
    with_stats = str(tmp_path / "with_stats.parquet")
    pq.write_table(tbl, with_stats)
    assert _epoch_unit_from_footer(with_stats) == "us"

    no_stats = str(tmp_path / "no_stats.parquet")
    pq.write_table(tbl, no_stats, write_statistics=False)
    with pytest.raises(ValueError, match="no row group carries statistics"):
        _epoch_unit_from_footer(no_stats)


def test_epoch_unit_empty_file_reads_fine(tmp_path):
    """Zero-row files must NOT trip the no-stats loud failure: pyarrow
    writes an empty file with no usable max statistic, and with no rows
    there is nothing to mis-scale — the unit defaults harmlessly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_market_data_pipeline_spark.io import _epoch_unit_from_footer

    tbl = pa.table({"ts": pa.array([], pa.int64())})
    empty = str(tmp_path / "empty.parquet")
    pq.write_table(tbl, empty)
    assert _epoch_unit_from_footer(empty) == "ns"


def test_epoch_unit_directory_layout(spark, tmp_path):
    """Spark writes datasets as DIRECTORIES of part files; unit inference
    must aggregate part footers, not fall through the quirk fallback to
    'ns' and silently mis-scale an int64-ms dataset by 10^6."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import _epoch_unit_from_footer

    d = str(tmp_path / "events_dir.parquet")
    spark.range(4).select(
        (F.lit(1_700_000_000_000) + F.col("id")).alias("ts")
    ).repartition(2).write.mode("overwrite").parquet(d)
    assert _epoch_unit_from_footer(d) == "ms"


def test_epoch_unit_hive_partitioned_directory(spark, tmp_path):
    """Hive-partitioned datasets nest part files in key=value
    SUBDIRECTORIES; a non-recursive part listing sees zero files and
    would silently default to 'ns' (r5 ADVICE). Inference must walk the
    tree and still find the ms-scale maxima."""
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.io import _epoch_unit_from_footer

    d = str(tmp_path / "events_hive.parquet")
    spark.range(6).select(
        (F.lit(1_700_000_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 2).alias("part"),
    ).write.partitionBy("part").mode("overwrite").parquet(d)
    assert _epoch_unit_from_footer(d) == "ms"


def test_walk_parquet_parts_refuses_partless_directory(tmp_path):
    """A non-empty directory with no parquet parts anywhere is NOT an
    empty dataset — returning [] would make footer row counts report 0
    and unit inference default to 'ns'. It must raise."""
    import pytest

    from realtime_market_data_pipeline_spark.io import walk_parquet_parts

    d = tmp_path / "not_a_dataset"
    d.mkdir()
    (d / "README.txt").write_text("hi")
    with pytest.raises(ValueError, match="no .parquet part files"):
        walk_parquet_parts(str(d))
    # a genuinely empty directory is an empty dataset: no parts, no error
    e = tmp_path / "empty_dataset"
    e.mkdir()
    assert walk_parquet_parts(str(e)) == []


def test_walk_parquet_parts_prunes_metadata_and_temp_entries(tmp_path):
    """r6 ADVICE: an in-flight write's _temporary/ subtree must not be
    counted (Spark itself skips _/. entries on read — counting them
    inflates footer row totals and feeds uncommitted footers to unit
    inference), and a dataset directory holding only marker files
    (_SUCCESS) is an EMPTY dataset, not an error."""
    import shutil

    from realtime_market_data_pipeline_spark.io import walk_parquet_parts

    d = tmp_path / "ds"
    (d / "_temporary" / "0").mkdir(parents=True)
    (d / ".hidden").mkdir()
    (d / "part-00000.parquet").write_bytes(b"PAR1")
    (d / "_temporary" / "0" / "part-00001.parquet").write_bytes(b"PAR1")
    (d / ".hidden" / "part-00002.parquet").write_bytes(b"PAR1")
    (d / "_SUCCESS").write_text("")
    (d / ".part-00000.parquet.crc").write_bytes(b"")
    assert walk_parquet_parts(str(d)) == [str(d / "part-00000.parquet")]
    # markers only → empty dataset, no error
    e = tmp_path / "empty_committed"
    e.mkdir()
    (e / "_SUCCESS").write_text("")
    assert walk_parquet_parts(str(e)) == []
    # an aborted write that left ONLY _temporary residue is also empty
    a = tmp_path / "aborted"
    (a / "_temporary" / "0").mkdir(parents=True)
    (a / "_temporary" / "0" / "part-00001.parquet").write_bytes(b"PAR1")
    assert walk_parquet_parts(str(a)) == []
    shutil.rmtree(d)


def test_ensure_parallelism_guard_shapes(spark):
    """r15 (r14-advice fix): the adaptive-parallelism guard must (a)
    repartition an exchange-free single-split scan up to the session
    default parallelism, (b) pass a shuffle-exchange plan through
    UNTOUCHED (it inherits shuffle parallelism; touching .rdd there
    would materialize AQE stages twice), and (c) treat a
    broadcast-ONLY plan as needing the round-robin — BroadcastExchange
    does not distribute the probe side, which is exactly the false
    positive the old bare-substring check had."""
    from realtime_market_data_pipeline_spark.io import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_DIRS[0], "documents").select("doc_id")
    # (a) single-split scan -> round-robin to the session parallelism
    assert ensure_parallelism(docs).rdd.getNumPartitions() == target
    # (b) shuffle plan -> pass-through (identity)
    agg = docs.groupBy((F.col("doc_id") % 10).alias("k")).count()
    assert ensure_parallelism(agg) is agg
    # (c) broadcast-only plan -> still repartitioned
    small = spark.range(5).select(F.col("id").alias("doc_id"))
    bj = docs.join(F.broadcast(small), "doc_id")
    out = ensure_parallelism(bj)
    assert out is not bj
    assert out.rdd.getNumPartitions() == target


def test_ensure_parallelism_counts_swallowed_failures(
    spark, monkeypatch, caplog
):
    """A failure inside the best-effort guard is counted by exception
    class and logged once, and the input passes through unchanged."""
    import logging
    from collections import Counter

    from realtime_market_data_pipeline_spark import io as sio

    def boom(_plan):
        raise RuntimeError("plan inspection failed")

    monkeypatch.setattr(sio, "_has_shuffle_exchange", boom)
    monkeypatch.setattr(sio, "PARALLELISM_GUARD_FAILURES", Counter())
    df = spark.range(10)
    with caplog.at_level(logging.WARNING, logger=sio.__name__):
        assert sio.ensure_parallelism(df) is df
        assert sio.ensure_parallelism(df) is df
    assert sio.PARALLELISM_GUARD_FAILURES == {"RuntimeError": 2}
    warned = [r for r in caplog.records if r.name == sio.__name__]
    assert len(warned) == 1
    assert "plan inspection failed" in warned[0].getMessage()
