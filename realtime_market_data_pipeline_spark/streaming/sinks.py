"""Streaming sinks — the reference's `foreachBatch` writers, Spark-native.

Covers SURVEY.md §2.2:
- K1  foreachBatch → DuckDB          (reference spark_streaming.py:121-178)
- K4  output mode + checkpoint        (reference spark_streaming.py:334-341)
- K5  sink schema pre-creation        (reference spark_streaming.py:246-296)
- T7  fault tolerance / idempotence   (reference spark_streaming.py:320,337)

The reference's K1 is append-only INSERT in `update` output mode, so the sink
table accumulates multiple progressively-updated rows per (window_start,
symbol) and readers recover last-write-wins (§2.2 "semantic trap"). That
behavior is reproduced here (``duckdb_append_writer``), and *improved* per
SURVEY.md §7.2 step 4 with an idempotent variant.

The landing contract every online writer shares (this module's
``idempotent_parquet_writer``, the gate writers in streaming/curation.py,
the dedup writers in streaming/dedup.py, the ANN writers in
streaming/ann.py) is ``land``: a micro-batch's rows go to
``<dir>/batch_id=N`` with a per-write overwrite of that batch's
partition, so a replayed batch rewrites only its own partition instead
of double-inserting — exactly-once landing on top of at-least-once
delivery. The overwrite mode is an option of that one write, never the
session conf, so streaming queries that share a session cannot flip it
under each other. At 100 TB the same shape is a Delta/Iceberg MERGE;
plain partitioned parquet keeps this container-runnable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reference sink column order (spark_streaming.py:126-140): the 9 deterministic
# feature columns + the 2 ingest-time columns appended by with_ingest_latency.
FEATURE_SINK_COLUMNS = (
    "symbol",
    "window_start",
    "window_end",
    "first_price",
    "last_price",
    "log_return",
    "volatility",
    "num_ticks",
    "max_event_time_ms",
    "ingest_ts",
    "latency_ms",
)

# DuckDB DDL mirroring spark_streaming.py:146-160 (types per SURVEY.md §1.2).
_FEATURES_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  symbol VARCHAR,
  window_start TIMESTAMP,
  window_end TIMESTAMP,
  first_price DOUBLE,
  last_price DOUBLE,
  log_return DOUBLE,
  volatility DOUBLE,
  num_ticks BIGINT,
  max_event_time_ms BIGINT,
  ingest_ts TIMESTAMP,
  latency_ms BIGINT
)
"""

# Idempotent widening migrations (spark_streaming.py:162-164).
_FEATURES_MIGRATIONS = (
    "ALTER TABLE {table} ADD COLUMN IF NOT EXISTS ingest_ts TIMESTAMP",
    "ALTER TABLE {table} ADD COLUMN IF NOT EXISTS latency_ms BIGINT",
    "ALTER TABLE {table} ADD COLUMN IF NOT EXISTS max_event_time_ms BIGINT",
)

BatchWriter = Callable[[DataFrame, int], None]


def _ordered(batch_df: DataFrame) -> DataFrame:
    cols = [c for c in FEATURE_SINK_COLUMNS if c in batch_df.columns]
    return batch_df.select(*cols)


def ensure_duckdb_schema(db_path: str, table: str = "features") -> None:
    """K5: pre-create the sink table so readers see it before the first
    micro-batch lands (spark_streaming.py:246-268)."""
    import duckdb

    con = duckdb.connect(db_path)
    try:
        con.execute(_FEATURES_DDL.format(table=table))
        for mig in _FEATURES_MIGRATIONS:
            con.execute(mig.format(table=table))
    finally:
        con.close()


def duckdb_append_writer(db_path: str, table: str = "features") -> BatchWriter:
    """K1, bug-compatible: per micro-batch reorder → Arrow → DuckDB
    ``INSERT INTO … SELECT`` (spark_streaming.py:121-178). Append-only, so in
    `update` output mode the table holds duplicate rows per (window, symbol)
    — the §2.2 trap — and readers dedup with
    operators.readside.dedup_last_write_wins.

    The per-batch ``toPandas`` collect is the reference's own design; it
    bounds batch size by what the driver holds. The idempotent parquet writer
    below is the scale path.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import duckdb

        pdf = _ordered(batch_df).toPandas()
        con = duckdb.connect(db_path)
        try:
            con.execute(_FEATURES_DDL.format(table=table))
            for mig in _FEATURES_MIGRATIONS:
                con.execute(mig.format(table=table))
            con.register("batch", pdf)
            cols = ", ".join(pdf.columns)
            con.execute(f"INSERT INTO {table} ({cols}) SELECT {cols} FROM batch")
        finally:
            con.close()

    return write


def parquet_append_writer(
    path: str, partition_by_date_of: str | None = None
) -> BatchWriter:
    """Plain executor-side append — no driver collect, no broker. Readers
    never block writers (obviates the reference UI's snapshot-copy trick,
    streamlit_app.py:41-49). Same duplicate-rows-per-window semantics as K1
    under `update` mode.

    ``partition_by_date_of``: time-partition the sink by that column's date —
    the parquet equivalent of the reference's Timescale hypertable on
    window_start (spark_streaming.py:223-227); time-range readers then prune
    whole partitions."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df
        if partition_by_date_of is not None:
            w = w.withColumn("_date", F.to_date(F.col(partition_by_date_of)))
            w.write.mode("append").partitionBy("_date").parquet(path)
        else:
            w.write.mode("append").parquet(path)

    return write


def land(df: DataFrame, path: str, batch_id: int, *partition_cols: str) -> None:
    """Write ``df`` to ``path/batch_id=N`` (then ``partition_cols``
    below it), replacing that batch's rows and leaving every other
    batch as it is: a replayed batch rewrites itself. Without
    ``partition_cols`` the write is a dynamic partition overwrite. With
    them it is a static overwrite of the ``batch_id=N`` subtree: a
    dynamic one replaces only the partitions the write produces, so a
    replay whose rows fall in other secondary partitions than the first
    attempt's would leave the first attempt's behind. The overwrite
    mode is an option of this write; the session conf is never read or
    set, so writers sharing a session never see each other's."""
    if partition_cols:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy(*partition_cols)
            .parquet(f"{path.rstrip('/')}/batch_id={batch_id}")
        )
        return
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def idempotent_parquet_writer(path: str) -> BatchWriter:
    """T7 improvement: partition the sink by ``batch_id`` and overwrite only
    the arriving batch's partition (``land``). A batch replayed after a
    crash rewrites `batch_id=N` in place — no double-insert, giving
    exactly-once output from the checkpointed at-least-once stream.
    Distributed write, no driver collect; at real scale swap for a
    Delta/Iceberg MERGE keyed on (window_start, symbol)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        land(batch_df, path, batch_id)

    return write


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(db_path: str) -> str:
    """JDBC URL for the Derby database Spark already ships (its Hive
    metastore backend) — a REAL relational sink testable in this container
    with zero extra dependencies. Embedded Derby is single-JVM, which is
    exactly Spark local mode; on a cluster swap the URL for a database
    server (Postgres/Timescale) — every writer below is URL-agnostic."""
    return f"jdbc:derby:{db_path};create=true"


def prepare_timescale_hypertable(
    spark,
    url: str,
    table: str = "features",
    time_col: str = "window_start",
    properties: dict[str, str] | None = None,
) -> None:
    """K5 for TimescaleDB (reference spark_streaming.py:223-227): turn the
    sink table into a hypertable partitioned on the event-time column —
    ``SELECT create_hypertable('t','col', if_not_exists => TRUE)`` —
    through the SAME DriverManager + forwarded-properties path the MERGE
    writer uses, so auth/ssl behave identically. Call once after the
    first append/merge created the table (or after your own DDL);
    idempotent via if_not_exists. Against a non-Timescale database the
    statement fails server-side and surfaces as ValueError — the caller
    chooses the dialect, this helper just keeps the wire path uniform.
    Sandbox note: no Postgres/Timescale server ships in this container;
    the Derby-negative test pins the connection path + error surface and
    the same test runs for real under the suite's JDBC_URL switch."""
    import re

    # r9 (advisor): table/time_col are interpolated into SQL string
    # literals — validate them as plain identifiers so a config-sourced
    # quote can neither break the statement nor inject on the sink
    # connection (same rule the MERGE writer's DDL path relies on)
    for ident in (table, time_col):
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", ident):
            raise ValueError(f"not a plain SQL identifier: {ident!r}")
    props = dict(properties or {})
    jvm = spark._jvm
    if "driver" in props:
        jvm.java.lang.Class.forName(props["driver"])
    jprops = jvm.java.util.Properties()
    for pk, pv in props.items():
        if pk != "driver":
            jprops.setProperty(pk, pv)
    sql = (
        f"SELECT create_hypertable('{table}', '{time_col}', "
        "if_not_exists => TRUE)"
    )
    conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
    try:
        st = conn.createStatement()
        try:
            st.execute(sql)
        finally:
            st.close()
    except Exception as e:  # py4j wraps SQLException
        raise ValueError(
            f"create_hypertable failed (is the target TimescaleDB?): {e}"
        ) from e
    finally:
        conn.close()


def jdbc_append_writer(
    url: str,
    table: str = "features",
    properties: dict[str, str] | None = None,
) -> BatchWriter:
    """K2: foreachBatch → JDBC append (the reference's TimescaleDB sink,
    spark_streaming.py:181-243, minus the driver-side psycopg2 row loop —
    Spark's JDBC writer inserts from the executors in parallel). Tested
    end-to-end in this container against embedded Derby (``derby_url``);
    for Timescale, pre-create the hypertable (K5) and let this append.
    Same append-only semantics as K1: update mode duplicates rows per
    window and readers recover last-write-wins — for exactly-once use
    ``jdbc_merge_writer``."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            _ordered(batch_df)
            .write.mode("append")
            .jdbc(url, table, properties=properties or {})
        )

    return write


def jdbc_merge_writer(
    url: str,
    table: str = "features",
    key_cols: tuple[str, ...] = ("window_start", "symbol"),
    properties: dict[str, str] | None = None,
    stage_table: str | None = None,
) -> BatchWriter:
    """K2 + T7: exactly-once JDBC sink via the staging-table MERGE pattern
    (the SQL twin of the idempotent parquet sink, and what the reference's
    Timescale sink needed but lacked — its append-only INSERT is the §2.2
    trap). Per micro-batch:

      1. executors write the batch to a staging table in parallel
         (``overwrite`` → a replayed batch rewrites staging, never
         double-lands);
      2. the driver issues ONE set-based ``MERGE INTO target USING
         staging ON keys`` statement — matched keys update, new keys
         insert. Data never flows through the driver; only the DDL/MERGE
         coordination does, like any lakehouse commit.

    Replaying a batch or re-emitting a window in update mode is therefore
    idempotent: one row per key, newest values win. ANSI MERGE runs on
    Derby, Postgres 15+, and Timescale; key columns must be non-null.

    The staging table name is unique PER WRITER (r6 ADVICE): a fixed
    ``{table}_stage`` would let two writers targeting the same table —
    two streaming queries, or concurrent replay during recovery —
    interleave one writer's stage overwrite with the other's MERGE,
    landing batch A's rows under batch B's merge and silently breaking
    exactly-once. Each writer instance therefore stages under
    ``{table}_stage_<uuid8>`` (override via ``stage_table`` to pin, e.g.
    to a checkpoint-derived name that survives restarts), and the stage
    is DROPped after each MERGE so no stage rows are left behind."""
    import uuid

    writer_stage = stage_table or f"{table}_stage_{uuid.uuid4().hex[:8]}"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        props = dict(properties or {})
        stage = writer_stage
        b = _ordered(batch_df)
        cols = b.columns
        # Spark's default Derby mapping turns StringType into CLOB, which
        # MERGE cannot compare on — pin string columns to VARCHAR at
        # creation (createTableColumnTypes applies only when the writer
        # creates the table)
        str_cols = [
            f.name for f in b.schema.fields if f.dataType.simpleString() == "string"
        ]
        ctypes = ", ".join(f"{c} VARCHAR(255)" for c in str_cols)

        def w(df, mode, tbl):
            wr = df.write.mode(mode)
            if ctypes:
                wr = wr.option("createTableColumnTypes", ctypes)
            wr.jdbc(url, tbl, properties=props)

        # K5 schema pre-creation: a 0-row append creates the target with
        # the batch schema iff it does not exist yet
        w(b.limit(0), "append", table)
        w(b, "overwrite", stage)

        # Spark's JDBC writer creates case-preserving QUOTED identifiers;
        # unquoted names in the MERGE would fold to uppercase and miss them
        def q(c: str) -> str:
            return '"' + c + '"'

        on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
        sets = ", ".join(
            f"t.{q(c)} = s.{q(c)}" for c in cols if c not in key_cols
        )
        ins = ", ".join(q(c) for c in cols)
        vals = ", ".join(f"s.{q(c)}" for c in cols)
        merge_sql = (
            f"MERGE INTO {table} t USING {stage} s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({ins}) VALUES ({vals})"
        )
        jvm = spark._jvm
        if "driver" in props:  # ensure DriverManager sees the driver class
            jvm.java.lang.Class.forName(props["driver"])
        # The staging write above goes through Spark's JDBC writer, which
        # honors ALL connection properties; the driver-side MERGE must use
        # the same credentials (user/password/ssl...) or it would stage
        # successfully and then fail authentication against any secured
        # target (Postgres/Timescale) — so forward props as
        # java.util.Properties (r6 ADVICE). 'driver' is a Spark-side key,
        # not a JDBC connection property; it was consumed above.
        jprops = jvm.java.util.Properties()
        for pk, pv in props.items():
            if pk != "driver":
                jprops.setProperty(pk, pv)
        conn = jvm.java.sql.DriverManager.getConnection(url, jprops)
        try:
            st = conn.createStatement()
            try:
                st.executeUpdate(merge_sql)
                # leave no stage rows behind; the next batch's overwrite
                # recreates the table
                st.executeUpdate(f"DROP TABLE {stage}")
            finally:
                st.close()
        finally:
            conn.close()

    return write


def memory_upsert_writer(
    state: dict, key_cols: tuple[str, ...] = ("window_start", "symbol")
) -> BatchWriter:
    """Test/debug sink: keyed last-write-wins upsert into a driver dict —
    the "dedup at the sink" alternative named in §2.2. Collects to the
    driver; tests only."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():
            d = row.asDict()
            state[tuple(d[k] for k in key_cols)] = d

    return write
