"""Table loading / catalog helpers over the driver's parquet corpus.

One parquet file per table (TESTDATA.md). Reads are plain ``spark.read.parquet``
so Catalyst gets predicate pushdown + column pruning for free; callers must
``select`` only what they need so ``ReadSchema`` stays narrow at 100 TB.
"""

from __future__ import annotations

import logging
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H fixes
# region=5 / nation=25 rows; supplier/part/customer grow with SF and must NOT
# be unconditionally broadcast at 100 TB).
ALWAYS_BROADCAST = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_log = logging.getLogger(__name__)
# exception class name -> times ensure_parallelism swallowed it
PARALLELISM_GUARD_FAILURES: Counter[str] = Counter()


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Adaptive parallelism guard for operators whose per-row work is
    heavy (Arrow decode passes, k-means assignment, row-local gram
    machinery): a zero-shuffle plan runs on exactly as many tasks as
    its scan has splits, and a parquet file is splittable only at
    row-group boundaries — so a small single-file table serializes the
    whole stage onto ONE core no matter what
    ``spark.sql.files.maxPartitionBytes`` says (guide §2/§6). When the
    incoming partition count is below the session's default
    parallelism, round-robin repartition once (a narrow exchange of
    the input rows, deterministic under retry via Spark's
    sort-before-repartition); on a real multi-split corpus — the
    100 TB case — the condition is false and no exchange is added.
    Streaming inputs and plans whose partitioning cannot be resolved
    pass through untouched. Plans that already contain a SHUFFLE
    exchange are left alone WITHOUT inspecting their RDD: they inherit
    shuffle-partition parallelism downstream of the exchange anyway,
    and under AQE ``df.rdd`` on such a plan MATERIALIZES the query
    stages below the exchange — the guard would silently execute the
    upstream subplan twice (measured: 2x on the planted-media rows).
    A ``BroadcastExchange`` does NOT count (r14 advice): a
    broadcast-join plan keeps the probe side's scan partitioning, so
    it still needs the round-robin; materializing its build stage via
    ``df.rdd`` is bounded by the broadcast size cap by construction.

    The guard is best-effort: a failure while inspecting the plan
    returns ``df`` unchanged, counts the exception class in
    ``PARALLELISM_GUARD_FAILURES`` and logs a warning the first time
    that class is seen."""
    try:
        if df.isStreaming:
            return df
        # executedPlan, not sparkPlan: EnsureRequirements inserts the
        # distribution-required exchanges only in the prepared plan
        # (sparkPlan shows NONE of them — an agg/join plan looks
        # exchange-free there). Building the prepared plan runs no job;
        # under AQE its toString is the initial plan with exchanges.
        if _has_shuffle_exchange(df._jdf.queryExecution().executedPlan()):
            return df
        target = min_parts or df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception as e:  # noqa: BLE001 — guard is best-effort
        name = type(e).__name__
        PARALLELISM_GUARD_FAILURES[name] += 1
        if PARALLELISM_GUARD_FAILURES[name] == 1:
            _log.warning(
                "ensure_parallelism left the plan as is: %r", e, exc_info=True
            )
    return df


def _has_shuffle_exchange(jplan) -> bool:
    """True iff the physical plan contains a SHUFFLE exchange node.
    Word-boundary match on the plan string: the shuffle node prints as
    a standalone ``Exchange <partitioning>`` while ``BroadcastExchange``
    and ``ReusedExchange`` keep the word glued to a prefix, so ``\\b``
    excludes them (the r14 bare-substring check wrongly skipped
    broadcast-only plans, which do NOT inherit shuffle parallelism).
    A JVM tree walk would be prefix-proof, but ``AdaptiveSparkPlanExec``
    is a leaf node (its input plan is not in ``children()``), so the
    string form is the one that actually sees the whole tree."""
    import re

    return re.search(r"\bExchange\b", jplan.toString()) is not None


def local_rows_df(spark: SparkSession, rows, schema, num_slices: int = 1):
    """createDataFrame over a SINGLE-slice parallelize for small
    driver-side relations (index metadata, codebooks, blocklists,
    broadcast bitmaps — the bounded-collect family).

    ``spark.createDataFrame(list)`` splits the rows into
    ``defaultParallelism`` slices; every slice evaluation replays the
    Python-worker task protocol, so a downstream ``coalesce(1)`` — one
    task iterating all parent slices SEQUENTIALLY — pays ~150 ms per
    slice: measured r15, a 17-row ``coalesce(1).write.parquet`` cost
    5-6 s at local[32] while the same write off a 1-slice parallelize
    is ~0.2 s. (This is what the r14 survey recorded as the ~6 s
    "createDataFrame-relation job overhead" in the ANN certification
    rows and mis-attributed to a session-config interaction — it
    reproduces in a vanilla session and is config-independent.)
    One slice also makes single-file writes natural without coalesce.
    Only for SMALL relations: num_slices=1 serializes the write path."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, num_slices), schema
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame.

    Side effect (``events`` only): the normalized read pins three session
    confs — ``spark.sql.legacy.parquet.nanosAsLong=true``,
    ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` and
    ``spark.sql.session.timeZone=UTC`` — for the rest of the session (see
    ``_load_events_normalized``). That is deliberate: every query in this
    engine assumes epoch-based LTZ timestamps and UTC wall-clock
    derivations, and a per-read scope would let one un-pinned read diverge.
    Callers embedding this engine in a session with different timezone
    expectations should read events first and restore confs after.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # UTC for EVERY table read, not just events: wall-clock derivations on
    # orders/lineitem timestamps (year(), date_trunc, window()) follow the
    # session zone, and the DuckDB oracle treats the same instants as
    # naive-UTC. (Timestamps COLLECTED to python additionally assume a UTC
    # process TZ — true in this container; a non-UTC process would shift
    # their repr, which no session conf can prevent.)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events_normalized(spark, path)
    return spark.read.parquet(path)


def _load_events_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Read ``events.parquet`` with ``ts`` normalized to TIMESTAMP (LTZ,
    epoch-based) regardless of the file's physical flavor. The corpus has
    shipped three flavors across driver rounds:

    1. TIMESTAMP(NANOS) — Spark 4 rejects by default; read nanos as long,
       then integer-divide (``div``, NOT ``/``: double division loses
       precision at 1e18 ns) down to micros — identical truncation to
       DuckDB's ns→µs read of the same file.
    2. micros without timezone (isAdjustedToUTC=false) — Spark 4 infers
       TIMESTAMP_NTZ, which breaks ``unix_millis``/``unix_micros``
       (DATATYPE_MISMATCH). Disabling ``inferTimestampNTZ`` makes Spark
       read the stored int64 micros directly as epoch micros (LTZ) —
       exactly how DuckDB's epoch extraction treats the same values, and
       independent of session timezone.
    3. plain TIMESTAMP (LTZ) — passes through untouched.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The oracle (DuckDB) treats these instants as naive-UTC; wall-clock
    # derivations on the LTZ column (window(), date_trunc, year()) follow the
    # session zone, so a non-UTC driver session would bucket differently.
    # Pin UTC here — the one choke point every events read passes through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        unit = _epoch_unit_from_footer(path)
        if unit == "ns":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif unit == "us":
            df = df.withColumn("ts", F.timestamp_micros("ts"))
        elif unit == "ms":
            df = df.withColumn("ts", F.timestamp_millis("ts"))
        else:
            df = df.withColumn("ts", F.timestamp_seconds("ts"))
    elif isinstance(ts_type, T.StringType):
        # ISO-8601 strings parse under the (UTC) session zone
        df = df.withColumn("ts", F.to_timestamp("ts"))
    elif isinstance(ts_type, T.TimestampNTZType):
        # Conf ignored (e.g. a session that pins it): force the read schema —
        # parquet micros decode as epoch micros under TimestampType.
        schema = T.StructType(
            [
                T.StructField("ts", T.TimestampType(), f.nullable)
                if f.name == "ts"
                else f
                for f in df.schema.fields
            ]
        )
        df = spark.read.schema(schema).parquet(path)
    return df


def walk_parquet_parts(path: str) -> list[str]:
    """All ``.parquet`` part files under ``path``, recursively. A
    hive-partitioned dataset nests its parts in ``key=value``
    subdirectories, so a non-recursive listdir sees zero parts and would
    silently treat the dataset as empty — for footer-driven epoch-unit
    inference that is exactly the silent mis-scale the loud-failure path
    exists to prevent (r5 ADVICE). A directory that contains entries but
    no parquet parts anywhere raises instead of masquerading as an empty
    dataset; a plain file returns ``[path]`` unchecked.

    Metadata/temp entries are excluded on both sides of that decision
    (r6 ADVICE): directories and files starting with ``_`` or ``.`` are
    pruned from the walk — Spark itself skips them on read, so counting
    parts under an in-flight ``_temporary/`` subtree would inflate row
    totals and feed uncommitted footers to unit inference — and a
    directory holding ONLY such markers (a legitimately empty Spark
    dataset with just ``_SUCCESS``) is an empty dataset, not an error."""
    import os

    def _meta(name: str) -> bool:
        return name.startswith(("_", "."))

    if not os.path.isdir(path):
        return [path]
    parts, saw_data_entry = [], False
    for root, dirs, fnames in os.walk(path):
        dirs[:] = [d for d in dirs if not _meta(d)]
        saw_data_entry = saw_data_entry or bool(dirs)
        for f in fnames:
            if _meta(f):
                continue
            saw_data_entry = True
            if f.endswith(".parquet"):
                parts.append(os.path.join(root, f))
    if not parts and saw_data_entry:
        raise ValueError(
            f"{path} is a non-empty directory with no .parquet part files "
            "(at any depth) — refusing to treat it as an empty dataset"
        )
    return sorted(parts)


def _epoch_unit_from_footer(path: str) -> str:
    """Infer the epoch unit of an int64 ``ts`` column from parquet footer
    statistics — free (no Spark job) and unambiguous across 4 decades of
    magnitude per unit: 2024 epochs are ~1.7e9 s / 1.7e12 ms / 1.7e15 µs /
    1.7e18 ns. The r1 corpus shipped TIMESTAMP(NANOS) (read as long via the
    nanosAsLong escape hatch); a future plain-long flavor must not be
    silently mis-scaled. A non-empty file whose row groups ALL lack
    statistics raises (``_epoch_unit_from_maxima``) rather than guessing;
    an unreadable footer or an empty file falls back to ns (zero rows make
    the unit irrelevant)."""
    # A Spark-written dataset is a DIRECTORY of part files (possibly
    # hive-partitioned into subdirectories) — aggregate their footers.
    # Collected OUTSIDE the quirk fallback so the no-parts loud failure
    # propagates instead of being swallowed into a silent 'ns'.
    files = walk_parquet_parts(path)
    try:
        import pyarrow.parquet as pq

        total_rows, maxima = 0, []
        for f in files:
            md = pq.ParquetFile(f).metadata
            total_rows += md.num_rows
            idx = md.schema.names.index("ts")
            # Decide from the max over row groups that HAVE stats; a single
            # stat-less row group must not discard maxima already observed
            # (mis-scaling a s/ms/us file to ns would be off by 3-9 orders).
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx).statistics
                maxima.append(
                    None
                    if stats is None or stats.max is None
                    else int(stats.max)
                )
        if total_rows == 0:
            return "ns"  # no rows to mis-scale; any unit reads identically
    except Exception:  # noqa: BLE001 — footer quirks must not break the read
        return "ns"
    return _epoch_unit_from_maxima(maxima, path)


def _epoch_unit_from_maxima(maxima: list[int | None], path: str) -> str:
    """Pure decision half of ``_epoch_unit_from_footer``: pick the unit from
    per-row-group ``ts`` maxima (None = that row group has no stats). A
    non-empty file where NO row group has statistics fails loudly — guessing
    a unit risks a silent 10³–10⁹× timestamp mis-scale, the worst failure
    mode a scan can have. (Empty files never reach here — the caller
    returns ns for zero rows.)"""
    known = [m for m in maxima if m is not None]
    if not known:
        raise ValueError(
            f"cannot infer epoch unit of int64 'ts' in {path}: no row group "
            "carries statistics — rewrite the file with stats or load with "
            "an explicit unit"
        )
    mx = max(known)
    if mx > 10**17:
        return "ns"
    if mx > 10**14:
        return "us"
    if mx > 10**11:
        return "ms"
    return "s"


def load_events_range(
    spark: SparkSession,
    sf_dir: str,
    lower: str | None = None,
    upper: str | None = None,
) -> DataFrame:
    """``events`` with a time-range predicate that actually reaches the
    parquet scan.

    When the file stores ``ts`` as a raw int64 epoch (the r1
    TIMESTAMP(NANOS) flavor read via the nanosAsLong escape hatch), a
    filter on the *derived* ``timestamp_micros(ts div 1000)`` column is not
    invertible by Catalyst, so only IsNotNull pushes down and the scan
    reads everything. Because the epoch→timestamp mapping is monotonic,
    ``ts >= T`` ⇔ ``ts_int >= T_in_unit`` exactly (div truncates
    non-negative values), so this helper filters in int64 space — in the
    unit the footer says the file uses — BEFORE the conversion: the range
    lands in PushedFilters and prunes row groups / partitions at any
    scale. Non-long flavors (LTZ / NTZ-micros / string) get the typed
    filter on the normalized column, which pushes down natively for
    native-timestamp files."""
    import datetime as _dt

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Same UTC guarantee as _load_events_normalized: the int64 fast path
    # below never reaches that function, but downstream wall-clock
    # derivations (window(), date_trunc) must bucket identically.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    df = spark.read.parquet(path)
    if not isinstance(df.schema["ts"].dataType, T.LongType):
        df = _load_events_normalized(spark, path)
        if lower is not None:
            df = df.filter(F.col("ts") >= lower)
        if upper is not None:
            df = df.filter(F.col("ts") < upper)
        return df

    unit = _epoch_unit_from_footer(path)

    def _epoch(bound: str) -> int:
        # exact for any bound precision: with integer ts in unit u and the
        # bound in µs, ts·k ⋛ B ⇔ ts ⋛ ceil(B/k) for both >= and < (k = µs
        # per unit; ns scales up instead)
        t = _dt.datetime.fromisoformat(bound).replace(tzinfo=_dt.timezone.utc)
        us = int(t.timestamp() * 1_000_000)
        if unit == "ns":
            return us * 1000
        k = {"us": 1, "ms": 1000, "s": 1_000_000}[unit]
        return -(-us // k)

    if lower is not None:
        df = df.filter(F.col("ts") >= F.lit(_epoch(lower)))
    if upper is not None:
        df = df.filter(F.col("ts") < F.lit(_epoch(upper)))
    if unit == "ns":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if unit == "us":
        return df.withColumn("ts", F.timestamp_micros("ts"))
    if unit == "ms":
        return df.withColumn("ts", F.timestamp_millis("ts"))
    return df.withColumn("ts", F.timestamp_seconds("ts"))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so ``spark.sql`` queries (the
    read-side SQL surface, SURVEY.md §3.3) resolve by name."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_files: int,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (optionally sorted within partitions for better
    rowgroup locality/min-max pruning). Streaming sinks emit one-plus files
    per micro-batch; at 100 TB unbounded small files destroy scan throughput
    (footer-per-file overhead, no pruning), so compaction runs as a periodic
    maintenance job. Returns the row count written. Write-then-swap: callers
    atomically repoint readers (or replace src) after success."""
    df = spark.read.parquet(src_dir).repartition(target_files)
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    df.write.mode("overwrite").parquet(dst_dir)
    return spark.read.parquet(dst_dir).count()


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog introspection (SURVEY.md §2.1 S6 — the notebook's
    ``duckdb_tables()`` existence check)."""
    return spark.catalog.tableExists(name)
