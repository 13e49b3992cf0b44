"""Output checks.  They run after the timed region and feed ``failed``.

Each check returns the set of operations (micro-batch ids or query
indices) it found wrong, plus a count of wrong results it could not pin to
one operation; the caller charges those as one more failed operation.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_market_data_pipeline_spark.operators import readside
from realtime_market_data_pipeline_spark.operators.features import compute_features, parse_ticks

def failed_ops(bad: set, unpinned: int, attempted: int) -> int:
    """Failed operations: each operation a check pinned a wrong result on,
    plus one for any wrong results it could not pin, at most ``attempted``."""
    return min(len(bad) + (1 if unpinned else 0), attempted)


FEATURE_COLS = (
    "symbol", "window_start", "window_end", "first_price", "last_price",
    "log_return", "volatility", "num_ticks", "max_event_time_ms",
)


def _rounded(df: DataFrame, cols) -> DataFrame:
    types = dict(df.dtypes)
    return df.select(
        *[F.round(F.col(c), 9).alias(c) if types[c] == "double" else F.col(c) for c in cols]
    )


def check_tick_sink(spark, sink_dir: str, ticks_dir: str, window: str) -> tuple[set[int], int]:
    """The sink after last-write-wins must equal batch ``compute_features``
    over exactly the ticks the stream consumed.  Returns (batch ids that
    landed a wrong final row, count of expected rows that never landed)."""
    sink = spark.read.parquet(sink_dir)
    final = readside.dedup_last_write_wins(sink, ["symbol", "window_start"], "batch_id")
    ref = compute_features(parse_ticks(spark.read.text(ticks_dir)), window=window)
    got = _rounded(final, FEATURE_COLS + ("batch_id",)).persist()
    want = _rounded(ref, FEATURE_COLS).persist()
    try:
        g, w = got.alias("g"), want.alias("w")
        same = None
        for c in FEATURE_COLS:
            eq = F.col(f"g.{c}").eqNullSafe(F.col(f"w.{c}"))
            same = eq if same is None else same & eq
        wrong = g.join(w, same, "left_anti")
        missing = w.join(g, same, "left_anti").count()
        bad = {int(r.batch_id) for r in wrong.select("batch_id").distinct().collect()}
        return bad, missing
    finally:
        got.unpersist()
        want.unpersist()


# --------------------------------------------------------------------------
# Result-set comparison in the repo's oracle idiom: order-insensitive,
# columns matched by name, floats compared after the same rounding.


def _norm_value(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def normalize_rows(columns, rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(
        (tuple(_norm_value(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def same_result(a_cols, a_rows, b_cols, b_rows) -> bool:
    if sorted(c.lower() for c in a_cols) != sorted(c.lower() for c in b_cols):
        return False
    a, b = normalize_rows(a_cols, a_rows), normalize_rows(b_cols, b_rows)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-6, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


def duckdb_dashboard(con, sink_glob: str, kind: str, lo, hi, hot) -> tuple[list[str], list]:
    """DuckDB twin of one dashboard query over the same sink files."""
    base = f"""
      WITH s AS (SELECT * FROM read_parquet('{sink_glob}', hive_partitioning = true)
                 WHERE window_end >= TIMESTAMP '{lo}' AND window_end < TIMESTAMP '{hi}'),
      d AS (SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY symbol, window_start
                                           ORDER BY batch_id DESC) AS rn FROM s)
            WHERE rn = 1)"""
    if kind == "pivot_last":
        cells = ", ".join(
            f"max(CASE WHEN symbol = '{h}' THEN last_price END) AS \"{h}\"" for h in hot
        )
        sql = f"{base} SELECT window_start, {cells} FROM d GROUP BY window_start"
    elif kind == "kpi_summary":
        sql = (f"{base} SELECT CAST(count(*) AS BIGINT) AS total_rows, "
               "avg(latency_ms) AS avg_latency_ms, avg(volatility) AS avg_volatility FROM d")
    elif kind == "topk_per_group":
        sql = f"""{base} SELECT symbol, window_start, volatility, num_ticks FROM (
                 SELECT *, row_number() OVER (PARTITION BY symbol
                                              ORDER BY volatility DESC, window_start ASC) AS k
                 FROM d) WHERE k <= 3"""
    else:
        raise ValueError(kind)
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


class DashResult(NamedTuple):
    index: int
    kind: str
    lo: dt.datetime
    hi: dt.datetime
    columns: list
    rows: list
    t0: float
    t1: float


def check_dashboard(sink: str, results: list[DashResult], hot) -> set[int]:
    """Indices of dashboard results that differ from DuckDB over the same
    sink files."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET threads = 2")
        glob = os.path.join(sink, "*", "*.parquet")
        oracle: dict = {}
        bad = set()
        for r in results:
            key = (r.kind, r.lo, r.hi)
            if key not in oracle:
                oracle[key] = duckdb_dashboard(con, glob, r.kind, r.lo, r.hi, hot)
            if not same_result(r.columns, r.rows, *oracle[key]):
                bad.add(r.index)
        return bad
    finally:
        con.close()
