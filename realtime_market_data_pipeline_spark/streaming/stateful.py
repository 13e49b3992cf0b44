"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference skipped the faithful intra-window volatility in streaming
("Requires expanding data rows", spark_streaming.py:92-93) because built-in
streaming aggregates cannot express it: the per-tick log return needs the
*previous* tick's price per symbol, and that previous tick can live in an
earlier micro-batch. This operator keeps (last_price, per-window Welford
accumulators) as keyed state per symbol — the applyInPandasWithState pattern
SURVEY.md §7.3(a) calls for.

Scale notes:
- state per symbol is O(open windows) — bounded by the event-time horizon,
  not input size; at 100 TB keys partition across executors and RocksDB
  holds the state off-heap (session.get_spark pins the provider);
- Welford accumulation is single-pass and mergeable per batch; each batch
  emits only the windows it touched (update semantics);
- ordering contract: per-symbol arrival must be event-time ordered ACROSS
  batches (Kafka per-key partition ordering / time-ordered backfill files —
  the same assumption the reference documents for its backfill,
  README.md:140). Within a batch, rows are sorted here.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from realtime_market_data_pipeline_spark.functions.core import (
    duration_seconds,
    normalize_duration,
)

OUTPUT_SCHEMA = (
    "symbol string, window_start_ms long, window_end_ms long, "
    "realized_vol double, num_returns long"
)
# parallel arrays instead of map<long,struct> — simplest Arrow-stable state
STATE_SCHEMA = (
    "last_price double, last_time_ms long, wkeys array<long>, "
    "wn array<long>, wmean array<double>, wm2 array<double>"
)


def intra_window_vol_stream(
    ticks: DataFrame,
    window: str = "60 seconds",
    horizon: str | None = None,
) -> DataFrame:
    """Streaming twin of ``operators.features.intra_window_volatility``
    (tumbling windows): stddev_samp of per-tick log returns, each return
    assigned to the window of its own tick, with the return chain crossing
    window and batch boundaries exactly like the batch lag() does.

    Emits (symbol, window_start_ms, window_end_ms, realized_vol,
    num_returns) for every window touched in the batch — realized_vol is
    NULL until a window holds ≥2 returns (matching stddev_samp).

    ``horizon`` bounds state for unbounded streams: window accumulators
    whose end falls more than ``horizon`` behind the symbol's latest event
    are dropped after emission (an event-time TTL, the manual analog of a
    watermark for this custom operator). None keeps all windows — fine for
    bounded replays/tests, required OFF at 100 TB."""
    win_ms = duration_seconds(normalize_duration(window)) * 1000
    horizon_ms = (
        duration_seconds(normalize_duration(horizon)) * 1000 if horizon else None
    )

    def update(key, pdf_iter, state):
        import pandas as pd

        (symbol,) = key
        if state.exists:
            last_price, last_time, wkeys, wn, wmean, wm2 = state.get
            stats = {
                int(k): [int(n), float(m), float(s)]
                for k, n, m, s in zip(wkeys, wn, wmean, wm2)
            }
        else:
            last_price, last_time, stats = None, None, {}
        touched: set[int] = set()

        for pdf in pdf_iter:
            pdf = pdf.sort_values("event_time_ms")
            for price, t in zip(
                pdf["price"].astype(float), pdf["event_time_ms"].astype("int64")
            ):
                wk = int((t // win_ms) * win_ms)
                ent = stats.setdefault(wk, [0, 0.0, 0.0])
                touched.add(wk)
                if last_price is not None and last_price > 0 and price > 0:
                    r = math.log(price / last_price)
                    ent[0] += 1
                    delta = r - ent[1]
                    ent[1] += delta / ent[0]
                    ent[2] += delta * (r - ent[1])
                last_price, last_time = float(price), int(t)

        if horizon_ms is not None and last_time is not None:
            cutoff = last_time - horizon_ms
            stats = {k: v for k, v in stats.items() if k + win_ms >= cutoff}
        ks = sorted(stats)
        state.update(
            (
                last_price,
                last_time,
                ks,
                [stats[k][0] for k in ks],
                [stats[k][1] for k in ks],
                [stats[k][2] for k in ks],
            )
        )
        rows = []
        for wk in sorted(touched & set(stats)):  # late-touched may be pruned
            n, _, m2 = stats[wk]
            vol = math.sqrt(m2 / (n - 1)) if n >= 2 else None
            rows.append((symbol, wk, wk + win_ms, vol, n))
        yield pd.DataFrame(
            rows,
            columns=[
                "symbol",
                "window_start_ms",
                "window_end_ms",
                "realized_vol",
                "num_returns",
            ],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return ticks.groupBy("symbol").applyInPandasWithState(
        update,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- event-time-decayed EWMA -------------------------------------------------

EWMA_OUTPUT_SCHEMA = "symbol string, event_time_ms long, price double, ewma double"
EWMA_STATE_SCHEMA = "ewma double, last_time_ms long"


def _ewma_walk(prices, times, hl_ms, ewma=None, last_t=None):
    """Event-time-decayed EWMA recursion shared by the batch and streaming
    twins: w = 0.5^(Δt/half_life); ewma ← w·ewma + (1−w)·price. Returns
    (per-row ewma list, final ewma, final time)."""
    out = []
    for price, t in zip(prices, times):
        if ewma is None:
            ewma = float(price)
        else:
            w = 0.5 ** ((int(t) - last_t) / hl_ms)
            ewma = w * ewma + (1.0 - w) * float(price)
        last_t = int(t)
        out.append(ewma)
    return out, ewma, last_t


def ewma_stream(
    ticks: DataFrame,
    half_life: str = "30 seconds",
) -> DataFrame:
    """Per-symbol event-time-decayed price EWMA over a tick stream
    (``applyInPandasWithState``). Emits one row per tick with the EWMA as of
    that tick; the (ewma, last_time) pair is the ONLY state, so state size
    is O(symbols) regardless of stream length — the bounded-state property
    that matters at 100 TB.

    Same cross-batch ordering contract as ``intra_window_vol_stream``:
    per-symbol arrival is event-time ordered across micro-batches; rows are
    sorted within each batch here."""
    hl_ms = duration_seconds(normalize_duration(half_life)) * 1000.0

    def update(key, pdf_iter, state):
        import pandas as pd

        (symbol,) = key
        ewma, last_t = state.get if state.exists else (None, None)
        frames = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("event_time_ms")
            prices = pdf["price"].astype(float).tolist()
            times = pdf["event_time_ms"].astype("int64").tolist()
            series, ewma, last_t = _ewma_walk(prices, times, hl_ms, ewma, last_t)
            frames.append(
                pd.DataFrame(
                    {
                        "symbol": symbol,
                        "event_time_ms": times,
                        "price": prices,
                        "ewma": series,
                    }
                )
            )
        if last_t is not None:
            state.update((float(ewma), int(last_t)))
        yield from iter(frames)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return ticks.groupBy("symbol").applyInPandasWithState(
        update,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def ewma_batch(ticks: DataFrame, half_life: str = "30 seconds") -> DataFrame:
    """Batch twin of ``ewma_stream`` (identical ``_ewma_walk`` recursion via
    ``applyInPandas`` over whole per-symbol histories) — the equivalence
    target for the streaming test, and the backfill path a user would run
    over historical ticks. One shuffle on symbol; the recursion is inherently
    sequential per symbol, which is exactly the per-key parallelism shape."""
    hl_ms = duration_seconds(normalize_duration(half_life)) * 1000.0

    def compute(pdf):
        import pandas as pd

        pdf = pdf.sort_values("event_time_ms")
        prices = pdf["price"].astype(float).tolist()
        times = pdf["event_time_ms"].astype("int64").tolist()
        series, _, _ = _ewma_walk(prices, times, hl_ms)
        return pd.DataFrame(
            {
                "symbol": pdf["symbol"].iloc[0],
                "event_time_ms": times,
                "price": prices,
                "ewma": series,
            }
        )

    return ticks.groupBy("symbol").applyInPandas(compute, EWMA_OUTPUT_SCHEMA)


# --- streaming ordered funnel ------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, stage_reached int, t_s1_ms long, t_s2_ms long, t_s3_ms long"
)
# -1 sentinel = stage not reached (Arrow-stable fixed-width state row)
FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long"


def funnel_stream(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming twin of ``operators.behavior.funnel_user_stages``: the
    per-user ordered-funnel state machine maintained incrementally across
    micro-batches via ``applyInPandasWithState``. Input schema:
    (user_id long, event_type string, ts_ms long). Emits the user's current
    (stage_reached, first-conversion times) whenever a batch touches them —
    update semantics, so a live dashboard folds rows by user with
    last-write-wins.

    State is THREE longs per user — O(distinct users), independent of event
    volume, in RocksDB off-heap at scale. A stage transition consults only
    the running state and the current event, so the operator never re-reads
    history — the property that makes funnels feasible over unbounded
    streams where the batch window-min plan would need the full log.

    Ordering contract (same as the other stateful ops): per-user arrival is
    event-time ordered across micro-batches; within a batch rows are sorted
    by (ts_ms, stage rank) so a view and a click sharing one timestamp
    convert in stage order, matching the batch operator's ``ts >= t_prev``
    tie rule."""
    s1, s2, s3 = stages
    rank = {s1: 0, s2: 1, s3: 2}

    def update(key, pdf_iter, state):
        import pandas as pd

        (user,) = key
        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        for pdf in pdf_iter:
            pdf = pdf.assign(_rank=pdf["event_type"].map(rank)).dropna(
                subset=["_rank"]
            )
            pdf = pdf.sort_values(["ts_ms", "_rank"])
            for typ, t in zip(pdf["event_type"], pdf["ts_ms"].astype("int64")):
                t = int(t)
                if typ == s1 and t1 < 0:
                    t1 = t
                elif typ == s2 and t1 >= 0 and t2 < 0 and t >= t1:
                    t2 = t
                elif typ == s3 and t2 >= 0 and t3 < 0 and t >= t2:
                    t3 = t
        state.update((t1, t2, t3))
        reached = (t1 >= 0) + (t2 >= 0) + (t3 >= 0)
        yield pd.DataFrame(
            [
                (
                    user,
                    reached,
                    t1 if t1 >= 0 else None,
                    t2 if t2 >= 0 else None,
                    t3 if t3 >= 0 else None,
                )
            ],
            columns=["user_id", "stage_reached", "t_s1_ms", "t_s2_ms", "t_s3_ms"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming event-transition counts ---------------------------------------

TRANSITIONS_OUTPUT_SCHEMA = "from_type string, to_type string, n long"
TRANSITIONS_STATE_SCHEMA = "last_type string, last_ts long"


def transitions_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.behavior.event_transitions`` (counts
    side): per-user last-event state turns each arriving event into one
    (last_type → type) transition increment, emitted as per-batch partial
    counts. A downstream consumer folds them by (from_type, to_type) sum —
    the mergeable-delta shape that lets a dashboard keep a live Markov
    matrix without ever rescanning the log. Input schema: (user_id long,
    event_type string, ts_ms long).

    State is (last_type, last_ts) per user — two fields, O(distinct users).
    Same cross-batch ordering contract as the other stateful ops; within a
    batch rows sort by (ts_ms, event_type) — using event_type as a stable
    tiebreak mirrors nothing in the batch op (which orders by event_id), so
    feed event-id-ordered or distinct-ts streams when exact batch parity
    under ties matters."""

    def update(key, pdf_iter, state):
        from collections import Counter

        import pandas as pd

        last_type, _last_ts = state.get if state.exists else (None, None)
        deltas: Counter = Counter()
        t = None
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "event_type"])
            for typ, t in zip(pdf["event_type"], pdf["ts_ms"].astype("int64")):
                if last_type is not None:
                    deltas[(last_type, typ)] += 1
                last_type = typ
        if last_type is not None:
            state.update((last_type, int(t) if t is not None else 0))
        yield pd.DataFrame(
            [(a, b, n) for (a, b), n in sorted(deltas.items())],
            columns=["from_type", "to_type", "n"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        TRANSITIONS_OUTPUT_SCHEMA,
        TRANSITIONS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming LOCF gap-fill -------------------------------------------------

GAPFILL_OUTPUT_SCHEMA = (
    "symbol string, bucket_ms long, n_ticks long, price_locf double, "
    "is_gap boolean"
)
# exact decimal bucket-sum rides as a string; floats would drift off the
# batch twin's DECIMAL(38,10) accumulation
GAPFILL_STATE_SCHEMA = "cur_bucket long, sum_dec string, n long"


def gapfill_locf_stream(ticks: DataFrame, bucket_ms: int = 60_000) -> DataFrame:
    """Streaming twin of ``operators.rollup.gapfill_locf``: per-symbol dense
    LOCF bars maintained incrementally. Because per-symbol arrival is
    event-time ordered (the module's standing contract), a bucket is FINAL
    the moment a tick lands in a later bucket — so each batch emits (1) any
    buckets finalized by its ticks, (2) the gap rows between them carrying
    the last finalized average forward, and (3) a running snapshot of the
    still-open bucket. Folding emissions by (symbol, bucket_ms) with
    last-write-wins reproduces the batch gap-fill exactly — update-mode
    semantics, same as the feature stream.

    Exactness: the bucket average must equal the batch twin's
    DECIMAL(38,10)-accumulated mean bit-for-bit, so prices are quantized to
    10 dp half-up (≡ Spark's double→decimal cast) and summed as exact
    ``decimal.Decimal`` carried in state as a string; float(sum)/n then
    matches cast(sum AS DOUBLE)/count (both correctly-rounded conversions
    of the same decimal). Emit raw; the caller rounds (6 dp) so finalized
    and carried values round identically.

    State per symbol is (open bucket, exact sum, count) — three scalars,
    O(symbols), regardless of stream length or gap width."""
    from decimal import ROUND_HALF_UP, Decimal

    Q10 = Decimal("1e-10")

    def update(key, pdf_iter, state):
        import pandas as pd

        (symbol,) = key
        if state.exists:
            cur, sum_str, n = state.get
            s = Decimal(sum_str)
        else:
            cur, s, n = None, Decimal(0), 0
        rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("event_time_ms")
            for price, t in zip(
                pdf["price"].astype(float), pdf["event_time_ms"].astype("int64")
            ):
                b = (int(t) // bucket_ms) * bucket_ms
                if cur is None:
                    cur = b
                elif b > cur:
                    a = float(s) / n
                    rows.append((symbol, cur, n, a, False))
                    g = cur + bucket_ms
                    while g < b:
                        rows.append((symbol, g, 0, a, True))
                        g += bucket_ms
                    cur, s, n = b, Decimal(0), 0
                s += Decimal(price).quantize(Q10, rounding=ROUND_HALF_UP)
                n += 1
        if cur is not None:
            rows.append((symbol, cur, n, float(s) / n, False))  # open snapshot
            state.update((int(cur), str(s), int(n)))
        yield pd.DataFrame(
            rows,
            columns=["symbol", "bucket_ms", "n_ticks", "price_locf", "is_gap"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return ticks.groupBy("symbol").applyInPandasWithState(
        update,
        GAPFILL_OUTPUT_SCHEMA,
        GAPFILL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming heavy hitters (space-saving sketch) ---------------------------

HH_OUTPUT_SCHEMA = (
    "event_type string, user_id long, est_count long, err long, n_total long"
)
HH_STATE_SCHEMA = (
    "ids array<long>, counts array<long>, errs array<long>, n long"
)


def heavy_hitters_stream(events: DataFrame, k: int = 8) -> DataFrame:
    """Streaming heavy hitters per event_type: a space-saving sketch of at
    most ``k`` counters per key, emitted as a full snapshot each micro-batch
    — the bounded-state answer to "top users right now" that an exact
    streaming count (state ∝ distinct users) cannot give at 100 TB.

    Guarantees (classic space-saving, checked in
    ``test_heavy_hitters_stream_contract``): every user whose true count
    exceeds n/k is in the table, and for each tracked user
    est − err ≤ true count ≤ est. State per event_type is three length-≤k
    arrays + a counter — O(k · |event types|) total, independent of both
    row count and user cardinality.

    Determinism: rows fold in (ts_ms, user_id) order within a batch and
    ties for the eviction victim break by (count, user_id), so replays
    produce identical tables. Input schema:
    (event_type string, user_id long, ts_ms long)."""

    from realtime_market_data_pipeline_spark.operators.sketches import (
        make_space_saving_fold,
    )

    fold = make_space_saving_fold(k)

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            ids, counts, errs, n = state.get
            table = {
                int(i): [int(c), int(e)] for i, c, e in zip(ids, counts, errs)
            }
            n = int(n)
        else:
            table, n = {}, 0
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "user_id"])
            n = fold(table, n, pdf["user_id"].astype("int64"))
        items = sorted(table.items())
        state.update(
            (
                [u for u, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
                n,
            )
        )
        yield pd.DataFrame(
            [(key[0], u, c, e, n) for u, (c, e) in items],
            columns=["event_type", "user_id", "est_count", "err", "n_total"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        HH_OUTPUT_SCHEMA,
        HH_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming SCD2 interval construction ------------------------------------

SCD2_OUTPUT_SCHEMA = (
    "user_id long, event_type string, valid_from_ms long, valid_to_ms long, "
    "n_events long, version_no long, is_open boolean"
)
SCD2_STATE_SCHEMA = (
    "cur_type string, valid_from_ms long, n_events long, version_no long"
)


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch SCD2 query
    (queries.scd2_event_type_intervals): per-user value-change versioning
    under continuous ingestion. Each arriving event either extends the
    user's open version (same event_type) or closes it — the closed row
    [valid_from, valid_to) is FINAL the moment it is emitted — and opens
    the next one. Every micro-batch also emits the current open version as
    an is_open=true snapshot (valid_to NULL), an upsert keyed
    (user_id, version_no): a live versioned dimension without rescanning
    the log.

    State per user is one open version (4 fields) — O(distinct users),
    independent of history length. Same ordered-arrival contract as
    ``gapfill_locf_stream``: events must arrive in (ts_ms, event_id) order
    across batches for exact batch parity (within a batch they are
    sorted). Input schema: (user_id long, event_type string, ts_ms long,
    event_id long)."""

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            cur_type, vfrom, n, ver = state.get
            cur_type, vfrom, n, ver = cur_type, int(vfrom), int(n), int(ver)
        else:
            cur_type, vfrom, n, ver = None, 0, 0, 0
        uid = key[0]
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts_ms", "event_id"])
            for typ, t in zip(pdf["event_type"], pdf["ts_ms"].astype("int64")):
                t = int(t)
                if cur_type is None:
                    cur_type, vfrom, n, ver = typ, t, 1, 1
                elif typ == cur_type:
                    n += 1
                else:
                    out.append((uid, cur_type, vfrom, t, n, ver, False))
                    cur_type, vfrom, n, ver = typ, t, 1, ver + 1
        if cur_type is not None:
            state.update((cur_type, vfrom, n, ver))
            out.append((uid, cur_type, vfrom, None, n, ver, True))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "event_type", "valid_from_ms", "valid_to_ms",
                "n_events", "version_no", "is_open",
            ],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        SCD2_OUTPUT_SCHEMA,
        SCD2_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# --- streaming KMV bottom-k distinct sketch ----------------------------------

KMV_OUTPUT_SCHEMA = (
    "event_type string, k_used long, u_k long, est_distinct double"
)
KMV_STATE_SCHEMA = "ids array<long>, hs array<long>"


def kmv_stream(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming twin of ``operators.sketches.kmv_distinct_estimate``: a
    live distinct-users-per-event-type estimate folded across micro-batches
    on the bottom-k merge law — bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ bottom-k(B)) — so the snapshot after batch N is
    BIT-IDENTICAL to the batch sketch over all rows seen so far
    (``test_kmv_stream_matches_batch``), not merely approximately equal.
    State per event_type is two length-≤k arrays; hashes come from the
    same md5 key as the batch side (``text.sample_key48``, KMV_SALT).
    Input schema: (event_type string, user_id long)."""
    from realtime_market_data_pipeline_spark.operators.sketches import KMV_SALT

    def update(key, pdf_iter, state):
        import hashlib

        import pandas as pd

        table: dict[int, int] = {}
        if state.exists:
            ids, hs = state.get
            table = {int(i): int(h) for i, h in zip(ids, hs)}
        for pdf in pdf_iter:
            for uid in pdf["user_id"].astype("int64"):
                uid = int(uid)
                if uid not in table:
                    hx = hashlib.md5(f"{KMV_SALT}{uid}".encode()).hexdigest()
                    table[uid] = int(hx[:12], 16)
        bottom = sorted(table.items(), key=lambda t: (t[1], t[0]))[:k]
        state.update(([u for u, _ in bottom], [h for _, h in bottom]))
        k_used = len(bottom)
        u_k = bottom[-1][1] if bottom else 0
        est = (
            float(k_used)
            if k_used < k
            else round(float((k - 1) * (1 << 48)) / u_k, 6)
        )
        yield pd.DataFrame(
            [(key[0], k_used, u_k, est)],
            columns=["event_type", "k_used", "u_k", "est_distinct"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        KMV_OUTPUT_SCHEMA,
        KMV_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
