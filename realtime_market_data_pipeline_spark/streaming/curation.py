"""Streaming curation — quality gating at ingestion time.

The batch quality operators (text.gopher_quality, text.quality_score)
answer "which documents in this corpus pass the structural filters". A
training-data ingestion pipeline wants the ONLINE form: gate every
micro-batch as it arrives, land keepers in the curated table and
rejects in an auditable quarantine table that records WHICH rule fired
— the same split-and-route shape as the media quarantine routers, at
the document level.

Every gate scores its batch and hands the scored rows and a keep Column
to ``_route``, which persists them once and lands keepers and rejects
through ``streaming.sinks.land`` (the writers' one exactly-once landing
contract). NULL keep routes to rejects, so every input document lands
exactly once. The gate itself is per-row work — Column arithmetic plus,
for the repetition rules, one row-local Python UDF pass — with zero
keyed exchanges (plan-pinned for the batch operator), so the stream's
per-batch cost is one scan of the batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from realtime_market_data_pipeline_spark.streaming.sinks import BatchWriter, land


def _route(
    scored: DataFrame,
    keep: Column,
    batch_id: int,
    out_dir: str,
    rejects_dir: str | None,
) -> None:
    """Land ``scored`` split by ``keep``: keepers to ``out_dir``, the
    rest to ``rejects_dir`` when given. NULL keep is a reject — a
    document with no text has NULL signals, and filtering on a NULL
    keep would drop it from both tables. The split column is
    materialized as ``_keep`` (replacing any column of that name) so
    both writes read it from one persisted relation, and dropped
    before landing."""
    routed = scored.withColumn(
        "_keep", F.coalesce(keep, F.lit(False))
    ).persist()
    try:
        land(routed.filter("_keep").drop("_keep"), out_dir, batch_id)
        if rejects_dir is not None:
            land(routed.filter("NOT _keep").drop("_keep"), rejects_dir, batch_id)
    finally:
        routed.unpersist()


def quality_gate_writer(
    out_dir: str,
    rejects_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    repetition: bool = False,
    repetition_thresholds: dict[str, float] | None = None,
    **gopher_kwargs,
) -> BatchWriter:
    """foreachBatch writer: apply the Gopher quality rules
    (``text.gopher_quality``) to each micro-batch. Keepers — original
    text plus every signal column — land in ``out_dir/batch_id=N``;
    rejects land in ``rejects_dir`` (when given) with the per-rule
    booleans naming exactly why each document was cut, which is what a
    pipeline operator audits before retuning thresholds. Both writes
    are idempotent dynamic overwrites. ``gopher_kwargs`` pass through
    to ``gopher_quality`` (thresholds, required_words, ...).

    ``repetition=True`` (r12) runs the FULL Gopher gate: the
    structural rules above joined per-batch with the repetition
    family (``text.gopher_repetition`` — dup line/paragraph fractions,
    n-gram coverage), keep = both conjunctions, and rejects carry BOTH
    families' why-booleans. Neither family adds a keyed exchange: the
    repetition counts come from one row-local Python UDF pass (the
    batch operator's shape), so Python workers must be able to import
    this package."""
    from realtime_market_data_pipeline_spark.operators.text import (
        gopher_quality,
        gopher_repetition,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scored = gopher_quality(
            batch_df,
            text_col=text_col,
            id_col=id_col,
            extra_cols=(text_col,),
            **gopher_kwargs,
        )
        if repetition:
            # both rule families are row-local projections of the SAME
            # batch, so the repetition columns compose directly onto the
            # structural output via extra_cols passthrough — no id join
            # (one would shuffle the full batch width, text included,
            # for rows that never leave their partition)
            scored = scored.withColumnRenamed("keep", "keep_structural")
            carried = tuple(c for c in scored.columns if c != id_col)
            scored = gopher_repetition(
                scored,
                text_col=text_col,
                id_col=id_col,
                thresholds=repetition_thresholds,
                extra_cols=carried,
            ).withColumnRenamed("keep", "keep_repetition")
            scored = scored.withColumn(
                "keep",
                F.col("keep_structural") & F.col("keep_repetition"),
            )
        _route(scored, F.col("keep"), batch_id, out_dir, rejects_dir)

    return write


def c4_gate_writer(
    out_dir: str,
    rejects_dir: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **c4_kwargs,
) -> BatchWriter:
    """foreachBatch writer: C4 line-rule cleanup ONLINE (r13) — unlike
    the other gates this one REWRITES the document on the way in:
    each micro-batch runs ``text.c4_rules``, keepers land in
    ``out_dir/batch_id=N`` with their CLEANED text (the line-filtered
    form C4 actually trains on) plus the signal columns, rejects land
    in ``rejects_dir`` with the why-booleans (bad word / lorem /
    brace / sentence floor). NULL-text docs route to rejects with
    NULL signals and keep=false (the operator's explicit guard) —
    every input doc lands exactly once. Dynamic-partition overwrite
    keeps replays idempotent. Scale shape per batch: pure zero-shuffle
    codegen (the batch operator's plan-pinned shape) — the cheapest
    gate in the family."""
    from realtime_market_data_pipeline_spark.operators.text import (
        c4_rules,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scored = c4_rules(
            batch_df, text_col=text_col, id_col=id_col, **c4_kwargs
        )
        _route(scored, F.col("keep"), batch_id, out_dir, rejects_dir)

    return write


def dsir_gate_writer(
    model_path: str,
    out_dir: str,
    rejects_dir: str | None = None,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> BatchWriter:
    """foreachBatch writer: DSIR data selection ONLINE (r12) — the
    production split of ``text.dsir_weights``: the model was fitted
    ONCE (``text.dsir_fit`` persisted to ``model_path``; <= buckets+1
    rows), and every micro-batch is scored against it
    (``text.dsir_score`` — broadcast lam join, exact decimal sum, so
    accumulated weights are bit-equal to the batch operator's) and
    gated at ``threshold``: keepers land in ``out_dir/batch_id=N``
    with their (n_grams, log_w), rejects in ``rejects_dir`` when
    given. The batch form's deterministic top-fraction needs a global
    rank; a STREAM cannot rank the future, so the online form gates on
    a fixed weight threshold — calibrate it offline against the
    reference corpus's weight distribution (document the trade, the
    watermark-vs-perfect-order shape). Docs that produce NO grams
    (NULL/empty text) cannot be scored: they route to REJECTS with
    NULL log_w (the quality gate's NULL rule). Dynamic-partition
    overwrite keeps replays idempotent."""
    from realtime_market_data_pipeline_spark.operators.text import (
        dsir_score,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        model = spark.read.parquet(model_path)
        scored = dsir_score(
            batch_df, model, text_col=text_col, id_col=id_col,
            n_buckets=n_buckets,
        )
        _route(
            batch_df.select(id_col, text_col).join(scored, id_col, "left"),
            F.col("log_w") >= F.lit(threshold),
            batch_id, out_dir, rejects_dir,
        )

    return write


def classifier_gate_writer(
    weights_path: str,
    out_dir: str,
    rejects_dir: str | None = None,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> BatchWriter:
    """foreachBatch writer: hashed-classifier quality gate ONLINE (r13)
    — the third member of the online gate family next to the Gopher
    gate (structural/repetition rules) and the DSIR gate (generative
    importance weight): the discriminative classifier a GPT-3/CCNet
    pipeline trains offline ships as a persisted (bucket, weight)
    relation at ``weights_path``; every micro-batch is scored by
    ``text.classifier_score`` (broadcast model lookup, exact integer
    margin — bit-equal to the batch operator on the same rows) and
    gated at ``score > threshold`` (the fastText mean pool, so the
    operating point is document-length-normalized; 0.0 = the sign of
    the margin). Docs that produce no grams (NULL/empty text) cannot
    be scored: they route to REJECTS with NULL margin/score (the
    family's NULL rule — every input doc lands exactly once).
    Dynamic-partition overwrite keeps replays idempotent.

    Scale shape per batch: one broadcast of the B-row model, one
    map-side-combined id agg — no state store, no history read; the
    model refreshes by re-persisting ``weights_path`` between
    batches (read per batch by design)."""
    from realtime_market_data_pipeline_spark.operators.text import (
        classifier_score,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        weights = spark.read.parquet(weights_path)
        scored = classifier_score(
            batch_df, weights, text_col=text_col, id_col=id_col,
            n_buckets=n_buckets,
        )
        _route(
            batch_df.select(id_col, text_col).join(scored, id_col, "left"),
            F.col("score") > F.lit(threshold),
            batch_id, out_dir, rejects_dir,
        )

    return write


def mixture_gate_writer(
    rates_path: str,
    out_dir: str,
    rejects_dir: str | None = None,
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix:v1",
) -> BatchWriter:
    """foreachBatch writer: temperature/domain mixture sampling ONLINE
    (r14) — the fifth member of the online gate family (Gopher, C4,
    DSIR, classifier, mixture), the production split of
    ``text.mixture_sample``: the per-domain acceptance rates are
    calibrated ONCE offline against the reference corpus's domain
    histogram and persisted to ``rates_path`` as EXACT rationals
    (domain, num, den) with num = budget·w_num and den = w_den·n_d —
    so the per-row membership test u48·den < num·2^48 (DECIMAL(38,0),
    never a float) is BIT-IDENTICAL to the batch operator's on the
    same ids: the accumulated online keeps equal a batch
    ``mixture_sample`` run with the same histogram, by construction.
    Keepers land in ``out_dir/batch_id=N`` with their 6-dp p_sample;
    rows whose domain has no rate row — unknown domains AND NULL
    domains (the left join keeps them unmatched, the r14
    ``mixture_sample`` routing rule) — land in rejects with NULL
    p_sample, never dropped. Dynamic-partition overwrite keeps
    replays idempotent.

    Scale shape per batch: one broadcast of the #domains-row rate
    table, then a per-row integer decision — zero shuffle, no state
    store, no history read; re-calibrate by re-persisting
    ``rates_path`` between batches (read per batch by design)."""
    from realtime_market_data_pipeline_spark.operators.text import (
        sample_key48,
    )

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rates = spark.read.parquet(rates_path)
        d0 = "decimal(38,0)"
        j = batch_df.join(
            F.broadcast(rates),
            batch_df[group_col] == rates["domain"],
            "left",
        )
        kept = (
            sample_key48(id_col, salt).cast(d0) * F.col("den").cast(d0)
            < F.col("num").cast(d0) * F.lit(2**48).cast(d0)
        )
        p = F.when(
            F.col("num").isNotNull(),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("num").cast("double")
                    / F.col("den").cast("double"),
                ),
                6,
            ),
        )
        routed = j.select(
            F.col(id_col),
            batch_df[group_col],
            p.alias("p_sample"),
            kept.alias("_keep"),
        )
        _route(routed, F.col("_keep"), batch_id, out_dir, rejects_dir)

    return write
