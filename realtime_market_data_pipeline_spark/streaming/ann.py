"""Streaming ANN search against a persisted on-disk IVF index (r9).

The batch ANN operators (operators/similarity.py) answer "top-k corpus
neighbors of these query vectors" one job at a time; a retrieval service
over a 100 TB corpus gets its queries as a STREAM. This module is the
online form: query vectors arrive in micro-batches and each batch
searches the ON-DISK index built once by ``build_ivf_index`` (codebook
parquet + the corpus CLUSTER-PARTITIONED by nearest centroid). Per
micro-batch the search touches only the batch's probed buckets — the
partition filter ``ann_topk_ivf_indexed`` pushes into the scan — so the
steady-state cost is |batch| x n_probe bucket reads, NOT a corpus scan:
the cost structure that survives 100 TB. Results land through
``streaming.sinks.land`` (the writers' one exactly-once landing
contract), so a replayed batch rewrites itself.

The codebook loads ONCE at writer construction (driver-bounded k x d
doubles); the vectors stay on disk and are only ever read through the
pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from realtime_market_data_pipeline_spark.operators.similarity import (
    ann_topk_ivf_indexed,
    ann_topk_ivfpq,
    load_ann_index,
    load_pq_books,
)
from realtime_market_data_pipeline_spark.streaming.sinks import BatchWriter, land


def ann_search_writer(
    spark,
    index_dir: str,
    out_dir: str,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> BatchWriter:
    """foreachBatch writer: search each micro-batch of query vectors
    against the on-disk IVF index at ``index_dir`` (as written by
    ``build_ivf_index``). The codebook is validated eagerly here — a
    missing/empty index fails at construction, not in batch 17 — and
    each batch's scan reads only its probed cluster partitions. Stream
    results equal the batch search with the trained centroids (the
    ``ann_topk_ivf_indexed`` equality contract)."""
    if not load_ann_index(spark, f"{index_dir}/meta")["centroids"]:
        raise ValueError(f"no centroids in index at {index_dir}/meta")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        hits = ann_topk_ivf_indexed(
            batch_df.sparkSession,
            index_dir,
            batch_df,
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        land(hits, out_dir, batch_id)

    return write


def ann_search_writer_ivfpq(
    spark,
    index_dir: str,
    out_dir: str,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> BatchWriter:
    """The compressed-tier twin of ``ann_search_writer`` (r10): each
    micro-batch searches the on-disk IVFPQ index (``build_ivfpq_index``
    — centroids + PQ codebooks + cluster-partitioned vectors carrying
    codes) via ``ann_topk_ivfpq``: the per-batch scan is pruned to the
    batch's probed buckets AND scores code bytes by ADC table lookups,
    touching raw vectors only for the re-rank candidates — the cost
    structure of a PQ retrieval service. Both codebooks are validated
    eagerly at construction; results land batch_id-partitioned with
    dynamic overwrite (idempotent replay). The index may GROW between
    batches via ``ivf_index_append(codes_books=...)`` — the vectors
    relation is read lazily per batch."""
    if not load_ann_index(spark, f"{index_dir}/meta")["centroids"]:
        raise ValueError(f"no centroids in index at {index_dir}/meta")
    if not load_pq_books(spark, f"{index_dir}/pq"):
        raise ValueError(f"no PQ codebooks in index at {index_dir}/pq")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        hits = ann_topk_ivfpq(
            batch_df.sparkSession,
            index_dir,
            batch_df,
            k=k,
            n_probe=n_probe,
            rerank=rerank,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        land(hits, out_dir, batch_id)

    return write
