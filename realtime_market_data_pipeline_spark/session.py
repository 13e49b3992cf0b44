"""SparkSession factory tuned for the engine.

Mirrors the session knobs the reference sets (app name, shuffle partitions,
state-store provider — /root/reference/src/consumer/spark_streaming.py:46-54)
but with scale-appropriate defaults: AQE on (runtime coalesce + skew-join),
Arrow enabled for the pandas boundary, UTC session timezone so results are
comparable against a DuckDB oracle (DuckDB timestamps are UTC-naive).

At 100 TB on a real cluster the same builder applies — only master(),
memory sizing and ``spark.sql.shuffle.partitions`` change (set shuffle
partitions so that each post-shuffle partition is ~128-512 MB; AQE's
coalescePartitions then trims the long tail at runtime).
"""

from __future__ import annotations

import logging
import os
from collections import Counter

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)
# exception class name -> times release_local_checkpoint swallowed it
CHECKPOINT_RELEASE_FAILURES: Counter[str] = Counter()


def get_spark(
    app_name: str = "realtime-market-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster
    pass ``None`` after spark-submit has set the master, or an explicit URL.

    Python workers get the package's parent directory prepended to
    ``spark.executorEnv.PYTHONPATH`` (a caller's value is kept after it):
    the pickled Python UDFs (``text.repetition_counts``, the multimodal
    decoders) import the package inside the worker, whatever the
    driver's working directory. A session built elsewhere must do the
    same itself.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE optimize the plans INSIDE cached relations (r7): with the
        # default (false), a persisted relation whose child was planned
        # under AQE reports unknown output partitioning, so every consumer
        # re-exchanges AND re-sorts it — the iterative graph operators
        # (pagerank/HITS/triangle) paid a full |E|-row exchange+sort per
        # iteration on an edge relation that was already hash-partitioned
        # and sorted by the join key when cached. Measured at sf0.1:
        # pagerank steady-state 5.5 s -> 3.6 s from this switch alone.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Streaming state at scale: RocksDB spills to disk instead of JVM heap
        # (reference pins HDFSBackedStateStoreProvider, spark_streaming.py:50;
        # RocksDB is the 100 TB-appropriate upgrade).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    conf = dict(extra_conf or {})
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (pkg_parent, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_local_checkpoint(df) -> None:
    """Free the storage behind an eagerly ``localCheckpoint``'d DataFrame.

    ``DataFrame.unpersist()`` only touches the SQL cache; a checkpoint's
    blocks belong to the plan's underlying ``LogicalRDD``, and in practice
    PySpark's GC bridge never reclaims them (py4j keeps the Dataset
    handles strongly referenced), so a long-running engine must release
    superseded checkpoints explicitly — iterative operators (PageRank,
    HITS, connected components) call this the moment a checkpoint's last
    consumer has materialized. The DataFrame is unusable afterwards; a
    non-checkpoint DataFrame is a no-op.

    Release is best-effort: a failure leaves the blocks in place, counts
    the exception class in ``CHECKPOINT_RELEASE_FAILURES`` and logs a
    warning the first time that class is seen."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception as e:  # noqa: BLE001 — release is best-effort hygiene
        name = type(e).__name__
        CHECKPOINT_RELEASE_FAILURES[name] += 1
        if CHECKPOINT_RELEASE_FAILURES[name] == 1:
            _log.warning(
                "release_local_checkpoint left the blocks in place: %r",
                e,
                exc_info=True,
            )
