"""The benchmark's own tests: its output checks must turn a wrong sink row,
a lost document or a wrong dashboard value into a failed operation, and
the benchmark must refuse to run without the package.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from realtime_market_data_pipeline_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-tests", extra_conf={"spark.local.dir": str(local)})
    yield s
    s.stop()


def test_failed_ops_counts_each_bad_operation_once():
    assert checks.failed_ops(set(), 0, 10) == 0
    assert checks.failed_ops({3, 4}, 0, 10) == 2
    assert checks.failed_ops({3}, 5, 10) == 2  # unpinned results cost one more
    assert checks.failed_ops({1, 2, 3}, 1, 2) == 2  # never above attempted


def test_tick_sink_check_flags_wrong_and_missing_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from realtime_market_data_pipeline_spark.operators.features import (
        compute_features, parse_ticks,
    )

    ticks = str(tmp_path / "ticks")
    gen.write_backlog(ticks, str(tmp_path / "m.jsonl"), seed=5, n_ticks=6000, ticks_per_file=3000)
    feats = compute_features(parse_ticks(spark.read.text(ticks)), window="1 minute")
    good = str(tmp_path / "good")
    feats.withColumn("batch_id", F.lit(0)).write.partitionBy("batch_id").parquet(good)
    assert checks.check_tick_sink(spark, good, ticks, "1 minute") == (set(), 0)

    # one wrong price, landed by batch 1
    rows = spark.read.parquet(good).drop("batch_id").orderBy("symbol", "window_start")
    first = rows.limit(1).withColumn("last_price", F.col("last_price") + 1.0)
    wrong = str(tmp_path / "wrong")
    rows.withColumn("batch_id", F.lit(0)).write.partitionBy("batch_id").parquet(wrong)
    first.withColumn("batch_id", F.lit(1)).write.mode("append").partitionBy("batch_id").parquet(wrong)
    bad, missing = checks.check_tick_sink(spark, wrong, ticks, "1 minute")
    assert bad == {1} and missing == 1

    # one row lost
    lost = str(tmp_path / "lost")
    rows.subtract(rows.limit(1)).withColumn("batch_id", F.lit(0)).write.partitionBy(
        "batch_id").parquet(lost)
    assert checks.check_tick_sink(spark, lost, ticks, "1 minute") == (set(), 1)


def test_dashboard_comparison_is_order_insensitive_and_value_strict():
    cols = ["symbol", "v"]
    rows = [("A", 1.0), ("B", 2.5)]
    assert checks.same_result(cols, rows, ["V", "SYMBOL"], [(2.5, "B"), (1.0, "A")])
    assert not checks.same_result(cols, rows, cols, [("A", 1.0), ("B", 2.6)])
    assert not checks.same_result(cols, rows, cols, rows[:1])


def test_curation_check_flags_a_lost_document(spark, tmp_path):
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    import workloads

    class Ctx:
        tracer = __import__("harness").Tracer(False)

    Ctx.spark = spark
    staged, src, root = str(tmp_path / "staged"), str(tmp_path / "docs"), str(tmp_path / "run")
    ids, texts = gen.documents(seed=3, n_docs=120)
    gen.write_documents(staged, str(tmp_path / "m.jsonl"), ids, texts, 60)
    manifest = gen.read_manifest(str(tmp_path / "m.jsonl"))
    query, writer, ckpt = workloads._curation_stream(Ctx, src, root, "test")
    try:
        workloads._feed(query, staged, src, [[m["file"]] for m in manifest])
    finally:
        query.stop()
    assert workloads._check_curation(spark, src, writer, ckpt, manifest) == (set(), 0)

    # drop one document from the batch-1 rejects partition
    part = os.path.join(writer.rejects, "batch_id=1")
    table = ds.dataset(part, format="parquet").to_table()
    shutil.rmtree(part)
    os.makedirs(part)
    pq.write_table(table.slice(1), os.path.join(part, "part-0.parquet"))
    bad, unpinned = workloads._check_curation(spark, src, writer, ckpt, manifest)
    assert checks.failed_ops(bad, unpinned, len(writer.calls)) >= 1
    assert 1 in bad


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ticks", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
