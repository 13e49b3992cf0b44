"""Repo benchmark: one seeded workload per run, outputs checked, one JSON
line of metrics at the end.

    python3 perfbench/run.py --workload ticks --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for sizes and the layer predictions):

- ``ticks``: drain a historical backlog through parse_ticks ->
  features_stream -> idempotent_parquet_writer, query the sink it landed
  with the dashboard operators, then run the same plan open loop at 20k
  ticks/s fed by a separate generator process.
- ``curation_stream``: closed loop; a document stream through the Gopher
  quality gate writer and the MinHash dedup writer.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics and the run also writes its
spans to ``.perfbench_out/``.  The package is imported from the checkout
this file sits in; without it the run exits non-zero and prints no result.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "realtime_market_data_pipeline_spark"
CORES = "4"
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p50_ms": "ms",
              "latency_p90_ms": "ms", "items_per_s": "1/s"}


class Ctx:
    """What a workload needs: its arguments, scratch dir, tracer, sampler,
    the session, and the metric sinks it fills."""

    def __init__(self, args, work: str):
        from harness import Sampler, Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.trace)
        self.sampler = Sampler()
        self.spark = None
        self.status = None
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.trace_doc: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup_done(self) -> None:
        """Call right before the first timed operation."""
        self.e2e["setup_s"] = time.time() - T_PROCESS_START

    def measured_done(self) -> None:
        """Call after the last timed operation, before the output checks."""
        self.sampler.stop()
        self.e2e["peak_rss_mb"] = self.sampler.peak_rss / 2**20
        self.layer["spark.persist_bytes_peak"] = self.sampler.peak_persist


def _prepare_env(work: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def _start_spark(ctx: Ctx):
    from harness import SparkStatus

    from realtime_market_data_pipeline_spark.session import get_spark

    t0 = time.time()
    with ctx.tracer.span("get_spark", "session", "setup"):
        spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": ctx.path("local"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={ctx.path('tmp')} -Dderby.system.home={ctx.path('tmp')}"
                ),
                "spark.sql.warehouse.dir": ctx.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "2000",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
            },
        )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.layer["session.start_s"] = time.time() - t0
    ctx.spark = spark
    ctx.status = SparkStatus(spark)
    if ctx.trace:
        ctx.sampler.persist_probe = ctx.status.persisted_bytes
    return spark


def _stop_spark(ctx: Ctx) -> None:
    """Stop the session, then close the gateway JVM and wait for it."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    for q in ctx.spark.streams.active:
        q.stop()
    ctx.spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is going away regardless
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft repo benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["ticks", "curation_stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    ctx = Ctx(args, work)
    try:
        import workloads

        ctx.sampler.start()
        # inputs are generated while the session's JVM starts
        with ThreadPoolExecutor(max_workers=1) as pool:
            inputs = pool.submit(getattr(workloads, f"{args.workload}_inputs"), ctx)
            _start_spark(ctx)
            inputs.result()
        getattr(workloads, args.workload)(ctx)
    finally:
        ctx.sampler.stop()
        _stop_spark(ctx)
        shutil.rmtree(work, ignore_errors=True)

    if ctx.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(ctx.trace_doc, f)
        units, values = workloads.LAYER_UNITS, ctx.layer
    else:
        units, values = END_TO_END, ctx.e2e
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
