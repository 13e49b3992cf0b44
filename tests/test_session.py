"""Session factory behavior that the shared ``spark`` fixture cannot show."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from realtime_market_data_pipeline_spark.operators.text import gopher_repetition
from realtime_market_data_pipeline_spark.session import get_spark
spark = get_spark(master="local[1]", shuffle_partitions=1)
df = spark.createDataFrame([(1, "a b c a b c")], "doc_id long, text string")
print("ROWS", len(gopher_repetition(df).collect()))
spark.stop()
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """``get_spark`` puts the package's parent directory on the Python
    workers' path: a pickled UDF of the package (``gopher_repetition``'s
    ``text.repetition_counts``) runs with the driver started in another
    directory and the package on the driver's ``sys.path`` only."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ROWS 1" in r.stdout, r.stderr[-3000:]


def test_release_local_checkpoint_counts_swallowed_failures(
    monkeypatch, caplog
):
    """A failure inside the best-effort release is counted by exception
    class and logged once per class; it never reaches the caller."""
    import logging
    from collections import Counter

    from realtime_market_data_pipeline_spark import session

    class Unreleasable:
        @property
        def _jdf(self):
            raise RuntimeError("plan is gone")

    monkeypatch.setattr(session, "CHECKPOINT_RELEASE_FAILURES", Counter())
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.release_local_checkpoint(Unreleasable())
        session.release_local_checkpoint(Unreleasable())
        session.release_local_checkpoint(None)
    assert session.CHECKPOINT_RELEASE_FAILURES == {
        "RuntimeError": 2,
        "AttributeError": 1,
    }
    warned = [r for r in caplog.records if r.name == session.__name__]
    assert len(warned) == 2
    assert "plan is gone" in warned[0].getMessage()
