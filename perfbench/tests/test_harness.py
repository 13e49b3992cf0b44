"""The /proc walk behind peak_rss_mb counts forked children.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402


def test_rss_walk_counts_a_forked_child_that_runs_its_parents_program():
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # a pyspark.daemon worker is such a child: forked, never exec'd
        os.close(w)
        os.read(r, 1)
        os._exit(0)
    os.close(r)
    try:
        hwm = harness.tree_hwm_bytes(os.getpid(), set())
        assert hwm.get(os.getpid(), 0) > 0
        assert hwm.get(pid, 0) > 0
        assert pid not in harness.tree_hwm_bytes(os.getpid(), {pid})
    finally:
        os.close(w)
        os.waitpid(pid, 0)
