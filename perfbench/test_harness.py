"""Process-tree accounting counts a child's memory once it has run a while.

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

CHILD = "import time; b = bytearray(200 << 20); print(flush=True); time.sleep(30)"


def test_rss_skips_young_processes_and_counts_old_ones():
    tree = harness.ProcTree()
    time.sleep(harness.MIN_RSS_AGE_S)  # this process counts from here on
    before = tree.rss_kib()
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # the 200 MiB are resident
        assert child.pid in [pid for pid, _, _ in tree.members()]
        assert tree.rss_kib() - before < 100 << 10
        time.sleep(harness.MIN_RSS_AGE_S)
        assert tree.rss_kib() - before > 190 << 10
    finally:
        child.kill()
        child.wait()
