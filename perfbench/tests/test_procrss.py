"""Process-tree sampling from /proc."""

import subprocess
import sys
import time

from perfbench.procrss import tree_cpu_seconds, tree_rss_bytes, wait_descendants


def test_tree_figures_cover_a_busy_child():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\ntime.sleep(5)"]
    )
    try:
        time.sleep(1.0)
        total, no_jit = tree_cpu_seconds()
        assert total >= 0.3 and no_jit == total  # no JVM in this tree
        assert tree_rss_bytes() > tree_rss_bytes(child.pid) > 0
    finally:
        child.kill()
        child.wait()


def test_wait_descendants_returns_once_children_exit():
    subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    t0 = time.monotonic()
    wait_descendants(timeout=10)
    assert 0.2 < time.monotonic() - t0 < 5


def test_wait_descendants_kills_after_timeout():
    subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    t0 = time.monotonic()
    wait_descendants(timeout=0.5)
    assert time.monotonic() - t0 < 5
