"""The /proc sampler stays monotone when a child exits between samples."""

import os
import subprocess
import sys
import textwrap
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench.procsample import (TreeSampler, cpu_between,  # noqa: E402
                                  list_tree, read_stat)

PARENT = textwrap.dedent("""
    import subprocess, sys, time
    burn = "import time\\nt=time.process_time()\\n" \\
           "while time.process_time() - t < 0.5: pass"
    time.sleep(0.3)
    subprocess.run([sys.executable, "-c", burn], check=True)
    time.sleep(0.6)
""")


def test_cpu_never_decreases_when_a_child_exits():
    proc = subprocess.Popen([sys.executable, "-c", PARENT])
    try:
        sampler = TreeSampler(proc.pid, interval=0.02)
        naive, samples = [], []
        deadline = time.time() + 20
        while proc.poll() is None and time.time() < deadline:
            tree = list_tree(proc.pid)
            naive.append(sum(st.own for st in tree.values()))
            samples.append(sampler.account.update(tree, time.time()))
            time.sleep(0.02)
    finally:
        proc.wait(timeout=20)
    totals = [s.cpu_total for s in samples]
    # the naive sum over live processes drops when the child is reaped
    assert any(b < a - 0.3 for a, b in zip(naive, naive[1:]))
    assert all(b >= a - 1e-9 for a, b in zip(totals, totals[1:]))
    # the child's 0.5 CPU-s stays counted, in its own class
    assert samples[-1].cpu["other"] >= 0.4
    assert totals[-1] >= 0.45
    w = cpu_between(samples, samples[0].t, samples[-1].t)
    assert all(v >= -1e-9 for v in w.values())


def test_read_stat_and_classes_of_self():
    st = read_stat(os.getpid())
    assert st is not None and st.pid == os.getpid() and st.rss > 0
    s = TreeSampler(os.getpid()).sample_once()
    assert s.rss["driver"] > 0 and s.cpu["driver"] > 0
    assert read_stat(2 ** 22 + 12345) is None
