"""run.py stops the orphans its children leave behind and waits for them."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# a subreaper (process-wide, so in its own process) whose child starts a
# grandchild in a session of its own, as the PySpark daemon is, and exits;
# the grandchild ignores SIGTERM, so only SIGKILL ends it
SUBREAPER = textwrap.dedent("""
    import subprocess, sys, time
    from perfbench.run import become_subreaper, stop_children
    become_subreaper()
    stubborn = ("import signal, time\\n"
                "signal.signal(signal.SIGTERM, signal.SIG_IGN)\\n"
                "print(flush=True)\\n"
                "time.sleep(60)")
    spawn = ("import subprocess, sys\\n"
             "p = subprocess.Popen([sys.executable, '-c', %r],\\n"
             "                     start_new_session=True,\\n"
             "                     stdout=subprocess.PIPE,\\n"
             "                     stderr=subprocess.DEVNULL)\\n"
             "p.stdout.readline()\\n"
             "print(p.pid)" % stubborn)
    out = subprocess.run([sys.executable, "-c", spawn], check=True,
                         capture_output=True, text=True).stdout
    t0 = time.time()
    stop_children(grace_s=0.5, limit_s=5.0)
    print(out.strip(), time.time() - t0)
""")


def test_orphan_in_own_session_is_stopped_and_reaped():
    out = subprocess.run([sys.executable, "-c", SUBREAPER], cwd=ROOT,
                         env=dict(os.environ, PYTHONPATH=ROOT), check=True,
                         capture_output=True, text=True, timeout=60).stdout
    pid, took = out.split()
    # reaped, not just signalled: no zombie is left either
    assert not os.path.exists(f"/proc/{pid}")
    assert float(took) < 5.0
