"""Benchmark of the clips validation job: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run makes (or reuses) the seed's
corpus and its expected outputs, starts ``perfbench/driver.py`` as a child
process, samples that process tree through ``/proc`` while it works, and
prints every metric with its unit. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The exit code is 0 only when every operation's outputs
matched the expectation. A report with provenance and raw figures is
written under ``.bench_work/reports/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
#: run.py + driver together must end well inside 180 s
DEADLINE_S = 170.0

END_TO_END = {
    "rows_per_s": "rows/s",
    "cpu_s_per_krow": "cpu-s/krow",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "resume_s": "s",
}

#: layers whose spans are reported: driver-side self time ("plan") of
#: each, and Spark action time of those whose own functions run actions
SPAN_LAYERS = ("sources", "compiler", "engine", "operators.stats", "audio",
               "operators.uniqueness", "operators.drift", "sinks", "runner")
ACTION_LAYERS = ("operators.drift", "sinks", "runner")

PER_LAYER = {
    "sources.list_s": "s",
    "sources.scan_s": "s",
    "compiler.compile_s": "s",
    "engine.rules_s": "s",
    "engine.rules_rows_per_s": "rows/s",
    "engine.violations": "count",
    "stats.observe_s": "s",
    "audio.decode_s": "s",
    "audio.decode_rows_per_s": "rows/s",
    "audio.payload_mb_per_s": "MB/s",
    "audio.pyworker_cpu_s_per_krow": "cpu-s/krow",
    "audio.handoff_mb": "MB",
    "audio.dataframe_decode_s": "s",
    "audio.dataframe_handoff_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "audio.kernel_us.tolist": "us",
    "audio.kernel_us.parse": "us",
    "audio.kernel_us.period": "us",
    "audio.kernel_us.snr": "us",
    **{f"audio.kernel_msamples_per_s.{c}": "Msamples/s" for c in (
        "pcm_s16le", "ulaw", "alaw", "adpcm_ima", "pcm_u8", "pcm_s24le",
        "pcm_f32le", "pcm_f64le")},
    "uniqueness.s": "s",
    "uniqueness.duplicates": "count",
    "drift.s": "s",
    "sinks.write_s": "s",
    "sinks.mb_written": "MB",
    "sinks.manifest_s": "s",
    "runner.groups_max_s": "s",
    "runner.groups_sum_s": "s",
    "runner.uniqueness_s": "s",
    "runner.drift_s": "s",
    "runner.core_util": "ratio",
    "cpu.driver_s_per_krow": "cpu-s/krow",
    "cpu.jvm_s_per_krow": "cpu-s/krow",
    "cpu.pyworker_s_per_krow": "cpu-s/krow",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    **{f"span.{layer}.plan_s": "s" for layer in SPAN_LAYERS},
    **{f"span.{layer}.action_s": "s" for layer in ACTION_LAYERS},
    "trace.overhead_pct": "%",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def _cpu_ticks() -> list:
    """The ``cpu`` line of ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(start: list, end: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`_cpu_ticks` readings, in percent."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / sum(d[:8]) if sum(d[:8]) else 0.0


def provenance() -> dict:
    import numpy
    import pyarrow
    import pyspark
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(os.path.join(ROOT, "jio_spark"))):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    load1 = os.getloadavg()[0]
    return {
        "nproc": cores(), "ram_gb": round(_meminfo_gb(), 2),
        "load_avg_start": list(os.getloadavg()),
        "cpu_ticks_start": _cpu_ticks(),
        # the repo's bench.py gate (load1 < 1); recorded, not waited on
        "load_gate": {"threshold": 1.0, "load1": load1,
                      "passed": load1 < 1.0},
        "git_commit": commit, "jio_spark_sha256": h.hexdigest()[:16],
        "python": platform.python_version(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants.

    The PySpark worker daemon runs in a process group of its own and
    outlives the JVM by up to a second; as a subreaper's orphan it stays
    this process's child, so :func:`stop_children` can wait for it."""
    import ctypes
    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper,
                                                1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list:
    """Pids of this process's children, zombies included (the next
    :func:`_reap` collects them)."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    ppid = f.read().rsplit(b")", 1)[1].split()[1]
            except (OSError, IndexError):
                continue
            if int(ppid) == me:
                out.append(int(name))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace_s: float = 3.0, limit_s: float = 6.0) -> None:
    """Stop every process this one started (corpus writers, the
    multiprocessing resource tracker, the driver and whatever it left
    behind) and wait until each has ended: SIGTERM first, SIGKILL after
    ``grace_s``."""
    from multiprocessing import resource_tracker
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if tracker is not None and hasattr(tracker, "_stop"):
        # it exits when its pipe closes; _stop closes it and waits
        tracker._stop()
    t0 = time.time()
    while True:
        _reap()
        kids = _children()
        if not kids or time.time() - t0 > limit_s:
            return
        sig = signal.SIGTERM if time.time() - t0 < grace_s else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_driver(kind: str, corpus_json: str, rdir: str, seconds: float,
               trace: int, budget_s: float):
    from perfbench.procsample import TreeSampler
    events = os.path.join(rdir, "events.jsonl")
    # SPARK_LOCAL_DIRS would override spark.local.dir: keep scratch space
    # inside the run directory
    env = dict(os.environ, PYTHONPATH=ROOT, JIO_PIN_ARROW_CPU="1",
               PYTHONHASHSEED="0",
               TMPDIR=os.path.join(rdir, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(rdir, "spark-local"),
               # the launcher JVM that builds the spark-submit command
               SPARK_LAUNCHER_OPTS=(f"-Djava.io.tmpdir={rdir}/tmp "
                                    "-XX:-UsePerfData"),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "driver.py"),
           "--kind", kind, "--corpus", corpus_json, "--work", rdir,
           "--events", events, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores())]
    with open(os.path.join(rdir, "driver.log"), "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=rdir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = TreeSampler(proc.pid).start()
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop()
            stop_children()
    evs = []
    if os.path.exists(events):
        with open(events) as f:
            evs = [json.loads(line) for line in f if line.strip()]
    return rc, t_spawn, evs, sampler.samples


def _window(op):
    """The interval an operation's CPU is charged over: the whole
    operation, or the fresh run of a fresh + crash + resume operation."""
    return op.get("fresh_window") or (op["t0"], op["t1"])


def end_to_end(ops, by_kind, t_spawn, samples, rows):
    from perfbench.procsample import cpu_between, peak_rss
    good = [o for o in ops if not o.get("errors")]
    walls = [o["wall"] for o in good]
    cpu = [sum(cpu_between(samples, *_window(o)).values()) for o in good]
    resume = [o["resume_wall"] for o in good
              if o.get("resume_wall") is not None]
    return {
        "rows_per_s": rows / _median(walls) if walls else 0.0,
        "cpu_s_per_krow": _median(cpu) / rows * 1000.0,
        "setup_s": by_kind["setup_done"]["t"] - t_spawn,
        "peak_rss_mb": peak_rss(samples, ops[0]["t0"], ops[-1]["t1"])
        / 2**20 if ops else 0.0,
        # without an output root nothing is checkpointed: recovering from
        # a crash is a full re-run
        "resume_s": _median(resume) if resume else _median(walls),
    }


def per_layer(ops, by_kind, samples, rows, desc, rdir, n_cores):
    from perfbench import eventlog, kernels
    from perfbench.procsample import cpu_between
    from perfbench.spans import Span, layer_seconds
    good = [o for o in ops if not o.get("errors")]
    plain = [o for o in good if not o["traced"]]
    traced = [o for o in good if o["traced"]]
    m = {}
    for cls in ("driver", "jvm", "pyworker"):
        m[f"cpu.{cls}_s_per_krow"] = _median([
            cpu_between(samples, *_window(o))[cls] for o in plain
        ]) / rows * 1000.0
    m["runner.core_util"] = _median([
        sum(cpu_between(samples, *_window(o)).values())
        / ((_window(o)[1] - _window(o)[0]) * n_cores) for o in plain])
    for k in ("groups_max", "groups_sum", "uniqueness", "drift"):
        m[f"runner.{k}_s"] = _median([o["phase"][k] for o in plain])

    logdir = os.path.join(rdir, "eventlog")
    tasks = eventlog.read_tasks(logdir) if os.path.isdir(logdir) else []
    arms = by_kind["arms"]["arms"]
    arm_windows = {}
    for e in by_kind.get("_arm_events", []):
        arm_windows.setdefault(e["name"], []).append((e["t0"], e["t1"]))

    def arm_s(name):
        return arms[name]["s"] if name in arms else 0.0
    m["sources.list_s"] = arm_s("sources.list")
    m["sources.scan_s"] = arm_s("sources.scan")
    m["compiler.compile_s"] = arm_s("compiler.compile")
    m["engine.rules_s"] = arm_s("engine.rules")
    m["engine.rules_rows_per_s"] = rows / m["engine.rules_s"]
    m["engine.violations"] = arms["engine.rules"]["result"]
    m["stats.observe_s"] = arm_s("engine.rules_observe") - m["engine.rules_s"]
    # the job's own decode path (payload-local files); 0 without payloads
    dec = arm_s("audio.decode")
    m["audio.decode_s"] = dec
    m["audio.decode_rows_per_s"] = rows / dec if dec else 0.0
    m["audio.payload_mb_per_s"] = (desc["payload_bytes"] / 2**20 / dec
                                   if dec else 0.0)
    m["audio.pyworker_cpu_s_per_krow"] = _median([
        cpu_between(samples, a, b)["pyworker"]
        for a, b in arm_windows.get("audio.decode", [])]) / rows * 1000.0
    m["audio.dataframe_decode_s"] = arm_s("audio.decode_dataframe")
    m["audio.dataframe_handoff_mb"] = _median([
        eventlog.window_totals(tasks, a, b)["py_sent_mb"]
        for a, b in arm_windows.get("audio.decode_dataframe", [])])
    m["uniqueness.s"] = arm_s("uniqueness")
    m["uniqueness.duplicates"] = arms["uniqueness"]["result"]
    m["drift.s"] = arm_s("drift")
    m["sinks.write_s"] = arm_s("sinks.write")
    m["sinks.mb_written"] = arms["sinks.write"]["result"] / 2**20
    m["sinks.manifest_s"] = arm_s("sinks.manifest")

    per_op = [eventlog.window_totals(tasks, *_window(o)) for o in plain]
    m["audio.handoff_mb"] = _median([w["py_sent_mb"] for w in per_op])
    m["spark.shuffle_write_mb"] = _median([w["shuffle_write_mb"]
                                           for w in per_op])
    m["spark.gc_s"] = _median([w["gc_s"] for w in per_op])
    m["spark.executor_cpu_s"] = _median([w["executor_cpu_s"]
                                         for w in per_op])

    spans = []
    with open(by_kind["spans"]["path"]) as f:
        for line in f:
            d = json.loads(line)
            spans.append(Span(d["id"], d["parent"], d["trace"], d["layer"],
                              d["name"], d["thread"], d["start"], d["end"]))
    per_op_layers = [layer_seconds([s for s in spans if s.trace == o["n"]])
                     for o in traced]
    for kind, layers in (("plan", SPAN_LAYERS), ("action", ACTION_LAYERS)):
        for layer in layers:
            m[f"span.{layer}.{kind}_s"] = _median(
                [d[kind].get(layer, 0.0) for d in per_op_layers])
    m["trace.overhead_pct"] = (
        (_median([o["wall"] for o in traced])
         / _median([o["wall"] for o in plain]) - 1.0) * 100.0
        if traced and plain else 0.0)
    m.update(kernels.kernel_metrics(desc["first_row"]))
    return m


def main(argv=None) -> int:
    become_subreaper()
    try:
        return _main(argv)
    finally:
        stop_children()


def _main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    # a terminated run still stops every process it started (main's
    # finally clause) before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for rel in ("jio_spark/runner.py", "tools/derive_rows_only_oracles.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}; run from the "
                  "root of a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, ensure_corpus
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[a.workload]
    prov = provenance()
    desc = ensure_corpus(ROOT, WORK, wl, a.seed, procs=cores())
    rdir = os.path.join(WORK, "runs", f"{wl.name}-s{a.seed}-t{a.trace}")
    shutil.rmtree(rdir, ignore_errors=True)
    os.makedirs(rdir)
    corpus_json = os.path.join(rdir, "corpus.json")
    with open(corpus_json, "w") as f:
        json.dump(desc, f)
    budget = DEADLINE_S - (time.time() - t_start) - (10 if a.trace else 2)
    rc, t_spawn, evs, samples = run_driver(
        wl.kind, corpus_json, rdir, a.seconds, a.trace, budget)

    by_kind = {}
    for e in evs:
        by_kind.setdefault(e["event"], e)
    by_kind["_arm_events"] = [e for e in evs if e["event"] == "arm"]
    all_ops = [e for e in evs if e["event"] == "op"]
    ops = [o for o in all_ops if o["n"] >= 1]
    failed = sum(1 for o in all_ops if o.get("errors"))
    errors = [err for o in all_ops for err in o.get("errors", [])]
    sample_errs = by_kind.get("sample_check", {}).get("errors", [])
    if sample_errs:
        failed += 1
        errors += sample_errs
    if rc != 0 or "stopped" not in by_kind:
        errors.append(f"driver exited with {rc}; see {rdir}/driver.log")
    attempted = max(len(all_ops), 1)
    correct = not errors and len(ops) >= 1
    if not correct and not failed:
        failed = attempted

    metrics = {}
    if correct:
        if a.trace:
            vals = per_layer(ops, by_kind, samples, wl.rows, desc, rdir,
                             cores())
            units = PER_LAYER
        else:
            vals = end_to_end(ops, by_kind, t_spawn, samples, wl.rows)
            units = END_TO_END
        metrics = {k: {"value": float(vals[k]), "unit": u}
                   for k, u in units.items()}
    prov["load_avg_end"] = list(os.getloadavg())
    prov["cpu_steal_pct"] = steal_pct(prov.pop("cpu_ticks_start"),
                                      _cpu_ticks())
    report = {
        "workload": wl.name, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "provenance": prov,
        "corpus": {k: desc[k] for k in ("first_row", "rows", "payload_bytes",
                                        "gen_s", "cached", "expected")},
        "ops": [{k: o.get(k) for k in ("n", "traced", "wall",
                                       "resume_wall", "errors")}
                for o in all_ops],
        "samples": len(ops), "errors": errors[:20], "metrics": metrics,
        "peak_rss_mb_by_class": {
            c: max((s.rss[c] for s in samples), default=0) / 2**20
            for c in ("driver", "jvm", "pyworker", "other")},
        "wall_s": time.time() - t_start,
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    rpath = os.path.join(WORK, "reports",
                         f"{wl.name}-s{a.seed}-t{a.trace}.json")
    with open(rpath, "w") as f:
        json.dump(report, f, indent=1)

    print(f"workload {wl.name} seed {a.seed} rows {wl.rows} "
          f"timed operations {len(ops)} (median over them) "
          f"corpus generation {desc['gen_s']:.1f} s"
          f"{' (cached)' if desc['cached'] else ''}")
    print("host " + json.dumps({k: prov[k] for k in (
        "nproc", "ram_gb", "load_avg_start", "load_avg_end", "load_gate",
        "cpu_steal_pct",
        "git_commit", "spark", "pyarrow", "numpy")}))
    for err in errors[:5]:
        print("ERROR " + err.strip().splitlines()[-1][:300])
    # not a metric: it is 0 on every correct run
    print(f"fail_ratio = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} operations)")
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"report {rpath}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
