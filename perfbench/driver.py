"""The Spark driver of one benchmark run (started by ``run.py``).

It builds the session, ships the package, opens the corpus and runs one
complete operation cold; that ends set-up. Then it runs operations back to
back for the measured window, one job at a time, checking every
operation's outputs. Each step is written as a timestamped JSON line to
the events file, which ``run.py`` lines up with its ``/proc`` samples.

With ``--trace 1`` it also installs the span tracer (traced and untraced
operations in turn), enables the Spark event log, and after the window
times each layer alone.

Usage (from the checkout root; normally only ``run.py`` calls it):
    python3 perfbench/driver.py --kind KIND --corpus FILE --work DIR \
        --events FILE --seconds S --trace 0|1 --cores N
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


class Events:
    def __init__(self, path: str):
        self._f = open(path, "a")

    def emit(self, kind: str, **fields) -> None:
        self._f.write(json.dumps({"event": kind, "t": time.time(),
                                  **fields}) + "\n")
        self._f.flush()

    def close(self) -> None:
        self._f.close()


def build_session(cores: int, work: str, trace: bool):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", "3g")
         # a fixed young generation: G1 otherwise sizes it from pause
         # times, so the heap it touches (and the JVM's RSS) varied by
         # up to 1 GB between runs of the same code; with it fixed, RSS
         # grows with what the program keeps, not with host timing
         .config("spark.driver.extraJavaOptions",
                 f"-Xmn512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.default.parallelism", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse")))
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + logdir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ship_package(spark, work: str) -> None:
    """Zip ``jio_spark`` and add it to the workers' path, as
    ``spark-submit --py-files`` would."""
    zpath = os.path.join(work, "pkg", "jio_spark.zip")
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(ROOT, "jio_spark")
        for d, _, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, ROOT))
    spark.sparkContext.addPyFile(zpath)


def job_config(kind: str, cores: int):
    from jio_spark.runner import ClipsJobConfig
    if kind == "headline":
        return ClipsJobConfig(group_size=16, drift=True,
                              decode_source="files",
                              decode_partitions=cores * 3,
                              group_concurrency=4)
    return ClipsJobConfig(group_size=8, audio_check=False, drift=True,
                          group_concurrency=2)


def counting_job_class():
    """``ClipsValidationJob`` whose per-group violation frames also tally
    rows per (rule_path, rule_name) through an ``Observation``: the counts
    come from the very rows the pass counts or writes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from jio_spark.runner import ClipsValidationJob

    class CountingJob(ClipsValidationJob):
        keys: list = []
        _n = itertools.count()

        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            self.tallies = []

        def group_violations(self, df, *a, **k):
            v = super().group_violations(df, *a, **k)
            obs = Observation(f"perfbench_tally_{next(self._n)}")
            self.tallies.append(obs)
            exprs = [F.count(F.lit(1)).alias("__total")]
            for i, (p, n) in enumerate(self.keys):
                hit = (F.col("rule_path") == p) & (F.col("rule_name") == n)
                exprs.append(F.sum(hit.cast("long")).alias(f"k{i}"))
            return v.observe(obs, *exprs)

        def take_counts(self):
            out, other = {}, 0
            for obs in self.tallies:
                row = obs.get
                known = 0
                for i, (p, n) in enumerate(self.keys):
                    c = int(row.get(f"k{i}") or 0)
                    known += c
                    if c:
                        out[f"{p}/{n}"] = out.get(f"{p}/{n}", 0) + c
                other += int(row["__total"]) - known
            if other:
                out["<other>"] = other
            self.tallies = []
            return out

    return CountingJob


class Runner:
    """One workload's operation on an open session."""

    def __init__(self, spark, kind: str, desc: dict, cores: int, work: str):
        from jio_spark.runner import default_codec_dim
        self.spark, self.kind, self.desc = spark, kind, desc
        self.table = desc["table"]
        self.df = spark.read.parquet(self.table)
        self.cfg = job_config(kind, cores)
        from perfbench.oracle import DECODE_KEYS
        cls = counting_job_class()
        # rows under any other key land in "<other>" and fail the check
        cls.keys = sorted({tuple(k.split("/", 1)) for k in
                           desc["expected"]["violations"]}
                          | set(DECODE_KEYS.values()))
        self.job = cls(spark, self.cfg, codec_dim=default_codec_dim(spark))
        self.sink = os.path.join(work, "sink")
        self.expected = desc["expected"]
        self.first_counts = None

    def _check(self, counts: dict, uniq: int) -> list:
        from perfbench.oracle import compare_counts
        errs = []
        d = compare_counts(self.expected["violations"], counts)
        if d:
            errs.append(f"violation counts: {d}")
        if uniq != self.expected["uniqueness"]:
            errs.append(f"uniqueness: expected {self.expected['uniqueness']}"
                        f" got {uniq}")
        if self.first_counts is None:
            self.first_counts = (counts, uniq)
        elif self.first_counts != (counts, uniq):
            errs.append("counts differ from the first operation's")
        return errs

    def op(self, resume: bool = True) -> dict:
        if self.kind == "meta":
            return self._op_sink_resume(resume)
        t0 = time.time()
        m = self.job.run(self.df, table_root=self.table)
        wall = time.time() - t0
        counts = self.job.take_counts()
        errs = self._check(counts, int(m["uniqueness_violations"]))
        if m["rows"] != self.expected["rows"]:
            errs.append(f"rows: expected {self.expected['rows']} "
                        f"got {m['rows']}")
        return {"wall": wall, "rows": m["rows"], "phase": m["phase_sec"],
                "violations": m["violations"], "errors": errs}

    def _op_sink_resume(self, resume: bool) -> dict:
        """A fresh run, then (with ``resume``) a simulated crash (half the
        group completion records are lost) and a resumed run."""
        from pyspark.sql import functions as F
        shutil.rmtree(self.sink, ignore_errors=True)
        t0 = time.time()
        m = self.job.run(self.df, output_root=self.sink,
                         table_root=self.table)
        wall = time.time() - t0
        t_fresh_end = time.time()
        errs = self._check(self.job.take_counts(),
                           int(m["uniqueness_violations"]))
        mr, resume_wall = m, None
        if resume:
            mdir = os.path.join(self.sink, "manifest")
            lost = sorted(f for f in os.listdir(mdir)
                          if f.startswith("group_"))[::2]
            for f in lost:
                os.remove(os.path.join(mdir, f))
            t1 = time.time()
            mr = self.job.run(self.df, output_root=self.sink, resume=True,
                              table_root=self.table)
            resume_wall = time.time() - t1
            self.job.take_counts()
            if mr["groups_run"] != len(lost):
                errs.append(f"resume ran {mr['groups_run']} groups, "
                            f"expected {len(lost)}")
        written = {f"{r['rule_path']}/{r['rule_name']}": r["n"] for r in
                   self.spark.read.parquet(os.path.join(self.sink,
                                                        "violations"))
                   .groupBy("rule_path", "rule_name")
                   .agg(F.count(F.lit(1)).alias("n")).collect()}
        from perfbench.oracle import compare_counts
        d = compare_counts(self.expected["violations"], written)
        if d:
            errs.append(f"written violations: {d}")
        if int(mr["uniqueness_violations"]) != self.expected["uniqueness"]:
            errs.append(f"uniqueness: {mr['uniqueness_violations']}")
        return {"wall": wall, "rows": m["rows"], "phase": m["phase_sec"],
                "resume_wall": resume_wall, "resume_rows": mr["rows"],
                "fresh_window": [t0, t_fresh_end],
                "violations": sum(written.values()), "errors": errs}


def sample_check(spark, runner: Runner) -> list:
    """Engine decode verdicts on the corpus's fixed sample rows against
    the independent decoder's and the generator prediction."""
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.synth import make_row
    from perfbench.oracle import FLAGS
    s = runner.desc["sample"]
    if not s["rows"]:
        return []
    rows = [tuple(make_row(i)[:6]) + (i,) for i in s["rows"]]
    sdf = spark.createDataFrame(
        [(r[0], bytes(r[1]), r[2], r[3], r[4], r[5], r[6]) for r in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string, row_idx long")
    got = {r["row_idx"]: r for r in decode_check(
        sdf, check_reference=True, snr_threshold=runner.cfg.snr_threshold,
        salt=False, passthrough=["row_idx"]).collect()}
    errs = []
    for i in s["rows"]:
        eng = {f: bool(got[i][f]) for f in FLAGS}
        for name, ref in (("independent", s["independent"][str(i)]),
                          ("predicted", s["predicted"][str(i)])):
            if eng != ref:
                errs.append(f"row {i}: engine {eng} != {name} {ref}")
    return errs


def layer_arms(spark, runner: Runner, ev: Events, work: str) -> dict:
    """Time each layer alone over the workload's table (medians)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from dataclasses import replace
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.files import decode_check_files
    from jio_spark.compiler import compile_ruleset
    from jio_spark.operators.drift import snapshot
    from jio_spark.operators.uniqueness import uniqueness_check
    from jio_spark.runner import (DRIFT_SPECS, ClipsValidationJob,
                                  default_codec_dim)
    from jio_spark.sinks.writers import Manifest, RunSink
    from jio_spark.sources.tables import list_partition_values

    df, cfg, table = runner.df, runner.cfg, runner.table
    rules_job = ClipsValidationJob(
        spark, replace(cfg, audio_check=False),
        codec_dim=default_codec_dim(spark))
    out: dict = {}

    def arm(name, fn, reps=2, *more):
        """Time ``fn`` ``reps`` times (median); pairs in ``more`` are
        timed in turn with it, so their difference sees the same noise."""
        fns = [(name, fn)] + list(zip(more[::2], more[1::2]))
        walls = {n: [] for n, _ in fns}
        for _ in range(reps):
            for n, f in fns:
                t0 = time.time()
                res = f()
                t1 = time.time()
                ev.emit("arm", name=n, t0=t0, t1=t1)
                walls[n].append(t1 - t0)
                out[n] = {"s": statistics.median(walls[n]), "result": res}

    arm("sources.list", lambda: len(list_partition_values(
        spark, table, cfg.partition_col)))
    meta_cols = [c for c in df.columns if c != "bytes"]
    arm("sources.scan", lambda: df.select(*meta_cols).write
        .format("noop").mode("overwrite").save())
    arm("compiler.compile", lambda: len(
        compile_ruleset(df, cfg.rules.clone()).entries))
    def observed():
        obs = Observation("perfbench_observe")
        n = rules_job.group_violations(df, observation=obs).count()
        obs.get
        return n
    arm("engine.rules", lambda: rules_job.group_violations(df).count(), 3,
        "engine.rules_observe", observed)
    if runner.kind == "headline":
        arm("audio.decode", lambda: decode_check_files(
            spark, table, check_reference=True,
            snr_threshold=cfg.snr_threshold)
            .agg(F.sum(F.col("decode_ok").cast("long"))).collect()[0][0])
        # the Arrow hand-off path (JVM -> Arrow -> pandas after the salted
        # repartition), the job's decode_source="dataframe" alternative
        arm("audio.decode_dataframe", lambda: decode_check(
            df, check_reference=True, snr_threshold=cfg.snr_threshold,
            num_partitions=cfg.decode_partitions,
            passthrough=[cfg.partition_col, "codec"])
            .agg(F.sum(F.col("decode_ok").cast("long"))).collect()[0][0])
    arm("uniqueness", lambda: uniqueness_check(
        df, "clip_id", layout="any").count())
    arm("drift", lambda: len(snapshot(df, DRIFT_SPECS).collect()))

    sink_root = os.path.join(work, "sink_arm")

    def write():
        shutil.rmtree(sink_root, ignore_errors=True)
        RunSink(sink_root).overwrite_partitions(
            rules_job.group_violations(df), "violations",
            cfg.partition_col)
        return _dir_bytes(sink_root)
    arm("sinks.write", write)

    def marks():
        m = Manifest(sink_root)
        for b in range(16):
            m.mark(f"group_{b}_{b}", [b], {"rows": b})
        return len(m.completed())
    arm("sinks.manifest", marks)
    shutil.rmtree(sink_root, ignore_errors=True)
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    a = ap.parse_args(argv)

    ev = Events(a.events)
    ev.emit("start")
    with open(a.corpus) as f:
        desc = json.load(f)
    tracer = None
    if a.trace:
        from perfbench.spans import Tracer
        tracer = Tracer()
        tracer.install()
    spark = build_session(a.cores, a.work, bool(a.trace))
    ev.emit("session_up")
    ship_package(spark, a.work)
    runner = Runner(spark, a.kind, desc, a.cores, a.work)
    ev.emit("corpus_open")

    def one(n: int, traced: bool):
        if tracer is not None:
            tracer.enabled, tracer.trace = traced, n
        t0 = time.time()
        try:
            # set-up ends with the first pass; timed operations also crash
            # and resume
            r = runner.op(resume=n > 0)
        except Exception:
            r = {"errors": [traceback.format_exc()]}
        finally:
            if tracer is not None:
                tracer.enabled = False
        ev.emit("op", n=n, traced=traced, t0=t0, t1=time.time(), **r)
        return r

    one(0, False)
    ev.emit("setup_done")
    # closed loop: a new operation starts while the window is open; the
    # one in flight at its end completes. An untraced run makes at least
    # three, so every figure is a median of three or more. A traced run
    # makes at least four, traced and untraced in the order T U U T, so
    # the JIT warm-up trend cancels out of the overhead.
    w0 = time.time()
    n = 1
    while n <= 3 + a.trace or time.time() - w0 < a.seconds:
        one(n, bool(a.trace) and n % 4 in (0, 1))
        n += 1
    ev.emit("window_done")
    if runner.kind != "meta":
        try:
            errs = sample_check(spark, runner)
        except Exception:
            errs = [traceback.format_exc()]
        ev.emit("sample_check", errors=errs)
    if a.trace:
        arms = layer_arms(spark, runner, ev, a.work)
        ev.emit("arms", arms=arms)
        spans_path = os.path.join(a.work, "spans.jsonl")
        tracer.write_jsonl(spans_path, time.time() - time.perf_counter())
        ev.emit("spans", path=spans_path)
    spark.stop()
    ev.emit("stopped")
    ev.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
