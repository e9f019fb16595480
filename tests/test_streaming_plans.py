"""Streaming validation + physical-plan quality assertions
(SURVEY.md §4.2: pushdown/pruning/codegen must survive the compiler)."""

import os
import time

import pyspark.sql.functions as F
import pytest

from jio_spark import K, validate
from jio_spark.streaming import validate_stream


def test_validate_stream_end_to_end(spark, tmp_path):
    src = str(tmp_path / "stream_in")
    os.makedirs(src)
    df = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 00:00:00"),
         (2, 99.0, "2024-01-01 00:00:30"),
         (3, None, "2024-01-01 00:01:10")],
        "id int, qty double, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(src, mode="overwrite")

    stream = (spark.readStream.schema(df.schema).parquet(src))
    outs = validate_stream(
        stream, K.object({"qty": K.number().required().max(50)}),
        id_cols=["id"], ts_col="ts")
    assert outs["annotated"].isStreaming
    q = (outs["violations"].writeStream.format("memory")
         .queryName("viols_test").outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from viols_test").collect()
        got = {(r["id"], r["rule_name"]) for r in rows}
        assert got == {(2, "max"), (3, "required")}
    finally:
        q.stop()

    q2 = (outs["rates"].writeStream.format("memory")
          .queryName("rates_test").outputMode("append").start())
    try:
        q2.processAllAvailable()  # append emits only closed windows
    finally:
        q2.stop()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pruning_reaches_parquet(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    res = validate(li, K.object({
        "l_quantity": K.number().required().min(1).max(50)}),
        id_cols=["l_orderkey"])
    plan = _plan(res.prepared.select(res.compiled.row_pass.alias("p")))
    # only the referenced column reaches the scan
    assert "ReadSchema: struct<l_quantity:double>" in plan
    # and the verdict pipeline is fully codegen'd (no Python, no shuffle);
    # executedPlan().toString() marks whole-stage codegen spans with "*("
    assert "Exchange" not in plan
    assert "*(1)" in plan


def test_filter_pushdown_through_rule_columns(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    res = validate(li, K.object({
        "l_quantity": K.number().required().min(1).max(50)}),
        id_cols=["l_orderkey"])
    # a user filter on a SOURCE column must still push to the scan
    q = res.annotated.where(F.col("l_orderkey") == 42).select("_pass")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)" \
        in plan


def test_summary_is_single_exchange(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    res = validate(li, K.object({
        "l_quantity": K.number().required().min(1).max(50)}),
        id_cols=["l_orderkey"])
    aggs = []
    for i, e in enumerate(res.compiled.entries):
        aggs.append(F.sum(e.evaluated.cast("long")).alias(f"e{i}"))
    plan = _plan(res.prepared.agg(*aggs))
    # partial_ aggregation map-side, ONE single-partition exchange of the
    # reduced row
    assert plan.count("Exchange") == 1
    assert "partial_" in plan


def test_stateful_violation_counts(spark, tmp_path):
    from jio_spark.streaming import stateful_violation_counts
    src = str(tmp_path / "state_in")
    os.makedirs(src)
    schema = "id int, src string, qty double"
    b1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 99.0), (3, "b", 5.0)], schema)
    b1.write.parquet(src, mode="append")

    stream = spark.readStream.schema(b1.schema).parquet(src)
    counts = stateful_violation_counts(
        stream, K.object({"qty": K.number().required().max(50)}), "src")
    q = (counts.writeStream.format("memory").queryName("state_test")
         .outputMode("update").start())
    try:
        q.processAllAvailable()
        got = {r["key"]: (r["failed"], r["rows"])
               for r in spark.sql("select * from state_test").collect()}
        assert got == {"a": (1, 2), "b": (0, 1)}
        # second micro-batch: state carries over
        spark.createDataFrame([(4, "a", 77.0), (5, "b", 88.0)], schema) \
            .write.parquet(src, mode="append")
        q.processAllAvailable()
        rows = spark.sql("select * from state_test").collect()
        latest = {}
        for r in rows:  # memory sink appends update rows; last wins
            latest[r["key"]] = (r["failed"], r["rows"])
        assert latest == {"a": (2, 3), "b": (1, 2)}
    finally:
        q.stop()


def test_rates_watermark_drops_late_rows(spark, tmp_path):
    """Multi-microbatch watermark semantics of the rates ledger
    (validate_stream's windowed pass/fail counts): an out-of-order event
    arriving AFTER the watermark passed its window must be dropped — the
    closed window's counts stay at the on-time rows — while windows
    still ahead of the watermark never emit in append mode."""
    src = str(tmp_path / "late_in")
    os.makedirs(src)
    schema_str = "id int, qty double, ts string"

    def batch(rows):
        (spark.createDataFrame(rows, schema_str)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .write.parquet(src, mode="append"))

    # b1: two on-time rows in window [00:00,00:01) (one failing) plus a
    # row at 00:05 that advances the watermark to 00:04:30
    batch([(1, 10.0, "2024-01-01 00:00:10"),
           (2, 99.0, "2024-01-01 00:00:40"),
           (3, 20.0, "2024-01-01 00:05:00")])
    ts_schema = (spark.read.parquet(src)).schema
    stream = spark.readStream.schema(ts_schema).parquet(src)
    outs = validate_stream(
        stream, K.object({"qty": K.number().required().max(50)}),
        id_cols=["id"], ts_col="ts", watermark="30 seconds",
        window="1 minute")
    q = (outs["rates"].writeStream.format("memory")
         .queryName("late_rates").outputMode("append").start())
    try:
        q.processAllAvailable()
        # b2: a LATE row for the already-closed [00:00,00:01) window
        # (event time far behind the 00:04:30 watermark) + an advancer
        batch([(4, 99.0, "2024-01-01 00:00:50"),
               (5, 30.0, "2024-01-01 00:10:00")])
        q.processAllAvailable()
        # b3: flush — advances the watermark past [00:05,00:06)
        batch([(6, 40.0, "2024-01-01 00:20:00")])
        q.processAllAvailable()
        got = {str(r["window_start"]): (r["rows"], r["failed"])
               for r in spark.sql("select * from late_rates").collect()}
        # closed window: ONLY the two on-time rows — the late id=4 row
        # (which would have made rows=3, failed=2) was dropped
        assert got["2024-01-01 00:00:00"] == (2, 1)
        assert got["2024-01-01 00:05:00"] == (1, 0)
        # b3's 00:20:00 event advanced the watermark to 00:19:30,
        # legitimately closing [00:10,00:11) too
        assert got["2024-01-01 00:10:00"] == (1, 0)
        # the newest window is still ahead of the watermark: never emitted
        assert "2024-01-01 00:20:00" not in got
        # and no window emitted twice (append-mode finality)
        rows = spark.sql(
            "select count(*) c, count(distinct window_start) d "
            "from late_rates").collect()[0]
        assert rows["c"] == rows["d"]
    finally:
        q.stop()


def test_violations_restart_exactly_once(spark, tmp_path):
    """Checkpointed restart of the violations stream (the streaming face
    of the north rule's resumability): stop the query, add data, rebuild
    the WHOLE plan from scratch against the same checkpoint, restart —
    pre-restart rows must not be re-emitted (exactly-once in the sink)
    and post-restart rows must all arrive."""
    src = str(tmp_path / "rs_in")
    ckpt = str(tmp_path / "rs_ckpt")
    sink = str(tmp_path / "rs_sink")
    os.makedirs(src)
    schema_str = "id int, qty double"

    def start():
        # rebuilt from scratch each time: restart must not depend on any
        # in-memory object carrying over
        stream = (spark.readStream
                  .schema("id int, qty double").parquet(src))
        outs = validate_stream(
            stream, K.object({"qty": K.number().required().max(50)}),
            id_cols=["id"])
        return (outs["violations"].writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ckpt)
                .outputMode("append").start())

    spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, None)], schema_str) \
        .write.parquet(src, mode="append")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(
        [(4, 77.0), (5, 20.0), (6, None)], schema_str) \
        .write.parquet(src, mode="append")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(sink).collect()
    got = sorted((r["id"], r["rule_name"]) for r in rows)
    # each violation exactly once across the restart boundary
    assert got == [(2, "max"), (3, "required"), (4, "max"), (6, "required")]


def test_stateful_counts_resume_from_checkpoint(spark, tmp_path):
    """applyInPandasWithState state survives a full query restart: the
    first post-restart outputs already include pre-restart running
    totals (per-key ledger continuity, not a fresh count)."""
    from jio_spark.streaming import stateful_violation_counts
    src = str(tmp_path / "st_rs_in")
    ckpt = str(tmp_path / "st_rs_ckpt")
    os.makedirs(src)
    schema_str = "id int, src string, qty double"

    def start(outdir):
        # memory sink can't recover from a checkpoint; foreachBatch can.
        # A per-phase outdir isolates exactly the post-restart output.
        stream = (spark.readStream
                  .schema("id int, src string, qty double").parquet(src))
        counts = stateful_violation_counts(
            stream, K.object({"qty": K.number().required().max(50)}),
            "src")
        return (counts.writeStream
                .foreachBatch(lambda df, _bid:
                              df.write.mode("append").parquet(outdir))
                .option("checkpointLocation", ckpt)
                .outputMode("update").start())

    def totals(outdir):
        got = {}
        for r in spark.read.parquet(outdir) \
                .orderBy("rows").collect():  # running totals: last wins
            got[r["key"]] = (r["failed"], r["rows"])
        return got

    out1 = str(tmp_path / "st_rs_out1")
    out2 = str(tmp_path / "st_rs_out2")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 99.0), (3, "b", 5.0)], schema_str) \
        .write.parquet(src, mode="append")
    q = start(out1)
    try:
        q.processAllAvailable()
        assert totals(out1) == {"a": (1, 2), "b": (0, 1)}
    finally:
        q.stop()

    spark.createDataFrame(
        [(4, "a", 77.0), (5, "b", 88.0)], schema_str) \
        .write.parquet(src, mode="append")
    q = start(out2)  # fresh outdir: only post-restart output lands here
    try:
        q.processAllAvailable()
        # totals CONTINUE from checkpointed state (a fresh count would
        # read {"a": (1, 1), "b": (1, 1)})
        assert totals(out2) == {"a": (2, 3), "b": (1, 2)}
    finally:
        q.stop()


def test_runner_rule_scan_never_reads_bytes(spark, tmp_path):
    """SCALE.md's scan-economy claim, pinned at the PLAN level: the
    runner's rule+referential violations plan (audio handled separately
    payload-locally) must column-prune the audio payload — no parquet
    scan in it may list `bytes` in its ReadSchema, and the rule path
    must stay shuffle-free (the one Exchange allowed is none: broadcast
    dims don't exchange the fact side)."""
    from jio_spark.audio.synth import write_clips
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)
    src = str(tmp_path / "plan_clips")
    write_clips(spark, 300, src, partitions=2)
    df = spark.read.parquet(src)
    job = ClipsValidationJob(
        spark, ClipsJobConfig(audio_check=False, drift=False),
        codec_dim=default_codec_dim(spark))
    viols = job.group_violations(df)
    plan = _plan(viols)
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads, "expected at least one parquet scan"
    assert all("bytes" not in ln for ln in reads), reads
    # broadcast join for the dim; the ONLY shuffle exchange in the plan
    # is the dim side's 3-row dropDuplicates (hashpartitioning on codec)
    # — any fact-side shuffle would add another
    assert "BroadcastExchange" in plan
    plain_exchanges = (plan.count("Exchange")
                       - plan.count("BroadcastExchange"))
    assert plain_exchanges == 1, plan
    assert "Exchange hashpartitioning(codec" in plan


def test_stream_schema_contract_preflight(spark, tmp_path):
    """A streaming source whose physical schema drifted must fail at
    validate_stream() construction — before a 24/7 query launches — and
    df.schema on a streaming frame is metadata-only, so the preflight
    costs nothing."""
    import pytest
    src = str(tmp_path / "contract_in")
    os.makedirs(src)
    df = spark.createDataFrame([(1, 10.0)], "id int, qty double")
    df.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(df.schema).parquet(src)

    # matching contract: streams construct as before
    outs = validate_stream(stream,
                           K.object({"qty": K.number().required()}),
                           id_cols=["id"],
                           schema_contract={"id": "int", "qty": "double"})
    assert outs["annotated"].isStreaming

    # drifted contract: every break listed, nothing launched
    with pytest.raises(ValueError) as e:
        validate_stream(stream,
                        K.object({"qty": K.number().required()}),
                        id_cols=["id"],
                        schema_contract={"id": "string", "qty": "double",
                                         "ts": "timestamp"})
    assert "id" in str(e.value) and "ts" in str(e.value)


def test_decode_stream_end_to_end(spark, tmp_path):
    """Audio decode-and-check as a streaming query: the same Arrow
    kernel per micro-batch — clean ADPCM/G.711 clips pass under
    per-codec gates, a corrupt payload emits exactly one decode
    violation, and the watermarked rates window counts it."""
    from jio_spark.streaming import decode_stream
    from jio_spark.audio.codecs import ENCODERS
    from jio_spark.audio.synth import (_row_params, expected_signal,
                                       expected_transcript)

    picked, i = [], 0
    while len(picked) < 4:
        _, f_, sr_, d_, _, _ = _row_params(i, True)
        if sr_ >= 16000 and f_ <= 550 and d_ <= 1500:
            picked.append(i)
        i += 1
    rows = []
    for k, i in enumerate(picked):
        _, _, sr_, d_, _, _ = _row_params(i, True)
        enc = ENCODERS["adpcm_ima" if k % 2 == 0 else "ulaw"]
        raw = enc(expected_signal(i, True), sr_)
        if k == 3:
            raw = raw[: len(raw) // 3]          # corrupt payload
        rows.append((f"clip_{i:012d}", bytearray(raw), sr_, d_,
                     "adpcm_ima" if k % 2 == 0 else "ulaw",
                     expected_transcript(i),
                     f"2024-01-01 00:00:{10 + k:02d}"))
    src = str(tmp_path / "clips_stream")
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(src, mode="overwrite")

    stream = spark.readStream.schema(df.schema).parquet(src)
    outs = decode_stream(
        stream, snr_threshold={"adpcm_ima": 26.0, "default": 30.0},
        ts_col="ts", window="30 seconds")
    assert outs["results"].isStreaming and outs["violations"].isStreaming

    q = (outs["violations"].writeStream.format("memory")
         .queryName("dec_viols").outputMode("append").start())
    try:
        q.processAllAvailable()
        viols = spark.sql("select * from dec_viols").collect()
    finally:
        q.stop()
    bad_id = rows[3][0]
    assert [(v["clip_id"], v["rule_name"]) for v in viols] \
        == [(bad_id, "decode")]

    q2 = (outs["rates"].writeStream.format("memory")
          .queryName("dec_rates").outputMode("complete").start())
    try:
        q2.processAllAvailable()
        rates = spark.sql("select * from dec_rates").collect()
    finally:
        q2.stop()
    assert sum(r["clips"] for r in rates) == 4
    assert sum(r["failed"] for r in rates) == 1


def test_decode_stream_extended_codecs_match_batch(spark, tmp_path):
    """decode_stream inherits the round-5 codec surface unchanged: a
    streamed micro-batch of §1b mixed rows (float32, stereo, stereo
    ADPCM, EXTENSIBLE wraps, injected anomalies) produces EXACTLY the
    batch decode's per-clip verdicts under the per-codec gates — the
    streaming face is the same Arrow kernel, so the two cannot drift."""
    from jio_spark.audio.decode import decode_check
    from jio_spark.audio.synth import (CLIPS_SCHEMA, MIX_SNR_GATES,
                                       make_row_mixed)
    from jio_spark.streaming import decode_stream

    rows = [make_row_mixed(i) for i in range(150)]
    src = str(tmp_path / "mixed_in")
    df = spark.createDataFrame(rows, CLIPS_SCHEMA)
    df.write.parquet(src)

    def canon(frame):
        # NaN snr_db (reference unlocatable) breaks tuple equality —
        # flatten to a sentinel on both sides
        return sorted(map(tuple, frame.withColumn(
            "snr_db", F.nanvl(F.col("snr_db"), F.lit(-9e9))).collect()))

    batch = canon(decode_check(df, check_reference=True,
                               snr_threshold=MIX_SNR_GATES, salt=False,
                               passthrough=["codec"]))
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    outs = decode_stream(stream, snr_threshold=MIX_SNR_GATES)
    q = (outs["results"].writeStream.format("memory")
         .queryName("ext_dec").outputMode("append").start())
    try:
        q.processAllAvailable()
        got = canon(spark.sql("select * from ext_dec"))
    finally:
        q.stop()
    assert got == batch
    n_ok = sum(1 for r in got if r[1])
    assert 140 <= n_ok <= 150       # anomaly rates leave most decodable
