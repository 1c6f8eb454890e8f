"""Streaming parity + CLI + packaging tests."""

import json
import os
import subprocess
import sys
import zipfile


def test_streaming_extract_matches_batch(spark, tiny_transcripts, tmp_out):
    from inxs_spark.plans.extract_pipeline import extract_df
    from inxs_spark.streaming.extract_stream import streaming_extract

    query = streaming_extract(spark, tiny_transcripts, tmp_out, available_now=True)
    query.awaitTermination(300)
    stream_out = spark.read.parquet(os.path.join(tmp_out, "extracted_stream"))
    batch_out = extract_df(spark.read.parquet(tiny_transcripts))
    s = {(r.conv_id, r.turn_idx): (r.extracted_text, r.failure)
         for r in stream_out.collect()}
    b = {(r.conv_id, r.turn_idx): (r.extracted_text, r.failure)
         for r in batch_out.collect()}
    assert s == b  # batch/stream structural parity


def test_streaming_microbatch_replay_is_idempotent(spark, tiny_transcripts, tmp_out):
    """foreachBatch replays a microbatch after failure (at-least-once);
    the sink must absorb the replay without duplicating rows."""
    from inxs_spark.streaming.extract_stream import _write_microbatch

    out_path = os.path.join(tmp_out, "stream_out")
    batch = spark.read.parquet(tiny_transcripts).limit(200)
    _write_microbatch(batch, out_path, batch_id=7, num_partitions=2)
    once = spark.read.parquet(out_path).count()
    _write_microbatch(batch, out_path, batch_id=7, num_partitions=2)  # replay
    assert spark.read.parquet(out_path).count() == once == 200
    _write_microbatch(batch, out_path, batch_id=8, num_partitions=2)  # next batch
    assert spark.read.parquet(out_path).count() == 400


def test_streaming_session_windows(spark, tiny_transcripts, tmp_out):
    """Session-window sessionization over the stream: every
    conversation appears, sessions close after the gap, and per-conv
    turn counts reconcile with the batch input."""
    from inxs_spark.streaming.extract_stream import streaming_conversation_sessions

    agg = streaming_conversation_sessions(spark, tiny_transcripts)
    # complete mode: append would withhold sessions newer than the
    # final watermark, which on a BOUNDED source means the tail
    # sessions never emit — complete mode surfaces all state for the
    # reconciliation check
    query = (
        agg.writeStream.format("memory")
        .queryName("conv_sessions_test")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(tmp_out, "cp_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    rows = spark.sql("select * from conv_sessions_test").collect()
    assert rows
    # sessions are well-formed and counts reconcile per conversation
    got = {}
    for r in rows:
        assert r.session_end > r.session_start and r.n_turns > 0
        got[r.conv_id] = got.get(r.conv_id, 0) + r.n_turns
    want = {
        r.conv_id: r.n
        for r in spark.read.parquet(tiny_transcripts)
        .groupBy("conv_id").count().withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_streaming_windowed_counts(spark, tiny_transcripts, tmp_out):
    from inxs_spark.streaming.extract_stream import streaming_turn_rates

    agg = streaming_turn_rates(spark, tiny_transcripts)
    query = (
        agg.writeStream.format("memory")
        .queryName("turn_rates_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_out, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    rows = spark.sql("select * from turn_rates_test").collect()
    assert rows
    assert {r.role for r in rows} <= {"user", "assistant", "tool"}
    total = sum(r.n_turns for r in rows)
    # watermark closes only windows older than max_event_time - 2min;
    # the trailing windows stay open in append mode, so total ≤ input
    n_input = spark.read.parquet(tiny_transcripts).count()
    assert 0 < total <= n_input


def test_streaming_exact_dedup(spark, tiny_transcripts, tmp_out):
    """Streaming dedup keeps one row per distinct payload within the
    watermark horizon and reconciles with the batch distinct count;
    dedup state is keyed on digests, and surviving rows keep their
    original columns."""
    from inxs_spark.streaming.extract_stream import streaming_exact_dedup

    out = streaming_exact_dedup(spark, tiny_transcripts)
    query = (
        out.writeStream.format("memory")
        .queryName("stream_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_out, "cp_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    rows = spark.sql("select * from stream_dedup_test").collect()
    batch = spark.read.parquet(tiny_transcripts)
    n_distinct = batch.select("text").distinct().count()
    # one bounded batch inside one watermark horizon → exact parity
    assert len(rows) == n_distinct
    assert len({r.text for r in rows}) == len(rows)
    assert set(rows[0].asDict()) == set(batch.columns)


def test_streaming_stream_stream_join(spark, tiny_transcripts, tmp_out):
    """Stream-stream inner join with two-sided watermarks: each turn
    pairs with its conversation's events inside the lag window; the
    result reconciles exactly with the equivalent batch range join."""
    from pyspark.sql import functions as F

    from inxs_spark.streaming.extract_stream import streaming_turn_event_join

    # synthesize an event stream: one 'label' event 1 minute after
    # every 10th turn, plus one far-out-of-window event that must drop
    base = spark.read.parquet(tiny_transcripts)
    ev_schema = "event_conv_id string, event_ts timestamp, event_kind string"
    events = base.filter(F.col("turn_idx") % 10 == 0).select(
        F.col("conv_id").alias("event_conv_id"),
        (F.col("ts") + F.expr("interval 1 minute")).alias("event_ts"),
        F.lit("label").alias("event_kind"),
    ).union(
        base.limit(1).select(
            F.col("conv_id").alias("event_conv_id"),
            (F.col("ts") + F.expr("interval 2 hours")).alias("event_ts"),
            F.lit("too_late").alias("event_kind"),
        )
    )
    ev_path = os.path.join(tmp_out, "events_in")
    events.write.mode("overwrite").parquet(ev_path)

    joined = streaming_turn_event_join(
        spark, tiny_transcripts, ev_path, ev_schema, max_lag="10 minutes"
    )
    query = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_out, "cp_ssjoin"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    rows = spark.sql("select * from ss_join_test").collect()
    assert rows and all(r.event_kind == "label" for r in rows)
    # batch oracle: same range-join semantics without streaming
    want = (
        base.select("conv_id", "turn_idx", F.col("ts").alias("turn_ts"))
        .join(
            events,
            F.expr(
                "conv_id = event_conv_id AND event_ts >= turn_ts "
                "AND event_ts <= turn_ts + interval 10 minutes"
            ),
        )
        .filter(F.col("event_kind") == "label")
        .count()
    )
    assert len(rows) == want, (len(rows), want)


def test_streaming_curate(spark, tiny_transcripts, tmp_out):
    """Composed streaming curation: dedup-before-extract within the
    watermark, quality-gated, exactly-once batch_id sink. The output
    row count reconciles with the batch equivalent (distinct payloads
    → extract → same gate), and every surviving row meets the quality
    floor."""
    from pyspark.sql import functions as F

    from inxs_spark.operators.text import quality_score
    from inxs_spark.plans.extract_pipeline import extract_df
    from inxs_spark.streaming.extract_stream import streaming_curate

    out_root = os.path.join(tmp_out, "curate_stream")
    query = streaming_curate(spark, tiny_transcripts, out_root,
                             min_quality=0.2)
    query.awaitTermination(300)
    got = spark.read.parquet(os.path.join(out_root, "curated_stream"))
    rows = got.collect()
    assert rows and all(r.quality >= 0.2 for r in rows)
    assert "batch_id" in got.columns  # partition-directory sink

    # per-batch attrition lineage: O(1) JSON appends during the
    # stream, one compaction at shutdown into the queryable metrics
    # table (round-3 verdict task 8); rows_kept sums back to the sink
    from inxs_spark.jobs.curate import CURATE_METRICS_SCHEMA
    from inxs_spark.sources.io import compact_records

    compact_records(spark, out_root, CURATE_METRICS_SCHEMA)
    mt = spark.read.parquet(os.path.join(out_root, "metrics_table"))
    mrows = mt.filter(F.col("op") == "streaming_curate").collect()
    assert mrows and {r.stage for r in mrows} == {"input", "output"}
    kept = sum(r.rows for r in mrows if r.stage == "output")
    assert kept == len(rows)

    # batch oracle: one representative per distinct payload → extract
    # → identical gate (streaming keeps first-arrival, batch keeps one
    # per digest — counts must match even if representatives differ)
    base = spark.read.parquet(tiny_transcripts)
    from pyspark.sql.window import Window

    rep = (
        base.withColumn("__fp", F.md5("text"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__fp").orderBy("conv_id", "turn_idx")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )
    ex = extract_df(rep).filter(
        F.col("failure").isNull() & (F.length("extracted_text") > 0)
    ).withColumn(
        "__key", F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )
    q = quality_score(ex, "__key", "extracted_text").select("__key", "quality")
    want = ex.join(q, "__key").filter(F.col("quality") >= 0.2).count()
    assert len(rows) == want, (len(rows), want)



def test_streaming_curate_runs_kernel_once_per_row(
    spark, tiny_transcripts, tmp_out, monkeypatch
):
    """Each microbatch row reaches the extraction kernel once: the
    quality gate is a column of the extracted frame, not a join of the
    frame to its own projection, and both lineage counts ride the one
    partition write."""
    from inxs_spark.extract import extract_turn
    from inxs_spark.jobs.curate import CURATE_METRICS_SCHEMA
    from inxs_spark.sources.io import compact_records
    from inxs_spark.streaming import extract_stream

    acc = spark.sparkContext.accumulator(0)

    def counting_extract(payload):
        acc.add(1)
        return extract_turn(payload)

    extract_df = extract_stream.extract_df
    monkeypatch.setattr(
        extract_stream, "extract_df",
        lambda df, **kw: extract_df(df, row_fn=counting_extract, **kw),
    )
    src = os.path.join(tmp_out, "turns")
    spark.read.parquet(tiny_transcripts).limit(200).write.parquet(src)
    out_root = os.path.join(tmp_out, "curate_stream")
    extract_stream.streaming_curate(spark, src, out_root).awaitTermination(300)

    compact_records(spark, out_root, CURATE_METRICS_SCHEMA)
    rows_in = sum(
        r.rows for r in
        spark.read.parquet(os.path.join(out_root, "metrics_table")).collect()
        if r.stage == "input"
    )
    assert rows_in > 0 and acc.value == rows_in, (acc.value, rows_in)

def test_kernel_cli_roundtrip(tmp_out):
    doc = os.path.join(tmp_out, "doc.xml")
    with open(doc, "w") as fh:
        fh.write("<article><header>nav</header><p>Body <ref>x</ref>text.</p></article>")
    proc = subprocess.run(
        [sys.executable, "-m", "inxs_spark.kernel.cli", doc, "--text-only"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "Body text."

    proc = subprocess.run(
        [sys.executable, "-m", "inxs_spark.kernel.cli", doc, "--spans"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    payload = json.loads(proc.stdout)
    assert payload["extracted_text"] == "Body text."
    assert payload["failure"] is None
    assert payload["spans"][0]["path"].startswith("/article")

    proc = subprocess.run(
        [sys.executable, "-m", "inxs_spark.kernel.cli", doc],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert proc.stdout.strip() == "<article><p>Body text.</p></article>"


def test_package_zip_importable(tmp_out):
    from tools.package import build

    out = build(os.path.join(tmp_out, "inxs_spark.zip"))
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "inxs_spark/__init__.py" in names
    assert "inxs_spark/kernel/transformation.py" in names
    # the zip must be importable standalone (spark-submit --py-files)
    proc = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "from inxs_spark.extract import extract_turn; "
         "print(extract_turn('<p>ok</p>')[0])", out],
        capture_output=True, text=True,
    )
    assert proc.stdout.strip() == "ok"


def test_jobs_extract_cli(tmp_out):
    out_dir = os.path.join(tmp_out, "job_out")
    proc = subprocess.run(
        [sys.executable, "-m", "inxs_spark.jobs.extract",
         "--tier", "tiny", "--out", out_dir, "--master", "local[2]",
         "--chunks", "2"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["chunks_run"] == summary["chunks_total"] >= 1
    assert summary["chunks_skipped"] == 0
    assert os.path.isdir(os.path.join(out_dir, "extracted"))


def test_streaming_watermark_drops_late_data(spark, tmp_out):
    """Explicit late-data semantics: a row older than the watermark,
    arriving AFTER its window was finalized, is dropped — counted in
    numRowsDroppedByWatermark, absent from the emitted window.

    Batch 1: two t≈00:00 events + a t=10:00 event (advances the
    watermark to 09:58 after the batch). Batch 2: a t=11:00 event —
    the 00:00 window finalizes and emits with count 2. Batch 3: a late
    t=00:30 event → dropped. maxFilesPerTrigger=1 (a SOURCE option)
    makes each file its own microbatch."""
    import datetime as dt
    import time

    from inxs_spark.streaming.extract_stream import streaming_turn_rates

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    indir = os.path.join(tmp_out, "in")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(indir, name))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order

    write_batch("b1", [
        ("c1", 0, "user", "x", None, base),
        ("c1", 1, "user", "x", None, base + dt.timedelta(seconds=20)),
        ("c1", 2, "user", "x", None, base + dt.timedelta(minutes=10)),
    ])
    write_batch("b2", [
        ("c1", 4, "user", "x", None, base + dt.timedelta(minutes=11)),
    ])
    write_batch("b3", [
        ("c1", 3, "user", "late", None, base + dt.timedelta(seconds=30)),
    ])

    agg = streaming_turn_rates(
        spark, os.path.join(indir, "*"),
        reader_options={"maxFilesPerTrigger": "1"},
    )
    q = (
        agg.writeStream.format("memory").queryName("late_drop_test")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_out, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress if p["stateOperators"]
    )
    assert dropped == 1, [p["stateOperators"] for p in q.recentProgress]
    first = [r for r in spark.sql("select * from late_drop_test").collect()
             if r.window_start == base]
    assert len(first) == 1 and first[0].n_turns == 2, first
