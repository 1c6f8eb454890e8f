"""Stateful streaming operator + storage helper tests."""

import os

from pyspark.sql import functions as F


def test_conversation_progress_stateful(spark, tiny_transcripts, tmp_out):
    from inxs_spark.sources.transcripts import TRANSCRIPTS_SPARK_SCHEMA
    from inxs_spark.streaming.stateful import conversation_progress

    # state-store instances scale with shuffle partitions; 32 × many
    # microbatches = minutes of checkpoint I/O for a 2k-row test.
    # 4 partitions keeps the same code path at test-appropriate cost.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (
            spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
            .parquet(tiny_transcripts)
            .select(
                "conv_id", "turn_idx", F.lit(None).cast("string").alias("failure")
            )
        )
        progress = conversation_progress(stream)
        query = (
            progress.writeStream.format("memory")
            .queryName("conv_progress_test")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp_out, "cp"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = spark.sql(
        "select conv_id, max(n_turns) as n from conv_progress_test group by conv_id"
    ).collect()
    assert rows
    expected = {
        r.conv_id: r.n
        for r in spark.read.parquet(tiny_transcripts)
        .groupBy("conv_id").count()
        .select("conv_id", F.col("count").alias("n")).collect()
    }
    got = {r.conv_id: r.n for r in rows}
    # every conversation fully counted (single availableNow pass may
    # split batches; the running count must end at the true total)
    assert got == expected


def test_io_roundtrip_and_fingerprint(spark, tmp_out):
    from inxs_spark.sources.io import input_fingerprint

    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    path = os.path.join(tmp_out, "t")
    df.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert set(back.columns) == {"id", "v"}
    fp1 = input_fingerprint(path)
    fp2 = input_fingerprint(path)
    assert fp1 == fp2 and fp1.startswith("files-")
    df.limit(10).write.parquet(os.path.join(tmp_out, "t2"))
    assert input_fingerprint(os.path.join(tmp_out, "t2")) != fp1


def test_bucketed_join_no_shuffle(spark, tiny_transcripts):
    """The co-located-join claim, proven: two tables bucketed by the
    join key join WITHOUT any Exchange in the physical plan — at
    100 TB this is the layout that converts recurring fact-fact joins
    from full shuffles into per-bucket local merges (Iceberg bucket()
    transform via the io.py seam)."""
    from inxs_spark.sources.io import write_bucketed

    t = spark.read.parquet(tiny_transcripts)
    left = t.select("conv_id", "turn_idx", "role")
    right = (
        t.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    )
    write_bucketed(left, "bkt_turns", ["conv_id"], 8)
    write_bucketed(right, "bkt_convs", ["conv_id"], 8)
    try:
        # disable broadcast so the join would otherwise SHUFFLE
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_turns").join(
            spark.table("bkt_convs"), "conv_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == t.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_turns")
        spark.sql("DROP TABLE IF EXISTS bkt_convs")


def test_partition_pruning_reaches_scan(spark, tmp_out):
    """Hive-partitioned layout + a partition-column filter must prune
    at the SCAN (PartitionFilters in the plan, only the matching
    directory's files read) — the layout lever that turns a 100 TB
    full scan into a per-language slice."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = os.path.join(tmp_out, "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    q = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the lang predicate must land in PartitionFilters (scan-level
    # directory pruning), NOT in PushedFilters/post-scan Filter
    assert "PartitionFilters: [" in plan and "lang" in plan.split(
        "PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert docs.select("lang").distinct().count() > 1
    assert q.count() == docs.filter(F.col("lang") == "en").count() > 0


def test_functions_facade(spark):
    from inxs_spark import functions as EF

    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0], "a b c")],
        "v1 array<double>, v2 array<double>, text string",
    )
    row = df.select(
        EF.norm(F.col("v1")).alias("n"),
        EF.cosine(F.col("v1"), F.col("v2")).alias("c"),
        F.size(EF.tokens("text")).alias("t"),
        F.size(EF.shingles("text", 2)).alias("s"),
    ).collect()[0]
    assert row.n == 5.0 and abs(row.c - 1.0) < 1e-12
    assert row.t == 3 and row.s == 2


def test_sql_function_matches_pipeline(spark, tiny_transcripts):
    """extract_main_content() from spark.sql must produce byte-identical
    text, spans and failure to the extract_df pipeline (same kernel,
    same encoder), failed turns included: an oversized payload and a
    broken ``<?xml``-declared one ride along with the tiny tier."""
    import warnings

    from inxs_spark.extract import MAX_PAYLOAD_CHARS
    from inxs_spark.functions.sql import register_sql_functions
    from inxs_spark.plans.extract_pipeline import extract_df

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert register_sql_functions(spark) == ["extract_main_content"]
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    extra = spark.createDataFrame(
        [("sql-extra", 0, "x" * (MAX_PAYLOAD_CHARS + 1)),
         ("sql-extra", 1, '<?xml version="1.0"?><doc><p>broken</doc>')],
        "conv_id string, turn_idx int, text string",
    )
    tdf = (spark.read.parquet(tiny_transcripts)
           .select("conv_id", "turn_idx", "text").unionByName(extra))
    tdf.createOrReplaceTempView("transcripts_sql_test")

    def val(r):
        return (r.extracted_text, [tuple(s) for s in r.spans], r.failure)

    via_sql = {
        (r.conv_id, r.turn_idx): val(r.r)
        for r in spark.sql(
            "SELECT conv_id, turn_idx, extract_main_content(text) AS r "
            "FROM transcripts_sql_test"
        ).collect()
    }
    via_pipeline = {
        (r.conv_id, r.turn_idx): val(r) for r in extract_df(tdf).collect()
    }
    assert via_sql == via_pipeline
    assert via_sql[("sql-extra", 0)] == (None, [], "payload_too_large")
    assert via_sql[("sql-extra", 1)] == (None, [], "parse_error")
    assert any(spans for _t, spans, _f in via_sql.values())
    # plan stays vectorized: ArrowEvalPython, never BatchEvalPython
    plan = spark.sql(
        "SELECT extract_main_content(text) FROM transcripts_sql_test"
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan, plan
