"""Spark-plane tests (SURVEY.md §6.2 items 2-4): e2e kernel parity,
determinism across parallelism, resume exactness, lineage."""

import json
import os
import shutil
import zlib

import pytest

from inxs_spark.extract import MAIN_CONTENT, extract_turn
from inxs_spark.plans.extract_pipeline import extract_df
from inxs_spark.plans.runner import read_extracted, run_extraction
from inxs_spark.sources import synth


def _serial_oracle():
    """The kernel applied serially in document order — the parity
    oracle while /root/reference is an empty mount (SURVEY.md §0)."""
    expected = {}
    for ordinal, length in synth.plan_conversations(synth.TIERS["tiny"]):
        cid = synth.conv_id(ordinal)
        for idx in range(length):
            text, spans, failure = extract_turn(synth.payload(ordinal, idx))
            expected[(cid, idx)] = (text, failure)
    return expected


def test_e2e_per_turn_text_equality(spark, tiny_transcripts):
    """THE north-rule invariant: per-turn extracted-text equality under
    stable (conv_id, turn_idx) ordering (BASELINE.json:14,15)."""
    df = spark.read.parquet(tiny_transcripts)
    rows = extract_df(df).collect()
    expected = _serial_oracle()
    assert len(rows) == len(expected)
    for r in rows:
        assert (r.extracted_text, r.failure) == expected[(r.conv_id, r.turn_idx)], (
            r.conv_id, r.turn_idx,
        )


def test_spans_land_in_extracted_text(spark, tiny_transcripts):
    df = spark.read.parquet(tiny_transcripts)
    for r in extract_df(df).limit(500).collect():
        if r.extracted_text is None:
            assert r.failure is not None
            continue
        for span in r.spans:
            assert 0 <= span.start < span.end <= len(r.extracted_text)
            assert span.path.startswith("/")


def _sorted_hash(df):
    from pyspark.sql import functions as F

    return (
        df.select("conv_id", "turn_idx", "extracted_text", "failure")
        .orderBy("conv_id", "turn_idx")
        .select(
            F.sha2(
                F.concat_ws(
                    "\x01",
                    "conv_id",
                    F.col("turn_idx").cast("string"),
                    F.coalesce("extracted_text", F.lit("\x02null")),
                    F.coalesce("failure", F.lit("\x02null")),
                ),
                256,
            ).alias("h")
        )
        .agg(F.sha2(F.concat_ws("", F.collect_list("h")), 256).alias("all"))
        .collect()[0].all
    )


def test_determinism_across_partitioning(spark, tiny_transcripts):
    """Same input at different parallelism → identical sorted output
    hash (SURVEY.md §6.2 item 3)."""
    df = spark.read.parquet(tiny_transcripts)
    h1 = _sorted_hash(extract_df(df, num_partitions=2))
    h2 = _sorted_hash(extract_df(df, num_partitions=16))
    h3 = _sorted_hash(extract_df(df, num_partitions=7))
    assert h1 == h2 == h3


def _manifests(out_root):
    """chunk_id → manifest, for every group a run has committed."""
    mdir = os.path.join(out_root, "manifests")
    found = {}
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as fh:
            rec = json.load(fh)
        found[rec["chunk_id"]] = rec
    return found


def _extracted(spark, out_root):
    return {(r.conv_id, r.turn_idx): (r.extracted_text, r.failure)
            for r in read_extracted(spark, out_root).collect()}


def _lineage_totals(spark, out_root):
    rows = spark.read.parquet(os.path.join(out_root, "metrics_table")).collect()
    return sum(r.rows_in for r in rows), sum(r.rows_out for r in rows)


def _drop_group(out_root, k):
    shutil.rmtree(os.path.join(out_root, "extracted", f"chunk={k}"))
    os.remove(os.path.join(out_root, "manifests", f"chunk-{k:04d}.json"))


def _file_groups(spark, path, chunks):
    """The runner's grouping rule, replayed: group → local file paths."""
    from inxs_spark.sources.io import local_path

    groups = {}
    for f in spark.read.parquet(path).inputFiles():
        groups.setdefault(zlib.crc32(f.encode()) % chunks, []).append(
            local_path(f))
    return groups


def test_resume_recomputes_only_missing_chunks(spark, tiny_transcripts, tmp_out):
    summary1 = run_extraction(
        spark, tiny_transcripts, tmp_out, chunks=4, num_partitions=4
    )
    assert summary1["chunks_run"] == summary1["chunks_total"]
    full = _extracted(spark, tmp_out)

    # simulate partial loss: drop some groups' data + manifests (group
    # ids come from the run: file names, hence groups, vary per input)
    ids = sorted(_manifests(tmp_out))
    assert len(ids) == summary1["chunks_total"]
    lost, kept = ids[::2], ids[1::2]
    for k in lost:
        _drop_group(tmp_out, k)
    # manifest mtimes detect recomputation of completed groups
    untouched = {
        k: os.path.getmtime(os.path.join(tmp_out, "manifests", f"chunk-{k:04d}.json"))
        for k in kept
    }

    summary2 = run_extraction(
        spark, tiny_transcripts, tmp_out, chunks=4, num_partitions=4
    )
    assert summary2["chunks_run"] == len(lost)
    assert summary2["chunks_skipped"] == len(kept)
    for k, mtime in untouched.items():
        path = os.path.join(tmp_out, "manifests", f"chunk-{k:04d}.json")
        assert os.path.getmtime(path) == mtime  # not recomputed
    assert sorted(_manifests(tmp_out)) == ids
    assert _extracted(spark, tmp_out) == full  # exact resume (BASELINE.json:14)


def _job_ids_in_group(spark, group, fn):
    """Ids of the Spark jobs ``fn()`` runs, found by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _jobs_in_group(spark, group, fn):
    """Spark jobs ``fn()`` runs, counted by job group."""
    return len(_job_ids_in_group(spark, group, fn))


def _result_stage_tasks(spark, group, fn):
    """Tasks of the last stage ``fn()`` runs: its action's result
    stage, the one that holds a narrow input's kernel hop."""
    tracker = spark.sparkContext.statusTracker()
    stages = [
        s for j in _job_ids_in_group(spark, group, fn)
        for s in tracker.getJobInfo(j).stageIds
    ]
    return tracker.getStageInfo(max(stages)).numTasks


def test_recomputed_group_runs_only_its_write_jobs(spark, tiny_transcripts, tmp_out):
    """A recomputed group costs the Spark jobs of its extraction write
    and nothing more: its read takes the schema of the input listing,
    so no group runs a parquet schema-inference job."""
    def run():
        run_extraction(spark, tiny_transcripts, tmp_out, chunks=4,
                       num_partitions=4)

    run()
    ids = sorted(_manifests(tmp_out))
    skipped = _jobs_in_group(spark, "runner_all_skipped", run)
    for k in ids:
        _drop_group(tmp_out, k)
    recomputed = _jobs_in_group(spark, "runner_all_recomputed", run)

    files = _file_groups(spark, tiny_transcripts, 4)[ids[0]]
    schema = spark.read.parquet(tiny_transcripts).schema
    write = _jobs_in_group(
        spark, "runner_one_group_write",
        lambda: extract_df(
            spark.read.schema(schema).parquet(*files), num_partitions=4
        ).write.mode("overwrite").parquet(os.path.join(tmp_out, "ref")),
    )
    assert recomputed - skipped == len(ids) * write, (
        recomputed, skipped, len(ids), write)


def test_resume_rejects_incompatible_manifests(spark, tiny_transcripts, tmp_out):
    """Rerunning against completed manifests built with a different
    chunk count or rule set must fail loudly, not silently reuse
    manifests covering different file groups (round-2 resume gate)."""
    from inxs_spark.kernel import Rule, Transformation, lib
    from inxs_spark.plans.runner import ResumeMismatch

    run_extraction(spark, tiny_transcripts, tmp_out, chunks=4, num_partitions=2)
    with pytest.raises(ResumeMismatch, match="n_chunks"):
        run_extraction(spark, tiny_transcripts, tmp_out, chunks=2,
                       num_partitions=2)
    other_rules = Transformation(
        Rule("tr", (lib.get_text, lib.append("rows"))), name="other",
    )
    with pytest.raises(ResumeMismatch, match="rule_set_hash"):
        run_extraction(spark, tiny_transcripts, tmp_out, chunks=4,
                       num_partitions=2, transformation=other_rules)


def _append_file(spark, path, n):
    """Append ONE parquet file of ``n`` new rows to the input at path."""
    from pyspark.sql import functions as F

    extra = spark.createDataFrame(
        [("newconv", i, f"<p>appended {i}</p>") for i in range(n)],
        "conv_id string, turn_idx int, text string",
    ).withColumn("role", F.lit("user")).withColumn("tool", F.lit(None).cast("string")) \
     .withColumn("ts", F.current_timestamp()) \
     .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    extra.coalesce(1).write.mode("append").parquet(path)


def test_incremental_extraction_on_growing_input(spark, tiny_transcripts, tmp_out):
    """Append-corpus mode: new input files recompute only the groups
    they land in; untouched rows stay as they were."""
    src = os.path.join(tmp_out, "growing_input")
    base = spark.read.parquet(tiny_transcripts).limit(400)
    # repartition, not coalesce: coalesce cannot RAISE the partition
    # count, and a single-file input made this test flaky (all files
    # could hash into one group)
    base.repartition(4).write.mode("overwrite").parquet(src)

    s1 = run_extraction(spark, src, tmp_out, chunks=4)
    assert s1["chunks_run"] == s1["chunks_total"]
    first = _extracted(spark, tmp_out)
    assert len(first) == 400

    # rerun without changes: everything skips
    s2 = run_extraction(spark, src, tmp_out, chunks=4)
    assert s2["chunks_run"] == 0 and s2["chunks_skipped"] == s2["chunks_total"]

    _append_file(spark, src, 5)
    s3 = run_extraction(spark, src, tmp_out, chunks=4)
    # exactly ONE file appended → exactly one group's fingerprint
    # changed → exactly one group reruns (group placement of the file
    # is hash-random, the rerun count is not)
    assert s3["chunks_run"] == 1
    resumed = _extracted(spark, tmp_out)
    assert len(resumed) == 405
    assert resumed[("newconv", 0)] == ("appended 0", None)
    for key, val in first.items():
        assert resumed[key] == val  # untouched rows identical

    # rule change is still refused
    from inxs_spark.kernel import Rule, Transformation, lib
    from inxs_spark.plans.runner import ResumeMismatch

    other = Transformation(
        Rule("tr", (lib.get_text, lib.append("rows"))), name="other",
    )
    with pytest.raises(ResumeMismatch, match="rule_set_hash"):
        run_extraction(spark, src, tmp_out, chunks=4, transformation=other)


def test_append_reruns_one_group_and_equals_fresh_run(spark, tiny_transcripts,
                                                      tmp_out):
    """Resuming over an input that grew by one file reruns exactly one
    group, and the resumed output and lineage equal a fresh run's."""
    src = os.path.join(tmp_out, "src")
    spark.read.parquet(tiny_transcripts).limit(100).repartition(2) \
        .write.parquet(src)
    out = os.path.join(tmp_out, "out")
    run_extraction(spark, src, out, chunks=4, num_partitions=2)

    _append_file(spark, src, 3)
    resumed = run_extraction(spark, src, out, chunks=4, num_partitions=2)
    assert resumed["chunks_run"] == 1
    assert resumed["chunks_skipped"] == resumed["chunks_total"] - 1

    fresh = os.path.join(tmp_out, "fresh")
    run_extraction(spark, src, fresh, chunks=4, num_partitions=2)
    assert _extracted(spark, out) == _extracted(spark, fresh)
    assert _lineage_totals(spark, out) == _lineage_totals(spark, fresh) \
        == (103, 103)


def test_deleted_group_drops_its_output(spark, tiny_transcripts, tmp_out):
    """When every file of one group is deleted, the resume deletes that
    group's output, lineage records and manifest: output rows equal
    the input's rows, never more."""
    src = os.path.join(tmp_out, "src")
    spark.read.parquet(tiny_transcripts).limit(240).repartition(12) \
        .write.parquet(src)
    out = os.path.join(tmp_out, "out")
    s1 = run_extraction(spark, src, out, chunks=3, num_partitions=2)
    ids = sorted(_manifests(out))
    assert len(ids) == s1["chunks_total"] >= 2
    for path in _file_groups(spark, src, 3)[ids[0]]:
        os.remove(path)
    n_input = spark.read.parquet(src).count()
    assert n_input < 240

    s2 = run_extraction(spark, src, out, chunks=3, num_partitions=2)
    assert s2["chunks_dropped"] == 1 and s2["chunks_run"] == 0
    assert sorted(_manifests(out)) == ids[1:]
    assert read_extracted(spark, out).count() == n_input
    assert _lineage_totals(spark, out) == (n_input, n_input)


def test_incremental_extraction_under_a_spaced_directory(spark, tiny_transcripts,
                                                         tmp_out):
    """Spark lists input files as percent-encoded ``file:`` URIs
    (``a%20b``); the runner must stat and read the decoded local
    path."""
    src = os.path.join(tmp_out, "a b", "input")
    spark.read.parquet(tiny_transcripts).limit(100).repartition(2) \
        .write.parquet(src)
    assert any("%20" in f for f in spark.read.parquet(src).inputFiles())

    s1 = run_extraction(spark, src, tmp_out, chunks=2)
    assert s1["chunks_run"] == s1["chunks_total"] > 0
    assert read_extracted(spark, tmp_out).count() == 100
    s2 = run_extraction(spark, src, tmp_out, chunks=2)
    assert s2["chunks_run"] == 0 and s2["chunks_skipped"] == s2["chunks_total"]


def test_non_local_input_fails_closed():
    """A file the runner cannot stat (any non-local URI) must fail the
    run, never be fingerprinted as unchanged."""
    from inxs_spark.plans.runner import _group_fingerprint

    with pytest.raises(ValueError, match="non-local"):
        _group_fingerprint(["s3://bucket/t/part-0.parquet"])


def test_resume_rejects_same_size_rewrite(spark, tiny_transcripts, tmp_out):
    """An input file rewritten in place with the same byte size but a
    new mtime is a changed file: its group reruns and no other group
    does. Once its content changes, the output follows the new file:
    no row extracted from the old file is kept."""
    from pyspark.sql import functions as F

    src = os.path.join(tmp_out, "src")
    spark.read.parquet(tiny_transcripts).limit(100).repartition(2) \
        .write.parquet(src)
    out = os.path.join(tmp_out, "out")
    run_extraction(spark, src, out, chunks=2, num_partitions=2)
    before = _manifests(out)

    victim = next(
        os.path.join(src, n) for n in sorted(os.listdir(src))
        if n.endswith(".parquet")
    )
    st = os.stat(victim)
    with open(victim, "rb") as fh:
        data = fh.read()
    with open(victim, "wb") as fh:
        fh.write(data)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(victim).st_size == st.st_size
    s2 = run_extraction(spark, src, out, chunks=2, num_partitions=2)
    assert s2["chunks_run"] == 1
    assert s2["chunks_skipped"] == s2["chunks_total"] - 1
    after = _manifests(out)
    rerun = [k for k in after if after[k] != before[k]]
    assert len(rerun) == 1
    assert after[rerun[0]]["input_snapshot_id"] != \
        before[rerun[0]]["input_snapshot_id"]

    # new content under the same name: rows with new keys replace it
    # (with its checksum sidecar, which Hadoop's local reader verifies)
    repl = os.path.join(tmp_out, "repl")
    spark.read.parquet(tiny_transcripts).limit(30) \
        .withColumn("conv_id", F.concat(F.lit("new-"), "conv_id")) \
        .coalesce(1).write.parquet(repl)
    name = next(n for n in os.listdir(repl) if n.endswith(".parquet"))
    shutil.copyfile(os.path.join(repl, name), victim)
    head, tail = os.path.split(victim)
    shutil.copyfile(os.path.join(repl, f".{name}.crc"),
                    os.path.join(head, f".{tail}.crc"))
    assert run_extraction(spark, src, out, chunks=2,
                          num_partitions=2)["chunks_run"] == 1
    fresh = os.path.join(tmp_out, "fresh")
    run_extraction(spark, src, fresh, chunks=2, num_partitions=2)
    assert _extracted(spark, out) == _extracted(spark, fresh)


def test_midjob_failure_then_resume(spark, tiny_transcripts, tmp_out, monkeypatch):
    """Driver-loss simulation WITHOUT manifest surgery: the job dies
    mid-run (injected failure on the second group); the group
    committed before it keeps its manifest, and the plain rerun
    recomputes ONLY the missing groups, converging to the full
    result."""
    import inxs_spark.plans.runner as R

    src = os.path.join(tmp_out, "src")
    base = spark.read.parquet(tiny_transcripts).limit(300)
    # 12 files in 3 groups: all 12 hashing into one group (no second
    # group to fail on) has probability 3**-11
    base.repartition(12).write.mode("overwrite").parquet(src)

    orig = R.extract_df
    calls = []
    group_of = {path: k for k, paths in _file_groups(spark, src, 3).items()
                for path in paths}

    def boom(df, *a, **kw):
        from inxs_spark.sources.io import local_path

        calls.append(group_of[local_path(df.inputFiles()[0])])
        if len(calls) == 2:
            raise RuntimeError("injected driver loss")
        return orig(df, *a, **kw)

    monkeypatch.setattr(R, "extract_df", boom)
    with pytest.raises(RuntimeError, match="injected driver loss"):
        run_extraction(spark, src, tmp_out, chunks=3, num_partitions=2)
    assert sorted(_manifests(tmp_out)) == calls[:1]  # committed before the crash

    monkeypatch.setattr(R, "extract_df", orig)
    summary = run_extraction(spark, src, tmp_out, chunks=3, num_partitions=2)
    assert summary["chunks_skipped"] == 1
    assert summary["chunks_run"] == summary["chunks_total"] - 1
    assert read_extracted(spark, tmp_out).count() == 300
    assert _lineage_totals(spark, tmp_out) == (300, 300)


def test_lineage_metrics(spark, tiny_transcripts, tmp_out):
    """One lineage row per committed group, counted on the group's
    write: rows sum to the input, failures to the written failures."""
    run_extraction(spark, tiny_transcripts, tmp_out, chunks=2, num_partitions=4)
    metrics = spark.read.parquet(os.path.join(tmp_out, "metrics_table"))
    rows = metrics.collect()
    assert rows, "metrics table empty"
    manifests = _manifests(tmp_out)
    assert sorted(r.chunk_id for r in rows) == sorted(manifests)
    n_input = spark.read.parquet(tiny_transcripts).count()
    assert _lineage_totals(spark, tmp_out) == (n_input, n_input)
    hashes = {r.rule_set_hash for r in rows}
    assert hashes == {MAIN_CONTENT.fingerprint()}
    # each record carries its group's input fingerprint and row count
    for r in rows:
        assert r.input_snapshot_id == manifests[r.chunk_id]["input_snapshot_id"]
        assert r.rows_out == manifests[r.chunk_id]["rows_out"]
    # failures are the written ones (synthetic mix includes ~3% malformed)
    n_failed = read_extracted(spark, tmp_out).filter("failure IS NOT NULL").count()
    assert n_failed > 0
    assert sum(r.failures for r in rows) == n_failed


def test_recomputed_group_drops_per_partition_records(spark, tiny_transcripts,
                                                      tmp_out):
    """An out_root whose lineage was written one record per (group,
    partition), ``c<k>-p<p>.json``, resumes without double counting:
    a recomputed group's old records are deleted with its new one."""
    from inxs_spark.sources.io import write_json_atomic

    run_extraction(spark, tiny_transcripts, tmp_out, chunks=2, num_partitions=4)
    k = min(_manifests(tmp_out))
    _drop_group(tmp_out, k)
    write_json_atomic(
        os.path.join(tmp_out, "metrics", f"c{k:04d}-p00000.json"),
        {"chunk_id": k, "rows_in": 999, "rows_out": 999, "failures": 9},
    )
    summary = run_extraction(spark, tiny_transcripts, tmp_out, chunks=2,
                             num_partitions=4)
    assert summary["chunks_run"] == 1
    assert sorted(os.listdir(os.path.join(tmp_out, "metrics"))) == sorted(
        f"c{g:04d}.json" for g in _manifests(tmp_out))
    n_input = spark.read.parquet(tiny_transcripts).count()
    assert _lineage_totals(spark, tmp_out) == (n_input, n_input)


def test_resume_with_new_partitioning_keeps_lineage_exact(spark, tiny_transcripts,
                                                          tmp_out):
    """A group recomputed with fewer partitions must not leave its old
    per-partition lineage records behind: the metrics table still sums
    to the input row count."""
    run_extraction(spark, tiny_transcripts, tmp_out, chunks=2, num_partitions=4)
    _drop_group(tmp_out, min(_manifests(tmp_out)))
    summary = run_extraction(spark, tiny_transcripts, tmp_out, chunks=2,
                             num_partitions=2)
    assert summary["chunks_run"] == 1
    n_input = spark.read.parquet(tiny_transcripts).count()
    assert _lineage_totals(spark, tmp_out) == (n_input, n_input)


def test_manifest_contents(spark, tiny_transcripts, tmp_out):
    summary = run_extraction(spark, tiny_transcripts, tmp_out, chunks=2,
                             num_partitions=2)
    manifests = _manifests(tmp_out)
    assert len(manifests) == summary["chunks_total"]
    assert sum(m["n_files"] for m in manifests.values()) == \
        len(spark.read.parquet(tiny_transcripts).inputFiles())
    k, manifest = next(iter(manifests.items()))
    assert set(manifest) == {
        "run_id", "chunk_id", "n_chunks", "status", "rows_out",
        "rule_set_hash", "n_files", "output_fingerprint", "completed_at",
        "input_snapshot_id",
    }
    assert manifest["chunk_id"] == k and manifest["n_chunks"] == 2
    assert manifest["run_id"] == summary["run_id"]
    assert manifest["status"] == "completed"
    assert manifest["rows_out"] > 0
    assert manifest["rule_set_hash"] == MAIN_CONTENT.fingerprint()
    assert manifest["output_fingerprint"].startswith("files-")


def test_deduped_pipeline_byte_identical(spark, tiny_transcripts):
    """extract_df_deduped must be indistinguishable from extract_df —
    same kernel, same rows, same spans — while computing each DISTINCT
    payload once."""
    from inxs_spark.plans.extract_pipeline import extract_df, extract_df_deduped

    df = spark.read.parquet(tiny_transcripts)
    key = lambda r: (r.conv_id, r.turn_idx)
    val = lambda r: (r.extracted_text, tuple(map(tuple, r.spans)), r.failure)
    a = {key(r): val(r) for r in extract_df(df).collect()}
    b = {key(r): val(r) for r in extract_df_deduped(df).collect()}
    assert a == b


def test_deduped_pipeline_on_duplicate_heavy_input(spark):
    """A corpus where one payload repeats 500x: results still per-turn
    correct (the 10^12-turn win case: kernel runs once per distinct)."""
    from inxs_spark.plans.extract_pipeline import extract_df_deduped

    rows = [("c%03d" % (i % 10), i // 10, "<p>same <b>body</b></p>")
            for i in range(500)]
    rows += [("unique", 0, "<article><nav>x</nav><p>only once</p></article>"),
             ("empty", 0, None),
             # literal 'NULL' text must NOT collide with the null-text
             # sentinel (sentinel is 4 chars, md5 keys are 32 — disjoint)
             ("nulltext", 0, "NULL")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")
    got = {(r.conv_id, r.turn_idx): (r.extracted_text, r.failure)
           for r in extract_df_deduped(df).collect()}
    assert len(got) == 503
    assert got[("c000", 0)] == ("same body", None)
    assert got[("unique", 0)] == ("only once", None)
    assert got[("empty", 0)] == ("", None)
    assert got[("nulltext", 0)] == ("NULL", None)


def test_deduped_pipeline_plan_shuffles_on_fp_only(spark, tiny_transcripts):
    """extract_df_deduped runs the kernel in ONE MapInArrow, and every
    shuffle in its plan hashes on the payload fingerprint: a fan-out on
    the literal keys the kernel hop carries would put every distinct
    payload on one task. Broadcast is off, so the join-back plans the
    shuffle join it takes at scale."""
    import re

    from inxs_spark.plans.extract_pipeline import extract_df_deduped

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = extract_df_deduped(
            spark.read.parquet(tiny_transcripts)
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("MapInArrow") == 1, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges, plan
    for ln in exchanges:
        assert re.search(r"Exchange hashpartitioning\(fp#\d+, \d+\)", ln), plan


def test_contract_deduped_equals_plain(spark, tiny_transcripts):
    """x_extract_deduped must match x_extract_transcripts row-for-row."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r.conv_id, r.turn_idx)
    a = {key(r): r.extracted_text for r in E.extra_queries()["x_extract_transcripts"](spark, sf).collect()}
    b = {key(r): r.extracted_text for r in E.extra_queries()["x_extract_deduped"](spark, sf).collect()}
    assert a == b


def test_default_fanout_partitions_rule(spark, tiny_transcripts):
    """The reported count is the number of kernel tasks extract_df runs
    (the tasks of its write's result stage), read from the planned
    scan with no Spark job: the scan's own splits, or one task per
    core for a scan with fewer splits than cores. A plan that already
    shuffles is refused."""
    from inxs_spark.plans.extract_pipeline import default_fanout_partitions
    from inxs_spark.sources.io import local_path

    cores = spark.sparkContext.defaultParallelism
    wide = spark.read.parquet(tiny_transcripts)
    assert len(wide.inputFiles()) > 1
    largest = max(wide.inputFiles(), key=lambda f: os.path.getsize(local_path(f)))
    narrow = spark.read.parquet(largest)
    for name, df in (("wide", wide), ("narrow", narrow)):
        got = []
        assert _jobs_in_group(
            spark, f"fanout-{name}",
            lambda: got.append(default_fanout_partitions(df)),
        ) == 0
        tasks = _result_stage_tasks(
            spark, f"fanout-write-{name}",
            lambda: extract_df(df).write.format("noop").mode(
                "overwrite").save(),
        )
        assert got == [tasks]
        if name == "narrow":
            assert got == [cores]

    with pytest.raises(ValueError, match="already shuffles"):
        default_fanout_partitions(spark.range(10).repartition(7))


def test_post_shuffle_and_cached_stages_sized_by_cores(spark):
    """Stages after a small shuffle run on about one task per core,
    not on one task (AQE's 1 MB coalescing floor) or on every shuffle
    partition (a cached plan keeps its 32 unless it may coalesce): a
    persisted post-shuffle frame of a few hundred rows reads back with
    at most 2 x cores partitions, and a projection after a shuffle of
    a few kilobytes runs on at least cores tasks."""
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 32
    cached = (
        spark.range(300).groupBy((F.col("id") % 50).alias("k")).count()
        .persist()
    )
    try:
        cached.count()
        tasks = _result_stage_tasks(
            spark, "sizing-cached",
            lambda: cached.write.format("noop").mode("overwrite").save(),
        )
        assert tasks <= 2 * cores, tasks
        assert cached.rdd.getNumPartitions() <= 2 * cores
    finally:
        cached.unpersist()

    hashed = (
        spark.range(0, 64 * cores, numPartitions=1).repartition("id")
        .select(F.sha2(F.col("id").cast("string"), 512).alias("h"))
    )
    tasks = _result_stage_tasks(
        spark, "sizing-post-shuffle",
        lambda: hashed.write.format("noop").mode("overwrite").save(),
    )
    assert cores <= tasks <= 2 * cores, tasks


def test_transform_df_matches_serial_kernel(spark, tiny_transcripts):
    """Generic runner parity: Spark table-records output must equal the
    serial kernel applied per turn (same transformation object)."""
    from inxs_spark.kernel import Rule, Transformation, lib
    from inxs_spark.kernel.parse import ParseError, parse_payload
    from inxs_spark.plans.transform_pipeline import transform_df

    def row_cells(element):
        return tuple(c.full_text() for c in element.children)

    t = Transformation(
        Rule("tr", (row_cells, lib.append("rows"))),
        name="table-extraction", result_object="context.rows",
    )
    df = spark.read.parquet(tiny_transcripts)
    got = sorted(
        (r.conv_id, r.turn_idx, r.row_idx, tuple(r.cells))
        for r in transform_df(
            df, t, result_schema="row_idx int, cells array<string>",
            result_fn=lambda rows, _r: [
                {"row_idx": i, "cells": list(x)} for i, x in enumerate(rows or [])
            ],
        ).collect()
    )
    want = []
    for row in df.collect():
        try:
            root, _ = parse_payload(row.text)
            if root is None:
                continue
            result = t(root)  # raises when no <tr> matched (context.rows
            # unset) — the runner's on_error='skip' policy drops those
        except Exception:
            continue
        for i, cells in enumerate(result or []):
            want.append((row.conv_id, row.turn_idx, i, tuple(cells)))
    assert got == sorted(want) and got, (len(got), len(want))


def test_every_contract_query_analyzes(spark):
    """Bitrot guard for the driver contract: every queries() entry must
    at least pass Catalyst ANALYSIS at the tiny tier (resolves columns,
    types, UDF signatures — no execution). Full value checks run via
    tools/check_contract.py and the driver's oracle pass."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    oracles = E.oracle_sql()
    failures = []
    for name, fn in E.queries().items():
        try:
            df = fn(spark, sf)
            df.schema  # forces analysis
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            failures.append((name, repr(exc)[:200]))
    assert not failures, failures
    # every oracle key must have a matching query
    assert set(oracles) <= set(E.queries())


def test_contract_registry_within_driver_cap(spark):
    """The driver records at most the FIRST 50 queries() entries
    (CORRECTNESS_r03 was exactly the first 50 registry keys), so the
    contract registry must stay at ≤50 entries and EVERY entry must
    carry an oracle — otherwise a query silently loses its driver
    evidence. Demo/raw-output queries belong in extra_queries()."""
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) <= 50, (
        f"{len(qs)} contract queries — the driver only records the "
        "first 50; move demos to extra_queries()"
    )
    assert set(qs) == set(oracles), (
        set(qs) ^ set(oracles)
    )


def _exchange_outputs(df):
    """(name, partitioning, attribute names) of every (shuffle/
    broadcast) Exchange in the FINAL executed plan (AQE-resolved, so
    run an action first)."""
    df.write.format("noop").mode("overwrite").save()
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Exchange" in name:
            attrs = [
                node.output().apply(i).name()
                for i in range(node.output().size())
            ]
            try:
                part = node.outputPartitioning().toString()
            except Exception:
                part = ""
            out.append((name, part, attrs))
        n = node.children().size()
        for i in range(n):
            walk(node.children().apply(i))
        # AQE wrapper nodes hide their child plan behind specific
        # accessors rather than children()
        for getter in ("executedPlan", "finalPhysicalPlan"):
            if hasattr(node, getter):
                try:
                    walk(getattr(node, getter)())
                except Exception:
                    pass

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_compute_fanout_runs_no_spark_job(spark, tmp_out):
    """The fan-out rule reads the planned partition count only: no
    Spark job on a scan, on a persisted frame that is not materialized
    yet (with and without a shuffle in its plan) or on a driver-built
    frame. Narrow inputs fan out; a plan that already shuffles does
    not."""
    from inxs_spark.operators.fanout import ensure_compute_fanout

    path = os.path.join(tmp_out, "one_file")
    spark.range(10).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    cached = spark.read.parquet(path).persist()
    shuffled = spark.read.parquet(path).repartition(3, "id").persist()
    built = spark.createDataFrame([(1, "a")], "id long, text string").coalesce(1)
    try:
        for name, df, fires in (("scan", scan, True), ("cached", cached, True),
                                ("shuffled", shuffled, False),
                                ("built", built, True)):
            got = []
            assert _jobs_in_group(
                spark, f"fanout-probe-{name}",
                lambda: got.append(ensure_compute_fanout(df, "id")),
            ) == 0, name
            assert (got[0] is not df) == fires, name
    finally:
        cached.unpersist()
        shuffled.unpersist()


def test_compute_fanout_sizes_percent_encoded_paths(spark, tmp_out):
    """Spark lists a file under a directory with a space in its name
    as ``file:/…/a%20b/part-….parquet``; the planned partition count
    does not depend on that URI, so the single-file scan still fans
    out."""
    from inxs_spark.operators.fanout import ensure_compute_fanout

    path = os.path.join(tmp_out, "a b", "one_file")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in uri for uri in df.inputFiles())
    assert ensure_compute_fanout(df) is not df


def test_containment_exchanges_are_digest_only(spark):
    """containment_pairs at any tier must shuffle DIGESTS, never window
    or document text, across any exchange."""
    from inxs_spark.operators.text import containment_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = _exchange_outputs(containment_pairs(docs))
    assert ex, "expected at least one exchange"
    forbidden = {"text", "line", "__t", "__toks"}
    for name, part, attrs in ex:
        assert not (forbidden & set(attrs)), (name, part, attrs)


def test_boilerplate_exchanges_never_carry_documents(spark):
    """remove_boilerplate_lines: the frequency/anti-join side shuffles
    16-byte line digests only, and NO exchange ever carries the full
    document text column — the single allowed text-bearing exchange is
    the per-document reassembly groupBy, which moves individual
    SURVIVING lines (the documented shape)."""
    from inxs_spark.operators.text import remove_boilerplate_lines

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = _exchange_outputs(remove_boilerplate_lines(docs, min_docs=5))
    assert ex, "expected at least one exchange"
    for name, part, attrs in ex:
        assert "text" not in attrs, (name, part, attrs)
    digest_ex = [
        attrs for _n, _p, attrs in ex
        if "line_md5" in attrs or any(a.startswith("n_docs") for a in attrs)
    ]
    assert any("line" not in attrs for attrs in digest_ex), ex


def test_custom_transformation_through_pipeline(spark, tiny_transcripts):
    """User rule-sets (not the fused preset) must run inside the Arrow
    UDF — including a transformation whose compiled-invoker caches are
    already WARM from local use (cloudpickle must carry the closures)."""
    from inxs_spark.kernel import Ref, Rule, Transformation, lib
    from inxs_spark.kernel.parse import parse_payload
    from inxs_spark.plans.extract_pipeline import extract_df

    custom = Transformation(
        [
            Rule("nav", (lib.append("trash", Ref("element")),)),
            Rule("footer", (lib.append("trash", Ref("element")),)),
        ],
        lib.remove_elements("trash"),
        name="custom-nav-footer-only",
        copy=False,
        result_object="tree",
    )
    # warm the caches locally BEFORE shipping to executors
    root, _ = parse_payload("<body><nav>m</nav><p>keep</p></body>")
    assert custom(root).full_text() == "keep"

    df = spark.read.parquet(tiny_transcripts).limit(300)
    rows = extract_df(df, transformation=custom).collect()
    assert rows
    # serial comparison with the same (already warm) transformation
    import inxs_spark.extract as X
    for r in rows[:100]:
        payload = df.filter(
            (df.conv_id == r.conv_id) & (df.turn_idx == r.turn_idx)
        ).collect()[0].text
        text, _s, fail = X.extract_turn(payload, custom)
        assert (r.extracted_text, r.failure) == (text, fail)


def test_transform_df_on_error_raise(spark):
    from inxs_spark.kernel import Rule, Transformation, lib
    from inxs_spark.plans.transform_pipeline import transform_df

    t = Transformation(
        Rule("tr", (lib.get_text, lib.append("rows"))),
        result_object="context.rows",
    )
    df = spark.createDataFrame(
        [("c1", 0, "<table><tr>x</tr></table>"), ("c1", 1, "<doc><broken")],
        "conv_id string, turn_idx int, text string",
    )
    # skip (default): the broken payload just disappears
    ok = transform_df(
        df, t, result_schema="cell string",
        result_fn=lambda rows, _r: [{"cell": str(r)} for r in (rows or [])],
    ).collect()
    assert len(ok) == 1
    # raise: the same input fails the job
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        transform_df(
            df, t, result_schema="cell string",
            result_fn=lambda rows, _r: [{"cell": str(r)} for r in (rows or [])],
            on_error="raise",
        ).collect()


def test_passthrough_cols_reject_output_names(spark, tiny_transcripts):
    """A passthrough column named like an output column or the text
    input is refused up front, naming the offender."""
    from inxs_spark.plans.extract_pipeline import extract_df

    turns = spark.read.parquet(tiny_transcripts)
    for name in ("text", "conv_id", "failure", "spans"):
        with pytest.raises(ValueError, match=f"'{name}'"):
            extract_df(turns, passthrough_cols=("role", name))


def test_passthrough_cols_equal_join_back(spark, tiny_transcripts):
    """passthrough_cols carries source columns through the Arrow hop
    1:1: values equal the join-back formulation, and the plan contains
    NO join (the whole point — at scale the join-back is two more
    full-corpus shuffles)."""
    from pyspark.sql import functions as F

    from inxs_spark.plans.extract_pipeline import extract_df

    turns = spark.read.parquet(tiny_transcripts)
    through = extract_df(turns, passthrough_cols=("role", "tool"))
    assert through.columns[-2:] == ["role", "tool"]

    joined = extract_df(turns).join(
        turns.select("conv_id", "turn_idx", "role", "tool"),
        ["conv_id", "turn_idx"],
    )
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    got = {key(r): (r.extracted_text, r.failure, r.role, r.tool)
           for r in through.collect()}
    want = {key(r): (r.extracted_text, r.failure, r.role, r.tool)
            for r in joined.collect()}
    assert got == want and len(got) > 0

    plan = through._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # AQE prints final + initial sections; count the final one only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 0  # the kernel maps over the scan
