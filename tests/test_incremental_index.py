"""Persisted MinHash/SimHash indexes: incremental dedup of a new batch
against an indexed corpus must equal a full recompute over the grown
corpus (round-5; closes the round-4 'growing-corpus ingestion recomputes
the corpus side' gap)."""

import os

import pytest

from pyspark.sql import functions as F


def _release(df):
    """Release the candidate-pair cache an eager verify leaves on a
    one-shot result (incremental results are local checkpoints:
    ``release_checkpoint``)."""
    c = getattr(df, "_candidate_pairs_cache", None)
    if c is not None:
        c.unpersist()


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(autouse=True)
def _no_leaked_caches(request):
    """Every test here releases every cache and checkpoint it makes:
    a test that leaves a persisted RDD behind fails."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = _persisted(spark)
    yield
    leaked = _persisted(spark) - before
    assert leaked == 0, f"{leaked} persisted RDD(s) left behind"


def _path(df):
    """Which verify plan jaccard_verify built: "prune" semi-joins the
    corpus to the candidate ids, "lazy" does not."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "prune" if "LeftSemi" in plan else "lazy"


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_rows():
    """30 old docs: three near-dup families plus unique fillers."""
    fam_a = "the quick brown fox jumps over the lazy dog again and again"
    fam_b = "pack my box with five dozen liquor jugs every single day"
    rows = []
    for i in range(30):
        if i % 10 == 0:
            rows.append((i, fam_a))
        elif i % 10 == 1:
            rows.append((i, fam_a + " extra"))
        elif i % 10 == 2:
            rows.append((i, fam_b))
        else:
            rows.append((i, f"unique filler document number {i} with "
                            f"words w{i}a w{i}b w{i}c w{i}d w{i}e"))
    return rows


def _batch_rows(start, fam_extra=""):
    """15 new docs: dups of old family A, internal dups, fillers."""
    fam_a = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for j in range(15):
        i = start + j
        if j % 5 == 0:
            rows.append((i, fam_a + fam_extra))
        elif j % 5 == 1:
            rows.append((i, "brand new nearly identical pair text "
                            "alpha beta gamma delta epsilon zeta"))
        elif j % 5 == 2:
            rows.append((i, "brand new nearly identical pair text "
                            "alpha beta gamma delta epsilon eta"))
        else:
            rows.append((i, f"fresh filler {i} tokens x{i}a x{i}b "
                            f"x{i}c x{i}d x{i}e x{i}f"))
    return rows


PARAMS = dict(k=3, num_perm=64, bands=16)
THRESH = 0.5


def _pairset(rows):
    return {(r.id_a, r.id_b) for r in rows}


class TestMinhashIncremental:
    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        """old pairs ∪ incremental pairs == one-shot pairs over the
        grown corpus (uncapped buckets), across TWO appended batches;
        every incremental pair involves a batch id."""
        from inxs_spark.operators.dedup import (
            minhash_dedup_pairs, minhash_dedup_pairs_incremental,
            minhash_write_index, release_checkpoint,
        )

        idx = str(tmp_path / "mh_index")
        old_rows = _corpus_rows()
        b1_rows = _batch_rows(100)
        b2_rows = _batch_rows(200, fam_extra=" tail")
        old = _mk_docs(spark, old_rows)

        stats = minhash_write_index(old, idx, **PARAMS)
        assert stats["n_docs"] == 30
        assert stats["n_memberships"] == 30 * PARAMS["bands"]

        base = minhash_dedup_pairs(
            old, threshold=THRESH, max_bucket=10_000, **PARAMS
        )
        got = _pairset(base.collect())
        _release(base)

        for batch_rows in (b1_rows, b2_rows):
            batch = _mk_docs(spark, batch_rows)
            inc = minhash_dedup_pairs_incremental(
                batch, idx, threshold=THRESH, max_bucket=10_000,
                append=True,
            )
            inc_rows = inc.collect()
            release_checkpoint(inc)
            batch_ids = {i for i, _t in batch_rows}
            assert inc_rows, "expected cross/within-batch near-dups"
            for r in inc_rows:
                assert r.id_a in batch_ids or r.id_b in batch_ids
            got |= _pairset(inc_rows)

        grown = _mk_docs(spark, old_rows + b1_rows + b2_rows)
        full = minhash_dedup_pairs(
            grown, threshold=THRESH, max_bucket=10_000, **PARAMS
        )
        want = _pairset(full.collect())
        _release(full)
        assert got == want

        # meta tracked the growth
        from inxs_spark.operators.dedup import _read_index_meta, \
            MINHASH_INDEX_FORMAT
        meta = _read_index_meta(idx, MINHASH_INDEX_FORMAT)
        assert meta["n_docs"] == 60 and meta["mode"] == "word"

    def test_no_append_leaves_index_unchanged(self, spark, tmp_path):
        from inxs_spark.operators.dedup import (
            _read_index_meta, MINHASH_INDEX_FORMAT,
            minhash_dedup_pairs_incremental, minhash_write_index,
            release_checkpoint,
        )

        idx = str(tmp_path / "mh_index_ro")
        minhash_write_index(_mk_docs(spark, _corpus_rows()), idx, **PARAMS)
        before = _read_index_meta(idx, MINHASH_INDEX_FORMAT)
        inc = minhash_dedup_pairs_incremental(
            _mk_docs(spark, _batch_rows(100)), idx,
            threshold=THRESH, max_bucket=10_000, append=False,
        )
        rows1 = _pairset(inc.collect())
        release_checkpoint(inc)
        assert _read_index_meta(idx, MINHASH_INDEX_FORMAT) == before
        # read-only run is repeatable
        inc2 = minhash_dedup_pairs_incremental(
            _mk_docs(spark, _batch_rows(100)), idx,
            threshold=THRESH, max_bucket=10_000, append=False,
        )
        assert _pairset(inc2.collect()) == rows1
        release_checkpoint(inc2)

    def test_wrong_format_rejected(self, spark, tmp_path):
        from inxs_spark.operators.dedup import (
            minhash_dedup_pairs_incremental, simhash_write_index,
        )

        idx = str(tmp_path / "sh_as_mh")
        simhash_write_index(_mk_docs(spark, _corpus_rows()[:5]), idx)
        with pytest.raises(ValueError, match="expected"):
            minhash_dedup_pairs_incremental(
                _mk_docs(spark, _batch_rows(100)[:3]), idx
            )

    def test_other_shingle_mode_rejected(self, spark, tmp_path):
        """Indexes record their shingle mode; one built with anything
        but word shingles is refused before any Spark work."""
        from inxs_spark.operators.dedup import (
            MINHASH_INDEX_FORMAT, _write_index_meta,
            minhash_dedup_pairs_incremental,
        )

        idx = str(tmp_path / "char_index")
        _write_index_meta(idx, {
            "format": MINHASH_INDEX_FORMAT, "k": 3, "num_perm": 64,
            "bands": 16, "mode": "char", "n_docs": 0,
        })
        with pytest.raises(ValueError, match="'char'"):
            minhash_dedup_pairs_incremental(
                _mk_docs(spark, _batch_rows(100)[:3]), idx
            )


class TestSimhashIncremental:
    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        from inxs_spark.operators.dedup import (
            release_checkpoint, simhash_dup_pairs,
            simhash_dup_pairs_incremental, simhash_write_index,
        )

        idx = str(tmp_path / "sh_index")
        old_rows = _corpus_rows()
        b1_rows = _batch_rows(100)
        old = _mk_docs(spark, old_rows)
        stats = simhash_write_index(old, idx)
        assert stats["n_docs"] == 30

        base = simhash_dup_pairs(old, max_hamming=8)
        got = _pairset(base.collect())

        batch = _mk_docs(spark, b1_rows)
        inc = simhash_dup_pairs_incremental(
            batch, idx, max_hamming=8, append=True
        )
        inc_rows = inc.collect()
        release_checkpoint(inc)
        assert inc_rows
        batch_ids = {i for i, _t in b1_rows}
        for r in inc_rows:
            assert r.id_a in batch_ids or r.id_b in batch_ids
        got |= _pairset(inc_rows)

        full = simhash_dup_pairs(
            _mk_docs(spark, old_rows + b1_rows), max_hamming=8
        )
        assert got == _pairset(full.collect())

        from inxs_spark.operators.dedup import _read_index_meta, \
            SIMHASH_INDEX_FORMAT
        assert _read_index_meta(idx, SIMHASH_INDEX_FORMAT)["n_docs"] == 45

    @pytest.mark.parametrize("n_blocks", [0, 70])
    def test_incremental_rejects_out_of_range_n_blocks(self, spark, tmp_path,
                                                       n_blocks):
        """The incremental search builds its keys with the batch
        search's key builder, so it range-checks ``n_blocks`` the same
        way, before the batch's signature pass is cached."""
        from inxs_spark.operators.dedup import (
            simhash_dup_pairs_incremental, simhash_write_index,
        )

        idx = str(tmp_path / "sh_index")
        simhash_write_index(_mk_docs(spark, _corpus_rows()), idx)
        batch = _mk_docs(spark, _batch_rows(100))
        cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        with pytest.raises(ValueError, match="n_blocks"):
            simhash_dup_pairs_incremental(
                batch, idx, n_blocks=n_blocks, append=False,
            )
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached


class TestIncrementalDedupJob:
    def test_job_bootstrap_then_incremental(self, spark, tmp_path):
        """jobs.dedup with index_dir: first call initializes the index
        from the batch (one-shot dedup within it); the second call
        dedupes against the index — and the index WINS even when the
        new duplicate has a smaller id than the indexed copy."""
        from inxs_spark.jobs.dedup import dedup_job
        from inxs_spark.operators.dedup import (
            _read_index_meta, MINHASH_INDEX_FORMAT,
        )

        idx = str(tmp_path / "job_index")
        out1 = str(tmp_path / "out1")
        out2 = str(tmp_path / "out2")
        fam = "the quick brown fox jumps over the lazy dog again and again"
        batch1 = spark.createDataFrame(
            [(100, fam), (101, fam + " extra"),
             (102, "unique one alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        s1 = dedup_job(batch1, out1, method="minhash", threshold=0.5,
                       index_dir=idx)
        assert s1.get("index_initialized") is True
        assert s1["input"] == 3 and s1["output"] == 2  # 100/101 near-dup
        assert _read_index_meta(idx, MINHASH_INDEX_FORMAT)["n_docs"] == 3

        # batch 2: id 5 < 100 duplicates the INDEXED family — must be
        # dropped (index wins); id 6 is genuinely new and survives
        batch2 = spark.createDataFrame(
            [(5, fam), (6, "another unique eta theta iota kappa mu nu")],
            "doc_id long, text string",
        )
        s2 = dedup_job(batch2, out2, method="minhash", threshold=0.5,
                       index_dir=idx)
        assert s2["input"] == 2 and s2["output"] == 1
        surv = {r.doc_id for r in
                spark.read.parquet(out2 + "/survivors").collect()}
        assert surv == {6}
        # pairs evidence written and involves the indexed copy
        pr = spark.read.parquet(out2 + "/pairs").collect()
        assert any({r.id_a, r.id_b} & {100, 101} for r in pr)
        # batch appended: next batches see 5 docs
        assert _read_index_meta(idx, MINHASH_INDEX_FORMAT)["n_docs"] == 5

    def test_exact_method_rejects_incremental(self, spark, tmp_path):
        from inxs_spark.jobs.dedup import dedup_job

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="incremental"):
            dedup_job(df, str(tmp_path / "o"), method="exact",
                      index_dir=str(tmp_path / "i"))


class TestAutoPruneVerify:
    def test_auto_picks_lazy_on_small_corpus(self, spark):
        """Below AUTO_PRUNE_MIN_CORPUS the lazy plan runs (no eager
        corpus semi-prune), with identical output."""
        from inxs_spark.operators.dedup import minhash_dedup_pairs

        docs = _mk_docs(spark, _corpus_rows())
        auto = minhash_dedup_pairs(
            docs, threshold=THRESH, max_bucket=10_000,
            prune_verify="auto", corpus_n_rows=30, **PARAMS,
        )
        got = _pairset(auto.collect())
        _release(auto)
        assert _path(auto) == "lazy"
        lazy = minhash_dedup_pairs(
            docs, threshold=THRESH, max_bucket=10_000, **PARAMS
        )
        assert got == _pairset(lazy.collect())

    def test_auto_picks_prune_on_large_corpus_hint(self, spark):
        """A large corpus hint with few candidates flips to the prune
        path (hint-driven — no probe job), same output."""
        from inxs_spark.operators.dedup import minhash_dedup_pairs

        docs = _mk_docs(spark, _corpus_rows())
        auto = minhash_dedup_pairs(
            docs, threshold=THRESH, max_bucket=10_000,
            prune_verify="auto", corpus_n_rows=1_000_000, **PARAMS,
        )
        got = _pairset(auto.collect())
        _release(auto)
        assert _path(auto) == "prune"
        lazy = minhash_dedup_pairs(
            docs, threshold=THRESH, max_bucket=10_000, **PARAMS
        )
        assert got == _pairset(lazy.collect())

    def test_auto_probe_path_without_hint(self, spark):
        """No hint: the clamped probe decides (small corpus -> lazy)."""
        from inxs_spark.operators.dedup import minhash_dedup_pairs

        docs = _mk_docs(spark, _corpus_rows())
        auto = minhash_dedup_pairs(
            docs, threshold=THRESH, max_bucket=10_000,
            prune_verify="auto", **PARAMS,
        )
        auto.collect()
        _release(auto)
        assert _path(auto) == "lazy"


class TestMembershipsPlan:
    def test_memberships_single_udf_eval(self, spark):
        """The signature Arrow UDF must appear as EXACTLY ONE
        ArrowEvalPython node with no exchange below the band explode —
        the property the (now removed) repartition barrier used to
        buy. If a future Spark version starts inlining the UDF into
        the per-band lambda again, this pins the regression."""
        from inxs_spark.operators.dedup import minhash_band_memberships

        docs = _mk_docs(spark, _corpus_rows())
        memb = minhash_band_memberships(docs)
        plan = memb._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, plan
        assert plan.count("sig_udf") == 1, plan
        assert "Exchange" not in plan, plan

    def test_memberships_fan_out_on_narrow_input_only(self, spark, tmp_path):
        """One small file plans fewer partitions than cores, so the
        signature stage gets exactly one round-robin exchange to one
        partition per core; a scan with at least one split per core
        plans no exchange at all."""
        from inxs_spark.operators.dedup import minhash_band_memberships

        cores = spark.sparkContext.defaultParallelism
        rows = spark.range(200).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc body number "), F.col("id")).alias("text"))
        one = str(tmp_path / "one")
        rows.coalesce(1).write.parquet(one)
        many = str(tmp_path / "many")
        rows.repartition(2 * cores).write.parquet(many)

        def plan(path):
            memb = minhash_band_memberships(spark.read.parquet(path))
            return memb._jdf.queryExecution().executedPlan().toString()

        narrow = plan(one)
        assert narrow.count("Exchange") == 1, narrow
        assert f"RoundRobinPartitioning({cores})" in narrow, narrow
        assert spark.read.parquet(many).rdd.getNumPartitions() >= cores
        assert "Exchange" not in plan(many)


class TestReplaySafety:
    def test_append_tag_ledger_and_self_exclusion(self, spark, tmp_path):
        """A replayed tagged append is a no-op on the index, and the
        replayed pair search returns the SAME pairs because the batch's
        own ids are excluded from the index side (never 'all dropped
        as dups of their own indexed copy')."""
        from inxs_spark.operators.dedup import (
            _read_index_meta, MINHASH_INDEX_FORMAT,
            minhash_dedup_pairs_incremental, minhash_write_index,
            release_checkpoint,
        )

        idx = str(tmp_path / "replay_idx")
        minhash_write_index(_mk_docs(spark, _corpus_rows()), idx, **PARAMS)
        batch = _mk_docs(spark, _batch_rows(100))
        first = minhash_dedup_pairs_incremental(
            batch, idx, threshold=THRESH, max_bucket=10_000,
            append=True, append_tag="b7",
        )
        want = _pairset(first.collect())
        release_checkpoint(first)
        meta1 = _read_index_meta(idx, MINHASH_INDEX_FORMAT)
        assert meta1["n_docs"] == 45 and meta1["appended_tags"] == ["b7"]
        n_memb1 = spark.read.parquet(idx + "/bands").count()

        # replay: same batch, same tag — correct pairs, index unchanged
        replay = minhash_dedup_pairs_incremental(
            batch, idx, threshold=THRESH, max_bucket=10_000,
            append=True, append_tag="b7",
        )
        got = _pairset(replay.collect())
        release_checkpoint(replay)
        assert got == want
        assert not [p for p in got if p[0] == p[1]]
        assert _read_index_meta(idx, MINHASH_INDEX_FORMAT) == meta1
        assert spark.read.parquet(idx + "/bands").count() == n_memb1

    @pytest.mark.parametrize("case", ["minhash_replay", "minhash_no_append",
                                      "simhash_no_append"])
    def test_result_is_the_only_cache_left(self, spark, tmp_path, case):
        """One cache contract in every mode: the incremental result is
        a local checkpoint and nothing else stays persisted, so
        ``release_checkpoint(result)`` brings the persisted-RDD count
        back to where it was before the call — a replayed tag (what a
        retried streaming microbatch sends) and ``append=False``
        included."""
        from inxs_spark.operators.dedup import (
            minhash_dedup_pairs_incremental, minhash_write_index,
            release_checkpoint, simhash_dup_pairs_incremental,
            simhash_write_index,
        )

        idx = str(tmp_path / "idx")
        old = _mk_docs(spark, _corpus_rows())
        batch = _mk_docs(spark, _batch_rows(100))
        if case == "simhash_no_append":
            simhash_write_index(old, idx)

            def call():
                return simhash_dup_pairs_incremental(
                    batch, idx, max_hamming=8, append=False)
        else:
            minhash_write_index(old, idx, **PARAMS)

            def call():
                return minhash_dedup_pairs_incremental(
                    batch, idx, threshold=THRESH, max_bucket=10_000,
                    append=case == "minhash_replay", append_tag="b1")
            if case == "minhash_replay":
                first = call()
                first.collect()
                release_checkpoint(first)
        before = _persisted(spark)
        result = call()
        assert result.collect()
        release_checkpoint(result)
        assert _persisted(spark) == before

    def test_meta_write_failure_keeps_previous_meta(self, tmp_path):
        """A meta.json write that fails part-way (here: a value json
        cannot serialize) leaves the previous meta readable and no
        temp file behind — the index stays usable after a crashed
        append."""
        from inxs_spark.operators.dedup import (
            MINHASH_INDEX_FORMAT, _read_index_meta, _write_index_meta,
        )

        idx = str(tmp_path / "idx")
        good = {"format": MINHASH_INDEX_FORMAT, "n_docs": 30}
        _write_index_meta(idx, good)
        with pytest.raises(TypeError):
            _write_index_meta(idx, {**good, "n_docs": 45, "bad": object()})
        assert _read_index_meta(idx, MINHASH_INDEX_FORMAT) == good
        assert os.listdir(idx) == ["meta.json"]

    def test_streaming_minhash_dedup(self, spark, tmp_path):
        """End-to-end streaming dedup against the persisted index:
        two microbatches; indexed near-dups win; the index grows with
        the batch ledger; the sink is batch_id-partitioned."""
        from inxs_spark.operators.dedup import (
            _read_index_meta, MINHASH_INDEX_FORMAT, minhash_write_index,
        )
        from inxs_spark.streaming.dedup_stream import streaming_minhash_dedup

        idx = str(tmp_path / "stream_idx")
        out = str(tmp_path / "stream_out")
        inp = str(tmp_path / "stream_in")
        minhash_write_index(_mk_docs(spark, _corpus_rows()), idx, **PARAMS)
        fam = "the quick brown fox jumps over the lazy dog again and again"
        # one file per microbatch (maxFilesPerTrigger=1)
        _mk_docs(spark, [(100, fam), (101, "uniq a1 b1 c1 d1 e1 f1")]) \
            .coalesce(1).write.parquet(inp + "/f1")
        _mk_docs(spark, [(200, fam + " extra"),
                         (201, "uniq a2 b2 c2 d2 e2 f2")]) \
            .coalesce(1).write.parquet(inp + "/f2")
        # flatten: the file-source reads a directory of parquet files
        import glob
        import shutil
        os_files = sorted(glob.glob(inp + "/f*/part-*.parquet"))
        for i, f in enumerate(os_files):
            shutil.copy(f, inp + f"/docs{i}.parquet")
        shutil.rmtree(inp + "/f1"); shutil.rmtree(inp + "/f2")

        q = streaming_minhash_dedup(
            spark, inp, out, idx, threshold=0.5,
            max_files_per_trigger=1, available_now=True,
        )
        q.awaitTermination(180)
        surv = spark.read.parquet(out + "/survivors")
        ids = {r.doc_id for r in surv.collect()}
        # fam dups of indexed docs are dropped; uniques survive
        assert 101 in ids and 201 in ids
        assert 100 not in ids and 200 not in ids
        meta = _read_index_meta(idx, MINHASH_INDEX_FORMAT)
        assert meta["n_docs"] == 34  # 30 + 2 + 2
        assert sorted(meta["appended_tags"]) == ["b0", "b1"]
        # evidence pairs exist and involve the batch ids
        prs = spark.read.parquet(out + "/pairs").collect()
        assert any({r.id_a, r.id_b} & {100, 200} for r in prs)
