"""Conversation-level operator tests."""

from pyspark.sql import functions as F


def _extracted(spark):
    rows = [
        ("c1", 1, "world", None),
        ("c1", 0, "hello", None),   # out of order on purpose
        ("c1", 2, None, "parse_error"),
        ("c2", 0, "hello", None),
        ("c2", 1, "world", None),
        ("c3", 0, "hello", None),
        ("c3", 1, "world", None),
        ("c3", 2, "", None),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string, failure string"
    )


def test_conversation_documents_order_and_nulls(spark):
    from inxs_spark.operators.conversations import conversation_documents

    docs = {r.conv_id: r for r in conversation_documents(_extracted(spark)).collect()}
    assert docs["c1"].conv_text == "hello\nworld\n"  # sorted by turn_idx; null → ''
    assert docs["c1"].n_turns == 3
    assert docs["c2"].conv_text == "hello\nworld"


def test_conversation_documents_with_roles(spark):
    from inxs_spark.operators.conversations import conversation_documents

    df = spark.createDataFrame(
        [("c1", 0, "hi", None, "user"), ("c1", 1, "yo", None, "assistant")],
        "conv_id string, turn_idx int, extracted_text string, failure string, role string",
    )
    doc = conversation_documents(df, role_col="role").collect()[0]
    assert doc.conv_text == "user: hi\nassistant: yo"


def test_conversation_stats_and_dups(spark):
    from inxs_spark.operators.conversations import (
        conversation_dup_groups,
        conversation_stats,
    )

    stats = {r.conv_id: r for r in conversation_stats(_extracted(spark)).collect()}
    assert stats["c1"].n_failures == 1 and stats["c1"].max_turn_idx == 2
    assert stats["c2"].total_chars == 10
    dups = conversation_dup_groups(_extracted(spark)).collect()
    # c2 == "hello\nworld"; c1 == "hello\nworld\n" (trailing failed
    # turn) and c3 == "hello\nworld\n" (trailing empty turn) → c1≡c3
    assert len(dups) == 1
    assert dups[0].n_dups == 2 and dups[0].keep_conv_id == "c1"


def test_conversation_docs_e2e(spark, tiny_transcripts):
    from inxs_spark.operators.conversations import conversation_documents
    from inxs_spark.plans.extract_pipeline import extract_df

    extracted = extract_df(spark.read.parquet(tiny_transcripts))
    docs = conversation_documents(extracted)
    n_convs = spark.read.parquet(tiny_transcripts).select("conv_id").distinct().count()
    rows = docs.collect()
    assert len(rows) == n_convs
    total_turns = sum(r.n_turns for r in rows)
    assert total_turns == spark.read.parquet(tiny_transcripts).count()

def test_conversation_prefix_groups(spark):
    """Conversations sharing their first k turns group together even
    when later turns diverge; order of arrival doesn't matter; a
    conversation with a DIFFERENT prefix stays out."""
    from inxs_spark.operators.conversations import conversation_prefix_groups

    rows = [
        # a and b: same first 3 turns, divergent tails
        ("a", 0, "hi"), ("a", 1, "how can i help"), ("a", 2, "question"),
        ("a", 3, "answer one"),
        ("b", 2, "question"), ("b", 0, "hi"), ("b", 1, "how can i help"),
        ("b", 3, "a different answer"), ("b", 4, "more"),
        # c: prefix differs at turn 1
        ("c", 0, "hi"), ("c", 1, "unrelated"), ("c", 2, "question"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )
    groups = conversation_prefix_groups(df, k_turns=3).collect()
    assert len(groups) == 1
    assert groups[0].n_convs == 2 and groups[0].keep_conv_id == "a"
    # with k=1 all three share the 'hi' opener
    g1 = conversation_prefix_groups(df, k_turns=1).collect()
    assert len(g1) == 1 and g1[0].n_convs == 3


def test_conversation_prefix_groups_bounded_state(spark):
    """Aggregation state is k rows per conversation, not the whole
    conversation: the optimized plan filters on a row_number window
    BELOW the collect_list aggregate (round-3 verdict task 6), and a
    pair of 2000-turn conversations sharing only their opener still
    resolves correctly."""
    from inxs_spark.operators.conversations import conversation_prefix_groups

    rows = [("L1", i, f"turn {i} " + "x" * 50) for i in range(2000)]
    rows += [("L2", 0, "turn 0 " + "x" * 50)]
    rows += [("L2", i, f"DIFFERENT {i}") for i in range(1, 2000)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, extracted_text string"
    )
    out = conversation_prefix_groups(df, k_turns=3)
    assert out.collect() == []  # prefixes diverge at turn 1
    assert len(conversation_prefix_groups(df, k_turns=1).collect()) == 1

    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # collect_list (the aggregate) sits ABOVE the row_number window +
    # its <= k filter: full turn text never enters aggregation state
    assert "collect_list" in plan and "row_number" in plan
    assert plan.index("collect_list") < plan.index("row_number")
    assert "<= 3" in plan


def _sft_turns(spark):
    # conv "a": token counts 2,3,1,4,2 (whitespace words)
    rows = [
        ("a", 0, "user", "hi there"),                 # 2 tokens
        ("a", 1, "assistant", "hello big world"),     # 3
        ("a", 2, "user", "ok"),                       # 1
        ("a", 3, "assistant", "a b c d"),             # 4
        ("a", 4, "assistant", "x y"),                 # 2
        ("b", 0, "assistant", "solo opener"),         # no history
        ("b", 1, "user", None),                       # null text = 1 token
        ("b", 2, "assistant", "after empty"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_sft_example_index_budget_suffix(spark):
    """History is the maximal fitting SUFFIX of prior turns; empty
    text still counts one token; history-less targets get 0/null."""
    from inxs_spark.operators.conversations import sft_example_index

    idx = {
        (r.conv_id, r.target_idx): r
        for r in sft_example_index(_sft_turns(spark), 4).collect()
    }
    a1 = idx[("a", 1)]            # prior tokens: [2] -> fits (2<=4)
    assert (a1.n_history_turns, a1.history_start_idx,
            a1.history_tokens, a1.target_tokens) == (1, 0, 2, 3)
    a3 = idx[("a", 3)]            # priors 2,3,1: suffix [3,1]=4 fits, +2 overshoots
    assert (a3.n_history_turns, a3.history_start_idx,
            a3.history_tokens) == (2, 1, 4)
    a4 = idx[("a", 4)]            # priors ...,1,4: suffix [4] fits, [1,4]=5 no
    assert (a4.n_history_turns, a4.history_start_idx,
            a4.history_tokens) == (1, 3, 4)
    b0 = idx[("b", 0)]            # opener: no history
    assert (b0.n_history_turns, b0.history_start_idx,
            b0.history_tokens) == (0, None, 0)
    b2 = idx[("b", 2)]            # empty turn counts 1 token
    assert (b2.n_history_turns, b2.history_tokens) == (2, 3)
    assert len(idx) == 5          # assistant turns only


def test_sft_example_index_matches_serial_reference(spark):
    """Window formulation == an independent O(n^2) Python reference
    on a generated multi-conversation corpus."""
    from inxs_spark.operators.conversations import sft_example_index

    rows, want = [], {}
    for c in range(6):
        toks = [((c * 13 + i * 7) % 5) + 1 for i in range(30)]
        texts = [" ".join(["w"] * t) for t in toks]
        for i, txt in enumerate(texts):
            rows.append((f"c{c}", i, "assistant" if i % 2 else "user", txt))
        budget = 7
        for i in range(30):
            if i % 2 == 0:
                continue
            s, tot = i, 0
            while s > 0 and tot + toks[s - 1] <= budget:
                tot += toks[s - 1]
                s -= 1
            want[(f"c{c}", i)] = (i - s, s if s < i else None, tot)
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {
        (r.conv_id, r.target_idx): (
            r.n_history_turns, r.history_start_idx, r.history_tokens
        )
        for r in sft_example_index(df, 7).collect()
    }
    assert got == want


def test_sft_example_index_bpe_tokenizer_budget(spark):
    """The tokenizer= seam budgets in REAL subword tokens: a trained
    BPE tokenizer's per-turn counts (clamped to >= 1) drive the same
    RANGE-frame search, pinned against an O(n^2) serial reference
    that re-encodes every turn with the same frozen model."""
    from inxs_spark.operators.conversations import sft_example_index
    from inxs_spark.operators.tokenizer import bpe_train

    corpus = [
        "low lower lowest", "new newer newest", "wide wider widest",
        "low new wide", "lower newer wider", "",
    ]
    rows = []
    for c in range(4):
        for i in range(9):
            rows.append(
                (f"c{c}", i, "assistant" if i % 2 else "user",
                 corpus[(c * 5 + i * 3) % len(corpus)])
            )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    tok = bpe_train(df, num_merges=3, sample_docs=64, min_pair_freq=1)

    counts = {
        (c, i): max(len(tok.encode(t)), 1) for (c, i, _, t) in rows
    }
    budget, want = 9, {}
    for c in range(4):
        for i in range(1, 9, 2):
            s, tot = i, 0
            while s > 0 and tot + counts[(f"c{c}", s - 1)] <= budget:
                tot += counts[(f"c{c}", s - 1)]
                s -= 1
            want[(f"c{c}", i)] = (i - s, s if s < i else None, tot,
                                  counts[(f"c{c}", i)])
    got = {
        (r.conv_id, r.target_idx): (
            r.n_history_turns, r.history_start_idx,
            r.history_tokens, r.target_tokens,
        )
        for r in sft_example_index(df, budget, tokenizer=tok).collect()
    }
    assert got == want
    # BPE counts actually differ from whitespace counts somewhere
    ws = {k: len(t.split(" ")) for (c, i, _, t) in rows
          for k, t in [((c, i), t)]}
    assert any(counts[k] != ws[k] for k in counts)


def test_assemble_sft_examples_text(spark):
    from inxs_spark.operators.conversations import assemble_sft_examples

    out = {
        (r.conv_id, r.target_idx): r
        for r in assemble_sft_examples(_sft_turns(spark), 4).collect()
    }
    assert out[("a", 3)].history_text == "hello big world\nok"
    assert out[("a", 4)].history_text == "a b c d"
    assert out[("b", 0)].history_text == ""
    assert out[("b", 2)].history_text == "solo opener\n"  # empty turn kept
    assert len(out) == 5


def test_assemble_linearized_matches_fanout_shape(spark):
    """Round-6 shape change (round-5 verdict task 2): the linearized
    per-conv-array assembly must be row-identical to the old
    (examples × turns) join-then-filter fan-out, and its plan must not
    re-aggregate above the example join (the fan-out's second
    exchange)."""
    from pyspark.sql import functions as F

    from inxs_spark.operators.conversations import (
        assemble_sft_examples,
        sft_example_index,
    )

    turns = _sft_turns(spark)
    budget = 4
    new = assemble_sft_examples(turns, budget)

    # the pre-round-6 fan-out shape, reconstructed as the reference
    idx = sft_example_index(turns, budget)
    src = turns.select(
        "conv_id",
        F.col("turn_idx").alias("__hist_idx"),
        F.coalesce(F.col("text"), F.lit("")).alias("__hist_text"),
    )
    packed = F.struct(F.col("__hist_idx"), F.col("__hist_text"))
    old_assembled = (
        idx.filter(F.col("n_history_turns") > 0)
        .join(src, "conv_id")
        .filter(
            (F.col("__hist_idx") >= F.col("history_start_idx"))
            & (F.col("__hist_idx") < F.col("target_idx"))
        )
        .groupBy(
            "conv_id", "target_idx", "n_history_turns",
            "history_start_idx", "history_tokens", "target_tokens",
        )
        .agg(F.array_sort(F.collect_list(packed)).alias("__h"))
        .withColumn(
            "history_text",
            F.array_join(F.transform("__h", lambda s: s["__hist_text"]), "\n"),
        )
        .drop("__h")
    )
    old = old_assembled.unionByName(
        idx.filter(F.col("n_history_turns") == 0).withColumn(
            "history_text", F.lit("")
        )
    )

    key = lambda r: (r.conv_id, r.target_idx)  # noqa: E731
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)
    assert new.columns == old.columns

    # plan property: nothing aggregates ABOVE the example join — the
    # only collect_list is the per-conv turns array built BELOW it.
    # Asserted on the optimized LOGICAL plan (parents print before
    # children; no AQE stage wrappers reordering the text): the old
    # fan-out shape printed its Aggregate[collect_list] before the
    # Join, the linearized shape prints the Join first.
    plan = new._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join")
    agg_pos = plan.find("collect_list")
    assert join_pos != -1 and agg_pos != -1, plan
    assert join_pos < agg_pos, plan


def _forked_turns(spark):
    """Three convs share a 2-turn opener then diverge; conv f4 shares
    it too but its completion EQUALS f1's (no signal vs f1 alone);
    conv g is unforked; conv h ends at the shared prefix (no
    completion)."""
    rows = []
    for c in ("f1", "f2", "f3", "f4", "h"):
        rows += [(c, 0, "hello"), (c, 1, "how can I help")]
    rows += [
        ("f1", 2, "answer A"),
        ("f2", 2, "answer B"),
        ("f3", 2, "answer C"),
        ("f4", 2, "answer A"),
        ("g", 0, "different opener"),
        ("g", 1, "x"),
        ("g", 2, "y"),
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")


def test_preference_pairs_basic(spark):
    from inxs_spark.operators.conversations import preference_pairs

    turns = _forked_turns(spark)
    scores = spark.createDataFrame(
        [("f1", 0.9), ("f2", 0.2), ("f3", 0.5), ("f4", 0.7),
         ("g", 1.0), ("h", 1.0)],
        "conv_id string, score double",
    )
    out = preference_pairs(turns, scores, k_turns=2).collect()
    assert len(out) == 1                      # one fork group survives
    p = out[0]
    assert p.n_candidates == 4                # f1..f4 all complete
    assert (p.chosen_conv_id, p.chosen_text) == ("f1", "answer A")
    assert (p.rejected_conv_id, p.rejected_text) == ("f2", "answer B")
    assert (p.chosen_score, p.rejected_score) == (0.9, 0.2)
    again = preference_pairs(turns, scores, k_turns=2).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_preference_pairs_tie_and_identical_filters(spark):
    from inxs_spark.operators.conversations import preference_pairs

    turns = _forked_turns(spark)
    # equal scores everywhere: chosen = highest conv_id, rejected =
    # lowest; f1-vs-f4 have identical text but f2/f3 differ so the
    # extremes (f4 hi, f1 lo by id) have DIFFERENT texts? f4 text ==
    # f1 text -> pair dropped only if extremes tie on text
    scores = spark.createDataFrame(
        [(c, 1.0) for c in ("f1", "f2", "f3", "f4", "g", "h")],
        "conv_id string, score double",
    )
    out = preference_pairs(turns, scores, k_turns=2).collect()
    # max struct = (1.0,'f4','answer A'), min = (1.0,'f1','answer A')
    # -> identical completions -> dropped
    assert out == []
    # scores that rank a distinct-text pair at the extremes
    scores2 = spark.createDataFrame(
        [("f1", 0.1), ("f2", 0.9), ("f3", 0.5), ("f4", 0.1),
         ("g", 1.0), ("h", 1.0)],
        "conv_id string, score double",
    )
    p = preference_pairs(turns, scores2, k_turns=2).collect()[0]
    assert (p.chosen_conv_id, p.rejected_conv_id) == ("f2", "f1")


def test_preference_pairs_query_orders_ids_past_six_digits(spark, tmp_path):
    """q_preference_pairs ties on score and breaks the tie by conv id,
    which zero-pads the user id. With user ids 999999 and 1000000 (and
    one fork partner each, every score tied) the higher user id wins
    chosen in both engines: conv-id order is numeric order, and the
    Spark result equals the DuckDB oracle."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    # families: user_id % 5 — {999995, 1000000} and {999999, 1000004};
    # two events each (tied scores), sequences differ within a family
    seqs = {999995: ("click", "view"), 1000000: ("view", "click"),
            999999: ("click", "view"), 1000004: ("view", "click")}
    rows = [(uid, et) for uid, seq in seqs.items() for et in seq]
    t0 = datetime.datetime(2024, 1, 1)
    events = pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array(
            [t0 + datetime.timedelta(minutes=i) for i in range(len(rows))],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([uid for uid, _ in rows], pa.int64()),
        "event_type": pa.array([et for _, et in rows], pa.string()),
    })
    pq.write_table(events, str(tmp_path / "events.parquet"))

    sdf = E.queries()["q_preference_pairs"](spark, str(tmp_path))
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path / 'events.parquet'}')"
    )
    rel = con.sql(E.oracle_sql()["q_preference_pairs"])
    assert [c.lower() for c in sdf.columns] == rel.columns
    assert got == rel.fetchall()

    def uid(conv_id):
        return int(conv_id.split("-u")[1])

    winners = {(uid(r.chosen_conv_id), uid(r.rejected_conv_id))
               for r in sdf.collect()}
    assert winners == {(1000000, 999995), (1000004, 999999)}
