"""Tests of the benchmark itself (no Spark): generator determinism, the
planted counts, span bookkeeping, and metric names matching BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, layers, procstat, run  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest_tree(path: str) -> dict:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("kind", ["transcripts", "corpus", "tables"])
def test_same_seed_gives_byte_identical_files(kind, tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "EXTRACT_TURNS", 3_000)
    monkeypatch.setattr(gen, "CURATE_DOCS", 1_000)
    a, ma = gen.materialize(kind, 7, root=str(tmp_path / "a"))
    b, mb = gen.materialize(kind, 7, root=str(tmp_path / "b"))
    c, _ = gen.materialize(kind, 8, root=str(tmp_path / "c"))
    assert ma == mb
    assert _digest_tree(a) == _digest_tree(b)
    assert _digest_tree(a) != _digest_tree(c)


def test_transcripts_have_exact_row_count_and_even_files(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(gen, "EXTRACT_TURNS", 3_200)
    data, manifest = gen.materialize("transcripts", 3, root=str(tmp_path))
    sizes = [pq.ParquetFile(os.path.join(data, f)).metadata.num_rows
             for f in sorted(os.listdir(data))]
    assert manifest["rows"] == sum(sizes) == 3_200
    assert len(sizes) == gen.EXTRACT_FILES and max(sizes) - min(sizes) <= 1


def test_corpus_planted_counts():
    from inxs_spark.operators.text import EMAIL_RE, LONG_NUMBER_RE

    texts, m = gen.corpus_docs(5, 2_000)
    assert len(texts) == m["rows"] == 2_000
    # exact duplicates are the only byte-identical documents
    assert len(set(texts)) == m["rows"] - m["exact_dups"]
    lines = [line for t in texts for line in t.split("\n") if line.strip()]
    assert len(lines) == m["lines"]
    assert sum(line in gen.BOILERPLATE_LINES for line in lines) == m["boilerplate_lines"]
    # every boilerplate line is shared widely enough to be removed
    for bp in gen.BOILERPLATE_LINES:
        assert sum(bp in t.split("\n") for t in texts) >= gen.BOILERPLATE_MIN_DOCS
    assert sum(len(re.findall(EMAIL_RE, t)) for t in texts) == m["pii_docs"]
    assert sum(len(re.findall(LONG_NUMBER_RE, t)) for t in texts) == m["pii_docs"]
    # every original but a low-quality one carries a unique refN token
    assert sum("ref" not in t for t in texts) == m["low_quality"]
    stages = gen.expected_stage_rows(m)
    assert stages["after_quality_lang_gate"] == (
        2_000 - m["exact_dups"] - m["near_dups"] - m["low_quality"])


def test_near_duplicates_clear_the_jaccard_threshold():
    texts, m = gen.corpus_docs(11, 1_000)

    def shingles(t):
        words = " ".join(t.split()).lower().split(" ")
        return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}

    by_ref = {}
    for t in texts:
        ref = re.search(r"\bref\d+\b", t)
        if ref:
            by_ref.setdefault(ref.group(), set()).add(t)
    near = [sorted(v) for v in by_ref.values() if len(v) == 2]
    assert len(near) == m["near_dups"]
    for a, b in near:
        sa, sb = shingles(a), shingles(b)
        assert len(sa & sb) / len(sa | sb) > 0.85


@pytest.mark.parametrize("seed", [0, -3, 2**31 - 1, 123_456_789_012])
def test_any_integer_seed_gives_valid_inputs(seed):
    table = gen.transcript_table(seed, 2_000)
    # every timestamp converts to a Python datetime (Spark's range too)
    assert max(table.column("ts").to_pylist()).year < 9999
    assert gen.analytics_tables(seed)["lineitem"].num_rows == gen.TABLE_ROWS["lineitem"]
    assert len(gen.corpus_docs(seed, 500)[0]) == 500


def test_analytics_tables_have_the_planned_sizes():
    tables = gen.analytics_tables(2)
    assert {t: tables[t].num_rows for t in tables} == gen.TABLE_ROWS


def test_tracer_self_time_subtracts_children():
    tr = Tracer("r")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    (o_total, o_self, _), (i_total, i_self, _) = tr.self_times()["outer"], tr.self_times()["inner"]
    assert i_self == pytest.approx(i_total)
    assert o_self == pytest.approx(o_total - i_total)
    assert all(s["run_id"] == "r" for s in tr.spans)
    assert tr.spans[1]["parent"] == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_procstat_sees_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        pids = procstat.descendants()
        assert child.pid in pids
        assert procstat.cpu_seconds([child.pid])[child.pid] >= 0
        assert procstat.peak_rss_mb([child.pid]) > 0
        assert procstat.alive(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert not procstat.alive(child.pid)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(layers.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
