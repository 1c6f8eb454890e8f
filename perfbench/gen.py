"""Seeded input generators for the workloads.

Every input is a pure function of the workload seed, written with pyarrow
(no Spark), and cached on disk under ``_cache/inputs/<kind>-s<seed>-<version>``.
The same seed gives byte-identical files. Each cache directory holds a
``data/`` directory (the only thing the program under test reads) and a
``manifest.json`` with the exact row counts and the planted counts the
output checks compare against.

- ``transcripts``: turns from :mod:`inxs_spark.sources.synth`'s pure
  per-turn functions over a conversation-ordinal range chosen by the seed
  (Zipf conversation lengths, the synthetic payload mix with its ~1.5 %
  hard-malformed payloads), truncated to exactly ``EXTRACT_TURNS`` rows and
  written as ``EXTRACT_FILES`` even parquet files.
- ``corpus``: multi-line documents with planted exact duplicates,
  near-duplicates (one word changed, Jaccard well above 0.85), shared
  boilerplate lines, low-quality documents and PII strings, as one parquet
  file. At ``CURATE_DOCS`` (below ``AUTO_PRUNE_MIN_CORPUS``) the near-dup
  verify of ``curate`` takes its lazy path.
- ``tables``: TPC-H-shaped ``lineitem``/``orders``/``customer``/``nation``/
  ``region`` at sf0.1 sizes plus 64-d ``embeddings``, one single-row-group
  file each.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inxs_spark.sources import synth

CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cache", "inputs")
#: cache directories are keyed by this file's content too, so a change to
#: a generator never reuses inputs made by the old one
with open(__file__, "rb") as _fh:
    GEN_VERSION = hashlib.sha256(_fh.read()).hexdigest()[:10]

EXTRACT_TURNS = 100_000
EXTRACT_FILES = 32

CURATE_DOCS = 4_000
#: planted shares of the corpus, in per mille
EXACT_DUP_PM = 20
NEAR_DUP_PM = 20
LOW_QUALITY_PM = 30
PII_PM = 50
BOILERPLATE_MIN_DOCS = 10

TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "embeddings": 2_000,
}
EMBEDDING_DIM = 64

_TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def materialize(kind: str, seed: int, root: str = CACHE_ROOT) -> tuple[str, dict]:
    """Return ``(data_dir, manifest)`` for ``kind`` at ``seed``, generating
    the files once. A partly written directory is never visible: files go
    to a temporary directory that is renamed into place."""
    builders = {"transcripts": _build_transcripts, "corpus": _build_corpus,
                "tables": _build_tables}
    path = os.path.join(root, f"{kind}-s{seed}-{GEN_VERSION}")
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "data"))
        manifest = builders[kind](os.path.join(tmp, "data"), seed)
        manifest.update(kind=kind, seed=seed)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(manifest_path) as fh:
        return os.path.join(path, "data"), json.load(fh)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# transcripts (extract)
# ---------------------------------------------------------------------------

#: seeds fold onto this many conversation ranges, so that every integer
#: seed, negative or huge, gives turn timestamps Spark and Python can hold
#: (the last range starts about 1900 years after ``synth.EPOCH``)
ORDINAL_RANGES = 10_000


def first_ordinal(seed: int) -> int:
    """First conversation ordinal of the seed's range."""
    return seed % ORDINAL_RANGES * 100_003


def transcript_table(seed: int, n_turns: int) -> pa.Table:
    cols: dict[str, list] = {name: [] for name in _TRANSCRIPT_SCHEMA.names}
    epoch_us = int(synth.EPOCH.timestamp()) * 1_000_000
    ordinal = first_ordinal(seed)
    n_convs = 0
    while len(cols["text"]) < n_turns:
        cid = synth.conv_id(ordinal)
        length = min(synth.conv_length(ordinal), n_turns - len(cols["text"]))
        for idx in range(length):
            role, tool = synth.role_and_tool(ordinal, idx)
            cols["conv_id"].append(cid)
            cols["turn_idx"].append(idx)
            cols["role"].append(role)
            cols["text"].append(synth.payload(ordinal, idx))
            cols["tool"].append(tool)
            cols["ts"].append(epoch_us + (ordinal * 60 + idx) * 1_000_000)
        ordinal += 1
        n_convs += 1
    arrays = [pa.array(cols[f.name], type=f.type) for f in _TRANSCRIPT_SCHEMA]
    table = pa.Table.from_arrays(arrays, schema=_TRANSCRIPT_SCHEMA)
    return table.replace_schema_metadata({"conversations": str(n_convs)})


def _build_transcripts(data_dir: str, seed: int) -> dict:
    table = transcript_table(seed, EXTRACT_TURNS)
    n = table.num_rows
    for i in range(EXTRACT_FILES):
        lo, hi = i * n // EXTRACT_FILES, (i + 1) * n // EXTRACT_FILES
        _write(table.slice(lo, hi - lo), os.path.join(data_dir, f"part-{i:05d}.parquet"))
    return {
        "rows": n,
        "files": EXTRACT_FILES,
        "conversations": int(table.schema.metadata[b"conversations"]),
    }


# ---------------------------------------------------------------------------
# curation corpus (curate)
# ---------------------------------------------------------------------------

_STOP = ("the", "and", "of", "to", "is", "in", "it", "that", "was", "for")
_CONTENT = tuple(
    f"{a}{b}" for a in ("ka", "lo", "mi", "nu", "po", "ra", "si", "tu", "ve", "zo")
    for b in ("ber", "dan", "fel", "gor", "hin", "jat", "kel", "mor", "nis", "pul",
              "quo", "rit", "sam", "tev", "vix")
)
_PUNCT = ("@@", "##", "%%", "&&", "**", "~~", "^^", "++", "==", "<>", "[]", "{}")
BOILERPLATE_LINES = tuple(
    f"{lead} {tail}."
    for lead, tail in [
        ("Subscribe to our newsletter", "for weekly updates"),
        ("Accept all cookies", "to continue browsing"),
        ("Copyright 2026", "all rights reserved"),
        ("Share this page", "with your friends"),
        ("Sign in", "to leave a comment"),
        ("Back to top", "of the page"),
        ("Read our privacy policy", "before you continue"),
        ("Follow us", "on every social network"),
        ("Advertisement", "content continues below"),
        ("Related articles", "you may also like"),
        ("Skip to main content", "now"),
        ("Download the app", "for the best experience"),
        ("Terms of service", "apply to this site"),
        ("Contact the editors", "with corrections"),
        ("Print this article", "or save it as a file"),
        ("Join the discussion", "in the forum"),
        ("Cookie settings", "can be changed at any time"),
        ("All prices include tax", "where applicable"),
        ("Powered by the content platform", "version two"),
        ("Report a problem", "with this page"),
    ]
)


def _content_line(rnd: random.Random) -> str:
    words = [
        rnd.choice(_STOP) if rnd.random() < 0.3 else rnd.choice(_CONTENT)
        for _ in range(rnd.randint(12, 18))
    ]
    return " ".join(words) + "."


def corpus_docs(seed: int, n_docs: int) -> tuple[list[str], dict]:
    """(texts in doc_id order, planted counts). Originals carry a unique
    ``refN`` token, so no two of them can be duplicates by accident;
    exact, near-duplicate, low-quality and PII documents are disjoint."""
    rnd = random.Random(seed)
    n_exact = n_docs * EXACT_DUP_PM // 1000
    n_near = n_docs * NEAR_DUP_PM // 1000
    n_low = n_docs * LOW_QUALITY_PM // 1000
    n_pii = n_docs * PII_PM // 1000
    n_orig = n_docs - n_exact - n_near
    n_good = n_orig - n_low
    good: list[list[str]] = []
    boiler_lines = 0
    for k in range(n_good):
        lines = [f"ref{k} " + _content_line(rnd)]
        lines += [_content_line(rnd) for _ in range(rnd.randint(5, 8))]
        if k < n_pii:
            lines[1] = lines[1][:-1] + f" mail user{k}@example.com or call 555{k:07d}."
        for bp in rnd.sample(BOILERPLATE_LINES, rnd.randint(1, 3)):
            lines.insert(rnd.randint(0, len(lines)), bp)
            boiler_lines += 1
        good.append(lines)
    # sources of planted duplicates: good originals without PII
    sources = rnd.sample(range(n_pii, n_good), n_exact + n_near)
    docs = ["\n".join(lines) for lines in good]
    for k in sources[:n_exact]:
        docs.append(docs[k])
        boiler_lines += sum(line in BOILERPLATE_LINES for line in good[k])
    for k in sources[n_exact:]:
        lines = list(good[k])
        content = [i for i, line in enumerate(lines) if line not in BOILERPLATE_LINES]
        i = rnd.choice(content[1:])
        words = lines[i].split(" ")
        j = rnd.randrange(len(words) - 1)  # keep the closing "word."
        words[j] = "zz" + words[j]
        lines[i] = " ".join(words)
        docs.append("\n".join(lines))
        boiler_lines += sum(line in BOILERPLATE_LINES for line in lines)
    for k in range(n_low):
        toks = [rnd.choice(_PUNCT) for _ in range(rnd.randint(6, 10))]
        docs.append(" ".join(toks) + f" #{k}")
    order = list(range(n_docs))
    rnd.shuffle(order)
    texts = [""] * n_docs
    for pos, doc_id in enumerate(order):
        texts[doc_id] = docs[pos]
    total_lines = sum(
        sum(1 for line in t.split("\n") if line.strip()) for t in texts
    )
    planted = {
        "rows": n_docs,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "low_quality": n_low,
        "pii_docs": n_pii,
        "lines": total_lines,
        "boilerplate_lines": boiler_lines,
    }
    return texts, planted


def expected_stage_rows(m: dict) -> dict:
    """Curate stage counts implied by the planted corpus."""
    after_exact = m["rows"] - m["exact_dups"]
    after_near = after_exact - m["near_dups"]
    return {
        "input": m["rows"],
        "after_exact_dedup": after_exact,
        "after_near_dup_prune": after_near,
        "after_quality_lang_gate": after_near - m["low_quality"],
        "output": after_near - m["low_quality"],
    }


def _build_corpus(data_dir: str, seed: int) -> dict:
    texts, planted = corpus_docs(seed, CURATE_DOCS)
    table = pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
    })
    _write(table, os.path.join(data_dir, "documents.parquet"))
    return planted


# ---------------------------------------------------------------------------
# analytics tables
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def analytics_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**64)  # numpy takes no negative seed
    n = TABLE_ROWS
    day_us = 86_400 * 1_000_000
    epoch_us = 8_035 * day_us  # 1992-01-01
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(n["region"]), type=pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(n["nation"]), type=pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n["nation"])]),
            "n_regionkey": pa.array([i % n["region"] for i in range(n["nation"])],
                                    type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_nationkey": pa.array(
                rng.integers(0, n["nation"], n["customer"]).astype(np.int32)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1_000, 400_000, n["orders"]), 2)),
            "o_orderdate": pa.array(
                epoch_us + rng.integers(0, 2_500, n["orders"]) * day_us,
                type=pa.timestamp("us")),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
            "l_quantity": pa.array(
                rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 100_000, n["lineitem"]), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])]),
            "l_linestatus": pa.array(
                np.array(["F", "O"])[rng.integers(0, 2, n["lineitem"])]),
        }),
    }
    emb = rng.standard_normal((n["embeddings"], EMBEDDING_DIM)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"], dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBEDDING_DIM).cast(pa.list_(pa.float32())),
    })
    return tables


def _build_tables(data_dir: str, seed: int) -> dict:
    rows = {}
    for name, table in analytics_tables(seed).items():
        _write(table, os.path.join(data_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"rows": rows}
