"""The three workloads: the timed job and the output checks that run
outside the timed window.

Each workload's ``job`` is what a user of the system runs; it returns what
the checks need. ``check`` returns a list of problems (empty when the
output is right). ``release`` drops the caches the job's calls handed
back, which is the workload's own release step; ``discard`` deletes what
the job wrote once the checks no longer need it.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow.parquet as pq

from . import gen
from .spans import Tracer

#: curate writes its output and metrics under here; each run's directory
#: is deleted once its checks are done
WORK_DIR = os.path.join(os.path.dirname(gen.CACHE_ROOT), "work")

#: the analytics queries, each with the fact table whose rows it scans
#: (the rows_per_s numerator)
ANALYTICS_FACT_TABLE = {
    "q1_pricing_summary": "lineitem",
    "q_regional_revenue": "lineitem",
    "q_latest_order_per_customer": "orders",
    "q_cosine_topk": "embeddings",
}
ANALYTICS_QUERIES = tuple(ANALYTICS_FACT_TABLE)
#: absolute tolerance per query: the Spark and DuckDB sums add doubles in
#: different orders, so a value rounded to 2 (4) decimals may differ by one
#: unit in the last place
_ORACLE_TOL = {
    "q1_pricing_summary": 0.0101,
    "q_regional_revenue": 0.0101,
    "q_latest_order_per_customer": 0.0101,
    "q_cosine_topk": 1.01e-4,
}
#: one output row in SAMPLE_MOD is checked against the serial kernel
SAMPLE_MOD = 1000


class Extract:
    """``extract_df`` over the seeded transcripts, read back through an
    order-independent digest of every output column."""

    name = "extract"

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.data, self.manifest = gen.materialize("transcripts", seed)
        self.rows = self.manifest["rows"]
        self.residue = seed % SAMPLE_MOD

    def input_rows(self, spark) -> int:
        return spark.read.parquet(self.data).count()

    def job(self, spark, tracer: Tracer) -> dict:
        with tracer.span("sources.read"):
            df = spark.read.parquet(self.data)
        return self.digest(df, tracer)

    def digest(self, df, tracer: Tracer | None = None, **extract_kwargs) -> dict:
        from pyspark.sql import functions as F

        from inxs_spark.plans.extract_pipeline import extract_df

        tracer = tracer or Tracer("", enabled=False)
        with tracer.span("plans.extract_pipeline.extract_df"):
            out = extract_df(df, **extract_kwargs)
        cols = [F.col(c) for c in out.columns]
        key_hash = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SAMPLE_MOD))
        with tracer.span("action.digest"):
            row = out.agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
                F.collect_list(
                    F.when(key_hash == self.residue, F.struct(*cols))
                ).alias("sample"),
            ).collect()[0]
        return {"n": row["n"], "digest": str(row["h"]), "sample": row["sample"]}

    def release(self, spark, result) -> None:
        pass

    def discard(self, result) -> None:
        pass

    def check(self, spark, results: list[dict]) -> list[str]:
        from pyspark.sql import functions as F

        from inxs_spark.extract import extract_turn

        problems = []
        digests = {r["digest"] for r in results}
        if len(digests) != 1:
            problems.append(f"extract digest differs between reps: {sorted(digests)}")
        last = results[-1]
        if last["n"] != self.rows:
            problems.append(f"extract output rows {last['n']} != input rows {self.rows}")
        problems += _check_stable_digest(
            os.path.join(os.path.dirname(self.data), "extract_digest.json"), last["digest"])
        expected_n = (
            spark.read.parquet(self.data)
            .filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(SAMPLE_MOD))
                    == self.residue)
            .count()
        )
        if len(last["sample"]) != expected_n or expected_n == 0:
            problems.append(
                f"extract sample has {len(last['sample'])} rows, expected {expected_n}")
        table = pq.read_table(self.data, columns=["conv_id", "turn_idx", "text"])
        payloads = dict(zip(
            zip(table.column("conv_id").to_pylist(), table.column("turn_idx").to_pylist()),
            table.column("text").to_pylist(),
        ))
        for row in last["sample"]:
            text, spans, failure = extract_turn(payloads[(row["conv_id"], row["turn_idx"])])
            got = (row["extracted_text"], [tuple(s) for s in row["spans"]], row["failure"])
            if got != (text, [tuple(s) for s in spans], failure):
                problems.append(
                    f"extract row {row['conv_id']}/{row['turn_idx']} differs from extract_turn")
                break
        return problems


class Curate:
    """``remove_boilerplate_lines`` then ``curate(out=, metrics_out=)`` over
    the seeded corpus; the stage counts are known from the generator."""

    name = "curate"

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.data, self.manifest = gen.materialize("corpus", seed)
        self.rows = self.manifest["rows"]

    def input_rows(self, spark) -> int:
        return spark.read.parquet(self.data).count()

    def job(self, spark, tracer: Tracer) -> dict:
        from inxs_spark.jobs.curate import curate
        from inxs_spark.operators.text import remove_boilerplate_lines

        os.makedirs(WORK_DIR, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="curate-", dir=WORK_DIR)
        with tracer.span("sources.read"):
            df = spark.read.parquet(self.data)
        with tracer.span("operators.text.remove_boilerplate_lines"):
            clean = remove_boilerplate_lines(df)
        with tracer.span("jobs.curate.curate"):
            _out, stats = curate(clean, out=os.path.join(tmp, "out"),
                                 metrics_out=os.path.join(tmp, "metrics"),
                                 run_id="bench")
        return {"stats": stats, "dir": tmp, "clean": clean}

    def release(self, spark, result) -> None:
        result["clean"]._blacklist_cache.unpersist(blocking=True)

    def stage_records(self, result) -> list[dict]:
        with open(os.path.join(result["dir"], "metrics", "metrics", "curate_bench.json")) as fh:
            return [json.loads(line) for line in fh]

    def discard(self, result) -> None:
        shutil.rmtree(result["dir"], ignore_errors=True)

    def check(self, spark, results: list[dict]) -> list[str]:
        import pyarrow.compute as pc

        problems = []
        expected = gen.expected_stage_rows(self.manifest)
        for r in results:
            if r["stats"] != expected:
                problems.append(f"curate stage rows {r['stats']} != planted {expected}")
                break
        out = pq.read_table(os.path.join(results[-1]["dir"], "out"), columns=["text"])
        if out.num_rows != expected["output"]:
            problems.append(f"curate wrote {out.num_rows} rows, expected {expected['output']}")
        texts = out.column("text")
        for token in ("<EMAIL>", "<NUM>"):
            n = pc.sum(pc.count_substring(texts, token)).as_py()
            if n != self.manifest["pii_docs"]:
                problems.append(f"curate output has {n} {token}, planted {self.manifest['pii_docs']}")
        if pc.sum(pc.count_substring(texts, "@example.com")).as_py():
            problems.append("curate output still holds e-mail addresses")
        return problems


class Analytics:
    """Four ``queries()`` entries over seeded TPC-H-shaped tables, each
    result collected; checked against ``oracle_sql()`` in DuckDB."""

    name = "analytics"

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.data, self.manifest = gen.materialize("tables", seed)
        table_rows = self.manifest["rows"]
        self.rows = sum(table_rows[t] for t in ANALYTICS_FACT_TABLE.values())

    def input_rows(self, spark) -> int:
        tables = self.manifest["rows"]
        got = {t: spark.read.parquet(os.path.join(self.data, f"{t}.parquet")).count()
               for t in tables}
        if got != tables:
            raise AssertionError(f"analytics tables have {got} rows, expected {tables}")
        return self.rows

    def job(self, spark, tracer: Tracer) -> dict:
        import __spark_entry__ as entry

        registry = entry.queries()
        out = {}
        for name in ANALYTICS_QUERIES:
            with tracer.span(f"queries.{name}"):
                out[name] = [tuple(r) for r in registry[name](spark, self.data).collect()]
        return out

    def release(self, spark, result) -> None:
        pass

    def discard(self, result) -> None:
        pass

    def check(self, spark, results: list[dict]) -> list[str]:
        import duckdb
        import numpy as np

        import __spark_entry__ as entry

        problems = []
        last = results[-1]
        oracle = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table in self.manifest["rows"]:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            for name in ANALYTICS_QUERIES:
                want = con.execute(oracle[name]).fetchall()
                if not _rows_match(last[name], want, _ORACLE_TOL[name]):
                    problems.append(f"{name} differs from its DuckDB oracle")
        finally:
            con.close()
        emb = pq.read_table(os.path.join(self.data, "embeddings.parquet"))
        ids = emb.column("vec_id").to_numpy()
        vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        cos = vecs @ vecs[ids == 0][0]
        cos /= np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[ids == 0][0])
        top = sorted((-round(float(c), 4), int(i)) for c, i in zip(cos, ids) if i != 0)[:10]
        want = [(i, -c) for c, i in top]
        if not _rows_match(last["q_cosine_topk"], want, _ORACLE_TOL["q_cosine_topk"]):
            problems.append("q_cosine_topk differs from the NumPy brute force")
        return problems


WORKLOADS = {w.name: w for w in (Extract, Curate, Analytics)}


def _rows_match(got: list[tuple], want: list[tuple], tol: float) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if a is None or b is None or abs(a - b) > tol:
                    return False
            elif a != b:
                return False
    return True


def _check_stable_digest(path: str, digest: str) -> list[str]:
    """The first run on an input records its output digest at ``path``,
    next to the input; every later run on that input must reproduce it."""
    if os.path.exists(path):
        with open(path) as fh:
            first = json.load(fh)["digest"]
        return [] if first == digest else [f"output digest {digest} != first run's {first}"]
    with open(path + ".tmp", "w") as fh:
        json.dump({"digest": digest}, fh)
    os.replace(path + ".tmp", path)
    return []
