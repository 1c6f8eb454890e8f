"""Driver-contract self-check: run every queries() entry at a given sf
dir, compare row-count / column names / order-insensitive values
against oracle_sql() via DuckDB — a local mimic of CORRECTNESS_r{N}.

Usage: python tools/check_contract.py [sf_dir] [query ...]
Spark runs on get_spark()'s default master: local[$SPARK_GRAFT_CPUS],
or every core when it is unset, with spark.sql.codegen.fallback=false:
generated code that fails to compile fails its query instead of
logging an ERROR and running interpreted.
Set SPARK_GRAFT_EXTRAS=1 to also run extra_queries() (rows-only demo
set — printed as ROWS lines, never compared).
Set SPARK_GRAFT_EXTRAS_JSON=/path/EXTRAS_rN.json to persist the demo
evidence (query -> rows, wall, err) as one committed artifact per
round (round-4 verdict task 7: the "all demos execute" claim
previously left no artifact)."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def frame_sig(cols, rows):
    keyed = sorted(
        "|".join(norm_cell(v) for v in row) for row in rows
    )
    return cols, len(keyed), keyed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from inxs_spark.sources.session import get_spark

    spark = get_spark()
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        failures = _check(spark, sf_dir, only)
    finally:
        spark.stop()
    return 1 if failures else 0


def _check(spark, sf_dir: str, only: set[str]) -> int:
    """Run the queries against their oracles; returns the failure count."""
    import duckdb

    import __spark_entry__ as entrymod
    from inxs_spark.sources.io import write_json_atomic

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    qs = dict(entrymod.queries())
    extras_json = os.environ.get("SPARK_GRAFT_EXTRAS_JSON")
    extra_names: set[str] = set()
    if os.environ.get("SPARK_GRAFT_EXTRAS") == "1" or extras_json:
        extras = entrymod.extra_queries()
        extra_names = set(extras)
        qs.update(extras)
    oracles = entrymod.oracle_sql()
    extras_evidence: dict[str, dict] = {}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = [c.lower() for c in sdf.columns]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            if name in extra_names:
                extras_evidence[name] = {
                    "rows": None, "wall_s": round(time.time() - t0, 2),
                    "err": f"{type(exc).__name__}: {exc}"[:300],
                }
            continue
        wall = time.time() - t0
        if name in extra_names:
            extras_evidence[name] = {
                "rows": len(srows), "wall_s": round(wall, 2), "err": None,
            }
        if name not in oracles:
            print(f"ROWS {name}: {len(srows)} rows, cols={scols} ({wall:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as exc:
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        _, sn, ssig = frame_sig(scols, srows)
        _, dn, dsig = frame_sig(dcols, drows)
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} vs {dcols}")
            failures += 1
        elif sn != dn:
            print(f"FAIL {name}: rows {sn} vs {dn}")
            failures += 1
        elif ssig != dsig:
            diff = [(a, b) for a, b in zip(ssig, dsig) if a != b][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {diff}")
            failures += 1
        else:
            print(f"OK   {name}: {sn} rows match ({wall:.1f}s)")
    if extras_json and extras_evidence:
        import json

        # merge with an existing evidence file (a filtered re-run of
        # one new demo must not clobber the other demos' records)
        merged = dict(extras_evidence)
        if os.path.exists(extras_json):
            try:
                with open(extras_json) as fh:
                    prior = json.load(fh).get("demos", {})
                merged = {**prior, **extras_evidence}
            except Exception:
                pass
        write_json_atomic(extras_json, {
            "sf_dir": sf_dir,
            "n_demos": len(merged),
            "n_errs": sum(1 for v in merged.values() if v["err"]),
            "demos": dict(sorted(merged.items())),
        }, indent=1)
        print(f"WROTE {extras_json}: {len(merged)} demos")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
