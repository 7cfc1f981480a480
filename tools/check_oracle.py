"""Local replica of the driver's t2 correctness harness: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [--json OUT.json] [--force-large-regime]
                                    [sf_dir] [query ...]

With --json the per-entry verdicts are also written as a machine-readable
artifact (the round's ORACLE_FULL_r{N}.json): for each entry
{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err},
or {oracle: null, spark_rows, err} for rows-only entries.

With --force-large-regime every size gate takes its at-scale branch
(``materialize.LARGE_REGIME``: broadcast limits 0, one row per partition,
salt gate 0; Catalyst's own broadcast threshold off), as in
tests/test_large_regime.py, and every entry must still match the oracle
hashes the default regime matches.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E
from cypher_for_apache_spark_spark import build_spark_session, materialize

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas DataFrame -> canonical multiset of row tuples."""
    df = df[sorted(df.columns)]
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append(f"{v:.10g}")
            elif hasattr(v, "__len__") and not isinstance(v, str):
                row.append(repr(list(v)))
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    return sorted(rows)


def duckdb_views(sf_dir):
    """A DuckDB connection with one view per TPC-H parquet table of
    ``sf_dir``, which the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(sdf, ddf):
    """What differs between a Spark result and its oracle's, both pandas:
    row count, column names, then the normalized row multisets (the
    value hash). An empty list is a match."""
    problems = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(f"columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
    if not problems:
        a, b = normalize(sdf), normalize(ddf)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, e.g. {diff}")
    return problems


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    force_large = "--force-large-regime" in argv
    if force_large:
        argv.remove("--force-large-regime")
        for name, value in materialize.LARGE_REGIME.items():
            setattr(materialize, name, value)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    confs = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
    }
    if force_large:
        confs["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    spark = build_spark_session(
        master="local[8]", app_name="oracle-check", extra_confs=confs
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_views(sf_dir)

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = 0
    results = {}
    for name in qs:
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:200]}")
            results[name] = {"err": f"spark: {type(ex).__name__}: {str(ex)[:200]}"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only check, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"oracle": None, "spark_rows": len(sdf), "err": None}
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:200]}")
            results[name] = {"err": f"duckdb: {str(ex)[:200]}"}
            n_fail += 1
            continue
        problems = compare(sdf, ddf)
        results[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            # NOTE: single-sample wall of a correctness sweep sharing the
            # box with nothing controlled — NOT a perf baseline (ADVICE
            # r8: the committed r8 artifact's sec fields drifted up to
            # 10x under whole-box noise with zero code change). Kept for
            # sweep-progress visibility only.
            "sec": round(time.time() - t0, 2),
            "err": "; ".join(problems) or None,
        }
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        if only and name in only:
            print("spark:", sdf.head(10).to_string())
            print("duck:", ddf.head(10).to_string())
    if json_out:
        import json as _json

        summary = {
            "sf_dir": sf_dir,
            "force_large_regime": force_large,
            "n_pass": n_pass,
            "n_fail": n_fail,
            "n_rows_only": sum(
                1 for r in results.values() if r.get("oracle", "x") is None
            ),
            "n_total": len(results),
        }
        with open(json_out, "w") as f:
            f.write(_json.dumps({"summary": summary, "entries": results}, indent=1))
        print(f"wrote {json_out}")
    print(f"\n{n_pass} passed, {n_fail} failed, {len(qs)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
