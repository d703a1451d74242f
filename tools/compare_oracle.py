"""Local replica of the driver's correctness gate.

Runs every `queries()` entry on Spark and its `oracle_sql()` twin on
DuckDB over the same sf dir, then compares row count, sorted column
names, dtypes, and cell values (exact for ints/strings, bit-equality
required for floats, and int-vs-float dtype pairings rejected outright
— round 2 proved the driver hashes stringified cells, so 62 vs 62.0
is a failure even though they compare equal numerically).

Usage: python tools/compare_oracle.py [--json OUT.json] [sf_dir] [query ...]

With --json, every query gets a driver-shaped record
({rows_match, schema_match, hash_match, spark_rows, oracle_rows, err})
so a full local run can be committed as a CORRECTNESS-shaped artifact
covering entries the driver's own budget did not reach.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
            drop=True
        )
    return pdf


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    scols, ocols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    if problems:
        return problems
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # A driver that hashes stringified cells distinguishes 62 from
        # 62.0, so an int-vs-float dtype pairing is a hash failure even
        # when the values compare equal numerically. The classic trap:
        # DuckDB SUM(INTEGER) returns HUGEINT, which .df() converts to
        # float64 — oracle SQL must CAST integer sums to BIGINT.
        kinds = {sv.dtype.kind, ov.dtype.kind}
        if "f" in kinds and kinds & {"i", "u"}:
            problems.append(
                f"col {c}: dtype kind mismatch {sv.dtype} vs {ov.dtype} — "
                f"stringified hash differs (e.g. '62' vs '62.0'); "
                f"CAST integer aggregates to BIGINT in the oracle SQL"
            )
            continue
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = sv.astype(float).to_numpy()
            b = ov.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(b)
            close = np.isclose(a, b, rtol=1e-9, atol=1e-12) | both_nan
            exact = (a == b) | both_nan
            if not close.all():
                i = int(np.argmin(close))
                problems.append(f"col {c}: value mismatch row{i}: {a[i]} vs {b[i]}")
            elif not exact.all():
                i = int(np.argmin(exact))
                problems.append(
                    f"col {c}: INEXACT (close but not bit-equal) row{i}: {a[i]!r} vs {b[i]!r}"
                )
        else:
            eq = (sv.astype(object).where(pd.notna(sv), None)
                  == ov.astype(object).where(pd.notna(ov), None)) | (
                pd.isna(sv) & pd.isna(ov)
            )
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                problems.append(
                    f"col {c}: value mismatch row{i}: {sv.iloc[i]!r} vs {ov.iloc[i]!r} "
                    f"(dtypes {sv.dtype}/{ov.dtype})"
                )
    return problems


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    # --driver-order N: pre-flight exactly the first N entries in the
    # order queries() yields them — what the round's driver budget
    # will actually verify.
    driver_budget = None
    if "--driver-order" in argv:
        i = argv.index("--driver-order")
        try:
            driver_budget = int(argv[i + 1])
        except (IndexError, ValueError):
            print("usage: --driver-order N  (N = integer budget)")
            return 2
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # this process and the Python workers (which inherit the environment
    # of the JVM the session starts) import this checkout's package
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from elb_log_to_mysql_spark.session import build_session

    import __spark_entry__ as e

    spark = build_session(master="local[8]")
    con = duckdb_con(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    if driver_budget is not None:
        qs = dict(list(qs.items())[:driver_budget])

    failures = 0
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            failures += 1
            records[name] = dict(
                rows_match=False, schema_match=False, hash_match=False,
                spark_rows=None, oracle_rows=None,
                err=f"spark error: {type(ex).__name__}",
            )
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (rows-only) [{time.time()-t0:.1f}s]")
            if len(spdf) == 0:
                print(f"  WARN {name}: zero rows")
            records[name] = dict(
                rows_match=None, schema_match=None, hash_match=None,
                spark_rows=len(spdf), oracle_rows=None, err="no_oracle",
            )
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failures += 1
            records[name] = dict(
                rows_match=False, schema_match=False, hash_match=False,
                spark_rows=len(spdf), oracle_rows=None, err="oracle error",
            )
            continue
        problems = compare(name, spdf, opdf)
        records[name] = dict(
            rows_match=len(spdf) == len(opdf),
            schema_match=sorted(spdf.columns) == sorted(opdf.columns),
            hash_match=not problems,
            spark_rows=len(spdf),
            oracle_rows=len(opdf),
            err=None,
        )
        if problems:
            failures += 1
            print(f"FAIL  {name} [{time.time()-t0:.1f}s]")
            for p in problems[:6]:
                print(f"      {p}")
        else:
            print(f"OK    {name}: {len(spdf)} rows [{time.time()-t0:.1f}s]")
    spark.stop()
    if json_out:
        # Freshness self-certification (VERDICT r7 item 7): with ~50
        # driver checks/round over 160+ entries, a per-round LOCAL
        # full sweep is what keeps every entry's record current. The
        # artifact records its own coverage so a sweep that silently
        # skipped entries (filter typo, early crash) reads as stale
        # instead of green: `complete` is true only when every
        # registered entry has a record IN THIS artifact.
        all_entries = list(e.queries().keys())
        missing = [n for n in all_entries if n not in records]
        # Shaped like a correctness row on purpose: any consumer that
        # scans the artifact for failing rows sees an incomplete sweep
        # AS a failure, without needing to know about this key.
        records["_freshness"] = {
            "rows_match": not missing,
            "schema_match": not missing,
            "hash_match": not missing,
            "spark_rows": len(records),
            "oracle_rows": len(all_entries),
            "err": None if not missing else (
                f"incomplete sweep: {len(missing)} registry entries "
                f"have no record in this artifact"
            ),
            "missing": missing[:50],
            "subset_run": bool(only) or driver_budget is not None,
        }
        with open(json_out, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {len(records) - 1} records to {json_out} "
              f"(complete={not missing})")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
