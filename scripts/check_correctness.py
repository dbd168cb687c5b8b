#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries() entry
on Spark at sf0.01 and diff against oracle_sql() via DuckDB — row count,
column set, and an order-insensitive value comparison (stricter than a hash:
full sorted-row equality with exact string canonicalization).

Usage:
    PYTHONPATH=/root/repo python scripts/check_correctness.py [name ...]
Env:
    SF_DIR (default /root/testdata/sf0.01)
    REPLICA_OUT (optional) — also write the per-query summary as JSON
        ({name: {status, rows, secs, detail, sha256}, ...} + a _meta block)
        so runs are compared by diffing artifacts instead of re-running the
        whole catalog. ``sha256`` is the digest of the canonical result
        (:func:`result_sha256`) for every query that ran, rows-only ones
        included: a refactor of a rows-only query is checked by diffing the
        hashes of the parent's report and the change's, run with the same
        SF_DIR and SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None or v is pd.NA:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        # Dtype-strict: 3.0 renders "3.0", NOT "3".  The driver's hash sees
        # the float/int distinction (DuckDB HUGEINT -> pandas float64 made
        # four r3 oracles fail while the old int-collapsing canon here was
        # green) — never mask numeric typing again.
        if math.isnan(v):
            return "NULL"
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def dtype_kind(s: pd.Series) -> str:
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    return "other"


def canon_df(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(canon_cell(v) for v in row))
    out.sort()
    return out


def result_sha256(df: pd.DataFrame) -> str:
    """sha256 of :func:`canon_df`: the same value for the same row set,
    whatever the row and column order."""
    return hashlib.sha256(repr(canon_df(df)).encode()).hexdigest()


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    from savio_training_dask_2019_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in qs if not only or n in only]
    n_pass = n_fail = n_rows_only = 0
    failures: list[str] = []
    report: dict[str, dict] = {}

    for name in names:
        # per-query cache hygiene, mirroring bench.py: caches a query
        # legitimately persists (LM counts, inverted indexes) must not leak
        # into the next query's run — cached-plan reuse once masked a
        # recompute bug (the r3 ngram_jaccard lesson), and fitted ANN
        # indexes must not survive the clearCache that invalidates their
        # persisted assignment
        spark.catalog.clearCache()
        from savio_training_dask_2019_spark.queries import vectorops

        vectorops.invalidate_cached_indexes()
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            digest = result_sha256(sdf)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {exc}")
            failures.append(name)
            n_fail += 1
            report[name] = {
                "status": "failed",
                "rows": None,
                "secs": round(time.time() - t0, 1),
                "detail": f"spark error: {type(exc).__name__}: {exc}",
                "sha256": None,
            }
            continue
        if name not in oracles:
            secs = round(time.time() - t0, 1)
            print(f"rows  {name}: {len(sdf)} rows (rows-only, {secs}s)")
            n_rows_only += 1
            report[name] = {
                "status": "rows_only",
                "rows": len(sdf),
                "secs": secs,
                "detail": None,
                "sha256": digest,
            }
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(exc).__name__}: {exc}")
            failures.append(name)
            n_fail += 1
            report[name] = {
                "status": "failed",
                "rows": len(sdf),
                "secs": round(time.time() - t0, 1),
                "detail": f"oracle error: {type(exc).__name__}: {exc}",
                "sha256": digest,
            }
            continue

        problems = []
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if not problems:
            # int-vs-float column mismatch fails even when values round-trip:
            # this is the exact class the driver's value hash catches.
            for c in sdf.columns:
                ks, ko = dtype_kind(sdf[c]), dtype_kind(odf[c])
                if {ks, ko} == {"int", "float"}:
                    problems.append(f"dtype mismatch col={c} spark={ks} oracle={ko}")
        if not problems:
            a, b = canon_df(sdf), canon_df(odf)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ; first diffs {diff}")
        secs = round(time.time() - t0, 1)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            n_fail += 1
            report[name] = {
                "status": "failed",
                "rows": len(sdf),
                "secs": secs,
                "detail": "; ".join(problems),
                "sha256": digest,
            }
        else:
            print(f"ok    {name}: {len(sdf)} rows ({secs}s)")
            n_pass += 1
            report[name] = {
                "status": "ok",
                "rows": len(sdf),
                "secs": secs,
                "detail": None,
                "sha256": digest,
            }

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED of {len(names)}")
    if failures:
        print("failed:", " ".join(failures))

    out_path = os.environ.get("REPLICA_OUT")
    if out_path:
        import json

        payload = {
            "_meta": {
                "sf_dir": sf_dir,
                "queries": len(names),
                "ok": n_pass,
                "rows_only": n_rows_only,
                "failed": n_fail,
            }
        }
        payload.update(report)
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=False)
            fh.write("\n")
        print(f"wrote {out_path}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
