"""Local stand-in for the driver's correctness gate: run every query in
__spark_entry__.queries() at a given SF and compare against oracle_sql()
via DuckDB — row count, sorted column names, and an order-insensitive
value hash.

Mirrors the driver's canonicalization path deliberately: both sides go
through *pandas* (``DataFrame.toPandas()`` / ``duckdb_rel.df()``), columns
are sorted by name, rows are sorted with ``DataFrame.sort_values`` over all
columns (which CRASHES on unhashable cells such as lists — exactly like the
driver), and cells are stringified with floats fixed to 6 decimals. This is
what surfaces the two classes of defect the collect()-based v1 missed:

- DuckDB HUGEINT aggregates arrive in pandas as float64 ("3.000000") while
  Spark longs arrive as int64 ("3") — hash mismatch unless the oracle CASTs.
- Raw array/struct/map output columns are unhashable in pandas sorting —
  driver row errors out.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from datetime import date, datetime

import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")


def _norm_cell(v):
    if v is None:
        return "␀"
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "␀"
        # Signed zero is NOT collapsed: the round-3 driver stringified a
        # DuckDB -0.0 as "-0.000000" against Spark's "0.000000" and recorded
        # a red row (agg_bounding_ratio, CORRECTNESS_r03.json) — the gate
        # must reproduce driver canonicalization bit-for-bit on zeros, so
        # queries that can emit -0.0 must normalize it engine-side (+ 0.0)
        # on BOTH the Spark and oracle expressions.
        return f"{v:.6f}" if abs(v) < 1e15 else repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return "␀"
        v = v.to_pydatetime()
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        # DuckDB DATE arrives in pandas as a midnight datetime64 while Spark
        # DATE stays a date object — collapse midnight to the date form, as
        # the driver harness evidently does (retention_cohorts passed r1).
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "␀"
    except (TypeError, ValueError):
        pass
    return str(v)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization: lowercase + sort columns, then
    sort_values over ALL columns (raises TypeError on unhashable cells,
    same as the driver harness)."""
    df = df.copy()
    df.columns = [str(c).lower() for c in df.columns]
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _hash_pdf(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False, name=None):
        h.update("|".join(_norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def make_oracle_connection(sf_dir: str):
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle setup."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_queries(spark, con, sf_dir: str, only=()) -> list[str]:
    """Run each named query (all when ``only`` is empty) against its DuckDB
    oracle and return the list of failing query names. Reusable by
    bench.py's pre-snapshot gate as well as the CLI below."""
    import __spark_entry__ as entrymod

    only = set(only)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a misspelled name is a failure, not a silently skipped query
    unknown = sorted(only - qs.keys())
    for name in unknown:
        print(f"FAIL {name}: unknown query")
    failures = list(unknown)
    ran = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = _canon(sdf.toPandas())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark/canon error: {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(spdf)} (no oracle — rows-only)")
            continue
        try:
            dpdf = _canon(con.sql(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb/canon error: {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        elapsed = time.time() - t0
        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rows {len(spdf)} != {len(dpdf)}")
        if list(spdf.columns) != list(dpdf.columns):
            problems.append(f"cols {list(spdf.columns)} != {list(dpdf.columns)}")
        if not problems:
            hs, hd = _hash_pdf(spdf), _hash_pdf(dpdf)
            if hs != hd:
                problems.append(f"value-hash {hs} != {hd}")
                for (_, rs), (_, rd) in zip(spdf.iterrows(), dpdf.iterrows()):
                    a = "|".join(_norm_cell(v) for v in rs)
                    b = "|".join(_norm_cell(v) for v in rd)
                    if a != b:
                        print(f"  spark:  {a[:200]}\n  duckdb: {b[:200]}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS {name}: rows={len(spdf)} ({elapsed:.1f}s)")
    summary = f"\n{len(failures) - len(unknown)} failures / {ran} queries"
    print(summary + (f", {len(unknown)} unknown names" if unknown else ""))
    if failures:
        print("failed:", " ".join(failures))
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    from go_nats_to_clickhouse_spark.config import EngineConfig
    from go_nats_to_clickhouse_spark.session import codegen_stats, get_spark

    spark = get_spark(EngineConfig(shuffle_partitions=8), app_name="selfcheck")
    con = make_oracle_connection(sf_dir)
    failures = check_queries(spark, con, sf_dir, only)
    # report only: class churn shows as compiles well above the number of
    # distinct generated classes
    compiles, compile_s = codegen_stats(spark)
    print(f"codegen: {compiles} classes compiled, {compile_s:.1f}s compiling")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
