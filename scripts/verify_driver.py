#!/usr/bin/env python
"""Driver simulation (the project verify drive, .claude/skills/verify).

Fresh PLAIN SparkSession (no engine conf — exercises ensure_tuned's runtime
path, exactly like the driver's own session), then:

  1. entry(spark) smoke: runs, >0 rows, stable schema.
  2. EVERY oracle-checked queries() entry at sf0.01 compared against its
     oracle_sql() twin on DuckDB: row count + name-sorted columns +
     order-insensitive canonical values (tests/oracle_util.py rules).
  3. Driver-hash hazard scan: any Spark result cell that is a pandas
     Decimal / date / Timestamp object in an `object` column is flagged —
     the driver's hash does NOT canonicalize those (CORRECTNESS_r01's one
     red row), even when the local canonical compare passes.
  4. Library-surface probes: markdown preview, typed load + surrogate id,
     TableExistsError on re-load, ANSI bad-cast failure.

Exit code 0 = everything green. Usage:
    python scripts/verify_driver.py [--limit N] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import os
import sys
import tempfile
import time
import traceback

# the engine of THIS checkout, wherever it lives (as scripts/ab.py does)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")


def hazard_cols(pdf) -> list[str]:
    import pandas as pd

    bad = []
    for c in pdf.columns:
        if pdf[c].dtype != object or len(pdf) == 0:
            continue
        v = next((x for x in pdf[c] if x is not None), None)
        if isinstance(v, (decimal.Decimal, pd.Timestamp)) or (
            isinstance(v, (dt.date, dt.datetime)) and not isinstance(v, str)
        ):
            bad.append(f"{c}:{type(v).__name__}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--only", type=str, default=None)
    ap.add_argument("--json", type=str, default=None,
                    help="write per-query results to this JSON file "
                    "(committed correctness evidence per r5 ADVICE #4)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify-driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as c
    from tests.oracle_util import canonical, duckdb_connection

    # 1. entry smoke
    edf = c.entry(spark)
    n = edf.count()
    assert n > 0, "entry() returned 0 rows"
    print(f"entry(): {n} rows, schema={[f.name for f in edf.schema.fields]}")

    qs, osql = c.queries(), c.oracle_sql()
    con = duckdb_connection(SF_DIR)

    names = [n for n in qs if n in osql]
    if args.only:
        names = [n for n in names if n in set(args.only.split(","))]
    if args.limit:
        names = names[: args.limit]

    failures: list[str] = []
    hazards: list[str] = []
    results: dict[str, str] = {}
    t0 = time.time()
    for i, name in enumerate(names):
        try:
            spdf = qs[name](spark, SF_DIR).toPandas()
            opdf = con.execute(osql[name]).df()
            s_n, s_cols, s_rows = canonical(spdf)
            o_n, o_cols, o_rows = canonical(opdf)
            status = "ok"
            if s_cols != o_cols:
                status = f"COLS {s_cols} != {o_cols}"
            elif s_n != o_n:
                status = f"ROWS {s_n} != {o_n}"
            elif s_rows != o_rows:
                diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:2]
                status = f"VALUES {diffs}"
            hz = hazard_cols(spdf)
            if hz:
                hazards.append(f"{name}: {hz}")
            results[name] = status
            if status != "ok":
                failures.append(f"{name}: {status}")
                print(f"[{i+1}/{len(names)}] {name}: FAIL {status}")
        except Exception as e:
            results[name] = f"EXC {type(e).__name__}: {e}"[:200]
            failures.append(f"{name}: EXC {e}")
            print(f"[{i+1}/{len(names)}] {name}: EXC {type(e).__name__}: {e}")
    print(
        f"oracle compare: {len(names) - len(failures)}/{len(names)} green "
        f"in {time.time() - t0:.0f}s"
    )
    if hazards:
        print("DRIVER-HASH HAZARDS (object-dtype Decimal/date/Timestamp):")
        for h in hazards:
            print("  " + h)
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_queries": len(names),
                    "n_green": len(names) - len(failures),
                    "hazards": hazards,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )

    # 4. library surface probes
    try:
        from omnidata_etl_spark.ingest import (
            TableExistsError,
            load,
            preview,
            read_any,
        )
        from omnidata_etl_spark.ingest.fixtures import fixture_path

        pv = preview(spark, fixture_path("people_pipe.md"), n=3)
        assert len(pv["preview"]) == 3 and pv["headers"], pv
        with tempfile.TemporaryDirectory() as tmp:
            df = read_any(spark, fixture_path("people_noid.csv"))
            load(df, "t1", warehouse=tmp, types={"balance": "DECIMAL(12,2)"})
            try:
                load(df, "t1", warehouse=tmp)
                failures.append("ingest: second load did not raise")
            except TableExistsError:
                pass
            try:
                bad = read_any(spark, fixture_path("people_badtypes.csv"))
                load(bad, "t2", warehouse=tmp, types={"balance": "DECIMAL(12,2)"})
                failures.append("ingest: bad-cast load did not raise")
            except Exception:
                pass  # strict-ANSI failure expected (huge JSON log is normal)
        print("library probes: green")
    except Exception:
        failures.append("library probes: EXC")
        traceback.print_exc()

    if failures:
        print(f"\nVERIFY FAILED ({len(failures)}):")
        for f in failures:
            print("  " + f)
        return 1
    print("\nVERIFY GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
