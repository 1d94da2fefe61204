"""Local mirror of the driver's correctness gate.

Runs every catalog query on Spark AND its DuckDB oracle over the same
parquet tables, then compares row count, sorted column names, and an
order-insensitive canonical value dump. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from shopify_etl_spark.plans.catalog import TABLES  # noqa: E402
from shopify_etl_spark.session import get_spark  # noqa: E402


def canon(val) -> str:
    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return f"{val:.9g}"
    if isinstance(val, bool):
        return str(val).lower()
    return str(val)


# DuckDB result types that a pandas fetch (``fetchdf``) turns into float
# columns. An integer column holding a NULL turns float whatever
# its type, which no CAST fixes, so the guard skips columns with a NULL/NaN.
PANDAS_FLOAT_TYPES = {"hugeint", "uhugeint", "decimal", "double", "float"}


def is_na(val) -> bool:
    return val is None or (isinstance(val, float) and math.isnan(val))


def frame_to_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        # register only the tables the corpus has; a query over a missing
        # table fails loudly at run time on both engines
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    # no console progress bar: its stage lines on stderr would land
    # mid-line in a log that also captures stdout
    spark = get_spark(
        "correctness-check", master="local[8]", shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    # Optional per-query JSON record. The round-era ALLCHECK_* and
    # CORRECTNESS_r* files in this shape are at 1814ba1 in git history.
    out_path = os.environ.get("SPARK_GRAFT_ALLCHECK_OUT")
    results: dict[str, dict] = {}

    def record(name, *, rows=None, schema=None, hashm=None, s_rows=None,
               o_rows=None, err=None):
        results[name] = {
            "rows_match": rows, "schema_match": schema, "hash_match": hashm,
            "spark_rows": s_rows, "oracle_rows": o_rows, "err": err,
        }

    for name, builder in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            record(name, err=f"spark: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only check, {len(srows)} rows ({time.time()-t0:.1f}s)")
            record(name, s_rows=len(srows), err="no_oracle")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [t.id for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failures.append(name)
            record(name, s_rows=len(srows), err=f"oracle: {e}")
            continue
        # Pandas-parity guard: an oracle fetched via pandas turns DuckDB
        # HUGEINT (e.g. SUM(int)) into float64, which breaks the value hash
        # against Spark's integer output even when the values match.
        int_spark = {
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("byte", "short", "integer", "long")
        }
        drift = [
            c
            for i, (c, t) in enumerate(zip(ocols, otypes))
            if t in PANDAS_FLOAT_TYPES and c in int_spark
            and not any(is_na(r[i]) for r in orows)
        ]
        if drift:
            print(f"FAIL {name}: oracle pandas dtype drift (int on Spark, "
                  f"float in pandas fetch) on {drift} — add CAST(... AS BIGINT)")
            failures.append(name)
            record(name, s_rows=len(srows), err=f"oracle dtype drift: {drift}")
            continue

        sc, sv = frame_to_canon(scols, srows)
        oc, ov = frame_to_canon(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns differ spark={sc} oracle={oc}")
            failures.append(name)
            record(name, rows=len(sv) == len(ov), schema=False,
                   s_rows=len(sv), o_rows=len(ov))
            continue
        if len(sv) != len(ov):
            print(f"FAIL {name}: rowcount spark={len(sv)} oracle={len(ov)}")
            failures.append(name)
            record(name, rows=False, schema=True, s_rows=len(sv), o_rows=len(ov))
            continue
        diff = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b]
        if diff:
            i = diff[0]
            print(f"FAIL {name}: {len(diff)} mismatched rows; first at {i}:")
            print(f"  cols   {sc}")
            print(f"  spark  {sv[i]}")
            print(f"  oracle {ov[i]}")
            failures.append(name)
            record(name, rows=True, schema=True, hashm=False,
                   s_rows=len(sv), o_rows=len(ov))
            continue
        print(f"ok   {name}: {len(sv)} rows match ({time.time()-t0:.1f}s)")
        record(name, rows=True, schema=True, hashm=True,
               s_rows=len(sv), o_rows=len(ov))

    spark.stop()
    if out_path:
        import json

        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {len(results)} records to {out_path}")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
