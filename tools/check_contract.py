"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB against the same sf dir, then compares
row count, column names, and an order-insensitive value multiset
(strict equality after canonical stringification — stricter than any
plausible driver hash, so passing here should mean passing there).
A key whose Spark schema holds an array, map or struct column fails:
the driver hashes scalar columns only. DuckDB runs within a quarter of
physical memory and spills to a temporary directory, at most a quarter
of its free disk; an oracle over that budget is a FAIL and the run goes
on.

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

import duckdb
from pyspark.sql.types import ArrayType, MapType, StructType

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from pagerankproject_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def rows_key(df) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for _, row in df[cols].iterrows():
        out.append("|".join(canon(x) for x in row))
    out.sort()
    return out


def nested_columns(schema: StructType) -> list[str]:
    """Columns of `schema` whose type is an array, map or struct."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def duckdb_connect(spill_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB bounded by this machine: a quarter of physical memory,
    spilling into `spill_dir` up to a quarter of its free disk."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    free = shutil.disk_usage(spill_dir).free
    return duckdb.connect(
        config={
            "memory_limit": f"{ram // 4 >> 20}MB",
            "temp_directory": spill_dir,
            "max_temp_directory_size": f"{free // 4 >> 20}MB",
        }
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    with tempfile.TemporaryDirectory(prefix="check-contract-duckdb-") as spill:
        return check(sf_dir, only, duckdb_connect(spill))


def check(sf_dir: str, only: set[str], con: duckdb.DuckDBPyConnection) -> int:
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark(app_name="check-contract", master="local[8]", shuffle_partitions=8)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            nested = nested_columns(df.schema)
            if nested:
                failures.append(name)
                print(f"FAIL {name}: nested columns {nested}; emit scalars")
                continue
            sdf = df.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: SPARK ERROR {type(e).__name__}: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                print(f"WARN {name}: 0 rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:400]}")
            continue
        ok = True
        if sorted(sdf.columns) != sorted(odf.columns):
            ok = False
            print(
                f"FAIL {name}: columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
            )
        elif len(sdf) != len(odf):
            ok = False
            print(f"FAIL {name}: rows spark={len(sdf)} oracle={len(odf)}")
        else:
            a, b = rows_key(sdf), rows_key(odf)
            if a != b:
                ok = False
                diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for x, y in diff:
                    print(f"   spark : {x[:200]}")
                    print(f"   oracle: {y[:200]}")
        if ok:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
