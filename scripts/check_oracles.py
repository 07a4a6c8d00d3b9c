"""Local mimic of the driver's correctness gate: run every queries()
entry and its oracle_sql() on the same sf dir, compare row count, column
names, and order-insensitive values (exact equality, as a value hash
would see them)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

# the checkout this script lives in, so it can run against any copy
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from perl_data_validate_sanctions_spark.session import get_spark  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: repr(v))
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None) -> int:
    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and only != name:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"FAIL {name}: columns {sorted(sdf.columns)} != "
                  f"{sorted(odf.columns)}")
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} != {len(odf)}")
            failures += 1
            continue
        a, b = canon(sdf), canon(odf)
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            print(f"FAIL {name}: value mismatch on {int(diff.sum())}/{len(a)} rows")
            mism = a[diff].head(3)
            print("  spark:", mism.to_dict("records"))
            print("  oracle:", b[diff].head(3).to_dict("records"))
            failures += 1
            continue
        print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
    print("failures:", failures)
    return failures


if __name__ == "__main__":
    only = sys.argv[1] if len(sys.argv) > 1 else None
    raise SystemExit(1 if main(only=only) else 0)
