#!/usr/bin/env python3
"""Dev-only replica of the driver's DuckDB-oracle compare.

Usage: python3 dev/check.py <sfDir> <verifyOutDir>

Registers the sf parquet tables as DuckDB views, runs every oracle SQL from
<verifyOutDir>/oracle_sql.json, reads the corresponding Spark result parquet,
sorts columns by name on both sides, and compares shape + values exactly.
Not part of the shipped engine (the Scala library has no Python dependency).
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written fixture = directory
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    failures = []
    for name, sql in sorted(oracles.items()):
        try:
            oracle = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append((name, f"oracle error: {e}"))
            continue
        try:
            spark = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            failures.append((name, f"spark result unreadable: {e}"))
            continue
        oracle = oracle[sorted(oracle.columns)]
        spark = spark[sorted(spark.columns)]
        if list(oracle.columns) != list(spark.columns):
            failures.append((name, f"columns {list(spark.columns)} != {list(oracle.columns)}"))
            continue
        if oracle.shape != spark.shape:
            failures.append((name, f"shape {spark.shape} != {oracle.shape}"))
            continue
        if list(map(str, oracle.dtypes)) != list(map(str, spark.dtypes)):
            failures.append(
                (name, f"dtypes {list(map(str, spark.dtypes))} != {list(map(str, oracle.dtypes))}"))
            continue
        neq = (oracle.fillna("__NULL__") != spark.fillna("__NULL__"))
        if neq.any().any():
            bad_cols = [c for c in oracle.columns if neq[c].any()]
            i = int(neq.any(axis=1).idxmax())
            failures.append((name, f"value mismatch cols={bad_cols} first row {i}: "
                                   f"spark={spark.iloc[i].to_dict()} oracle={oracle.iloc[i].to_dict()}"))
            continue
        print(f"  OK {name} ({len(oracle)} rows)")
    print(f"\n{len(oracles) - len(failures)}/{len(oracles)} oracle queries match")
    for name, why in failures:
        print(f"FAIL {name}: {why}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
