"""Local simulation of the driver's correctness gate.

Runs every queries() entry on Spark at the given sf dir and, when an
oracle_sql() entry exists, the same SQL in DuckDB over the same parquet
tables; compares row count, column names, and a value hash computed over
columns sorted by name and rows sorted by all columns. On a hash
mismatch it writes oracle_forensics_<query>.json (see write_forensics).

    python tools/oracle_check.py [SF_DIR] [QUERY ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def norm_lines(rows, cols):
    """Rows as normalized lines: columns sorted by name, lines sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "|".join(_norm_cell(r[i]) for i in order) for r in rows
    )


def value_hash(rows, cols):
    h = hashlib.md5()
    for ln in norm_lines(rows, cols):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def write_forensics(name, srows, scols, orows, ocols):
    """oracle_forensics_<name>.json in the working directory: the first 10
    normalized lines only one side has (multiset difference), per side,
    plus the engine versions."""
    import json
    from collections import Counter

    import pyspark

    spark_lines = Counter(norm_lines(srows, scols))
    oracle_lines = Counter(norm_lines(orows, ocols))
    path = f"oracle_forensics_{name}.json"
    with open(path, "w") as f:
        json.dump({
            "query": name,
            "versions": {"duckdb": duckdb.__version__,
                         "pyspark": pyspark.__version__},
            "columns": {"spark": sorted(scols), "oracle": sorted(ocols)},
            "rows": {"spark": len(srows), "oracle": len(orows)},
            "only_spark": sorted((spark_lines - oracle_lines).elements())[:10],
            "only_oracle": sorted((oracle_lines - spark_lines).elements())[:10],
        }, f, indent=1)
    return path


def main(sf_dir: str, only=None):
    import os

    # fixture oracles (oracle_support.py) must recompute from the SAME
    # parquet dir this check runs the Spark queries on
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: SPARK ERROR {e}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only, {len(srows)} rows OK")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name}: DUCKDB ERROR {e}")
            continue
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        srows = [tuple(r) for r in srows]
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "MISMATCH"
        forensics = ""
        if status != "OK":
            failures.append(name)
        if not ok_hash:
            forensics = " -> " + write_forensics(name, srows, scols, orows, ocols)
        print(
            f"{name}: {status} rows={len(srows)}/{len(orows)} "
            f"cols={'ok' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"hash={'ok' if ok_hash else f'{sh[:8]} vs {oh[:8]}'}{forensics}"
        )
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
         set(sys.argv[2:]) or None)
