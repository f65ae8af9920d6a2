"""Local replica of the driver's DuckDB-oracle comparison.

Runs each __spark_entry__ queries()[name] on Spark and oracle_sql()[name] on
DuckDB over the same sf dir, compares row count + order-insensitive value
hash (columns sorted by name, rows sorted, values stringified with float
rounding). An oracle column typed HUGEINT or DECIMAL fails too: the hash
here reads Python ints from fetchall(), but a typed consumer (pandas via
rel.df(), Arrow) turns those into float64 / decimal128 and no longer
matches Spark's BIGINT. Usage: python tools/oracle_check.py [sf_dir]
[query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def wide_columns(rel) -> list[str]:
    """Columns of a DuckDB relation whose type no Spark integer matches."""
    return [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if t == "HUGEINT" or t.startswith("DECIMAL")]


def value_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, bool):
                vals.append(str(int(v)))
            elif isinstance(v, float):
                vals.append(f"{v:.6g}")
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        lines.append("\x1f".join(vals))
    lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pysparkdedup.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if sql is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            rel = con.sql(sql)
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        wide = wide_columns(rel)
        if wide:
            print(f"FAIL  {name}: oracle column type {', '.join(wide)}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(drows)
        sh = value_hash([c.lower() for c in scols], srows)
        dh = value_hash(dcols, drows)
        ok_hash = sh == dh
        status = "OK   " if (ok_count and ok_hash) else "FAIL "
        print(f"{status}{name}: spark={len(srows)} duck={len(drows)} "
              f"hash={'match' if ok_hash else 'MISMATCH'}")
        if not (ok_count and ok_hash):
            failures.append(name)
            # show a few diff rows for debugging
            sset = {tuple(map(str, r)) for r in srows}
            dset = {tuple(map(str, r)) for r in drows}
            for r in list(sset - dset)[:3]:
                print("   spark-only:", r)
            for r in list(dset - sset)[:3]:
                print("   duck-only: ", r)
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracle checks passed")


if __name__ == "__main__":
    main()
