#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB at sf0.01, compare row count, column names, and an
order-insensitive value digest.

Usage: python scripts/check_correctness.py [sf_dir] [--only name1,name2]
                                          [--json out.json]

--json writes, per query, the match flags plus both digests
(`spark_digest`, `oracle_digest`), so two trees can be compared digest for
digest rather than only on the match flag.
"""

import hashlib
import sys

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def digest(df):
    """Order-insensitive digest over stringified cells, columns sorted."""
    cols = sorted(df.columns)
    rows = [
        "\x1f".join(_norm(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(r.encode("utf-8", "replace"))
        h.update(b"\x1e")
    return h.hexdigest()


def _norm(v):
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    return str(v)


def main():
    argv = list(sys.argv[1:])
    only = None
    json_out = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i:i + 2]
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    record = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        sdf = fn(spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf):8d}  (no oracle: rows-only check)")
            record[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": None, "spark_rows": len(sdf),
                            "oracle_rows": None, "spark_digest": digest(sdf),
                            "oracle_digest": None, "err": None}
            continue
        odf = con.sql(oracles[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ds, do = digest(sdf), digest(odf)
        ok_hash = ds == do
        status = "OK " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        record[name] = {"rows_match": ok_rows, "schema_match": ok_cols,
                        "hash_match": ok_hash, "spark_rows": len(sdf),
                        "oracle_rows": len(odf), "spark_digest": ds,
                        "oracle_digest": do, "err": None}
        print(
            f"{name:28s} {status} rows {len(sdf)}/{len(odf)} "
            f"cols={'=' if ok_cols else sorted(sdf.columns)} hash={'=' if ok_hash else (ds[:12] + '!=' + do[:12])}"
        )
        if not ok_hash and ok_rows and ok_cols:
            # show a sample diff to debug
            import pandas as pd

            cols = sorted(sdf.columns)
            a = sdf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            b = odf[cols].astype(str).sort_values(cols).reset_index(drop=True)
            neq = (a != b).any(axis=1)
            print(a[neq].head(3))
            print(b[neq].head(3))
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "failures": failures,
                       "queries": record}, f, indent=1)
        print(f"wrote {json_out}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
