"""Local simulation of the driver's correctness gate: run each queries()
entry and its oracle_sql() on the same parquet at sf0.01, compare row count,
column names, and order-insensitive values. Each result line ends with
md5=<digest> of the query's raw Spark rows (sorted, uncanonicalised), so two
checkouts' sweep logs diff to "value-identical" or not."""
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def row_key(row):
    """None-safe sort key: Python can't order None against str/int, so
    order by (is-None, stringified value) per cell — both engines'
    rows get the identical key, and equality still compares raw."""
    return tuple((v is None, str(v)) for v in row)


def main():
    import __spark_entry__ as e
    from json_schema_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = e.queries(), e.oracle_sql()
    only = sys.argv[1:] or list(qs)
    failures = 0
    for name in only:
        fn = qs[name]
        sdf = fn(spark, SF_DIR)
        scols = sorted(sdf.columns)
        raw = sorted((tuple(r[c] for c in scols) for r in sdf.collect()),
                     key=row_key)
        md5 = hashlib.md5(repr(raw).encode()).hexdigest()
        srows = sorted((tuple(canon(v) for v in row) for row in raw),
                       key=row_key)
        if name not in oracles:
            print(f"{name}: rows={len(srows)} (no oracle — rows-only) "
                  f"md5={md5}")
            continue
        ddf = con.execute(oracles[name]).fetch_df()
        dcols = sorted(ddf.columns)
        drows = sorted(
            (tuple(canon(v) for v in row)
             for row in ddf[dcols].itertuples(index=False, name=None)),
            key=row_key)
        ok_cols = scols == dcols
        ok_n = len(srows) == len(drows)
        ok_vals = srows == drows
        status = "OK" if (ok_cols and ok_n and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name}: {status} rows={len(srows)}/{len(drows)} "
              f"cols={ok_cols} md5={md5}")
        if not ok_cols:
            print(f"  spark cols: {scols}\n  duckdb cols: {dcols}")
        if ok_cols and not ok_vals:
            sset, dset = set(srows), set(drows)
            print(f"  only-spark: {list(sset - dset)[:3]}")
            print(f"  only-duck:  {list(dset - sset)[:3]}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
