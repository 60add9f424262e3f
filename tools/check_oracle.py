"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, compare row count + schema (column names) + order-insensitive
value hash. Usage: python tools/check_oracle.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402

from pdf_to_text_spark.core.caching import mark_caches, release_caches_since  # noqa: E402
from pdf_to_text_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    return str(v)


def collect_query(spark, fn, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Columns and rows of one query. The caches its operators register
    (``core.caching``) are released once the rows are collected, so a
    session running every query does not keep each one's caches."""
    mark = mark_caches()
    try:
        sdf = fn(spark, sf_dir)
        return sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        release_caches_since(mark)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")

    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and not name.startswith(only):
            continue
        try:
            scols, srows = collect_query(spark, fn, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} hash={'=' if ok_hash else f'{sh} vs {oh}'}"
        )
        if status == "FAIL" and ok_cols and ok_count:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            s_set = sorted("|".join(_norm_cell(r[i]) for i in order) for r in srows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            o_set = sorted("|".join(_norm_cell(r[i]) for i in oorder) for r in orows)
            for a, b in zip(s_set, o_set):
                if a != b:
                    print(f"   spark : {a[:220]}")
                    print(f"   oracle: {b[:220]}")
                    break
    spark.stop()
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
