"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir and the matching
``oracle_sql()`` on DuckDB over the same parquet files; compares row count,
sorted column names, and an order-insensitive value hash (values stringified
with repr after float normalization).

``check_query`` is the per-query compare; ``tests/test_oracle_gate.py``
runs it for every key in tier-1.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

# the fixture tables some registered query reads
TABLES = ["orders", "customer", "nation", "documents"]


def _norm_cell(v):
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every fixture table of ``sf_dir`` as a view."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_query(spark, con, sf_dir: str, name: str, fn, sql: str) -> tuple[bool, str]:
    """Run one query on Spark and its oracle on DuckDB; compare sorted
    column names, row count and the canonical value hash. Returns
    ``(passed, report)``, the report being the PASS/FAIL line(s)."""
    try:
        sdf = fn(spark, sf_dir)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    except Exception as ex:
        return False, f"FAIL {name}: SPARK ERROR {type(ex).__name__}: {str(ex)[:500]}"
    try:
        res = con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    except Exception as ex:
        return False, f"FAIL {name}: DUCKDB ERROR {type(ex).__name__}: {str(ex)[:500]}"

    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"FAIL {name}: schema spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"FAIL {name}: rows spark={len(spark_rows)} duck={len(duck_rows)}"
    a = _canon(spark_rows, spark_cols)
    b = _canon(duck_rows, duck_cols)
    if a != b:
        lines = [f"FAIL {name}: value mismatch; first diffs:"]
        for x, y in [(x, y) for x, y in zip(a, b) if x != y][:3]:
            lines.append(f"  spark: {x[:300]}")
            lines.append(f"  duck : {y[:300]}")
        return False, "\n".join(lines)
    return True, f"PASS {name} ({len(spark_rows)} rows)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from language_diversity_common_crawler_spark.session import get_spark

    spark = get_spark("check-correctness", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = oracle_connection(sf_dir)

    qs, os_ = e.queries(), e.oracle_sql()
    n_pass = n_fail = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        ok, report = check_query(spark, con, sf_dir, name, fn, os_[name])
        print(report)
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} pass, {n_fail} fail" + (f": {failures}" if failures else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
