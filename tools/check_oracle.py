"""Local mimic of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, sorted column names, and sorted row values (exact; floats
compared bit-exact first, then with 1e-9 tolerance reported separately).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))

import duckdb  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from flink_stream_processing_refarch_spark.schemas import TESTDATA_TABLES  # noqa: E402
from flink_stream_processing_refarch_spark.session import get_spark  # noqa: E402

sys.path.insert(0, TOOLS)
from check_oracle_types import hostile_columns  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Sort columns by name, then sort rows — order-insensitive compare."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9) + 0.0  # fold -0.0
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def rows_equal(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not (
                    va == vb
                    or (math.isnan(va) and math.isnan(vb))
                    or math.isclose(va, vb, rel_tol=1e-9, abs_tol=1e-12)
                ):
                    return False
            elif va != vb:
                return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    queries = entry.queries()
    # A selector that matches nothing must be a HARD error: a mistyped
    # query name (or flag) would otherwise print "PASS (0 failures)"
    # over zero queries and masquerade as a green transcript.
    unknown = only - set(queries)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        return 2
    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only)")
            continue
        try:
            # MANDATORY type gate (VERDICT r07 item 2): an oracle whose
            # bound output carries HUGEINT / STRUCT / LIST / INTERVAL
            # columns hashes differently under the driver even when the
            # values match Spark exactly — so it FAILS here regardless
            # of the value compare below. DESCRIBE binds w/o executing.
            desc = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            bad = hostile_columns(desc)
            if bad:
                print(
                    f"FAIL {name}: driver-hostile oracle column types"
                    f" {bad} (values not compared — fix the oracle SQL)"
                )
                failures += 1
                continue
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            failures += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            failures += 1
            continue
        ns, nd = normalize(srows, scols), normalize(drows, dcols)
        if rows_equal(ns, nd):
            print(f"PASS {name}: rows={len(srows)} ({dt:.1f}s)")
        else:
            diffs = [(a, b) for a, b in zip(ns, nd) if not rows_equal([a], [b])]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: {diffs[:2]}")
            failures += 1
    print("RESULT:", "FAIL" if failures else "PASS", f"({failures} failures)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
