"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the same sf, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
(``check`` is the same comparison on a caller's session, for tests.)
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6g}"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append((c, str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from nimbus_crawler_spark.session import build_session

    spark = build_session(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    failures = check(spark, sf_dir, sys.argv[2:])
    spark.stop()
    return 1 if failures else 0


def check(spark, sf_dir: str, names=()) -> list[tuple[str, str]]:
    """Run each named ``queries()`` entry (all when ``names`` is empty) on
    ``spark`` and its oracle on DuckDB over ``sf_dir``; print one line per
    query and return the (name, problem) failures."""
    import __spark_entry__ as entrymod

    only = set(names)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [r.asDict() for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL] {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            if len(srows) == 0 and name != "dedup_minhash_verified":
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
            dcols = con.execute(f"SELECT * FROM ({oracles[name]}) LIMIT 0").description
            dcolnames = [d[0] for d in dcols]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL] {name}: duckdb error: {str(e)[:300]}")
            continue
        problems = []
        if sorted(scols) != sorted(dcolnames):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcolnames)}")
        if len(srows) != len(ddf):
            problems.append(f"rowcount spark={len(srows)} duck={len(ddf)}")
        if not problems:
            sn, dn = normalize(srows, scols), normalize(ddf, dcolnames)
            if sn != dn:
                diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"[FAIL] {name}: {'; '.join(p[:400] for p in problems)}")
        else:
            print(f"[ok] {name}: {len(srows)} rows")

    print(f"\n{len(failures)} failures of {len(qs) if not only else len(only)}")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
