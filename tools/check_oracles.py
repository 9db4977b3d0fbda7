"""Local replica of the driver's correctness gate.

Runs every queries() entry at the given sf against its oracle_sql() via
DuckDB and compares row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values stringified). Prints one
line per query; exits nonzero on any mismatch.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys

import duckdb


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    from logstash_spark.session import get_spark

    spark = get_spark(cores=8)
    # a stage whose generated code fails to compile fails its query here
    # instead of silently running interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    qs, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            s_hash, s_n = table_hash(cols, rows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        # DRIVER-canonicalizer emulation: the driver sorts a pandas frame by
        # every column before hashing — unhashable cell types (lists/dicts)
        # crash THERE even when the local stringifying hash passes (exactly
        # how round 1's only red row slipped through). Reproduce that sort.
        try:
            import pandas as _pd

            if rows:
                _pdf = _pd.DataFrame(rows, columns=cols)
                _pdf.sort_values(by=list(cols))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} driver-canonicalizer hazard: {type(e).__name__}: {str(e)[:120]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name:24s} rows={s_n} (no oracle — rows-only check)")
            if s_n == 0:
                print(f"      WARNING {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            d_hash, d_n = table_hash(d_cols, d_rows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        ok_schema = sorted(cols) == sorted(d_cols)
        ok = s_n == d_n and ok_schema and s_hash == d_hash
        status = "OK  " if ok else "FAIL"
        print(f"{status}  {name:24s} rows {s_n}/{d_n} schema={'ok' if ok_schema else f'{sorted(cols)} vs {sorted(d_cols)}'} hash {s_hash}/{d_hash}")
        if not ok:
            failures.append(name)
            if s_n == d_n and ok_schema:
                # show first differing row for debugging
                order = sorted(range(len(cols)), key=lambda i: cols[i])
                s_set = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
                d_order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                d_set = sorted("\x1f".join(norm_cell(r[i]) for i in d_order) for r in d_rows)
                for a, b in zip(s_set, d_set):
                    if a != b:
                        print(f"      spark: {a[:220]}")
                        print(f"      duck : {b[:220]}")
                        break
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
