"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at a given sf_dir via Spark AND the matching
``oracle_sql()`` via DuckDB on the same parquet, then compares:
  row count, sorted column names, and an order-insensitive value hash
(values canonicalized: floats rounded to 9 significant digits, timestamps to
ISO, rows sorted). Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import sys
import time

from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        # Type-strict: integral floats keep a ".0" so a DOUBLE column never
        # hashes equal to a BIGINT one. The driver's canonicalizer
        # distinguishes them (r01 math_funcs: bit-identical values, BIGINT
        # vs DOUBLE, hash FAIL) — collapsing here would hide driver reds.
        if math.isnan(v):
            return "NaN"
        # Sign-strict on negative zero: the driver's canonicalizer formats
        # -0.0 and +0.0 differently ("%.9g"-style "-0" vs "0"), so the
        # replica must too — collapsing them here masked the r6/r7
        # embedding_covariance driver red for two rounds (DuckDB ROUND
        # emits -0.0 where Spark F.round emits +0.0).
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}.0"
        return f"{v:.9g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from hadoop_word_score_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} spark error: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok?   {name:28s} rows={len(srows):7d} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [c.lower() for c in rel.columns]
            orows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name:28s} duckdb error: {type(e).__name__}: {str(e)[:300]}")
            continue
        srows_t = [tuple(r) for r in srows]
        sh = value_hash([c.lower() for c in scols], srows_t)
        oh = value_hash(ocols, orows)
        cols_ok = sorted(c.lower() for c in scols) == sorted(ocols)
        ok = len(srows) == len(orows) and cols_ok and sh == oh
        status = "PASS" if ok else "FAIL"
        if not ok:
            failures.append(name)
        print(
            f"{status}  {name:28s} rows={len(srows):7d}/{len(orows):<7d} "
            f"cols={'ok' if cols_ok else 'MISMATCH'} hash={'ok' if sh == oh else 'MISMATCH'} "
            f"[{time.time()-t0:.1f}s]"
        )
        if not ok and len(srows) < 50 and len(orows) < 50:
            print("  spark :", sorted(srows_t)[:6])
            print("  duckdb:", sorted(orows)[:6])
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
