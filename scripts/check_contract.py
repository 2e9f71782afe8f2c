"""Replicates the driver's correctness gate locally.

Runs every ``queries()`` entry at sf0.01 through Spark AND its
``oracle_sql()`` through DuckDB, then compares row count and an
order-insensitive value hash (columns sorted by name, rows sorted by their
stringified tuple, floats at FULL precision — bit-exact like the driver).

Usage: python scripts/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def canon_duck(t: str) -> str:
    """Canonical type family for a DuckDB result column (str(rel.types[i])).

    The driver's hash is type-sensitive: DuckDB ``sum(int) OVER`` returns
    HUGEINT (int128) which hashes differently from Spark's BIGINT even when
    every value is byte-identical — that bug shipped twice because this
    script used to stringify cells.  HUGEINT maps to its own family (it is
    NOT int64-representable without an explicit cast); the int64-safe
    integer widths collapse together.
    """
    t = t.strip().upper()
    if t.endswith("[]"):
        return "arr<" + canon_duck(t[:-2]) + ">"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"):
        return "i64"
    if t in ("HUGEINT", "UHUGEINT", "UBIGINT"):
        return "i128"
    if t == "DOUBLE":
        return "f64"
    if t in ("FLOAT", "REAL"):
        return "f32"
    if t.startswith("DECIMAL"):
        scale = t.split(",", 1)[1].rstrip(")").strip() if "," in t else "0"
        return f"dec.{scale}"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "BLOB":
        return "bin"
    return t.lower()


def canon_spark(t: str) -> str:
    """Canonical type family for a Spark column (dataType.simpleString())."""
    t = t.strip().lower()
    if t.startswith("array<") and t.endswith(">"):
        return "arr<" + canon_spark(t[6:-1]) + ">"
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "i64"
    if t == "double":
        return "f64"
    if t == "float":
        return "f32"
    if t.startswith("decimal"):
        scale = t.split(",", 1)[1].rstrip(")").strip() if "," in t else "0"
        return f"dec.{scale}"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "ts"
    if t == "binary":
        return "bin"
    return t


def type_mismatches(scols, stypes, ocols, otypes) -> list[str]:
    """Column-name-matched canonical type comparison; returns mismatch strings."""
    smap = {c.lower(): canon_spark(t) for c, t in zip(scols, stypes)}
    omap = {c.lower(): canon_duck(t) for c, t in zip(ocols, otypes)}
    out = []
    for name in sorted(set(smap) & set(omap)):
        if smap[name] != omap[name]:
            out.append(f"{name}: spark={smap[name]} oracle={omap[name]}")
    return out


def norm_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # FULL precision: the driver's hash gate compares values exactly, so
        # any float that is not bit-identical across engines must fail here
        # too (9-sig-digit rounding let the r1 sessionize bug through).
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from binlog_es_go_spark.session import build_session

    spark = build_session("contract-check", parallelism=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows  ({time.time()-t0:.1f}s)")
            if len(srows) == 0 and name != "dedup_exact_groups":
                print(f"     WARN {name}: zero rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        sn, sh = table_hash(srows, scols)
        on, oh = table_hash(orows, ocols)
        cols_match = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
        tmism = type_mismatches(scols, stypes, ocols, otypes)
        status = "ok  " if (sn == on and sh == oh and cols_match and not tmism) else "FAIL"
        print(f"{status} {name}: spark {sn} rows [{sh}] vs oracle {on} rows [{oh}] cols_match={cols_match} types_match={not tmism}  ({time.time()-t0:.1f}s)")
        if status == "FAIL":
            failures.append(name)
            for m in tmism:
                print(f"     TYPE {m}")
            if not cols_match:
                print(f"     spark cols: {sorted(scols)}\n     oracle cols: {sorted(ocols)}")
            elif sn == on:
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                ls = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
                lo = sorted("|".join(norm_cell(r[i]) for i in order_o) for r in orows)
                diffs = [(a, b) for a, b in zip(ls, lo) if a != b][:3]
                for a, b in diffs:
                    print(f"     spark : {a[:160]}\n     oracle: {b[:160]}")
    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
