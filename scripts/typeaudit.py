"""Wire-type audit over the driver contract: for every oracled query,
compare the Spark result schema against DuckDB's DESCRIBE of the oracle
SQL and flag column pairs whose *pandas wire representation* would
differ even when values are identical.

Motivation (round-4 red rows): the driver's value-hash is type-sensitive
through pandas — Spark DECIMAL(38,0) surfaces as Python Decimal objects
while DuckDB DECIMAL/HUGEINT surface as float64, so a value-identical
result hash-mismatches. This audit catches that class statically (no
query execution on the DuckDB side; Spark side only builds the plan,
except the few gates that compute eagerly inside the query function).

Flags:
  * DECIMAL on either side (pandas object vs float64 — never safe)
  * HUGEINT on the oracle side (pandas float64; Spark has no int128)
  * int-class vs float-class crossings in either direction
  * any other kind mismatch (string vs numeric, etc.)

Usage: python scripts/typeaudit.py [--only name1,name2]
Exit code 1 if any flag fires. The same check (``wire_flags``) runs on
every oracled query in tests/test_entry_contract.py.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = entrymod._ORACLE_SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_SPARK_INT = {"long", "int", "integer", "short", "byte", "bigint", "smallint", "tinyint"}
_SPARK_FLOAT = {"double", "float"}
_DUCK_INT = {"BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}
_DUCK_FLOAT = {"DOUBLE", "FLOAT", "REAL"}


def _spark_kind(dt: str) -> str:
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt in _SPARK_INT:
        return "int"
    if dt in _SPARK_FLOAT:
        return "float"
    if dt in ("string", "varchar"):
        return "str"
    if dt in ("boolean", "bool"):
        return "bool"
    if dt.startswith(("array", "map", "struct", "binary", "date", "timestamp")):
        return dt.split("<")[0].split("(")[0]
    return dt


def _duck_kind(dt: str) -> str:
    dt = dt.upper()
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt == "HUGEINT":
        return "hugeint"
    if dt in _DUCK_INT:
        return "int"
    if dt in _DUCK_FLOAT:
        return "float"
    if dt in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if dt in ("BOOLEAN", "BOOL"):
        return "bool"
    if dt.endswith("[]"):
        return "array"
    if dt.startswith(("STRUCT", "MAP", "LIST")):
        return dt.split("(")[0].lower()
    if dt in ("BLOB", "BYTEA"):
        return "binary"
    if dt.startswith(("DATE", "TIMESTAMP", "TIME")):
        return dt.split("(")[0].lower()
    return dt.lower()


def wire_flags(s_types: dict[str, str], d_types: dict[str, str]) -> list[tuple[str, str]]:
    """``(column, message)`` for every column whose pandas wire kind
    differs between the Spark schema ``s_types`` and the DuckDB DESCRIBE
    types ``d_types`` (both ``{column: type string}``)."""
    if set(s_types) != set(d_types):
        return [
            ("*",
             f"column sets differ: spark-only={sorted(set(s_types) - set(d_types))} "
             f"oracle-only={sorted(set(d_types) - set(s_types))}")
        ]
    flags = []
    for col in sorted(s_types):
        sk, dk = _spark_kind(s_types[col]), _duck_kind(d_types[col])
        if sk == "decimal" or dk == "decimal":
            flags.append(
                (col,
                 f"DECIMAL on the wire ({s_types[col]} vs {d_types[col]}) — "
                 "Spark Decimal obj vs DuckDB float64")
            )
        elif dk == "hugeint":
            flags.append(
                (col, f"oracle HUGEINT vs spark {s_types[col]} — pandas float64 vs int64")
            )
        elif sk != dk:
            flags.append((col, f"kind mismatch: {s_types[col]} vs {d_types[col]}"))
    return flags


def audit(only: set[str] | None = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    from duwamish_spark.session import get_spark

    spark = get_spark()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    flags = []
    checked = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        try:
            sdf = qs[name](spark, SF_DIR)
            s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        except Exception as exc:  # pragma: no cover - audit tool
            flags.append((name, "*", f"spark build failed: {exc!r:.200}"))
            continue
        try:
            rows = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            d_types = {r[0]: r[1] for r in rows}
        except Exception as exc:  # pragma: no cover - audit tool
            flags.append((name, "*", f"duckdb describe failed: {exc!r:.200}"))
            continue
        checked += 1
        flags += [(name, col, msg) for col, msg in wire_flags(s_types, d_types)]

    print(f"typeaudit: {checked} queries described, {len(flags)} flags")
    for name, col, msg in flags:
        print(f"  FLAG {name}.{col}: {msg}")
    return 1 if flags else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ns = ap.parse_args()
    sys.exit(audit(set(ns.only.split(",")) if ns.only else None))
