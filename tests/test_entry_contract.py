"""Mirror of the driver's correctness gate: run each __spark_entry__ query
on Spark and its oracle SQL on DuckDB over the same parquet, compare
row-count + schema-shape + sorted values exactly.

The value comparison is deliberately type-INsensitive, but the driver's
value-hash is type-sensitive through pandas (Spark DECIMAL surfaces as
Decimal objects, DuckDB DECIMAL/HUGEINT as float64, on identical
values), so each query's Spark schema must also map to the same pandas
wire kind as DuckDB's DESCRIBE of its oracle (scripts/typeaudit.py).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from scripts.typeaudit import wire_flags

# derived from the entry module so the test and the oracles can never run
# against different SF dirs (honors SPARK_GRAFT_ORACLE_SF_DIR)
SF_DIR = entrymod._ORACLE_SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            if hasattr(v, "__float__") and not isinstance(v, (int, float, bool, str)):
                v = round(float(v), 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


ORACLED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, ducks, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql()[name]
    res = ducks.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    a, b = _norm(srows, scols), _norm(drows, dcols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows, first: {mismatches[:3]}"

    s_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    d_types = {r[0]: r[1] for r in ducks.execute(f"DESCRIBE {sql}").fetchall()}
    flags = wire_flags(s_types, d_types)
    assert not flags, f"{name}: wire kinds differ: {flags}"


def test_wire_flags_catch_type_drift():
    # Spark-free: the kind classifier behind the wire-type check above
    assert wire_flags({"a": "bigint", "b": "double", "c": "string"},
                      {"a": "BIGINT", "b": "DOUBLE", "c": "VARCHAR"}) == []
    flagged = dict(wire_flags(
        {"dec": "decimal(38,0)", "huge": "bigint", "i2f": "bigint", "f2i": "double"},
        {"dec": "DOUBLE", "huge": "HUGEINT", "i2f": "DOUBLE", "f2i": "INTEGER"},
    ))
    assert set(flagged) == {"dec", "huge", "i2f", "f2i"}
    assert "DECIMAL" in flagged["dec"] and "HUGEINT" in flagged["huge"]
    assert dict(wire_flags({"d": "double"}, {"d": "DECIMAL(18,3)"}))["d"].startswith("DECIMAL")
    assert wire_flags({"a": "int"}, {"b": "INTEGER"})[0][0] == "*"


def test_every_query_is_oracled():
    # round-2 invariant: no rows-only entries left — every queries() key
    # has a DuckDB oracle (the driver gate records hash_match for all).
    # At a NON-default oracle SF dir, entries documented as conditional
    # (CONDITIONAL_ORACLES) may be intentionally omitted — skip visibly
    # instead of failing; anything else missing is a bug at any SF.
    missing = set(entrymod.queries()) - set(entrymod.oracle_sql())
    if (
        missing
        and missing <= entrymod.CONDITIONAL_ORACLES
        and entrymod._ORACLE_SF_DIR != entrymod.DEFAULT_ORACLE_SF_DIR
    ):
        pytest.skip(
            f"conditional oracles omitted at {entrymod._ORACLE_SF_DIR}: "
            f"{sorted(missing)}"
        )
    assert not missing, f"queries without oracle_sql entries: {sorted(missing)}"
    assert set(entrymod.oracle_sql()) <= set(entrymod.queries())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "rank"}
