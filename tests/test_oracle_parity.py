"""Side-by-side parity harness mimicking the driver's correctness gate:
run every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf=0.01, compare row count, column names, and order-insensitive values.
"""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round in-engine; canonicalize residual binary noise
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


ORACLED = sorted(entry_mod.oracle_sql().keys())


_SPARK_TO_CANON = {
    "bigint": "i64", "int": "i32", "smallint": "i32", "double": "f64",
    "float": "f64", "string": "str", "boolean": "bool",
    "timestamp": "ts", "date": "date",
}
_ARROW_TO_CANON = {
    "int64": "i64", "int32": "i32", "uint32": "i64", "double": "f64",
    "float": "f64", "string": "str", "large_string": "str", "bool": "bool",
    "timestamp[us]": "ts", "timestamp[ns]": "ts", "date32[day]": "date",
}


def _canon_types(pairs, table):
    out = {}
    for name, t in pairs:
        t = str(t)
        out[name] = table.get(t, t)
    return out


@pytest.mark.parametrize("name", ORACLED)
def test_parity(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    tbl = ddb.execute(entry_mod.oracle_sql()[name]).arrow()
    arrow_schema = tbl.schema
    d_cols = list(tbl.column_names)
    d_rows = [tuple(row[c] for c in d_cols) for row in tbl.to_pylist()]
    assert sorted(s_cols) == sorted(d_cols), f"{name}: columns {s_cols} vs {d_cols}"
    # type compatibility (the driver compares schemas): canonicalize spark
    # simpleString vs duckdb arrow types
    s_types = _canon_types(((f.name, f.dataType.simpleString()) for f in sdf.schema.fields), _SPARK_TO_CANON)
    d_types = _canon_types(((f.name, f.type) for f in arrow_schema), _ARROW_TO_CANON)
    mismatched = {c: (s_types[c], d_types[c]) for c in s_types
                  if c in d_types and s_types[c] != d_types[c]}
    assert not mismatched, f"{name}: type mismatches {mismatched}"
    assert len(s_rows) == len(d_rows), f"{name}: rows {len(s_rows)} vs {len(d_rows)}"
    assert len(s_rows) > 0, f"{name}: empty result is a weak check — make it nonempty"
    a, b = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first mismatches {mism}"


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(ORACLED)
