"""Cross-engine correctness gate: every ``__spark_entry__.queries()`` entry
at sf0.01 must equal its ``oracle_sql()`` DuckDB result — same column
names, same row count, same sorted values (normalized by :func:`norm`).

One test id per query; run a subset with
``python scripts/check_oracle.py [query ...]``.
"""

from __future__ import annotations

import duckdb
import pytest
from conftest import SF01

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def norm(v):
    """Total-orderable, engine-agnostic value repr (stringly)."""
    if v is None or v != v:  # None / NaN / NaT
        return ""
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        return f"f:{round(v, 9):.9f}"
    if isinstance(v, int):
        return f"i:{v}"
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return f"t:{s[:10]}" if len(s) == 10 else f"t:{s}"
    return f"s:{v}"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF01}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_oracle_parity(spark, duck, name):
    sdf = QUERIES[name](spark, SF01)
    cols = sorted(sdf.columns)
    srows = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())

    rel = duck.sql(ORACLES[name])
    # The cross-engine hash check renders DuckDB HUGEINT as float while Spark
    # emits bigint — fetchall() hides this (Python int both ways), so gate
    # on the declared relation types instead.
    hug = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
    assert not hug, f"oracle columns typed HUGEINT {hug}: CAST(... AS BIGINT)"
    cur = duck.execute(ORACLES[name])
    raw_cols = [d[0] for d in cur.description]
    perm = [raw_cols.index(c) for c in sorted(raw_cols)]
    orows = sorted(tuple(norm(row[i]) for i in perm) for row in cur.fetchall())

    assert cols == sorted(raw_cols)
    assert len(srows) == len(orows)
    diff = [(a, b) for a, b in zip(srows, orows) if a != b]
    assert not diff, f"values differ in {len(diff)}/{len(srows)} rows; first: {diff[0]}"
