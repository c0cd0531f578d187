"""Replicates the driver's correctness gate locally: run every
``__spark_entry__.queries()`` entry on Spark AND its ``oracle_sql()`` on
DuckDB at sf0.01, compare row-count, column names, and order-insensitive
values.  Each gate runs inside a pin scope, which must leave no
persistent RDD behind."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from boon_spark.operators._ckpt import scope

# default sf0.01 = the driver gate scale; the CLAUDE.md 10x sweep runs
# the same module with SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.1
SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return repr(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


ORACLES = entry_mod.oracle_sql()
QUERY_IDS = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_IDS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    # compare id sets, not counts: the scope may also drop an equal
    # plan an earlier test cached outside any scope
    before = _persistent_rdds(spark)
    with scope():
        sdf = q(spark, SF_DIR)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    leaked = _persistent_rdds(spark) - before
    assert not leaked, f"{name}: persistent RDDs left behind {leaked}"
    if name not in ORACLES:
        pytest.skip(f"{name}: no oracle (rows-only check)")
    ddf = duck.execute(ORACLES[name]).fetchall()
    d_cols = [d[0] for d in duck.execute(ORACLES[name]).description]
    assert sorted(s_cols) == sorted(d_cols), \
        f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(ddf), \
        f"{name}: rowcount {len(s_rows)} vs duckdb {len(ddf)}"
    sn = _norm_rows(s_cols, s_rows)
    dn = _norm_rows(d_cols, ddf)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    n = df.count()
    assert n >= 0
    assert df.columns == ["valid", "instance_location", "keyword_location",
                          "absolute_keyword_location", "error"]
