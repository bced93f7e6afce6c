"""Mimics the driver's correctness gate: run every __spark_entry__
query at sf0.01 and compare against its DuckDB oracle — row count,
column names, and order-insensitive exact values.
"""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from engine.spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="engine-tests")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6f}"
        if isinstance(v, pd.Timestamp):
            return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
        return str(v)

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_vs_oracle(spark, duck, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    want = duck.execute(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    cg, cw = _canon(got), _canon(want)
    if cg != cw:
        diffs = [(a, b) for a, b in zip(cg, cw) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0  # runs and produces a stable schema
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_registry_keys_unique():
    keys = [k for k, _, _ in entry_mod._REGISTRY]
    assert len(keys) == len(set(keys))


def test_oracle_sql_follows_queries_order():
    assert list(ORACLES) == [k for k in QUERIES if k in ORACLES]


def test_only_the_sketch_has_no_twin():
    assert set(QUERIES) - set(ORACLES) == {"value_quantiles_approx"}


def test_epoch_budget_twin_drops_zero_mass_source(spark, tmp_path):
    """A targeted source whose every text is blank has zero token mass:
    the engine drops it (mix.epoch_budget), and so must the twin rather
    than emit NULL repeat factors from its integer division."""
    docs = pd.DataFrame({
        "doc_id": list(range(6)),
        "text": ["alpha beta", "gamma delta eps", "zeta", "", "  ", "   "],
        "source": ["src0", "src0", "src1", "src2", "src2", "src2"],
    })
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    got = entry_mod.q_epoch_budget(spark, str(tmp_path)).toPandas()
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        want = con.execute(ORACLES["epoch_budget"]).df()
    assert set(got["source"]) == {"src0", "src1"}
    assert sorted(got.columns) == sorted(want.columns)
    assert _canon(got) == _canon(want)
