"""Shared pytest fixtures: one SparkSession per test session, plus the
oracle-parity comparator that mirrors the driver's check (sort columns by
name, order-insensitive row compare, exact values after rounding)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pinterest_data_pipeline400_spark.schemas import TESTDATA_TABLES
from pinterest_data_pipeline400_spark.session import build_session

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
# Parity tests run at sf0.001 by default (fast); set SPARK_GRAFT_TEST_SF=0.01
# to replicate the driver's correctness gate exactly.
TEST_SF_NAME = f"sf{os.environ.get('SPARK_GRAFT_TEST_SF', '0.001')}"
TEST_SF_DIR = os.path.join(TESTDATA_ROOT, TEST_SF_NAME)


def rewrite_oracle_sf(sql: str) -> str:
    """Registry oracles hardcode the driver's sf0.01 fixture paths (the
    driver contract needs static strings); local tests at another sf
    rewrite the path to the same-scale fixture dir."""
    return sql.replace("/sf0.01/", f"/{TEST_SF_NAME}/")


@pytest.fixture(scope="session")
def spark():
    # local[SPARK_GRAFT_CPUS]: the suite's command exports the host's
    # core count, so stateful entries run at that host's state-partition
    # count; 8 when unset
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = build_session(app_name="pytest", cpus=cpus)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(TEST_SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's compare: sort columns by name, then sort rows."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: column mismatch {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = a[col], b[col]
        # The driver's value hash is REPRESENTATION-sensitive: an int64
        # Spark column vs a float64 oracle column hash-mismatches even
        # when every value is equal (this exact miss shipped once, as
        # docs_pack_bins' HUGEINT-window // returning float64 from
        # DuckDB). Catch it here instead of in the driver's report.
        assert {av.dtype.kind, bv.dtype.kind} != {"i", "f"}, (
            f"{name}.{col}: integer-vs-float dtype mismatch "
            f"({av.dtype} vs {bv.dtype}) — the driver's value hash "
            "would flag this even with equal values; CAST the oracle "
            "(or the Spark column) so both sides agree"
        )
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            pd.testing.assert_series_equal(
                av.astype(float), bv.astype(float), check_names=False,
                rtol=0, atol=0, obj=f"{name}.{col}",
            )
        else:
            pd.testing.assert_series_equal(
                av, bv, check_names=False, check_dtype=False, obj=f"{name}.{col}"
            )
