"""Opt-in bit-exact oracle tier: every contract entry that has a DuckDB
twin, run at sf0.01 and compared with EXACT value equality. The driver
hashes values, so only bit-identical results count; the default tier's
``oracle_compare.compare`` runs at sf0.001 and allows 1e-9 on floats.

    python -m pytest -m oracle_full tests/

The default run deselects these tests (``conftest.py``)."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

from snowplow_elasticsearch_loader_spark.contract import ORACLE_SQL, SPARK_QUERIES

from .oracle_compare import duck_con

pytestmark = pytest.mark.oracle_full


@pytest.fixture(scope="module")
def sf_small(sf_tiny) -> str:
    """The sf0.01 data set, which sits next to the sf0.001 one."""
    return os.path.join(os.path.dirname(sf_tiny), "sf0.01")


@pytest.fixture(scope="module")
def con(sf_small):
    return duck_con(sf_small)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, then rows sorted on every column; floats stay
    float64 (no rounding), ints become int64, dates and objects str."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", [n for n in SPARK_QUERIES if n in ORACLE_SQL])
def test_twin_bit_exact(spark, sf_small, con, name):
    got = SPARK_QUERIES[name](spark, sf_small).toPandas()
    want = con.execute(ORACLE_SQL[name]).fetchdf()
    assert len(got) == len(want), f"{name}: {len(got)} rows, oracle {len(want)}"
    assert sorted(got.columns) == sorted(want.columns), name
    g, w = _norm(got), _norm(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            ok = all(
                a == b or (math.isnan(a) and math.isnan(b))
                for a, b in zip(g[c], w[c].astype("float64"))
            )
        else:
            ok = (g[c].astype(str) == w[c].astype(str)).all()
        assert ok, f"{name}: col {c} mismatch"
