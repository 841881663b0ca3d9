"""Shared fixtures: one SparkSession per test run, a DuckDB connection with
the driver tables registered as views, and the driver-shaped compare helper
(row count + schema column names + order-insensitive value match)."""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pytest

from crane_stream_processing_spark.session import get_spark

SF_UNIT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# How functions.tokens prints in a Catalyst plan:
# ``regexp_extract_all(<col>, \S+, 0)``. Plan-shape tests count it to pin
# one tokenization per plan node.
TOKENIZER = r", \S+, 0)"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_UNIT


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round to 9 significant decimals to absorb last-ulp engine drift
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(rows, colnames):
    """Driver-shaped normalization: sort columns by name, then sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return sorted(colnames), out


def assert_query_matches_oracle(spark, duck, qfn, oracle, sf_dir):
    sdf = qfn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d = duck.execute(oracle)
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()
    sc, sr = normalize(s_rows, s_cols)
    dc, dr = normalize(d_rows, d_cols)
    assert sc == dc, f"column mismatch: spark={sc} duck={dc}"
    assert len(sr) == len(dr), f"row count mismatch: spark={len(sr)} duck={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        assert a == b, f"row {i} mismatch:\n spark={a}\n duck ={b}"


def models_across_layouts(spark, df, fit) -> list:
    """``fit(df')`` under every layout a model must not depend on: shuffle
    partitions {1, 8} × AQE {on, off} × ``df`` repartitioned to {1, 8}.
    An exact trainer returns the same model for all eight."""
    from crane_stream_processing_spark.session import scoped_confs

    models = []
    for parts in ("1", "8"):
        for aqe in ("true", "false"):
            confs = {
                "spark.sql.shuffle.partitions": parts,
                "spark.sql.adaptive.enabled": aqe,
            }
            with scoped_confs(spark, confs):
                for n in (1, 8):
                    models.append(fit(df.repartition(n)))
    return models
