from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from super_speedy_syslog_searcher_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# the s4 reference checkout (source, real-log corpus, expected
# outputs), kept next to this repository; tests that read it carry
# the requires_reference marker and skip when it is absent, so a
# missing environment never reads as a program failure
REFERENCE = Path(__file__).resolve().parents[2] / "reference"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference: reads the s4 reference checkout; "
        "skipped when it is absent",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(REFERENCE):
        return
    skip = pytest.mark.skip(reason=f"reference checkout {REFERENCE} absent")
    for item in items:
        if "requires_reference" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


def norm_frame(df):
    """Order-insensitive, dtype-tolerant normal form for comparison."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif dt in ("Int32", "Int64", "int32", "int64", "Float64"):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def assert_frames_equal(sdf, odf, name=""):
    import pandas as pd  # noqa: F401

    a, b = norm_frame(sdf), norm_frame(odf)
    assert list(a.columns) == list(b.columns), f"{name}: column mismatch"
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    for c in a.columns:
        eq = ((a[c].isna() & b[c].isna()) | (a[c] == b[c])).all()
        assert eq, f"{name}.{c}: values differ"
