from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from trading_etl_python_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def degenerate_tables(sf_dir, tmp_path):
    """Write every sf_dir table cut to a shape under tmp_path and return
    the directory: ``degenerate_tables("empty")`` keeps no rows (schema
    only), ``degenerate_tables("first7")`` each table's first 7 rows."""
    import pyarrow.parquet as pq

    def write(shape: str) -> str:
        keep = {"empty": 0, "first7": 7}[shape]
        out = tmp_path / shape
        out.mkdir()
        for src in sorted(Path(sf_dir).glob("*.parquet")):
            pq.write_table(pq.read_table(src).slice(0, keep), out / src.name)
        return str(out)

    return write
