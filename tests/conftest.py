from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_finance_spark.session import get_spark
from etl_finance_spark.testing import duck_connect

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_CORRECT)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_smoke():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


def explain_simple(spark, df) -> str:
    """Simple-mode physical plan text (shared by the plan-test modules)."""
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )


def model_digest(entries, keys: tuple[str, ...], vec: str) -> str:
    """sha256 over a packed model's exact text (keys, then every double
    as float.hex()): a golden digest pins a trained model bit for bit."""
    text = ";".join(
        ",".join(str(e[k]) for k in keys) + ":"
        + ",".join(float.hex(x) for x in e[vec])
        for e in entries
    )
    return hashlib.sha256(text.encode()).hexdigest()
