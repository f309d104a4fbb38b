from __future__ import annotations

import os

import pytest

TESTDATA = "/root/testdata"
# SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 runs the parity suite at
# the driver's correctness-gate scale instead of the fast smoke scale.
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", f"{TESTDATA}/sf0.001")
SF_CORRECT = f"{TESTDATA}/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from talknet_segmentation_batchprocessing_spark.session import get_spark

    s = get_spark(app_name="tests", driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
