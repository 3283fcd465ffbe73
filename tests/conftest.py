import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hadoop_bam_spark.session import get_spark

    # Whole-stage codegen OFF for the unit suite (r18, verify budget):
    # every test plan runs ONCE, so Janino-compiling a generated class
    # per stage is pure overhead — measured 192 s -> 152 s on
    # test_interval_ops alone, ~3 min across the suite. Assertions are
    # unchanged (no test asserts codegen spans); the PRODUCTION session
    # config (codegen on) keeps its own gates: tools.check_oracle runs
    # every registered query against DuckDB and bench.py times them, both on
    # get_spark() defaults.
    spark = get_spark(
        "pytest",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.codegen.wholeStage": "false"},
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    # sf0.001 views (r18): the only consumer asserts oracle SQL *validity*
    # (parse + execute), not result correctness — that is what
    # tools.check_oracle and the driver's CORRECTNESS gate verify at the
    # larger SFs. At sf0.01 the quadratic oracles made this one test 175 s
    # of the suite's verify budget; sf0.001 runs the identical SQL surface.
    import duckdb

    from hadoop_bam_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
