from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vcf2db_spark.io import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from vcf2db_spark.session import get_spark

    s = get_spark("vcf2db-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def vcf_format(spark):
    """``spark.read.format("vcf")`` with ``VCFDataSource`` registered: the
    VCF entry point whose locus filters prune partitions."""
    from vcf2db_spark.sources.vcf import VCFDataSource

    spark.dataSource.register(VCFDataSource)
    return lambda: spark.read.format("vcf")


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
