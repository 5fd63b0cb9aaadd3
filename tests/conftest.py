from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from neo4j_blue_green_arrow_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def spark_jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts on this thread."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count guard")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def spy_parquet_reads(monkeypatch) -> list[str]:
    """Record each ``spark.read.parquet`` call, a Spark Parquet scan, by
    its first path."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet
    calls = []

    def spy(self, *paths, **options):
        calls.append(str(paths[0]))
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return calls
