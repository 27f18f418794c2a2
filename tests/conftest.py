"""Shared test fixtures: one SparkSession per test session."""

from __future__ import annotations

import pytest

from module8_movies_etl_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


@pytest.fixture
def driver_reads(request, spark, monkeypatch):
    """Runs one test with ``spark.sql.autoBroadcastJoinThreshold`` set to
    ``request.param`` (``None`` keeps the session's), restores the conf
    afterwards, and yields, per ``scratch.take_small`` call, whether the
    snapshot came back as a driver-side table."""
    from module8_movies_etl_spark.sources import scratch

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    if request.param is not None:
        spark.conf.set(key, request.param)
    took: list[bool] = []
    take_small = scratch.take_small

    def spy(snap):
        table = take_small(snap)
        took.append(table is not None)
        return table

    monkeypatch.setattr(scratch, "take_small", spy)
    try:
        yield took
    finally:
        spark.conf.set(key, before)
