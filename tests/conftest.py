from __future__ import annotations

import collections
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="session")
def spark():
    from aws_log_ingestion_spark.session import get_spark

    spark = get_spark("pipeline-tests", cores=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def template_df(spark):
    """All FIXTURES.md §4 template conversations as a transcript DataFrame."""
    from aws_log_ingestion_spark.sources import datagen

    rows = datagen.all_template_rows()
    return datagen.to_spark_df(spark, rows).cache()


@pytest.fixture(scope="session")
def template_meta_df(spark):
    from aws_log_ingestion_spark.sources import datagen

    return datagen.meta_to_spark_df(
        spark, datagen.conv_meta_rows(datagen.all_template_rows())
    ).cache()


def pytest_terminal_summary(terminalreporter):
    """One line per distinct skip reason with its count, so every run
    reports what it skipped and why."""
    reasons = collections.Counter(
        rep.longrepr[2].removeprefix("Skipped: ")
        for rep in terminalreporter.stats.get("skipped", [])
        if isinstance(rep.longrepr, tuple)
    )
    if reasons:
        terminalreporter.section("skip reasons")
    for reason, n in reasons.most_common():
        terminalreporter.write_line(f"{n} × {reason}")
