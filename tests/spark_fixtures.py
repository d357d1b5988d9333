"""Shared session-scoped Spark fixture helpers."""

import pytest

from pink_spider_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pink-spider-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def sharded_seen_filter(spark):
    """Force the crawl driver's sharded seen-bloom: lower the session's
    broadcast limit below the smallest full bloom build (~117 KB), so the
    driver judges the bitmap too large to broadcast.  Restores the
    previous setting afterwards."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "1k")
    yield
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)
