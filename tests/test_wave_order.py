"""wave_order: the in-wave sequence is the rank by (priority DESC, url
ASC), whichever physical strategy the row count picks — the single
global window at or below ``WAVE_ORDER_WINDOW_MAX`` rows, the
range-partition rank above it.  Both sides are checked against a plain
Python ``sorted`` reference, with priority ties broken by url."""

from pink_spider_spark.crawl import scheduler

LIMIT = scheduler.WAVE_ORDER_WINDOW_MAX


def _rows(n):
    # five priority levels over n rows: every level is a large tie group
    return [(f"https://h{i % 7}.example.com/p/{i:05d}", float((i * 13) % 5))
            for i in range(n)]


def _reference(rows):
    ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
    return {url: pos for pos, (url, _p) in enumerate(ranked, start=1)}


def _check(spark, n):
    rows = _rows(n)
    df = spark.createDataFrame(rows, ["url", "priority"])
    got = {r.url: r.wave_pos for r in scheduler.wave_order(df).collect()}
    assert got == _reference(rows)


def test_window_wave_order_matches_sorted_at_limit(spark):
    _check(spark, LIMIT)


def test_distributed_wave_order_matches_window(spark):
    """Above the limit the range-partition rank must give exactly the
    sequence the single window (the sorted reference) defines: dense
    1..n, ties broken by url."""
    _check(spark, LIMIT + 952)


def test_distributed_wave_order_columns_clean(spark):
    rows = [(f"https://x.example.com/{i}", 1.0) for i in range(LIMIT + 50)]
    df = spark.createDataFrame(rows, ["url", "priority"])
    out = scheduler.wave_order(df)
    assert set(out.columns) == {"url", "priority", "wave_pos"}
