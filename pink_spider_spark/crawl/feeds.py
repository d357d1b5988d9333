"""Feed sweep: the rss_crawler batch as ONE Spark job.

Reference trace (SURVEY.md §3.2): rss_crawler pages through all feeds
(reference: src/rss_crawler.rs:11-44) and per feed calls ``Feed::crawl``
(reference: src/model/feed.rs:210-232):

- RSS entries without an alternate link are skipped (feed.rs:214-217)
- ``find_or_create_by_url_if_invalid``: URLs whose entry already exists
  AND is valid (published ts >= 1000s and feed_id set,
  src/model/entry.rs:291-308) are skipped — crawl-once semantics
- surviving entries get feed props (title TRIMMED, origin_id falls back
  to the url when the feed id is empty, src/model/entry.rs:310-329)
- ``playlistify`` scrapes the page; errors are IGNORED and the entry is
  still saved (feed.rs:223-227); og:title is used only when the feed gave
  no title (entry.rs:340-348), og description/locale/first-image always win

The Spark shape: snapshot the feed list (deterministic order — the
reference's LIMIT/OFFSET pages drift as rows mutate, SURVEY §3.2 note),
explode entries, window-dedup per url (first feed in sweep order wins,
matching the sequential first-crawler-creates-it behaviour), anti-join the
existing valid entries, one extract pass over stored pages, relational
assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udfs import extract_pages

EPOCH_VALID_SECONDS = 1000  # reference: src/model/entry.rs:291-293


def valid_entry_predicate():
    """entry.is_valid(): published >= epoch+1000s AND feed_id set."""
    return (F.col("published").cast("long") >= EPOCH_VALID_SECONDS) & \
        F.col("feed_id").isNotNull()


def crawl_feeds(spark: SparkSession, feeds: DataFrame, feed_entries: DataFrame,
                pages: DataFrame, catalog_items: dict,
                existing_entries: DataFrame | None = None) -> dict:
    """One feed sweep; returns {"entries": df, "enclosures": df,
    "report": df} (report = per-feed counters, the rss_crawler stdout
    analog, reference src/rss_crawler.rs:25-33)."""
    # deterministic sweep order (reference orders by updated_at DESC pages;
    # snapshot ordering keyed on last_updated DESC, url)
    feed_order = Window.orderBy(F.desc("last_updated"), F.asc("url"))
    feeds_ranked = feeds.withColumn("feed_rank", F.row_number().over(feed_order))

    cand = (
        feed_entries
        .join(F.broadcast(feeds_ranked.select(
            F.col("url").alias("feed_url"), "feed_rank")), on="feed_url")
        .filter(F.col("alternate_href").isNotNull() &
                (F.col("alternate_href") != ""))
        .withColumn("url", F.col("alternate_href"))
    )

    # first feed in sweep order creates the entry; duplicates skip
    # (sequential find_or_create collapses to a first-wins window)
    w = Window.partitionBy("url").orderBy("feed_rank", "pos")
    cand = (cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))

    # crawl-once: skip urls whose existing entry is already valid
    if existing_entries is not None:
        already_valid = existing_entries.filter(valid_entry_predicate()) \
            .select("url")
        cand = cand.join(already_valid, on="url", how="left_anti")

    # the scraped content replaces the feed-provided content
    # (update_with_feed_entry sets it, playlistify overwrites it —
    # entry.rs:315 then entry.rs:338)
    cand = cand.drop("content")
    # fetch = thin left_semi join of the stored pages against the sweep's
    # urls (the CrawlDriver fetch plan): no url touches the driver
    hits = pages.join(cand.select("url"), on="url", how="left_semi")
    extracted = extract_pages(hits, catalog_items)

    joined = cand.join(extracted, on="url", how="left")
    entries = joined.select(
        "url",
        F.col("feed_url").alias("feed_id"),
        # feed title (trimmed) wins; og:title only fills a missing one
        F.coalesce(F.trim(F.col("title")), F.col("og_title")).alias("title"),
        F.col("og_description").alias("description"),
        F.col("og_image").alias("visual_url"),
        F.col("og_locale").alias("locale"),
        F.col("summary"),
        F.col("author"),
        F.col("content"),
        F.col("text"),
        F.col("published"),
        F.col("updated"),
        F.when(F.col("origin_id") != "", F.col("origin_id"))
        .otherwise(F.col("url")).alias("origin_id"),
        # jsonb dynamic columns ride along as JSON strings
        # (reference: src/model/entry.rs:319-321); read back with
        # get_json_object / from_json
        F.col("alternate"),
        F.col("keywords"),
        F.col("enclosure"),
        F.col("pos"),
    )

    enclosures = (
        joined.select("url", F.col("feed_url").alias("feed_id"),
                      F.explode("enclosures").alias("e"))
        .select("url", "feed_id", "e.kind", "e.provider", "e.identifier",
                "e.owner_id", "e.state", "e.doc_pos", "e.child_pos")
    )

    report = (
        joined
        .groupBy(F.col("feed_url").alias("feed_id"))
        .agg(F.count("*").alias("entries"),
             F.sum(F.size(F.coalesce(F.filter(
                 "enclosures", lambda e: e.kind == "track"),
                 F.array()))).alias("tracks"),
             F.sum(F.size(F.coalesce(F.filter(
                 "enclosures", lambda e: e.kind == "playlist"),
                 F.array()))).alias("playlists"),
             F.sum(F.size(F.coalesce(F.filter(
                 "enclosures", lambda e: e.kind == "album"),
                 F.array()))).alias("albums"))
    )
    return {"entries": entries, "enclosures": enclosures, "report": report}


def update_feed_state(feeds: DataFrame, feed_entries: DataFrame,
                      report: DataFrame | None = None) -> DataFrame:
    """The feed velocity/state update path (reference: Feed::save persists
    velocity and state, src/model/feed.rs:104-139; new feeds start alive
    with velocity 0, :174-176 — nothing in the reference ever computes
    them in-code, they arrive through save()).  The engine derives them
    deterministically from the sweep itself:

    - ``velocity`` := entries this sweep produced for the feed (the
      items-per-sweep rate, 0 when nothing new) — from the sweep
      ``report`` (crawl_feeds output) when given, else 0
    - ``state``    := 'dead' when the feed's XML yielded NO parseable
      entries at all (fetch/parse failure analog), else 'alive'
    """
    parsed = (feed_entries.groupBy(F.col("feed_url").alias("url"))
              .agg(F.count("*").alias("__parsed")))
    out = feeds.drop("velocity", "state") \
        .join(parsed, on="url", how="left")
    if report is not None:
        swept = report.select(F.col("feed_id").alias("url"),
                              F.col("entries").cast("double").alias("__v"))
        out = out.join(swept, on="url", how="left")
    else:
        out = out.withColumn("__v", F.lit(None).cast("double"))
    return (out
            .withColumn("velocity", F.coalesce("__v", F.lit(0.0)))
            .withColumn("state",
                        F.when(F.col("__parsed").isNull(), F.lit("dead"))
                        .otherwise(F.lit("alive")))
            .drop("__parsed", "__v")
            .select(feeds.columns))
