"""New-card discovery (D1-D3 + S4/S5 of SURVEY.md §2) — catalog paging and
check-API lookahead probes as DataFrame jobs in a driver loop.

Reference semantics reimplemented Spark-first:

* ``get_new_cards_from_catalog`` — ``NewCards.fs:10-66`` (D1): 4 catalog
  query bases × page number; page 1,2,3… accumulate card descriptors until a
  page intersects the known numeric-id set (semi-join stop test); with no
  known set, return the single max-id card of page 1.
* ``search_card_urls_by_substring`` — ``NewCards.fs:68-91`` (S5): GET
  ``/ajax/check-pet?art={substr}`` → JSON ``{data:[{url}…]}``; parsed with
  native ``from_json`` (P16), no Python.
* ``verify_card_exists`` — ``NewCards.fs:93-100`` (D2): any returned url
  endswith the num string.
* ``get_new_cards_from_check_api`` — ``NewCards.fs:102-151`` (D3): largest
  verified known id → probe every tens-prefix in
  ``[largest/10 … (largest+lookahead)/10]`` → union results → keep ids >
  largest.  The reference probes serially; here the whole prefix range is
  ONE DataFrame job (probe-URL table joined against `pages`), which is the
  shape that scales to wide lookahead windows.

A "fetch" is the usual left join against the ``pages`` universe; an absent
catalog page is an error ("Catalog page does not exist", NewCards.fs:26),
an absent check-API page is "Unexpected 404" (NewCards.fs:77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse_udfs import parse_catalog_udf, parse_check_api
from ..operators.fetch import fetch_wave
from ..sources.local import local_frame
from ..sources.pages import CATALOG_BASES, CHECK_API_URL

MAX_CATALOG_PAGES = 10_000  # runaway-loop guard; reference recurses unbounded


class DiscoveryError(RuntimeError):
    """allResults fail-fast semantics (Common.fs:19-27): first error aborts."""


def _fetch_pages(spark: SparkSession, pages_df: DataFrame,
                 urls: list[str]) -> DataFrame:
    return fetch_wave(local_frame(spark, [(u,) for u in urls], "url string"),
                      pages_df)


def fetch_catalog_page(spark: SparkSession, pages_df: DataFrame,
                       page_num: int) -> DataFrame:
    """One catalog page across all 4 query bases → (id, url, num) rows.

    Raises DiscoveryError if any base is absent or fails to parse
    (allResults fail-fast, NewCards.fs:34-38)."""
    urls = [f"{base}&page={page_num}" for base in CATALOG_BASES]
    fetched = _fetch_pages(spark, pages_df, urls)
    parsed = fetched.select(
        "url", "fetch_status", parse_catalog_udf(F.col("text")).alias("cat")
    ).cache()
    bad = parsed.where(
        (F.col("fetch_status") != "downloaded") | F.col("cat.error").isNotNull()
    ).select("url", "fetch_status", F.col("cat.error").alias("error")).collect()
    if bad:
        b = bad[0]
        reason = ("Catalog page does not exist" if b["fetch_status"] != "downloaded"
                  else b["error"])
        raise DiscoveryError(
            f"Failed to parse one of the catalogs: {reason}"
        )
    out = (
        parsed.select(F.explode(F.col("cat.cards")).alias("c"))
        .select(
            F.col("c.ID").alias("id"),
            F.col("c.url").alias("url"),
            F.substring(F.col("c.ID"), 3, 2_000_000).cast("long").alias("num"),
        )
        .dropDuplicates(["id"])
    )
    out = out.cache()
    out.count()
    parsed.unpersist()
    return out


def get_new_cards_from_catalog(spark: SparkSession, pages_df: DataFrame,
                               known_nums: set[int] | None) -> DataFrame:
    """D1.  known_nums None → single max-num descriptor of page 1; else
    accumulate pages until one intersects known_nums (that page included)."""
    if known_nums is None:
        page1 = fetch_catalog_page(spark, pages_df, 1)
        return page1.orderBy(F.col("num").desc()).limit(1)

    known_df = F.broadcast(
        local_frame(spark, [(int(n),) for n in known_nums], "num long")
    )
    acc: DataFrame | None = None
    for page_num in range(1, MAX_CATALOG_PAGES + 1):
        page = fetch_catalog_page(spark, pages_df, page_num)
        acc = page if acc is None else acc.unionByName(page).dropDuplicates(["id"])
        if page_num % 25 == 0:
            # the union/dedup chain deepens the logical plan per page — cut
            # the lineage periodically so a long paging session never grows
            # an analyzer-recursion-depth plan (accumulator stays small: it
            # holds card descriptors, not pages)
            acc = acc.localCheckpoint(eager=True)
        hit = page.join(known_df, "num", "left_semi").limit(1).count()
        if hit:
            return acc
    raise DiscoveryError("catalog paging exceeded MAX_CATALOG_PAGES")


def search_card_urls_by_substring(spark: SparkSession, pages_df: DataFrame,
                                  substring: str) -> list[str]:
    """S5: check-API search → list of art url strings (NewCards.fs:68-91)."""
    fetched = _fetch_pages(spark, pages_df, [CHECK_API_URL % substring])
    row = fetched.select(
        "fetch_status", parse_check_api(F.col("text")).alias("urls")
    ).collect()[0]
    if row["fetch_status"] != "downloaded":
        raise DiscoveryError("Unexpected 404")
    return list(row["urls"])


def verify_card_exists(spark: SparkSession, pages_df: DataFrame,
                       num: int) -> bool:
    """D2: any search result url ends with the num string (NewCards.fs:93-100)."""
    num_str = str(num)
    return any(u.endswith(num_str) for u in
               search_card_urls_by_substring(spark, pages_df, num_str))


def get_new_cards_from_check_api(spark: SparkSession, pages_df: DataFrame,
                                 known_nums: set[int] | None,
                                 lookahead: int = 100) -> DataFrame:
    """D3 → (id, url, num) of newly discovered cards.

    Falls back to catalog discovery when there is no known set or no known
    id verifies (NewCards.fs:106-108,125-127)."""
    if not known_nums:
        return get_new_cards_from_catalog(spark, pages_df, None)

    largest_verified = None
    for num in sorted(known_nums, reverse=True):
        try:
            if verify_card_exists(spark, pages_df, num):
                largest_verified = num
                break
        except DiscoveryError:
            continue  # traceError + skip (NewCards.fs:117-120)
    if largest_verified is None:
        return get_new_cards_from_catalog(spark, pages_df, None)

    lo, hi = largest_verified // 10, (largest_verified + lookahead) // 10
    # the whole prefix window as ONE probe table / ONE job (vs serial probes)
    probes = spark.range(lo, hi + 1).select(
        F.format_string(CHECK_API_URL, F.col("id").cast("string")).alias("url")
    )
    fetched = fetch_wave(probes, pages_df)
    found = (
        fetched.where(F.col("fetch_status") == "downloaded")
        .select(F.explode(parse_check_api(F.col("text"))).alias("art"))
        .select(
            F.element_at(F.split(F.col("art"), "/"), -1).alias("id"),
            F.format_string("https://pet911.ru/%s", F.col("art")).alias("url"),
        )
        .withColumn("num", F.substring(F.col("id"), 3, 2_000_000).cast("long"))
        .where(F.col("num") > largest_verified)
        .dropDuplicates(["id"])
    )
    return found


MAX_KNOWN_SET = 50  # maxKnownSetCount, Program.fs:15


def newcards_cycle(job, known_nums: set[int],
                   lookahead: int = 100) -> tuple[set[int], list[dict]]:
    """One poll cycle of the newcards monitoring loop (D4, Program.fs:76-159):

    discover → filter to ids newer than maxKnown (Program.fs:93-95) →
    enqueue + crawl → fold successfully crawled ids into the known set,
    sorted desc and truncated to MAX_KNOWN_SET (A2, Program.fs:143-151).

    ``job`` is a CrawlJob whose ``pages`` universe contains the discovery
    pages.  Returns (new_known_set, wave_stats).  The reference sleeps
    checkIntervalSec between cycles (Program.fs:153-154); the caller owns
    that cadence (or a Structured-Streaming trigger).
    """
    from ..sources.frontier import frontier_from_ids

    spark = job.spark
    found = get_new_cards_from_check_api(
        spark, job.pages, known_nums or None, lookahead
    )
    if known_nums:
        max_known = max(known_nums)
        found = found.where(F.col("num") > max_known)
    # the lookahead bounds the new ids (a few per probed prefix): they come
    # to the driver once and re-enter as a local frame, so the probe join
    # runs once per poll, not once per consumer
    ids = [(r["id"],) for r in found.select("id").collect()]
    if not ids:
        return set(known_nums), []

    job.enqueue_frontier(frontier_from_ids(local_frame(spark, ids, "id string")))
    stats = job.crawl()

    # A2 fold (Program.fs:143-151) computed RELATIONALLY: union the known set
    # with successfully crawled nums, dedup, top-50 desc — a TakeOrdered plan,
    # so exactly MAX_KNOWN_SET rows ever reach the driver (the cards table may
    # be billions of rows; collecting it would be a driver OOM at scale).
    known_df = local_frame(spark, [(int(n),) for n in known_nums], "num long")
    top = (
        job.cards()
        .where(F.col("error").isNull())
        .select("num")
        .unionByName(known_df)
        .dropDuplicates(["num"])
        .orderBy(F.col("num").desc())
        .limit(MAX_KNOWN_SET)
        .collect()
    )
    return {r["num"] for r in top}, stats
