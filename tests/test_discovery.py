"""Discovery-layer tests (D1-D3, S4/S5) against the synthetic catalog and
check-API universes — ports of the reference's discovery behaviors
(Tests/Pet911Crawling.fs:142-181, NewCards.fs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.plans.discovery import (
    DiscoveryError,
    fetch_catalog_page,
    get_new_cards_from_catalog,
    get_new_cards_from_check_api,
    search_card_urls_by_substring,
    verify_card_exists,
)
from crawler_spark.sources.pages import (
    ABSENT_MOD,
    CATALOG_PAGE_SIZE,
    NUM_BASE,
    synthetic_catalog_pages,
    synthetic_checkapi_pages,
    synthetic_docs_from_range,
)

N_DOCS = 300


@pytest.fixture(scope="module")
def docs(spark):
    return synthetic_docs_from_range(spark, N_DOCS)


@pytest.fixture(scope="module")
def existing_nums():
    return [NUM_BASE + d for d in range(N_DOCS) if d % ABSENT_MOD != 0]


@pytest.fixture(scope="module")
def discovery_pages(spark, docs):
    pages = synthetic_catalog_pages(spark, "", docs).unionByName(
        synthetic_checkapi_pages(spark, "", docs)
    ).cache()
    pages.count()
    return pages


def test_catalog_page_has_20_items(spark, discovery_pages):
    page1 = fetch_catalog_page(spark, discovery_pages, 1)
    rows = page1.collect()
    # 4 catalogs x up to CATALOG_PAGE_SIZE cards (Tests/Pet911Parsing.fs:199-207
    # asserts 20 per single catalog page)
    assert len(rows) == 4 * CATALOG_PAGE_SIZE
    assert all(r["id"].startswith(("rf", "rl")) for r in rows)
    assert all(r["url"].startswith("https://pet911.ru/") for r in rows)


def test_catalog_absent_page_is_error(spark, discovery_pages):
    with pytest.raises(DiscoveryError, match="Catalog page does not exist"):
        fetch_catalog_page(spark, discovery_pages, 99999)


def test_catalog_discovery_no_known_returns_single_max(
        spark, discovery_pages, existing_nums):
    out = get_new_cards_from_catalog(spark, discovery_pages, None).collect()
    assert len(out) == 1
    assert out[0]["num"] == max(existing_nums)  # NewCards.fs:43-47


def test_catalog_discovery_stops_at_known_intersection(
        spark, discovery_pages, existing_nums):
    # known id deep enough that page 1 doesn't contain it for every catalog
    known_num = sorted(existing_nums)[len(existing_nums) // 2]
    out = get_new_cards_from_catalog(spark, discovery_pages, {known_num})
    nums = {r["num"] for r in out.collect()}
    # stop can only trigger in the known card's own catalog (only that one
    # lists it, NewCards.fs:57) — everything newer than the known id IN THAT
    # CATALOG must have been accumulated by then
    def catalog_of(num):
        d = num - NUM_BASE
        return (2 if d % 3 == 0 else 1, 2 if d % 2 == 0 else 1)

    same_cat = {n for n in existing_nums
                if catalog_of(n) == catalog_of(known_num) and n > known_num}
    assert same_cat <= nums
    assert known_num in nums        # the stop page itself is included
    # and paging stopped early: strictly fewer cards than the full universe
    assert len(nums) < len(existing_nums)


def test_search_by_substring_and_verify(spark, discovery_pages, existing_nums):
    present = existing_nums[0]
    absent_num = next(NUM_BASE + d for d in range(N_DOCS) if d % ABSENT_MOD == 0)
    urls = search_card_urls_by_substring(spark, discovery_pages, str(present))
    assert any(u.endswith(str(present)) for u in urls)
    assert verify_card_exists(spark, discovery_pages, present) is True
    assert verify_card_exists(spark, discovery_pages, absent_num) is False


def test_checkapi_discovery_finds_new_ids(spark, discovery_pages, existing_nums):
    nums_sorted = sorted(existing_nums)
    largest_known = nums_sorted[-20]       # pretend we only know up to here
    known = set(nums_sorted[-25:-19])
    out = get_new_cards_from_check_api(
        spark, discovery_pages, known, lookahead=400
    )
    found = {r["num"] for r in out.collect()}
    expected = {n for n in existing_nums if n > max(known)}
    assert found == expected


def test_checkapi_discovery_falls_back_to_catalog(spark, discovery_pages,
                                                  existing_nums):
    out = get_new_cards_from_check_api(spark, discovery_pages, None)
    assert [r["num"] for r in out.collect()] == [max(existing_nums)]


def test_newcards_cycle_end_to_end(spark, docs, discovery_pages,
                                   existing_nums, tmp_path):
    """D4: discover via check-API, crawl the new cards, fold the known set
    to top-50 desc (Program.fs:76-159)."""
    from crawler_spark.plans.crawl_job import CrawlJob
    from crawler_spark.plans.discovery import MAX_KNOWN_SET, newcards_cycle
    from crawler_spark.sources.pages import build_pages

    pages = build_pages(spark, "", include_fixtures=False, docs_df=docs)
    pages = pages.unionByName(discovery_pages).cache()

    nums_sorted = sorted(existing_nums)
    known = set(nums_sorted[-25:-19])        # a stale tail of the id space
    job = CrawlJob(spark, str(tmp_path / "store"), pages,
                   wave_seconds=3600 * 1000)
    new_known, stats = newcards_cycle(job, known, lookahead=400)

    expected_new = {n for n in existing_nums if n > max(known)}
    crawled = {r["num"] for r in job.cards().collect()}
    assert crawled == expected_new           # exactly the new ids got crawled
    assert stats and stats[0]["fetched"] == len(expected_new)
    # known set: union folded, desc, truncated (A2)
    assert new_known == set(sorted(known | expected_new, reverse=True)[:MAX_KNOWN_SET])


# Spark jobs of the poll below at the commit before discovery's new ids were
# collected once per poll: the check-API probe join ran three times (the
# isEmpty test, frontier_from_ids' max, the enqueue commit)
PARENT_POLL_JOBS = 51


def test_newcards_poll_job_ceiling(spark, docs, discovery_pages,
                                   existing_nums, tmp_path):
    """One newcards poll (discover, enqueue, two-wave crawl, known-set
    fold) runs the check-API probe join once: at most 46 Spark jobs (44 on
    8 local cores)."""
    from crawler_spark.plans.crawl_job import CrawlJob
    from crawler_spark.plans.discovery import newcards_cycle
    from crawler_spark.sources.pages import build_pages

    pages = build_pages(spark, "", include_fixtures=False, docs_df=docs)
    pages = pages.unionByName(discovery_pages).cache()
    pages.count()
    nums_sorted = sorted(existing_nums)
    known = set(nums_sorted[-25:-19])
    job = CrawlJob(spark, str(tmp_path / "store"), pages,
                   wave_seconds=3600 * 1000, prewarm=False)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [-1])
    new_known, stats = newcards_cycle(job, known, lookahead=400)
    n_jobs = max(tracker.getJobIdsForGroup()) - before
    pages.unpersist()
    assert len(stats) == 2
    assert max(new_known) == max(existing_nums)
    assert n_jobs <= 46 < PARENT_POLL_JOBS, n_jobs
