"""Tests for the ping sink (D6), mime→ext mapping (P19), and the C4
cache-revalidation self-heal sweep."""

from __future__ import annotations

import contextlib
import json

import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.sinks import PingError, ping_pipeline
from crawler_spark.operators.photos import mime_to_ext


class _FakeResponse:
    def __init__(self, status):
        self.status = status

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False


def test_ping_pipeline_success_and_payload():
    seen = {}

    def opener(req, timeout):
        seen["url"] = req.full_url
        seen["body"] = json.loads(req.data)
        seen["method"] = req.get_method()
        return _FakeResponse(201)

    ping_pipeline(["rf1", "rl2"], "http://pipe:5001/", opener=opener)
    assert seen["method"] == "POST"
    assert seen["body"] == {"cardIds": ["rf1", "rl2"]}   # Utils.fs:109-112


def test_ping_pipeline_non_201_raises():
    with pytest.raises(PingError, match="expected 201"):
        ping_pipeline(["rf1"], opener=lambda req, timeout: _FakeResponse(200))


def test_ping_pipeline_transport_error_raises():
    def opener(req, timeout):
        raise OSError("connection refused")

    with pytest.raises(PingError, match="connection refused"):
        ping_pipeline(["rf1"], opener=opener)


def test_mime_to_ext_mapping(spark):
    df = spark.createDataFrame(
        [("image/jpeg",), ("image/jpg",), ("image/png",), ("IMAGE/WEBP",),
         ("text/html",)],
        "mime string",
    )
    got = [r["ext"] for r in
           df.select(mime_to_ext(F.col("mime")).alias("ext")).collect()]
    assert got == ["jpg", "jpg", "png", "webp", None]   # Images.fs:26-34


@pytest.mark.parametrize("use_bloom,gate_open", [
    pytest.param(False, False, id="False-bloom"),
    pytest.param(True, False, id="True-bloom"),
    pytest.param(True, True, id="True-bloom_gate0"),
])
def test_revalidate_reenqueues_failed_parses(spark, tmp_path, monkeypatch,
                                             use_bloom, gate_open):
    """A card whose stored parse failed is dropped from seen and re-enters
    the frontier; a second crawl against a FIXED universe re-fetches it.

    With the gate open (PREFILTER_MIN_SEEN at 0) the healed card's
    url_hash is STALE in the bloom (blooms can't delete) — it must route
    through the maybe-seen band into the exact anti-join, which confirms
    it unseen and re-fetches it."""
    from crawler_spark.plans.crawl_job import CrawlJob

    if gate_open:
        monkeypatch.setattr(CrawlJob, "PREFILTER_MIN_SEEN", 0)
    from crawler_spark.sources.pages import (
        NUM_BASE, build_pages, synthetic_docs_from_range,
    )

    docs = synthetic_docs_from_range(spark, 10)
    pages = build_pages(spark, "", include_fixtures=False, docs_df=docs)
    # corrupt one card page: strip the card-information block → parse error
    broken = pages.withColumn(
        "text",
        F.when(
            F.col("url").endswith(f"rf{NUM_BASE + 2}"),
            F.regexp_replace(F.col("text"), "card-info", "x"),
        ).otherwise(F.col("text")),
    ).withColumn("html", F.encode(F.col("text"), "UTF-8"))

    job = CrawlJob(spark, str(tmp_path / "store"), broken,
                   wave_seconds=3600 * 1000, use_bloom=use_bloom)
    job.seed_range(NUM_BASE, NUM_BASE + 9)
    job.crawl()
    bad_before = job.cards().where(F.col("error").isNotNull()).count()
    assert bad_before == 1

    # heal the universe (site fixed its page), revalidate, crawl again
    job.pages = pages
    out = job.revalidate_cards()
    assert out["revalidated"] == 1
    assert (job._bloom is not None) == gate_open
    job.crawl()
    latest_bad = (
        job.cards().where(F.col("id") == f"rf{NUM_BASE + 2}")
        .orderBy(F.col("error").isNull().desc())
        .collect()
    )
    # the re-fetch produced a clean parse for the previously-broken card
    assert any(r["error"] is None for r in latest_bad)

    # cards commits are append-only, so the stale error row survives next to
    # the healed row — a later sweep must NOT re-enqueue the healed card
    # (would re-fetch it forever otherwise)
    assert job.revalidate_cards() == {"revalidated": 0}
    assert job.pending_frontier().isEmpty()
