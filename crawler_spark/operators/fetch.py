"""Fetch = join of the frontier against the ``pages`` universe (F1/J3).

The reference's ``httpRequest`` (CrawlerLib/Downloader.fs:57-126) maps to a
left join on ``url``: match → ``downloaded`` (200), no match → ``absent``
(404).  Retry with Fibonacci backoff (Downloader.fs:13-21,134-137,154-182)
becomes an ``attempt`` column and a budget predicate — errors re-enter the
next wave with attempt+1 until the next fib delay would exceed the cap.

Scale notes: the join shuffles both sides on ``url`` unless the wave is
broadcastable.  At 10^10-URL scale, `pages` should be written bucketed by
``url_hash`` (Iceberg bucket transform) so each wave is a storage-partitioned
join with no shuffle of the big side; here we hash-repartition.  AQE handles
skewed waves.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Downloader.fs:134-137
DELAY_UNIT_MS = 100
MAX_PERMITTED_DELAY_MS = 180_000

STATUS_DOWNLOADED = "downloaded"
STATUS_ABSENT = "absent"
STATUS_ERROR = "error"


@lru_cache(maxsize=1)
def fib_delays_ms(delay_unit_ms: int = DELAY_UNIT_MS, n: int = 102):
    """genFibonachi (Downloader.fs:13-21): first 102 fibs × delay unit."""
    fibs = [1, 1]
    while len(fibs) < n:
        fibs.append(fibs[-1] + fibs[-2])
    return tuple(f * delay_unit_ms for f in fibs)


def max_attempts(delay_unit_ms: int = DELAY_UNIT_MS,
                 max_delay_ms: int = MAX_PERMITTED_DELAY_MS) -> int:
    """Attempts before the next delay exceeds the cap (≈17 at defaults,
    Downloader.fs:162-169: retryIdx advances per error, gives up when
    fib[idx]*unit > cap)."""
    delays = fib_delays_ms(delay_unit_ms)
    k = 0
    while k < len(delays) and delays[k] <= max_delay_ms:
        k += 1
    return k


def within_retry_budget(attempt: Column,
                        delay_unit_ms: int = DELAY_UNIT_MS,
                        max_delay_ms: int = MAX_PERMITTED_DELAY_MS) -> Column:
    """F2 budget predicate — attempt is 0-based retry index."""
    return attempt < F.lit(max_attempts(delay_unit_ms, max_delay_ms))


def _mime_col(pages_df: DataFrame):
    """mime column of the fetch universe, if it carries one (the minimum
    input_hint shape has none; our synthetic corpus records the Content-Type
    the reference captures at Downloader.fs:114)."""
    return F.col("mime") if "mime" in pages_df.columns else F.lit(None).cast(
        "string"
    ).alias("mime")


def _fault_active(frontier_df: DataFrame):
    """Transport-error predicate after a faults join: the url fails while
    its configured fail_attempts exceeds the row's attempt counter."""
    attempt = (
        F.col("attempt") if "attempt" in frontier_df.columns else F.lit(0)
    )
    return F.col("fail_attempts").isNotNull() & (F.col("fail_attempts") > attempt)


def pages_cols_of(pages_df: DataFrame) -> DataFrame:
    """Payload projection of the fetch universe for the url-keyed joins."""
    return pages_df.select(
        "url",
        F.col("warc_ts"),
        F.col("html"),
        F.col("text").alias("page_text"),
        _mime_col(pages_df).alias("page_mime"),
    )


def fetch_wave(frontier_df: DataFrame, pages_df: DataFrame,
               payload: bool = True,
               faults_df: DataFrame | None = None) -> DataFrame:
    """One fetch micro-batch: frontier ⟕ pages on url.

    Adds: fetch_status ∈ {downloaded, absent, error} and, when ``payload``,
    warc_ts/html/text/mime.  ``faults_df`` (url, fail_attempts) injects the
    live-transport ``error`` arm (Downloader.fs:118-120): a faulted url
    reports ``error`` until the row's attempt counter reaches
    fail_attempts — the deterministic stand-in for a server 5xx that heals
    after N retries, making the F2 fibonacci-budget path testable e2e.

    ``payload=False`` joins against a url-presence projection only — for
    consumers that need statuses, not bytes (seen/missing/log bookkeeping);
    the shuffle then carries urls, never page payloads.  Consumers that need
    payloads of *downloaded* rows only should use :func:`fetch_downloaded`,
    which never shuffles the pages side at all.
    """
    frontier_cols = frontier_df.columns
    if faults_df is not None:
        frontier = frontier_df.join(F.broadcast(faults_df), "url", "left")
        erroring = _fault_active(frontier_df)
    else:
        frontier = frontier_df
        erroring = F.lit(False)
    if payload:
        pages_cols = pages_df.select(
            "url",
            F.col("warc_ts"),
            F.col("html"),
            F.col("text").alias("page_text"),
            _mime_col(pages_df).alias("page_mime"),
        )
        joined = frontier.join(pages_cols, "url", "left")
        out = joined.withColumn(
            "fetch_status",
            F.when(erroring, F.lit(STATUS_ERROR))
            .when(F.col("html").isNotNull(), F.lit(STATUS_DOWNLOADED))
            .otherwise(F.lit(STATUS_ABSENT)),
        ).withColumn(
            # P17: canonical text = UTF-8 decode of bytes; prefer the corpus's
            # pre-decoded text column when present (identical by construction)
            "text",
            F.coalesce(F.col("page_text"), F.decode(F.col("html"), "UTF-8")),
        ).withColumn("mime", F.col("page_mime"))
        return out.select(
            *frontier_cols, "warc_ts", "html", "text", "mime", "fetch_status"
        )

    pages_cols = pages_df.select("url", F.lit(True).alias("__present"))
    joined = frontier.join(pages_cols, "url", "left")
    out = joined.withColumn(
        "fetch_status",
        F.when(erroring, F.lit(STATUS_ERROR))
        .when(F.col("__present"), F.lit(STATUS_DOWNLOADED))
        .otherwise(F.lit(STATUS_ABSENT)),
    ).drop("__present")
    return out.select(*frontier_cols, "fetch_status")


# Above this wave size the broadcast build side stops being safe: at ~200
# bytes/frontier row (url + id + host strings) 2M rows is ~400 MB of build
# hash table per executor — near the practical broadcast ceiling on common
# executor sizes.  Larger waves take the hash-partitioned path instead.
BROADCAST_MAX_WAVE_ROWS = 2_000_000


def fetch_downloaded(frontier_df: DataFrame, pages_df: DataFrame,
                     wave_rows: int | None = None,
                     broadcast_max_rows: int = BROADCAST_MAX_WAVE_ROWS,
                     faults_df: DataFrame | None = None) -> DataFrame:
    """Payload fetch of the PRESENT urls only (inner join, frontier build side).

    This is the hot path feeding the parser/validator (absent rows come from
    the cheap payload-free :func:`fetch_wave`).  Join strategy is gated on
    ``wave_rows`` — the wave count the scheduler has already computed:

    * ``wave_rows <= broadcast_max_rows`` (or unknown): pages ⋈
      broadcast(frontier) — a BroadcastHashJoin where the multi-KB page
      payloads stream map-side and are **never shuffled**.
    * larger waves: hash-partitioned join on ``url`` with a shuffled-hash
      build of the frontier side — no broadcast of a multi-GB wave, and no
      sort of the payload rows (SHJ, not SMJ).
    * `pages_df` carries ``url_hash``: it is the catalog table
      ``sources.pages.write_pages_bucketed`` writes (bucketed by
      ``url_hash``; nothing else adds that column) — the
      storage-partitioned join: the join runs on ``url_hash`` (plus an
      exact ``url`` equality filter, so hash collisions cannot pair wrong
      rows) and the pages side carries NO Exchange at any wave size; only
      the frontier shuffles to the bucket layout.  This is the 10^10-url
      layout (Iceberg ``bucket(N, url_hash)`` transform) made concrete and
      plan-asserted (tests/test_plans.py).

    All paths are semantically identical (asserted in tests/test_plans.py).
    """
    frontier_cols = frontier_df.columns
    if faults_df is not None:
        # currently-erroring urls yield no payload this wave (they re-enter
        # via the retry path) — drop them from the build side up front
        frontier_df = (
            frontier_df.join(F.broadcast(faults_df), "url", "left")
            .where(~_fault_active(frontier_df))
            .drop("fail_attempts")
        )
    if "url_hash" in pages_df.columns:
        assert "url_hash" in frontier_cols, "frontier carries url_hash (S1)"
        pages_cols = pages_df.select(
            "url_hash",
            F.col("url").alias("__page_url"),
            F.col("warc_ts"),
            F.col("html"),
            F.col("text").alias("page_text"),
            _mime_col(pages_df).alias("page_mime"),
        )
        joined = (
            pages_cols.join(
                frontier_df.hint("shuffle_hash"), "url_hash", "inner"
            )
            # exact-url backstop: xxhash64 collisions only ever cost this
            # filter a row, never a wrong pairing.  Expressed as a pair of
            # inequalities, NOT `==`: Catalyst would extract an equality as
            # a second equi-join key, widening the join's required
            # distribution to (url, url_hash) — which the bucket layout
            # (url_hash only) cannot satisfy, re-introducing the big-side
            # Exchange the bucketing exists to remove.
            .where(
                (F.col("__page_url") >= F.col("url"))
                & (F.col("__page_url") <= F.col("url"))
            )
            .drop("__page_url")
        )
    elif wave_rows is not None and wave_rows > broadcast_max_rows:
        joined = pages_cols_of(pages_df).join(
            frontier_df.hint("shuffle_hash"), "url", "inner"
        )
    else:
        joined = pages_cols_of(pages_df).join(
            F.broadcast(frontier_df), "url", "inner"
        )
    out = joined.withColumn("fetch_status", F.lit(STATUS_DOWNLOADED)).withColumn(
        "text",
        F.coalesce(F.col("page_text"), F.decode(F.col("html"), "UTF-8")),
    ).withColumn("mime", F.col("page_mime"))
    return out.select(
        *frontier_cols, "warc_ts", "html", "text", "mime", "fetch_status"
    )
