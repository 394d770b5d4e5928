"""Generic link-following BFS crawl — the web-scale extension the
reference's id-range pipeline doesn't need (pet911 card ids enumerate the
frontier arithmetically, ``CrawlerLib/Downloader.fs`` never follows
hrefs), but a Common-Crawl-style corpus does: seeds → fetch wave →
extract hrefs → canonicalize → anti-join the seen set → next frontier.

Everything is a composition of operators that already carry scale
arguments and tests:

* fetch-as-join against the pages universe (one equi-join per wave; the
  payload column streams straight into the link scan, never shuffled);
* the codegen regexp link extractor (``operators/web.extract_links``);
* URL canonicalization (``operators/web.normalize_url``) so discovered
  urls dedup on the same key the seen set uses;
* robots + per-host token-bucket politeness (``operators/politeness``)
  on each wave's frontier, salted-rank variant available for hot hosts;
* exact anti-join seen semantics (``operators/seen``) — the Bloom
  prefilter slots in unchanged for 10^10-key frontiers.

Iteration is a bounded driver loop (hop count), the standard Spark shape
for BFS; each wave's slim (url, hop) DataFrame is persisted and the
previous lineage dropped, so the plan for wave k never replays waves
< k.  Crawl order within a wave is deterministic (url sort under the
politeness rank), and the output (url, min-hop, host) is exactly the
min-hop BFS closure — the DuckDB oracle re-derives it with a recursive
CTE (``__spark_entry__.oracle_sql()['link_crawl_bfs']``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def _with_host(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "host", F.coalesce(F.try_parse_url(F.col("url"), F.lit("HOST")),
                           F.lit("")))


def link_crawl(spark: SparkSession, pages: DataFrame, seeds: DataFrame,
               max_hops: int = 3,
               wave_seconds: int | None = None,
               robots_rules: DataFrame | None = None,
               normalize: bool = False) -> DataFrame:
    """BFS over the link graph embedded in ``pages`` (url, html binary),
    starting from ``seeds`` (url).  Returns ``(url, hop, host)`` — every
    url discovered within ``max_hops``, at its FIRST-reach depth (the
    anti-join against the seen set guarantees min-hop), including dead
    links (discovered urls with no page: they simply contribute no
    out-edges, exactly like a 404).

    ``wave_seconds`` enables the per-host token bucket on each wave
    (urls over budget are NOT fetched that wave and stay unexpanded —
    a politeness-capped BFS, like the production crawl's carry-over);
    ``robots_rules`` applies RFC 9309 longest-match filtering to every
    frontier before fetching.  ``normalize=True`` canonicalizes
    discovered hrefs (``operators/web.normalize_url``) before the seen
    anti-join.  None of the options change the relational shape: per
    wave, one politeness pass, one fetch join, one link scan, one
    distinct, one anti-join.
    """
    from ..functions.parse_udfs import decode_text
    from ..operators.politeness import apply_robots_rfc, select_wave
    from ..operators.web import extract_links, normalize_url

    frontier = _with_host(seeds.select("url").distinct()) \
        .withColumn("hop", F.lit(0))
    seen = frontier.persist()
    seen.count()
    retired = []
    pages_slim = pages.select("url", "html")

    for hop in range(1, max_hops + 1):
        batch = frontier
        if robots_rules is not None:
            batch = apply_robots_rfc(batch, robots_rules)
        if wave_seconds is not None:
            # deterministic crawl order within a host: url sort stands in
            # for the id-range pipeline's seq
            ranked = select_wave(
                batch.withColumn("seq", F.xxhash64("url")),
                wave_seconds=wave_seconds)
            batch = ranked.where(F.col("selected")).drop("selected", "seq")
        fetched = batch.select("url").join(pages_slim, "url")
        links = extract_links(
            fetched.select("url", decode_text(F.col("html")).alias("html")),
            "html", ("url",))
        href = F.col("href")
        if normalize:
            href = normalize_url(href)
        nxt = (
            links.select(href.alias("url")).distinct()
            .join(seen.select("url"), "url", "left_anti")
        )
        nxt = _with_host(nxt).withColumn("hop", F.lit(hop)).persist()
        n_new = nxt.count()
        new_seen = seen.unionByName(nxt).persist()
        new_seen.count()          # materialize before dropping the old cache
        retired += [seen, nxt]
        seen = new_seen
        frontier = nxt
        if n_new == 0:
            break
    for df in retired:
        df.unpersist()
    return seen.select("url", "hop", "host")
