"""robots.txt parsing (north-rule compliance extension — the reference has
no robots support, SURVEY §2.2 F3) and its wiring into the politeness layer."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.politeness import apply_robots, select_wave
from crawler_spark.operators.robots import (
    parse_robots,
    robots_pages,
    robots_rules_from_corpus,
)
from crawler_spark.sources.frontier import frontier_from_range

ROBOTS_TXT = """\
# example robots.txt
User-agent: SpecificBot
Disallow: /only-for-specificbot

User-agent: FirstBot
User-agent: *
Disallow: /private/   # trailing comment
Disallow: /tmp
Disallow:
Crawl-delay: 2.5

User-agent: OtherBot
Disallow: /other
"""


def _robots_df(spark, host="pet911.ru", text=ROBOTS_TXT):
    return spark.createDataFrame([(host, text)], "host string, text string")


def test_parse_robots_star_group_only(spark):
    rules = parse_robots(_robots_df(spark)).collect()
    prefixes = {r["disallow_prefix"] for r in rules}
    # star group rules only: the SpecificBot/OtherBot groups are ignored,
    # the empty Disallow contributes nothing, comments are stripped
    assert prefixes == {"/private/", "/tmp"}
    delays = {r["crawl_delay_ms"] for r in rules}
    assert delays == {2500}


def test_parse_robots_consecutive_ua_lines_share_group(spark):
    # FirstBot and * are ONE group (RFC 9309 §2.1) — rules bind to both;
    # flip the order so * is first and FirstBot second: still honored
    text = "User-agent: *\nUser-agent: FirstBot\nDisallow: /x\n"
    rules = parse_robots(_robots_df(spark, text=text)).collect()
    assert [r["disallow_prefix"] for r in rules] == ["/x"]


def test_parse_robots_delay_only_host(spark):
    text = "User-agent: *\nCrawl-delay: 1\n"
    rules = parse_robots(_robots_df(spark, text=text)).collect()
    assert len(rules) == 1
    assert rules[0]["disallow_prefix"] is None       # politeness-only row
    assert rules[0]["crawl_delay_ms"] == 1000
    # apply_robots must ignore the NULL prefix (nothing disallowed)
    frontier = frontier_from_range(spark, 0, 4)
    kept = apply_robots(frontier, parse_robots(_robots_df(spark, text=text)))
    assert kept.count() == frontier.count()


def test_robots_pages_extraction_and_politeness_wiring(spark):
    pages = spark.createDataFrame(
        [
            ("https://pet911.ru/robots.txt", None,
             bytearray("User-agent: *\nDisallow: /%D0%A5\nCrawl-delay: 60\n"
                       .encode())),
            ("https://pet911.ru/%D0%A5abc/rf1", "a card page", None),
        ],
        "url string, text string, html binary",
    )
    rules = robots_rules_from_corpus(pages)
    rows = rules.collect()
    assert rows and rows[0]["host"] == "pet911.ru"

    frontier = frontier_from_range(spark, 0, 99)      # 200 urls, one host
    # every card url shares the /%D0%A5 prefix → all disallowed
    assert apply_robots(frontier, rules).count() == 0

    # crawl-delay drives the token budget: 600s wave / 60s delay = 10 tokens
    delay_only = rules.select(
        "host", F.lit(None).cast("string").alias("disallow_prefix"),
        "crawl_delay_ms",
    )
    picked = select_wave(frontier, wave_seconds=600, robots_df=delay_only)
    assert picked.where("selected").count() == 10


RFC_TXT = """\
User-agent: *
Disallow: /shop
Allow: /shop/public
Disallow: /shop/public/secret
Allow: /shop/public/secret        # equal-length tie: Allow wins (RFC 9309)
Disallow: /cgi*/scripts
Allow: /wild*/card
Crawl-delay: 1
"""


def test_parse_robots_rfc_rules_and_wildcards(spark):
    from crawler_spark.operators.robots import parse_robots_rfc

    rules = parse_robots_rfc(_robots_df(spark, text=RFC_TXT)).collect()
    got = {(r["prefix"], r["is_allow"]) for r in rules}
    assert ("/shop", False) in got
    assert ("/shop/public", True) in got
    # wildcard disallow truncated to its literal prefix (conservative)
    assert ("/cgi", False) in got
    # wildcard allow dropped entirely (over-allowing is impolite)
    assert not any(p.startswith("/wild") for p, _ in got)
    assert all(r["crawl_delay_ms"] == 1000 for r in rules)


def test_apply_robots_rfc_longest_match(spark):
    from crawler_spark.operators.politeness import apply_robots_rfc
    from crawler_spark.operators.robots import parse_robots_rfc

    rules = parse_robots_rfc(_robots_df(spark, host="h", text=RFC_TXT))
    urls = spark.createDataFrame(
        [(f"https://h{p}",) for p in (
            "/shop/item",             # blocked by /shop
            "/shop/public/item",      # re-allowed by longer /shop/public
            "/shop/public/secret/x",  # equal-length allow+disallow: allowed
            "/cgi-bin/scripts/x",     # blocked by truncated /cgi
            "/elsewhere",             # unmatched: allowed
        )], "url string",
    ).withColumn("host", F.lit("h"))
    kept = {r["url"] for r in apply_robots_rfc(urls, rules).collect()}
    assert kept == {
        "https://h/shop/public/item",
        "https://h/shop/public/secret/x",
        "https://h/elsewhere",
    }


def test_wildcard_disallow_star_blocks_everything(spark):
    from crawler_spark.operators.politeness import apply_robots_rfc
    from crawler_spark.operators.robots import parse_robots_rfc

    rules = parse_robots_rfc(_robots_df(
        spark, host="h", text="User-agent: *\nDisallow: *\n"))
    assert [(r["prefix"], r["is_allow"]) for r in rules.collect()] == [("/", False)]
    urls = spark.createDataFrame(
        [("https://h/anything",), ("https://h",)], "url string"
    ).withColumn("host", F.lit("h"))
    # both a deep path and the bare-host url (path '' → '/') are blocked
    assert apply_robots_rfc(urls, rules).count() == 0


def test_bare_host_url_blocked_by_root_disallow(spark):
    from crawler_spark.operators.politeness import apply_robots

    robots = spark.createDataFrame(
        [("h", "/", None)],
        "host string, disallow_prefix string, crawl_delay_ms long")
    urls = spark.createDataFrame(
        [("https://h",), ("https://h/deep",)], "url string"
    ).withColumn("host", F.lit("h"))
    assert apply_robots(urls, robots).count() == 0


def test_robots_sitemaps_extraction(spark):
    from crawler_spark.operators.robots import robots_sitemaps

    body = (
        "Sitemap: https://h1.example/root.xml\n"
        "User-agent: googlebot\n"
        "Disallow: /private\n"
        "sitemap: https://h1.example/news.xml  # comment after\n"
        "User-agent: *\n"
        "Disallow: /tmp\n"
        "SITEMAP: https://h1.example/root.xml\n"   # duplicate -> first wins
    )
    df = spark.createDataFrame(
        [("h1.example", body), ("h2.example", "User-agent: *\nDisallow:\n")],
        "host string, text string",
    )
    out = robots_sitemaps(df).collect()
    rows = sorted((r["host"], r["pos"], r["sitemap_url"]) for r in out)
    # group-independent: the googlebot-group sitemap line still counts;
    # the duplicate root.xml keeps its first position
    assert rows == [
        ("h1.example", 1, "https://h1.example/root.xml"),
        ("h1.example", 2, "https://h1.example/news.xml"),
    ]


def test_robots_coverage_counts_and_consistency(spark):
    from pyspark.sql import functions as F

    from crawler_spark.operators.politeness import apply_robots
    from crawler_spark.operators.robots import robots_coverage

    frontier = spark.createDataFrame(
        [
            ("h1", "https://h1/private/a"),
            ("h1", "https://h1/pub/a"),
            ("h1", "https://h1"),                 # bare host -> path '/'
            ("h2", "https://h2/private/x"),
            ("h2", "https://h2/ok"),
        ],
        "host string, url string",
    )
    rules = spark.createDataFrame(
        [("h1", "/private"), ("h2", "/")], "host string, disallow_prefix string"
    )
    out = {r["host"]: r for r in robots_coverage(frontier, rules).collect()}
    assert out["h1"]["n_urls"] == 3 and out["h1"]["n_blocked"] == 1
    assert out["h2"]["n_blocked"] == 2            # Disallow: / blocks all
    assert out["h2"]["blocked_frac"] == 1.0
    # the report must agree with what apply_robots actually drops
    survivors = apply_robots(frontier, rules).count()
    total = frontier.count()
    blocked_total = sum(r["n_blocked"] for r in out.values())
    assert total - blocked_total == survivors


def _wild(spark, rules, urls):
    from crawler_spark.operators.robots import robots_wildcard_verdicts

    rules_df = spark.createDataFrame(
        rules, "host string, pattern string, is_allow boolean"
    )
    urls_df = spark.createDataFrame(
        [(f"https://{h}{p}", h) for h, p in urls], "url string, host string"
    )
    return {r.url: r for r in
            robots_wildcard_verdicts(urls_df, rules_df).collect()}


def test_wildcard_star_and_anchor(spark):
    v = _wild(
        spark,
        [("h", "/a*z$", False)],
        [("h", "/a123z"), ("h", "/a123z/more"), ("h", "/az"), ("h", "/b")],
    )
    assert v["https://h/a123z"].allowed is False        # * spans, $ anchors
    assert v["https://h/a123z/more"].allowed is True    # anchor rejects tail
    assert v["https://h/az"].allowed is False           # * matches empty
    assert v["https://h/b"].allowed is True             # unmatched -> allow


def test_wildcard_mid_dollar_is_literal(spark):
    v = _wild(
        spark,
        [("h", "/p$q", False)],
        [("h", "/p$q/r"), ("h", "/pXq/r")],
    )
    assert v["https://h/p$q/r"].allowed is False
    assert v["https://h/pXq/r"].allowed is True


def test_wildcard_escapes_like_metacharacters(spark):
    # a literal '_' in the pattern must NOT behave as LIKE single-char
    v = _wild(
        spark,
        [("h", "/a_c", False), ("h", "/x%y", False)],
        [("h", "/a_c/1"), ("h", "/abc/1"), ("h", "/x%y"), ("h", "/xZy")],
    )
    assert v["https://h/a_c/1"].allowed is False
    assert v["https://h/abc/1"].allowed is True
    assert v["https://h/x%y"].allowed is False
    assert v["https://h/xZy"].allowed is True


def test_wildcard_precedence_octets_and_allow_tie(spark):
    # longer raw pattern wins; equal length -> Allow wins
    v = _wild(
        spark,
        [("h", "/d", False), ("h", "/d/deep*", True),
         ("h", "/t/a", False), ("h", "/t/b", True)],
        [("h", "/d/deep/1"), ("h", "/d/other")],
    )
    assert v["https://h/d/deep/1"].allowed is True
    assert v["https://h/d/other"].allowed is False
    v2 = _wild(
        spark,
        [("h", "/sameX", False), ("h", "/same*", True)],
        [("h", "/sameX")],
    )
    assert v2["https://h/sameX"].allowed is True        # 6 vs 6 -> allow


def test_apply_robots_wildcard_filters_frontier(spark):
    from crawler_spark.operators.robots import apply_robots_wildcard

    rules = spark.createDataFrame(
        [("h", "/blocked*", False)], "host string, pattern string, is_allow boolean"
    )
    frontier = spark.createDataFrame(
        [("https://h/blocked/1", "h"), ("https://h/ok/1", "h")],
        "url string, host string",
    )
    out = [r.url for r in apply_robots_wildcard(frontier, rules).collect()]
    assert out == ["https://h/ok/1"]


def test_sitemap_conflicts_flag_blocked_entries(spark):
    from crawler_spark.operators.robots import robots_sitemap_conflicts

    rules = spark.createDataFrame(
        [("ex.com", "/private*", False), ("ex.com", "/private/ok", True)],
        "host string, pattern string, is_allow boolean")
    sitemap = spark.createDataFrame(
        [("ex.com", "https://ex.com/public/a"),
         ("ex.com", "https://ex.com/private/b"),
         ("ex.com", "https://ex.com/private/ok")],
        "host string, url string")
    out = {r["url"]: r for r in
           robots_sitemap_conflicts(sitemap, rules).collect()}
    assert not out["https://ex.com/public/a"]["conflict"]
    c = out["https://ex.com/private/b"]
    assert c["conflict"] and c["rule_pattern"] == "/private*"
    # longest-match Allow rescues the explicit exception
    assert not out["https://ex.com/private/ok"]["conflict"]


def test_apply_robots_matches_join_semantics(spark):
    """apply_robots (one row-local expression over the collected rules)
    keeps exactly the rows a broadcast prefix join + url anti-join keeps,
    and robots_coverage flags the same rows: NULL host, NULL url,
    unparseable urls, NULL prefixes, two prefixes on one host, duplicate
    rules, a delay-only host and an empty prefix (blocks the whole host)."""
    from crawler_spark.functions.url import url_path_safe
    from crawler_spark.operators.robots import robots_coverage

    frontier = spark.createDataFrame(
        [
            ("h1", "https://h1/private/a", 1),
            ("h1", "https://h1/pub/a", 2),
            ("h1", "https://h1", 3),                 # bare host -> path '/'
            ("h1", "not a url", 4),
            ("h1", "::://h1/private", 5),
            (None, "https://h1/private/b", 6),       # NULL host
            ("h2", "https://h2/x/y", 7),             # two prefixes
            ("h2", "https://h2/z", 8),
            ("h2", "https://h2/w", 9),
            ("h3", "https://h3/private", 10),        # delay-only host
            ("h4", "https://h4/anything", 11),       # empty prefix
            ("h4", None, 12),                        # NULL url
            ("h5", None, 13),                        # NULL url vs Disallow: /
            ("h5", "https://h5/a", 14),
            ("h6", "https://h6/private", 15),        # no rules at all
        ],
        "host string, url string, seq long",
    )
    rules = spark.createDataFrame(
        [
            ("h1", "/private", None),
            ("h1", "/private", 5),                   # duplicate rule
            ("h1", None, 7),                         # NULL prefix
            ("h2", "/x", None),
            ("h2", "/z", 1000),
            ("h3", None, 10),
            (None, "/", 3),                          # NULL host rule
            ("h4", "", None),
            ("h5", "/", None),
        ],
        "host string, disallow_prefix string, crawl_delay_ms long",
    )
    hit = (
        frontier.withColumn("__path", url_path_safe(F.col("url")))
        .join(F.broadcast(rules.select("host", "disallow_prefix")), "host")
        .where(F.col("__path").startswith(F.col("disallow_prefix")))
        .select("url").distinct()
    )
    want = frontier.join(hit, "url", "left_anti").select(frontier.columns)
    got = apply_robots(frontier, rules)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert sorted(r["seq"] for r in got.collect()) == [
        2, 3, 4, 5, 6, 9, 10, 12, 13, 15]

    cov = {r["host"]: r["n_blocked"]
           for r in robots_coverage(frontier, rules).collect()}
    assert cov == {"h1": 1, None: 0, "h2": 2, "h3": 0, "h4": 1, "h5": 1,
                   "h6": 0}
