"""robots.txt parsing — corpus text → the ``robots(host, disallow_prefix,
crawl_delay_ms)`` rules table that :func:`..operators.politeness.apply_robots`
and the token bucket consume (both read it once, as ``RobotsRules``).

The reference has NO robots support at all (grep-verified, SURVEY §2.2 F3 —
it even drops its User-Agent header, ``CrawlerLib/Downloader.fs:70-72``);
robots compliance is a north-rule extension.  The parser is 100% relational
(split/explode/regexp/window, no Python), per a pragmatic subset of RFC 9309:

* lines are ``key: value`` with ``#`` comments stripped, keys case-insensitive;
* consecutive ``User-agent`` lines open ONE group (per the RFC); a group's
  rules end at the next group;
* only ``*`` groups are honored — the reference never sends a User-Agent, so
  the wildcard group is the one that governs it;
* ``Disallow`` with a non-empty value contributes a path prefix; an empty
  ``Disallow:`` means allow-all (contributes nothing);
* ``Crawl-delay`` (seconds, decimal allowed) → ``crawl_delay_ms`` via the
  per-host minimum (the most conservative delay wins).

Scale: everything windows per host over the (tiny) per-host robots body —
robots.txt files are KBs, so partitions are bounded no matter the host count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.url import url_host, url_path_safe
from .politeness import robots_blocked


def robots_pages(pages_df: DataFrame) -> DataFrame:
    """The corpus's robots.txt pages → (host, text)."""
    return pages_df.where(F.col("url").rlike(r"^[a-z]+://[^/]+/robots\.txt$")).select(
        url_host(F.col("url")).alias("host"),
        F.coalesce(F.col("text"), F.decode(F.col("html"), "UTF-8")).alias("text"),
    )


def _star_group_rules(robots_df: DataFrame) -> DataFrame:
    """(host, text) → the key/value lines of each host's wildcard
    (``User-agent: *``) group — the shared front half of both parsers."""
    lines = robots_df.select(
        "host",
        F.posexplode(F.split(F.col("text"), "\r?\n")).alias("line_no", "raw"),
    )
    kv = lines.select(
        "host",
        "line_no",
        F.lower(
            F.trim(F.regexp_extract(F.regexp_replace("raw", "#.*", ""),
                                    r"^\s*([A-Za-z-]+)\s*:", 1))
        ).alias("key"),
        F.trim(F.regexp_extract(F.regexp_replace("raw", "#.*", ""),
                                r"^\s*[A-Za-z-]+\s*:\s*(.*?)\s*$", 1)).alias("val"),
    ).where(F.col("key") != "")

    w = Window.partitionBy("host").orderBy("line_no")
    is_ua = (F.col("key") == "user-agent").cast("int")
    grouped = (
        kv.withColumn("__ua", is_ua)
        # a User-agent line OPENS a group unless the previous line was also
        # one (consecutive UA lines share the group, RFC 9309 §2.1)
        .withColumn(
            "__new_group",
            ((F.col("__ua") == 1)
             & (F.coalesce(F.lag("__ua").over(w), F.lit(0)) == 0)).cast("int"),
        )
        .withColumn("group_id", F.sum("__new_group").over(w))
    )
    star_groups = (
        grouped.where((F.col("key") == "user-agent") & (F.col("val") == "*"))
        .select("host", "group_id")
        .distinct()
    )
    return grouped.join(star_groups, ["host", "group_id"], "left_semi")


def _delays(rules: DataFrame) -> DataFrame:
    return (
        rules.where(F.col("key") == "crawl-delay")
        .where(F.col("val").rlike(r"^\d+(\.\d+)?$"))
        .groupBy("host")
        .agg((F.min(F.col("val").cast("double")) * 1000).cast("long")
             .alias("crawl_delay_ms"))
    )


def parse_robots(robots_df: DataFrame) -> DataFrame:
    """(host, text) robots bodies → (host, disallow_prefix, crawl_delay_ms).

    Hosts whose wildcard group has no disallows but a crawl-delay still get
    one row with ``disallow_prefix`` NULL (politeness-only rule);
    :func:`..operators.politeness.apply_robots` ignores NULL prefixes.
    """
    rules = _star_group_rules(robots_df)

    disallows = (
        rules.where((F.col("key") == "disallow") & (F.col("val") != ""))
        .select("host", F.col("val").alias("disallow_prefix"))
        .distinct()
    )
    out = disallows.join(_delays(rules), "host", "full").select(
        "host",
        "disallow_prefix",
        F.col("crawl_delay_ms"),
    )
    return out


def parse_robots_rfc(robots_df: DataFrame) -> DataFrame:
    """RFC 9309 superset parser: (host, text) → ``(host, prefix, is_allow,
    crawl_delay_ms)`` for :func:`..operators.politeness.apply_robots_rfc`'s
    longest-match evaluation.

    Wildcard handling is CONSERVATIVE (the polite direction of RFC 9309
    §2.2.3's ``*``/``$`` patterns, which prefix matching can't express
    exactly): a ``Disallow`` containing ``*`` or ``$`` is truncated to its
    literal prefix before the first metacharacter — and if that leaves
    nothing (``Disallow: *``), it becomes the block-everything prefix
    ``/`` (over-blocking is safe); an ``Allow`` containing either is
    dropped (over-allowing is not).  Crawl-delay rows carry a NULL prefix
    exactly as in :func:`parse_robots`.
    """
    rules = _star_group_rules(robots_df)
    literal = F.regexp_extract("val", r"^([^*$]*)", 1)
    wild = F.col("val").rlike(r"[*$]")
    paths = rules.where(
        F.col("key").isin("allow", "disallow") & (F.col("val") != "")
    ).select(
        "host",
        # a wildcard disallow whose literal prefix is empty blocks all
        F.when(wild & (literal == "") & (F.col("key") == "disallow"),
               F.lit("/")).otherwise(literal).alias("prefix"),
        (F.col("key") == "allow").alias("is_allow"),
        wild.alias("__wild"),
    ).where(
        # drop wildcard allows; keep truncated wildcard disallows
        ~(F.col("__wild") & F.col("is_allow")) & (F.col("prefix") != "")
    ).drop("__wild").distinct()
    return paths.join(_delays(rules), "host", "full").select(
        "host", "prefix", "is_allow", "crawl_delay_ms"
    )


def robots_rules_from_corpus(pages_df: DataFrame) -> DataFrame:
    """One-call convenience: corpus → rules table for CrawlJob(robots_df=…)."""
    return parse_robots(robots_pages(pages_df))


def robots_sitemaps(robots_df: DataFrame) -> DataFrame:
    """``Sitemap:`` directive extraction — the third leg of robots.txt
    (rules + crawl-delay + sitemap discovery).  Per RFC 9309 §2.3 /
    sitemaps.org, ``Sitemap`` lines are GROUP-INDEPENDENT: they apply to
    all agents wherever they appear, so unlike the rule parsers this scans
    every line, not just the wildcard group.

    The URLs feed :func:`..operators.web.expand_sitemap_index` (nested
    index resolution) and then the frontier.  One narrow generator per
    robots body; key matching is case-insensitive, values keep their case
    (URLs are case-sensitive).

    Returns (host, sitemap_url, pos) — pos is the 1-based order of the
    directive within the host's robots.txt (discovery order matters to
    schedulers), duplicates within one host dropped on first occurrence.
    """
    lines = robots_df.select(
        "host",
        F.posexplode(F.split(F.col("text"), "\r?\n")).alias("line_no", "raw"),
    )
    url = F.trim(
        F.regexp_extract(
            F.regexp_replace("raw", "#.*", ""),
            r"^\s*[Ss][Ii][Tt][Ee][Mm][Aa][Pp]\s*:\s*(.*?)\s*$",
            1,
        )
    )
    hits = lines.select("host", "line_no", url.alias("sitemap_url")).where(
        F.col("sitemap_url") != ""
    )
    firsts = hits.groupBy("host", "sitemap_url").agg(
        F.min("line_no").alias("line_no")
    )
    w_rank = (
        firsts.groupBy("host")
        .agg(
            F.array_sort(F.collect_list(F.struct("line_no", "sitemap_url"))).alias(
                "arr"
            )
        )
        .select(
            "host",
            F.posexplode(F.transform(F.col("arr"), lambda s: s["sitemap_url"])).alias(
                "pos0", "sitemap_url"
            ),
        )
    )
    return w_rank.select(
        "host", "sitemap_url", (F.col("pos0") + 1).cast("long").alias("pos")
    )


def robots_coverage(frontier_df: DataFrame, robots_df: DataFrame) -> DataFrame:
    """Per-host robots *coverage report* — what fraction of the frontier a
    host's Disallow rules would remove.  The crawl-ops twin of
    ``politeness.apply_robots`` (which drops the rows): budgeting and
    trap/abuse triage need the aggregate BEFORE committing a wave, e.g. a
    host whose robots suddenly blocks 95% of queued URLs should trigger a
    frontier rebuild, not a silent near-empty wave.

    The rules are collected once and flag each row with the same
    expression ``apply_robots`` filters on (``politeness.robots_blocked``);
    one groupBy(host) rolls up.  Returns (host, n_urls, n_blocked,
    blocked_frac) — blocked_frac rounded to 6.
    """
    flagged = frontier_df.select(
        "host", robots_blocked(robots_df).cast("long").alias("__b")
    )
    return flagged.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum("__b").cast("long").alias("n_blocked"),
        F.round(
            F.sum("__b").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("blocked_frac"),
    )


def robots_wildcard_verdicts(frontier_df: DataFrame, rules_df: DataFrame,
                             url_col: str = "url",
                             host_col: str = "host") -> DataFrame:
    """EXACT RFC 9309 §2.2.3 wildcard evaluation — the precise counterpart
    of the conservative truncation in :func:`parse_robots_rfc`.

    ``rules_df`` is (host, pattern, is_allow) with patterns kept verbatim
    (``*`` and trailing ``$`` intact).  Every pattern compiles to a SQL
    ``LIKE`` expression (escape LIKE metacharacters with ``!``, strip a
    trailing ``$`` end-anchor, map ``*`` -> ``%``, append ``%`` unless
    anchored) evaluated JVM-side;
    precedence is the RFC's most-octets rule — ``length(pattern)`` of the
    raw pattern, Allow winning exact ties (§2.2.2), unmatched paths
    allowed.

    Shape at 100 TB: the rules table broadcasts (robots bodies are
    KBs/host); the frontier takes one broadcast-hash left join on host,
    a scalar LIKE per (url, rule) candidate, and a ``row_number`` window
    partitioned BY URL (a url matches at most a handful of rules — tiny,
    uniform partitions, no global window).

    Returns (url, allowed, rule_pattern, rule_is_allow) — rule columns
    NULL for urls no rule matched.
    """
    rules = rules_df.where(
        F.col("pattern").isNotNull() & (F.col("pattern") != "")
    ).withColumn(
        "__e",
        F.replace(F.replace(F.replace(F.col("pattern"),
                                      F.lit("!"), F.lit("!!")),
                            F.lit("%"), F.lit("!%")),
                  F.lit("_"), F.lit("!_")),
    ).withColumn(
        "__body",
        F.when(F.col("__e").endswith("$"),
               F.expr("substring(__e, 1, length(__e) - 1)"))
        .otherwise(F.col("__e")),
    ).select(
        F.col(host_col),
        F.col("pattern").alias("__pat"),
        F.col("is_allow").alias("__ia"),
        F.length("pattern").cast("long").alias("__plen"),
        F.when(F.col("__e").endswith("$"),
               F.replace(F.col("__body"), F.lit("*"), F.lit("%")))
        .otherwise(F.concat(
            F.replace(F.col("__body"), F.lit("*"), F.lit("%")),
            F.lit("%"))).alias("__like"),
    )
    path = url_path_safe(F.col(url_col))
    base = frontier_df.select(url_col, host_col).withColumn("__path", path)
    w = Window.partitionBy(url_col).orderBy(
        F.col("__plen").desc(), F.col("__ia").desc(), F.col("__pat").asc()
    )
    winners = (
        base.join(F.broadcast(rules), host_col, "inner")
        .where(F.expr("__path LIKE __like ESCAPE '!'"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(url_col, F.col("__pat").alias("rule_pattern"),
                F.col("__ia").alias("rule_is_allow"))
    )
    return (
        frontier_df.select(url_col).distinct()
        .join(winners, url_col, "left")
        .select(
            url_col,
            F.coalesce(F.col("rule_is_allow"), F.lit(True)).alias("allowed"),
            "rule_pattern", "rule_is_allow",
        )
    )


def apply_robots_wildcard(frontier_df: DataFrame,
                          rules_df: DataFrame) -> DataFrame:
    """Filter twin of :func:`robots_wildcard_verdicts`: keep only the
    frontier rows whose winning wildcard rule allows them (or that no
    rule matches)."""
    allowed = robots_wildcard_verdicts(frontier_df, rules_df).where(
        F.col("allowed")
    ).select("url")
    return frontier_df.join(allowed, "url", "left_semi")


def robots_sitemap_conflicts(sitemap_urls: DataFrame, rules_df: DataFrame,
                             url_col: str = "url",
                             host_col: str = "host") -> DataFrame:
    """Sitemap entries the site's OWN robots.txt disallows — the
    publisher-misconfiguration audit every major crawler runs (a
    sitemap invites fetching; robots forbids it; a polite crawler must
    skip, so the publisher silently loses coverage and support tickets
    follow).  Flagging the conflict set per host turns silent loss
    into an actionable report.

    Pure composition: :func:`robots_wildcard_verdicts` (exact RFC 9309
    wildcard precedence, broadcast rules, per-URL window) over the
    sitemap URL set, conflict = NOT allowed.  Returns (host, url,
    allowed, rule_pattern, conflict) — one row per sitemap entry, the
    blocking rule named for the report.
    """
    v = robots_wildcard_verdicts(sitemap_urls, rules_df, url_col, host_col)
    return (
        sitemap_urls.select(host_col, url_col).distinct()
        .join(v, url_col)
        .select(
            host_col, url_col, "allowed", "rule_pattern",
            (~F.col("allowed")).alias("conflict"),
        )
    )
