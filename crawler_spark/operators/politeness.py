"""Per-host politeness scheduling, robots.txt compliance, and hot-host
skew salting (F3 + north_rule extensions).

The reference's entire politeness budget is ONE global concurrent download
with a 60s timeout (CrawlerPet911/Utils.fs:13-14, Downloader.fs:144-159) and
no robots.txt support at all (grep-verified; SURVEY §2.2 F3).  Generalized
per north_rule:

* ``robots(host, disallow_prefix, crawl_delay_ms)`` table → read once into
  driver memory (:class:`RobotsRules`, robots tables are KBs) and applied
  row by row through literal host → prefixes / host → budget maps: no join,
  no shuffle.  A url is blocked when its path starts with one of its own
  host's disallow prefixes; crawl_delay feeds the token budget.
* token bucket: a wave spanning ``wave_seconds`` may fetch at most
  ``wave_seconds*1000/crawl_delay_ms`` urls per host (a crawl delay ≤ 0 sets
  no cap); selection by priority rank inside each host.  Deferred rows stay
  in the frontier for later waves.  :func:`min_host_budget` is the smallest
  budget any host gets: a frontier no larger than it defers nothing.
* skew: hot hosts (pet-classifieds-style) blow up the per-host window sort;
  the salted variant ranks within (host, salt) so no single task sees a whole
  hot host, at the cost of ±n_salts rounding in the budget.

All native window/join/map expressions — no Python UDF.
"""

from __future__ import annotations

from itertools import chain
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.url import url_path_safe

DEFAULT_CRAWL_DELAY_MS = 60_000  # the reference's 60s timeout budget, Utils.fs:13
# the budget of a host whose crawl delay is ≤ 0: every row of it is in budget
NO_CAP = 2**63 - 1


class RobotsRules(NamedTuple):
    """A robots table read into driver memory: ``prefixes`` maps a host to
    its disallow prefixes, ``delays`` to its smallest ``crawl_delay_ms``.
    NULL hosts, prefixes and delays are left out — in the table they match
    nothing either."""

    prefixes: dict[str, tuple[str, ...]]
    delays: dict[str, float]


def robots_rules(robots: DataFrame | RobotsRules) -> RobotsRules:
    """Collect a ``robots(host, disallow_prefix, crawl_delay_ms)`` table in
    one job (either rule column may be absent); a RobotsRules passes
    through, so a crawl loop collects its static table once."""
    if isinstance(robots, RobotsRules):
        return robots
    cols = [
        F.col(c) if c in robots.columns else F.lit(None)
        for c in ("host", "disallow_prefix", "crawl_delay_ms")
    ]
    prefixes: dict[str, set] = {}
    delays: dict[str, float] = {}
    for host, prefix, delay in robots.select(*cols).collect():
        if host is None:
            continue
        if prefix is not None:
            prefixes.setdefault(host, set()).add(prefix)
        if delay is not None:
            delays[host] = min(delay, delays.get(host, delay))
    return RobotsRules({h: tuple(sorted(p)) for h, p in prefixes.items()}, delays)


def _lit_map(d: dict, value) -> Column:
    return F.create_map(*chain.from_iterable(
        (F.lit(k), value(v)) for k, v in sorted(d.items())
    ))


def robots_blocked(robots: DataFrame | RobotsRules, url: str = "url",
                   host: str = "host") -> Column:
    """True where the row's url path (``url_path_safe``) starts with one of
    its host's disallow prefixes, else false: a NULL url or host, a NULL
    prefix and a host with only a delay row block nothing.  The verdict is
    the row's own — it reads no other row."""
    rules = robots_rules(robots)
    if not rules.prefixes:
        return F.lit(False)
    by_host = _lit_map(rules.prefixes, lambda ps: F.array(*map(F.lit, ps)))
    path = url_path_safe(F.col(url))
    hit = F.exists(by_host[F.col(host)], lambda p: path.startswith(p))
    return F.col(url).isNotNull() & F.coalesce(hit, F.lit(False))


def apply_robots(frontier_df: DataFrame,
                 robots_df: DataFrame | RobotsRules) -> DataFrame:
    """Drop frontier urls matching a disallow prefix for their host: one
    row-local filter (:func:`robots_blocked`), no join.  A DataFrame of
    rules is collected on each call; pass :func:`robots_rules` to reuse."""
    return frontier_df.where(~robots_blocked(robots_df))


def apply_robots_rfc(frontier_df: DataFrame, rules_df: DataFrame) -> DataFrame:
    """RFC 9309 longest-match evaluation over an Allow/Disallow rules table
    (``host, prefix, is_allow`` from ``robots.parse_robots_rfc``): for each
    url the most specific (longest-prefix) matching rule decides; on an
    exact length tie Allow wins (§2.2.2); an unmatched url is allowed.

    Shape: rules broadcast (robots tables are KBs/host), one inner prefix
    join, then a per-url ``row_number`` — each url matches at most a
    handful of rules, so the window partitions are tiny and uniformly
    distributed (no hot key).
    """
    rules = F.broadcast(
        rules_df.where(F.col("prefix").isNotNull())
        .select("host", "prefix", "is_allow")
    )
    path = url_path_safe(F.col("url"))
    w = Window.partitionBy("url").orderBy(
        F.length("prefix").desc(), F.col("is_allow").desc()
    )
    blocked = (
        frontier_df.select("url", "host").withColumn("__path", path)
        .join(rules, "host", "inner")
        .where(F.col("__path").startswith(F.col("prefix")))
        .withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & ~F.col("is_allow"))
        .select("url")
        .distinct()
    )
    return frontier_df.join(blocked, "url", "left_anti")


def _host_budget(delay_ms: float, wave_seconds: int) -> int:
    if delay_ms <= 0:
        return NO_CAP
    return max(1, min(NO_CAP, int(wave_seconds * 1000 // delay_ms)))


def min_host_budget(robots: RobotsRules | None, wave_seconds: int) -> int:
    """The smallest per-host budget of a wave: the budget of the largest
    positive delay among the rules and the 60 s default.  No host can
    exceed it with a frontier of at most this many rows, so such a frontier
    is selected whole by either selector."""
    delays = robots.delays.values() if robots is not None else ()
    return _host_budget(
        max([DEFAULT_CRAWL_DELAY_MS, *(d for d in delays if d > 0)]), wave_seconds
    )


def _budget_per_host(robots: DataFrame | RobotsRules | None,
                     wave_seconds: int) -> Column:
    """Per-row budget of the row's host: a literal host → budget map lookup
    for hosts with a crawl delay, the 60 s default otherwise."""
    default = F.lit(_host_budget(DEFAULT_CRAWL_DELAY_MS, wave_seconds)).cast("long")
    delays = robots_rules(robots).delays if robots is not None else {}
    if not delays:
        return default
    budgets = {h: _host_budget(d, wave_seconds) for h, d in delays.items()}
    by_host = _lit_map(budgets, lambda b: F.lit(b).cast("long"))
    return F.coalesce(by_host[F.col("host")], default)


def select_wave(frontier_df: DataFrame, wave_seconds: int = 60,
                robots_df: DataFrame | RobotsRules | None = None) -> DataFrame:
    """Exact token bucket: rank urls within each host by crawl order
    (seq — Utils.fs:20-23 enumeration), keep rank ≤ budget.

    Adds ``selected`` boolean; callers fetch selected rows and carry the rest.
    """
    w = Window.partitionBy("host").orderBy(F.col("seq").asc())
    budget = _budget_per_host(robots_df, wave_seconds)
    return (
        frontier_df.withColumn("__rank", F.row_number().over(w))
        .withColumn("selected", F.col("__rank") <= budget)
        .drop("__rank")
    )


def hot_host_list(frontier_df: DataFrame,
                  hot_host_threshold: int = 100_000) -> DataFrame:
    """Hosts holding >= ``hot_host_threshold`` frontier rows, as a slim
    one-column DataFrame.  Broadcast-safe by construction: at 10^10 urls
    the FULL per-host count table could be 10^7+ rows, but the hot subset
    is bounded by total/threshold (<= 10^5 rows, KBs).  A frontier with
    fewer than ``hot_host_threshold`` rows has no hot host at all, so a
    crawl loop can skip the aggregation from the row count alone (see
    CrawlJob.HOT_HOST_MIN_ROWS)."""
    return (
        frontier_df.groupBy("host")
        .agg(F.count(F.lit(1)).alias("__host_n"))
        .where(F.col("__host_n") >= hot_host_threshold)
        .select("host")
    )


def select_wave_salted(frontier_df: DataFrame, wave_seconds: int = 60,
                       robots_df: DataFrame | RobotsRules | None = None,
                       n_salts: int = 16,
                       hot_host_threshold: int = 100_000,
                       hot_hosts: DataFrame | None = None) -> DataFrame:
    """Skew-safe token bucket (north_rule: 'salted priority queue'),
    single-pass: ONE scan of the frontier and ONE shuffle.

    Every row ranks within window partition (host, __salt): hot hosts
    (>= ``hot_host_threshold`` frontier rows) get
    ``salt = pmod(xxhash64(url), n_salts)`` and budget/n_salts tokens per
    salt (min 1) — so no single task ever sorts a hot host's whole
    frontier; cold hosts get the constant salt 0, making their partition
    the entire host and their ranking bit-identical to the exact
    ``select_wave`` path.  The salted budget can overshoot by
    ≤ n_salts-1 urls per hot host per wave — an accepted politeness
    rounding at scale, never a correctness issue.

    ``hot_hosts`` (optional) is a precomputed one-column host DataFrame
    (see :func:`hot_host_list`).  Passing it skips the count aggregation
    over ``frontier_df``; a stale list only costs per-salt rounding (cold
    host still salted) or single-task ranking (new-hot host not yet
    salted), never a budget violation beyond the documented n_salts-1.
    It is deduplicated here: a repeated host would duplicate its frontier
    rows through the join.
    """
    if hot_hosts is None:
        hot_hosts = hot_host_list(frontier_df, hot_host_threshold)
    else:
        hot_hosts = hot_hosts.select("host").distinct()
    df = frontier_df.join(
        F.broadcast(hot_hosts.withColumn("__hot", F.lit(True))), "host", "left"
    )
    is_hot = F.col("__hot").isNotNull()
    df = df.withColumn(
        "__salt",
        F.when(is_hot, F.pmod(F.xxhash64("url"), F.lit(n_salts)))
        .otherwise(F.lit(0)),
    )
    budget = _budget_per_host(robots_df, wave_seconds)
    per_salt_budget = F.greatest(F.lit(1), (budget / F.lit(n_salts)).cast("long"))
    w = Window.partitionBy("host", "__salt").orderBy(F.col("seq").asc())
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .withColumn(
            "selected",
            F.col("__rank") <= F.when(is_hot, per_salt_budget).otherwise(budget),
        )
        .drop("__rank", "__salt", "__hot")
    )


def allocate_crawl_budget(hosts: DataFrame, budget: int,
                          host_col: str = "host",
                          weight_col: str = "weight",
                          cap: int | None = None) -> DataFrame:
    """Integer per-host fetch-quota allocation by the largest-remainder
    (Hamilton) method: split a global wave ``budget`` across hosts
    proportionally to ``weight_col`` so the quotas are integers, sum
    exactly to the budget, and the rounding error lands on the hosts with
    the largest fractional remainders — the standard apportionment a
    crawl scheduler runs between the frontier-priority rollup (how much
    does each host deserve) and the politeness wave (what may actually be
    fetched).  Extends the reference's single global budget
    (CrawlerPet911/Utils.fs:13-14) to a per-host division of it.

    ``quota_j = floor(budget * w_j / W) (+1 for the `leftover` hosts with
    the largest fractional parts, ties broken by host ascending)``.

    Scale discipline: no global window anywhere.  The floor pass is a
    projection; the bonus set has at most ``leftover < n_hosts`` (and
    ≤ budget) members, selected with ``orderBy(...).limit(leftover)`` —
    Catalyst runs that as TakeOrderedAndProject (per-partition heaps, a
    k-row driver merge) and the result joins back as a **broadcast**
    semi-join.  Weights should be exact integers (doc counts, priority
    ranks): then every double here (budget*w/W) is the same IEEE value on
    any engine and the apportionment is bit-deterministic.

    ``cap`` (optional) clamps each quota after apportionment — the
    politeness ceiling wins over proportionality, so the capped total may
    be < budget (documented, not re-distributed: re-distribution loops
    until fixpoint, which a scheduler re-running every wave gets for free
    by re-weighting next wave).

    Returns (host_col, weight_col, base, bonus, quota).
    """
    w = F.col(weight_col).cast("double")
    total = hosts.agg(F.sum(w).alias("w_total"))
    ideal = F.lit(float(budget)) * w / F.col("w_total")
    based = (
        hosts.crossJoin(F.broadcast(total))
        .select(
            F.col(host_col),
            F.col(weight_col),
            F.floor(ideal).cast("long").alias("base"),
            (ideal - F.floor(ideal)).alias("frac"),
        )
    )
    agg = based.agg(F.sum("base").alias("sum_base")).collect()[0]
    leftover = int(budget - (agg["sum_base"] or 0))
    bonus_hosts = (
        based.orderBy(F.col("frac").desc(), F.col(host_col))
        .limit(max(leftover, 0))
        .select(host_col)
    )
    out = based.join(
        F.broadcast(bonus_hosts.withColumn("__bonus", F.lit(1))),
        host_col,
        "left",
    ).select(
        host_col,
        weight_col,
        "base",
        F.coalesce(F.col("__bonus"), F.lit(0)).cast("long").alias("bonus"),
    )
    quota = F.col("base") + F.col("bonus")
    if cap is not None:
        quota = F.least(quota, F.lit(int(cap)))
    return out.withColumn("quota", quota.cast("long"))


def schedule_fetch_times(wave_df: DataFrame, base_ts_ms: int,
                         default_delay_ms: int = 1000,
                         robots_df: DataFrame | None = None) -> DataFrame:
    """Compile the per-host token bucket into an explicit fetch timeline:
    every selected URL gets ``fetch_at_ms = base_ts_ms + (rank-1) *
    host_delay_ms`` where rank is its crawl-order position (``seq``) within
    the host's wave queue and the delay is the host's robots crawl-delay
    (fallback ``default_delay_ms``).  This is the executable form of the
    politeness budget — a fetcher fleet replays the timeline without any
    coordination because the schedule is data, not state.

    The window ranks within host over the *selected wave only* — already
    politeness-bounded to ≤ budget rows per host by ``select_wave``/
    ``select_wave_salted``, so no partition exceeds the per-wave budget no
    matter how hot the host (the unbounded-frontier skew lives in wave
    selection, which already salts it).

    Returns wave_df + (host_delay_ms, fetch_rank, fetch_at_ms), ordered
    facts only (no sort applied).
    """
    df = wave_df
    if robots_df is not None:
        delays = F.broadcast(
            robots_df.where(F.col("crawl_delay_ms").isNotNull())
            .groupBy("host")
            .agg(F.min("crawl_delay_ms").alias("__delay"))
        )
        df = df.join(delays, "host", "left")
        delay = F.coalesce(F.col("__delay"), F.lit(default_delay_ms))
    else:
        delay = F.lit(default_delay_ms)
    w = Window.partitionBy("host").orderBy(F.col("seq").asc())
    out = (
        df.withColumn("host_delay_ms", delay.cast("long"))
        .withColumn("fetch_rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "fetch_at_ms",
            (F.lit(base_ts_ms)
             + (F.col("fetch_rank") - 1) * F.col("host_delay_ms")).cast("long"),
        )
    )
    return out.drop("__delay") if robots_df is not None else out


def host_circuit_breaker(fetch_log: DataFrame, min_attempts: int = 20,
                         max_failure_rate: float = 0.5,
                         host_col: str = "host",
                         success_col: str = "success") -> DataFrame:
    """Per-host failure-rate circuit breaker — the scheduler-side guard a
    production crawler keeps so a dying or blocking host stops burning the
    wave budget (the reference retries per-URL with a Fibonacci budget,
    Downloader.fs:57-126, but has no host-level health signal at all).

    A host *trips* only with enough evidence: ``n_attempts >=
    min_attempts`` AND ``failure_rate >= max_failure_rate`` — a cold host
    is never judged on one bad fetch.  One map-side-combined groupBy on
    the host key; the output is host-cardinality (small), so the
    enforcement anti-join broadcasts.

    Returns (host_col, n_attempts, n_failures, failure_rate, tripped).
    """
    n = F.count(F.lit(1)).cast("long")
    fails = F.sum(F.when(F.col(success_col), 0).otherwise(1)).cast("long")
    out = fetch_log.groupBy(host_col).agg(
        n.alias("n_attempts"), fails.alias("n_failures")
    ).withColumn(
        "failure_rate",
        F.round(
            F.col("n_failures").cast("double")
            / F.col("n_attempts").cast("double"),
            6,
        ),
    )
    return out.withColumn(
        "tripped",
        (F.col("n_attempts") >= min_attempts)
        & (F.col("failure_rate") >= max_failure_rate),
    )


def apply_circuit_breaker(frontier_df: DataFrame,
                          breaker_df: DataFrame,
                          host_col: str = "host") -> DataFrame:
    """Drop frontier rows whose host tripped the breaker.  The tripped set
    is a fraction of the (already small) host rollup, so it broadcasts —
    the frontier is never shuffled for enforcement."""
    tripped = breaker_df.where(F.col("tripped")).select(host_col)
    return frontier_df.join(F.broadcast(tripped), host_col, "left_anti")


def adaptive_crawl_delay(fetch_log: DataFrame, percentile: float = 0.95,
                         multiplier: float = 2.0,
                         min_delay_ms: int = 100,
                         max_delay_ms: int = 30_000,
                         host_col: str = "host",
                         latency_col: str = "latency_ms") -> DataFrame:
    """Politeness auto-tuning from observed behavior: the next wave's
    per-host delay is ``clamp(ceil(p95_latency × multiplier))`` — a slow
    host (loaded, rate-limiting, far away) earns a longer gap, a fast one
    tightens back toward ``min_delay_ms``.  This is the feedback loop that
    turns :func:`schedule_fetch_times` from static robots compliance into
    adaptive politeness.

    Exact ``percentile`` over the integer latency column so the DuckDB
    oracle is bit-equal (the interpolation semantics match — proved by
    ``corpus_length_profile``); at 100 TB swap ``percentile_approx`` in,
    same single map-side-combined groupBy.

    Returns (host_col, n, p95_latency_ms, delay_ms).
    """
    p95 = F.round(
        F.expr(f"percentile({latency_col}, {percentile!r}D)"), 6
    )
    out = fetch_log.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        p95.alias("p95_latency_ms"),
    )
    delay = F.ceil(F.col("p95_latency_ms") * F.lit(multiplier)).cast("long")
    return out.withColumn(
        "delay_ms",
        F.greatest(
            F.lit(int(min_delay_ms)),
            F.least(F.lit(int(max_delay_ms)), delay),
        ).cast("long"),
    )


def host_fetch_concentration(fetch_log: DataFrame, host_col: str = "host",
                             top_n: int = 10) -> DataFrame:
    """Fetch-traffic concentration report — the fairness dashboard row a
    frontier scheduler is judged by.

    Per-host fetch counts roll up into one summary row:

    * ``hhi`` — Herfindahl–Hirschman index ``Σ share²`` (1/n_hosts for a
      perfectly fair crawl, 1.0 when one host absorbs everything);
    * ``eff_hosts = 1/hhi`` — the "effective number of hosts" actually
      being crawled;
    * ``top1_share`` / ``topn_share`` — mass captured by the heaviest
      host and the heaviest ``top_n`` hosts.

    These are the concentration metrics that do NOT need a global rank
    over every host (a Gini coefficient would): everything here is two
    hash aggregations plus a TakeOrdered of the already host-aggregated
    table — ``orderBy(count desc, host asc).limit(top_n)`` compiles to
    TakeOrderedAndProject, no partition-less window, no pairwise join.
    At 100 TB the raw fetch log never leaves the first map-side-combined
    groupBy.

    Returns one row: (n_hosts, n_fetches, hhi, eff_hosts, top1_share,
    topn_share), doubles rounded to 6 for cross-engine hashing.
    """
    counts = fetch_log.groupBy(host_col).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("cnt").cast("long").alias("n_fetches"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("sum_sq"),
        F.max("cnt").cast("long").alias("top1_cnt"),
    )
    topn = (
        counts.orderBy(F.col("cnt").desc(), F.col(host_col).asc())
        .limit(top_n)
        .agg(F.sum("cnt").cast("long").alias("topn_cnt"))
    )
    hhi = F.col("sum_sq") / (F.col("n_fetches") * F.col("n_fetches")).cast(
        "double"
    )
    return totals.crossJoin(F.broadcast(topn)).select(
        "n_hosts", "n_fetches",
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(1.0) / hhi, 6).alias("eff_hosts"),
        F.round(F.col("top1_cnt").cast("double")
                / F.col("n_fetches").cast("double"), 6).alias("top1_share"),
        F.round(F.col("topn_cnt").cast("double")
                / F.col("n_fetches").cast("double"), 6).alias("topn_share"),
    )


def crawl_makespan_bound(frontier: DataFrame, delays: DataFrame,
                         n_slots: int, default_delay_s: float = 1.0,
                         host_col: str = "host") -> DataFrame:
    """Politeness-constrained makespan lower bound for a fetch wave —
    the capacity-planning number a crawl operator needs BEFORE running:
    with per-host minimum delays, a wave cannot finish faster than
    either bound of the classic scheduling argument (Graham):

    * slot bound — total fetch-slot seconds / ``n_slots``;
    * chain bound — the longest single-host chain (a host's fetches
      are serialized by politeness: ``n_urls * delay_s``), no matter
      how many executors exist.

    ``bound_s = max(slot, chain)``; if the chain binds, adding
    executors is useless and the skew fix is per-host (longer crawl
    horizon, or host sharding if the host allows it).  This is the same
    diagnosis the salted politeness scheduler automates — surfaced as
    a report so the operator sees WHICH hosts pin the wave.

    Plan: one map-side-combined ``groupBy(host)``, two scalar
    aggregates broadcast back (the temperature_mixture_weights shape).
    Returns one row per host: (host, n_urls, delay_s, chain_s,
    bound_s, binding, is_critical) — ``binding`` ∈ {'chain','slots'}
    for the wave, ``is_critical`` marks hosts whose chain is the
    bound.  chain_s/bound_s rounded to 6.
    """
    # duplicate delays rows per host fold with min (strictest promise
    # wins) so a repeated declaration can't fan the join out and
    # double-count a host's chain in the slot bound
    d = delays.groupBy(F.col(host_col).alias("host")).agg(
        F.min(F.col("delay_s").cast("double")).alias("delay_s")
    )
    per = (
        frontier.groupBy(F.col(host_col).alias("host"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
        .join(d, "host", "left")
        .select(
            "host", "n_urls",
            F.coalesce("delay_s", F.lit(float(default_delay_s)))
            .alias("delay_s"),
        )
        .withColumn("chain_s", F.col("n_urls") * F.col("delay_s"))
    )
    tot = per.agg(
        (F.sum("chain_s") / F.lit(int(n_slots))).alias("slot_bound_s"),
        F.max("chain_s").alias("max_chain_s"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "host", "n_urls",
            F.round("delay_s", 6).alias("delay_s"),
            F.round("chain_s", 6).alias("chain_s"),
            F.round(F.greatest("slot_bound_s", "max_chain_s"), 6)
            .alias("bound_s"),
            F.when(F.col("max_chain_s") > F.col("slot_bound_s"),
                   F.lit("chain")).otherwise(F.lit("slots"))
            .alias("binding"),
            (F.col("chain_s") >= F.col("max_chain_s")).alias("is_critical"),
        )
    )


def politeness_conformance(log: DataFrame, delays: DataFrame,
                           host_col: str = "host", ts_col: str = "ts",
                           default_delay_s: float = 1.0) -> DataFrame:
    """Executed-crawl politeness audit: did the wave DELIVER the
    per-host minimum gaps the scheduler promised?  The selection
    operators bound what is *eligible*; this measures what *happened*
    from the fetch log — the compliance check an operator runs before
    claiming "polite" to a host that complained.

    Per host, fetches ordered by MICROSECOND epoch (exact bigint; one
    lag window partitioned by host) — second-floored times would erase
    same-second fetches, hiding exactly the hammering this audit
    exists to catch: ``gap_us = t − lag(t)``, violation = ``gap_us <
    delay_s·10^6`` (binary-exact delays × 10^6 are exact integers, so
    the comparison is exact).  Duplicate (host, instant) rows dedupe —
    identical microsecond timestamps are one observable event, and
    keeping them would make the lag order nondeterministic.  Duplicate
    ``delays`` rows per host fold with ``min`` (the strictest promise
    wins — and a duplicated row can't double-count violations).
    Reported per host: fetch count (distinct instants), minimum
    observed gap, violation count, worst deficit in seconds (promised
    − observed, only over violations), and the verdict.

    Returns (host, n_fetches, delay_s, min_gap_s, n_violations,
    worst_deficit_s, compliant) — gap/deficit columns in SECONDS
    (micros/10^6, rounded 6).
    """
    from pyspark.sql import Window

    d = delays.groupBy(F.col(host_col).alias("host")).agg(
        F.min(F.col("delay_s").cast("double")).alias("delay_s")
    )
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy("host").orderBy("t")
    gaps = (
        log.select(F.col(host_col).alias("host"), t.alias("t"))
        .distinct()
        .select("host", "t", (F.col("t") - F.lag("t").over(w)).alias("gap"))
    )
    per = (
        gaps.groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_fetches"),
             F.min("gap").cast("long").alias("min_gap_us"))
        .join(d, "host", "left")
        .select("host", "n_fetches", "min_gap_us",
                F.coalesce("delay_s", F.lit(float(default_delay_s)))
                .alias("delay_s"))
    )
    viol = (
        gaps.join(d, "host", "left")
        .select(
            "host", "gap",
            F.coalesce("delay_s", F.lit(float(default_delay_s)))
            .alias("delay_s"),
        )
        .where(
            F.col("gap").isNotNull()
            & (F.col("gap") < F.col("delay_s") * 1000000.0)
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_violations"),
            F.round(
                F.max(F.col("delay_s") - F.col("gap") / 1000000.0), 6
            ).alias("worst_deficit_s"),
        )
    )
    return (
        per.join(viol, "host", "left")
        .select(
            "host", "n_fetches",
            F.round("delay_s", 6).alias("delay_s"),
            F.round(F.col("min_gap_us") / 1000000.0, 6).alias("min_gap_s"),
            F.coalesce("n_violations", F.lit(0)).cast("long")
            .alias("n_violations"),
            F.col("worst_deficit_s"),
            (F.coalesce("n_violations", F.lit(0)) == 0).alias("compliant"),
        )
    )
