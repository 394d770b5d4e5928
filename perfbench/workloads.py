"""The benchmark's workloads and their correctness gate.

Every input is generated in-process by ``crawler_spark.sources.pages`` from
the synthetic id space, shifted by the seed; nothing is read from disk.  Each
workload builds its fetch universe (``pages``) once, warms the JVM and the
Python workers with an untimed pass, then runs timed *iterations*:

* ``backfill``  one cold crawl: a fresh store seeded with ``BACKFILL_IDS``
  card ids (``seed_range``) and crawled until the frontier drains (a card
  wave, then a photo wave).
* ``recrawl``   one re-crawl: a copy of a store that already holds
  ``RECRAWL_IDS`` crawled ids, a new ``CrawlJob`` on it, the range extended
  by 10% enqueued, and crawled until it drains.  The seen/missing anti-joins
  drop ~90% of the frontier and only the new ids are fetched and parsed.
* ``newcards``  one poll of the freshness loop: ``newcards_cycle`` with
  lookahead 100 on a store that keeps every earlier poll (a closed loop, one
  poller, no sleep).

An iteration is timed from its first input to its committed result.  After
it, untimed, the gate checks the committed tables against counts derived
from the generator's rules (``ABSENT_MOD``, ``n_photos = d % 4``, every 11th
photo withheld) and an order-independent digest of the tables.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from functools import reduce
from pathlib import Path

from procstat import tree_cpu_s
from tracer import dir_bytes

BACKFILL_IDS = 8_000
RECRAWL_IDS = 8_000
RECRAWL_GROWTH = 0.10
NEWCARDS_IDS = 2_000        # universe size; each poll moves ~100 ids ahead
NEWCARDS_LOOKAHEAD = 100
CORPUS_BUILDS = 3           # repeated set-up step, reported as its median
# politeness budget far above the corpus: each wave takes the whole frontier
WAVE_SECONDS = 3600 * 1000
ROBOTS = [("pet911.ru", "/admin", 1), ("cdn.pet911.ru", "/admin", 1)]
TABLES = ("cards", "card_photos", "seen", "missing")


def doc_offset(seed: int) -> int:
    """First doc id of the seed's window.  The stride is prime to 7, 4 and
    11, so each seed shifts where the absent ids and withheld photos fall."""
    return (seed % 100) * 1009


def expected_counts(docs, both_kinds: bool = True) -> dict:
    """Table row counts the generator's rules predict for crawling the cards
    of ``docs`` (doc ids).  ``both_kinds``: the frontier holds both the rf
    and the rl url of each id (range mode), of which only one exists;
    otherwise it holds only existing card ids (discovery)."""
    from crawler_spark.sources.pages import ABSENT_MOD, NUM_BASE

    docs = list(docs)
    cards = photos = withheld = 0
    for d in docs:
        if d % ABSENT_MOD == 0:
            continue
        cards += 1
        for j in range(1, d % 4 + 1):
            photos += 1
            withheld += ((NUM_BASE + d) * 4 + j) % 11 == 0
    card_urls = 2 * len(docs) if both_kinds else cards
    return {
        "cards": cards,
        "card_photos": photos - withheld,
        "seen": cards + photos - withheld,
        "missing": card_urls - cards + withheld,
        "attempts": card_urls + photos,
    }


def table_facts(job) -> dict:
    """One Spark job: per committed table its row count, its bad rows
    (cards with a parse error, photos that failed validation) and an
    order-independent digest; plus the parse fallbacks of every wave."""
    from pyspark.sql import functions as F

    def agg(name, df, bad):
        digest = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        return df.agg(
            F.lit(name).alias("table"),
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.when(bad, 1).otherwise(0)), F.lit(0)).alias("bad"),
            F.coalesce(digest, F.lit(0)).cast("string").alias("digest"),
        )

    wm = job.wave_metrics()
    parts = [
        agg("cards", job.cards(), F.col("error").isNotNull()),
        agg("card_photos", job.card_photos(), ~F.col("image_ok")),
        agg("seen", job.seen_set(), F.lit(False)),
        agg("missing", job.missing_set(), F.lit(False)),
        wm.agg(
            F.lit("parse_fallbacks").alias("table"),
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum("parse_fallbacks"), F.lit(0)).alias("bad"),
            F.lit("0").alias("digest"),
        ),
    ]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return {r["table"]: {"rows": r["rows"], "bad": r["bad"], "digest": r["digest"]}
            for r in rows}


def gate(facts: dict, want: dict) -> list[dict]:
    """Compare committed tables with predicted counts; one entry per check."""
    checks = [{"check": f"{t}.rows", "got": facts[t]["rows"], "want": want[t]}
              for t in TABLES]
    checks += [
        {"check": "cards.parse_errors", "got": facts["cards"]["bad"], "want": 0},
        {"check": "card_photos.invalid", "got": facts["card_photos"]["bad"], "want": 0},
        {"check": "parse.fallbacks", "got": facts["parse_fallbacks"]["bad"], "want": 0},
    ]
    for c in checks:
        c["ok"] = c["got"] == c["want"]
    return checks


def digest_of(facts: dict) -> str:
    return "/".join(facts[t]["digest"] for t in TABLES)


class Timed:
    """Wall clock, epoch window and process-tree CPU of a ``with`` block."""

    def __enter__(self):
        self.cpu0 = tree_cpu_s()
        self.epoch0 = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.t1 = time.perf_counter()
        self.epoch1 = time.time()
        self.cpu_s = tree_cpu_s() - self.cpu0
        self.wall_s = self.t1 - self.t0
        return False


def first_commit_after(store, table: str, epoch: float) -> float | None:
    """Epoch time of the first snapshot of ``table`` committed after
    ``epoch``, from the store manifest."""
    ts = [s["ts"] for s in store.snapshots(table) if s["ts"] >= epoch]
    return min(ts) if ts else None


class Workload:
    """One workload: ``setup`` once, then ``iterate`` repeatedly, then
    ``finish``."""

    name = ""

    def __init__(self, spark, seed: int, work: Path, cores: int):
        self.spark = spark
        self.work = work
        self.cores = cores
        self.d0 = doc_offset(seed)
        self.pages = None
        self.reference_digest: str | None = None
        self._n = 0
        self.robots = spark.createDataFrame(
            ROBOTS, "host string, disallow_prefix string, crawl_delay_ms int")

    # ------------------------------------------------------------ set-up
    def _universe(self, n_docs: int, discovery: bool):
        from pyspark.sql import functions as F

        from crawler_spark.sources import pages as P

        docs = P.synthetic_docs_from_range(self.spark, self.d0 + n_docs).where(
            F.col("doc_id") >= self.d0)
        pages = P.build_pages(self.spark, "", include_fixtures=False, docs_df=docs)
        if discovery:
            pages = pages.unionByName(
                P.synthetic_catalog_pages(self.spark, "", docs)
            ).unionByName(P.synthetic_checkapi_pages(self.spark, "", docs))
        return pages.repartition(self.cores, "url").persist()

    def build_corpus(self, n_docs: int, discovery: bool = False) -> float:
        """Build and cache the fetch universe ``CORPUS_BUILDS`` times (each
        build replaces the last); returns the median build time."""
        times = []
        for _ in range(CORPUS_BUILDS):
            if self.pages is not None:
                self.pages.unpersist(blocking=True)
            t = time.perf_counter()
            self.pages = self._universe(n_docs, discovery)
            self.pages.count()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    def new_job(self, store: Path):
        from crawler_spark.plans.crawl_job import CrawlJob

        return CrawlJob(self.spark, str(store), self.pages,
                        wave_seconds=WAVE_SECONDS, robots_df=self.robots,
                        use_bloom=True, salted=True)

    def store_path(self) -> Path:
        self._n += 1
        return self.work / "stores" / f"{self.name}-{self._n}"

    def setup(self) -> dict:
        """Untimed set-up; returns the seconds of each part."""
        raise NotImplementedError

    def iterate(self, ctx) -> dict:
        """Run one timed iteration with ``ctx`` (a tracer or a null context)
        entered around the timed part; gate it; return its figures."""
        raise NotImplementedError

    # ---------------------------------------------------------- helpers
    def finish(self) -> dict:
        """Run-level checks made once, after the last iteration."""
        return {"checks": [], "parse_fallbacks": None}

    def _result(self, job, timed: Timed, stats: list, want_attempts: int) -> dict:
        """An iteration's figures and the checks that need no Spark job."""
        attempts = sum(int(s["fetched"]) for s in stats)
        cards_at = first_commit_after(job.store, "cards", timed.epoch0)
        return {
            "wall_s": timed.wall_s,
            "cpu_s": timed.cpu_s,
            "cycle_s": None if cards_at is None else cards_at - timed.epoch0,
            "window_ms": (timed.epoch0 * 1e3, timed.epoch1 * 1e3),
            "attempts": attempts,
            "fetch_errors": sum(int(s["fetched"]) - s["downloaded"] - s["absent"]
                                for s in stats),
            "parse_fallbacks": None,
            "store_mb": dir_bytes(job.store.root) / 2**20,
            "stats": stats,
            "checks": [{"check": "fetch.attempts", "got": attempts,
                        "want": want_attempts, "ok": attempts == want_attempts}],
        }

    def _gate_tables(self, job, out: dict, want: dict) -> dict:
        """Add the table checks and the digest check to ``out``: every
        iteration of one seed must commit the same tables."""
        facts = table_facts(job)
        out["checks"] += gate(facts, want)
        out["parse_fallbacks"] = facts["parse_fallbacks"]["bad"]
        out["digest"] = digest_of(facts)
        if self.reference_digest is None:
            self.reference_digest = out["digest"]
        out["checks"].append({"check": "digest", "got": out["digest"],
                              "want": self.reference_digest,
                              "ok": out["digest"] == self.reference_digest})
        return out


class Backfill(Workload):
    name = "backfill"

    def __init__(self, *a):
        super().__init__(*a)
        from crawler_spark.sources.pages import NUM_BASE

        self.first = NUM_BASE + self.d0
        self.last = self.first + BACKFILL_IDS - 1
        self.want = expected_counts(range(self.d0, self.d0 + BACKFILL_IDS))

    def setup(self) -> dict:
        build_s = self.build_corpus(BACKFILL_IDS)
        t = time.perf_counter()
        self.iterate(nullcontext())  # warm-up crawl; also fixes the reference digest
        return {"build_s": build_s, "warmup_s": time.perf_counter() - t}

    def iterate(self, ctx) -> dict:
        store = self.store_path()
        job = self.new_job(store)
        with ctx, Timed() as timed:
            job.seed_range(self.first, self.last)
            stats = job.crawl()
        out = self._gate_tables(job, self._result(job, timed, stats, self.want["attempts"]),
                                self.want)
        shutil.rmtree(store, ignore_errors=True)
        return out


class Recrawl(Workload):
    name = "recrawl"

    def __init__(self, *a):
        super().__init__(*a)
        from crawler_spark.sources.pages import NUM_BASE

        self.n_ext = int(RECRAWL_IDS * (1 + RECRAWL_GROWTH))
        self.first = NUM_BASE + self.d0
        self.want = expected_counts(range(self.d0, self.d0 + self.n_ext))
        new = expected_counts(range(self.d0 + RECRAWL_IDS, self.d0 + self.n_ext))
        self.want["attempts"] = new["attempts"]
        self.base = self.work / "stores" / "recrawl-base"

    def setup(self) -> dict:
        build_s = self.build_corpus(self.n_ext)
        t = time.perf_counter()
        job = self.new_job(self.base)
        job.seed_range(self.first, self.first + RECRAWL_IDS - 1)
        job.crawl()
        self.iterate(nullcontext())  # warm-up re-crawl; also fixes the reference digest
        return {"build_s": build_s, "warmup_s": time.perf_counter() - t}

    def iterate(self, ctx) -> dict:
        from crawler_spark.sources import frontier

        store = self.store_path()
        shutil.copytree(self.base, store)
        job = self.new_job(store)
        with ctx, Timed() as timed:
            job.enqueue_frontier(frontier.frontier_from_range(
                self.spark, self.first, self.first + self.n_ext - 1))
            stats = job.crawl()
        out = self._gate_tables(job, self._result(job, timed, stats, self.want["attempts"]),
                                self.want)
        shutil.rmtree(store, ignore_errors=True)
        return out


class Newcards(Workload):
    name = "newcards"

    def __init__(self, *a):
        super().__init__(*a)
        from crawler_spark.sources.pages import ABSENT_MOD, NUM_BASE

        self.num_base = NUM_BASE
        self.existing = [NUM_BASE + d for d in range(self.d0, self.d0 + NEWCARDS_IDS)
                         if d % ABSENT_MOD != 0]
        # a stale tail at the bottom of the id space, as after a restart
        self.known = set(self.existing[:6])
        self.totals = dict.fromkeys(TABLES, 0)
        self.job = None

    def setup(self) -> dict:
        build_s = self.build_corpus(NEWCARDS_IDS, discovery=True)
        t = time.perf_counter()
        self.job = self.new_job(self.store_path())
        self.iterate(nullcontext())  # warm-up poll
        return {"build_s": build_s, "warmup_s": time.perf_counter() - t}

    def iterate(self, ctx) -> dict:
        from crawler_spark.plans import discovery

        largest = max(self.known)
        lo, hi = largest // 10, (largest + NEWCARDS_LOOKAHEAD) // 10
        if hi * 10 + 9 > self.existing[-1]:
            raise RuntimeError("newcards: the poll window ran past the generated "
                               "universe; raise NEWCARDS_IDS")
        found = [n for n in self.existing if lo * 10 <= n <= hi * 10 + 9 and n > largest]
        want = expected_counts((n - self.num_base for n in found), both_kinds=False)
        for t in TABLES:
            self.totals[t] += want[t]
        known_before = set(self.known)
        with ctx, Timed() as timed:
            self.known, stats = discovery.newcards_cycle(
                self.job, self.known, lookahead=NEWCARDS_LOOKAHEAD)
        out = self._result(self.job, timed, stats, want["attempts"])
        # per poll, only checks that need no Spark job: the store is shared
        # by every poll, so its tables are scanned once, in finish()
        want_known = set(sorted(known_before | set(found),
                                reverse=True)[:discovery.MAX_KNOWN_SET])
        checks = [{"check": f"{t}.manifest_rows", "got": self.job.store.total_rows(t),
                   "want": self.totals[t]} for t in TABLES]
        checks.append({"check": "known_set", "got": sorted(self.known),
                       "want": sorted(want_known)})
        for c in checks:
            c["ok"] = c["got"] == c["want"]
        out["checks"] += checks
        return out

    def finish(self) -> dict:
        facts = table_facts(self.job)
        return {"checks": gate(facts, self.totals),
                "parse_fallbacks": facts["parse_fallbacks"]["bad"]}


WORKLOADS = {w.name: w for w in (Backfill, Recrawl, Newcards)}
