"""Benchmark driver — prints ONE JSON line.

Runs the headline workloads at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``:

* ``crawl_waves``      — the flagship: a full CrawlJob (frontier → seen/missing
  anti-joins → salted politeness wave select → fetch-as-join vs a synthetic
  pages corpus → parse UDF → photo fan-out/fan-in → snapshot commits) over
  ``BENCH_CARDS`` card ids.  Reported as pages/sec.
* ``frontier_select``  — frontier generation + seen anti-join + salted
  politeness selection over 1M urls (no fetch).  frontier-URLs/sec.
* a representative slice of ``__spark_entry__.queries()`` at the same sf.

Methodology: the host is a shared VM with multi-fold steal bursts (identical
runs measured 0.7 s ↔ 8.7 s), so the two heavy sections run INTERLEAVED
``BENCH_REPEATS`` times (crawl, frontier, crawl, frontier, …); the JSON
reports median + min + every raw run, and each run carries the system
CPU-busy-cores figure (/proc/stat) so throttled windows are visible in the
record itself rather than silently biasing a single-shot number.

Output: {"metric": "bench_total", "value": <total sec, medians>,
         "unit": "sec", "queries": {name: median sec, ...}, "sf": <sf>,
         "runs": {...raw per-run detail...}, "pages_per_sec": ...,
         "frontier_urls_per_sec": ..., "cpus": N}

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_CARDS (default 60000),
BENCH_FRONTIER_URLS (default 1000000), BENCH_REPEATS (default 3).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_CARDS = int(os.environ.get("BENCH_CARDS", "60000"))
BENCH_FRONTIER_URLS = int(os.environ.get("BENCH_FRONTIER_URLS", "1000000"))
BENCH_REPEATS = int(os.environ.get("BENCH_REPEATS", "3"))

QUERY_SLICE = (
    "seen_anti_join",
    "fanin_barrier",
    "windowed_counts",
    "sessionize_gaps",
    "doc_minhash_lsh_pairs",
    "doc_simhash_near_pairs",
    "emb_cosine_topk",
    "media_image_features",
    # round-3 iterative operators (multi-job: connected components / PR)
    "doc_dup_clusters",
    "event_type_pagerank",
    # round-3 flagship compositions (full clean pipeline; k-means semantic dedup)
    "corpus_clean_pipeline",
    "emb_semdedup",
    # round-3 web tier (codegen scan ops + pointer-doubling join rounds)
    "page_text_extract",
    "url_redirect_resolve",
    # round-3 additions: gram-explode fingerprinting, quantized ANN,
    # nested-regex structured extraction
    "doc_winnow_fingerprints",
    "emb_sq8_topk",
    "page_table_extract",
    # round-3 late additions: in-engine NB training+scoring (two token-
    # stream aggregates + broadcast model), int64-codegen sequence packing
    "doc_nb_domain",
    "corpus_context_pack",
    # round-4 late additions: PQ/ADC quantized ANN (per-subspace Lloyd +
    # broadcast distance table), LIKE-compiled RFC 9309 wildcard matching,
    # hash-bucketed mirror detection
    "emb_pq_topk",
    "robots_wildcard_match",
    "host_mirror_pairs",
    # round-4 closing additions: OPIC importance (one-shuffle cash rounds
    # + broadcast dangling scalar), HLL register sketch (integer-exact
    # harmonic sum — the whole token stream folds to 1024 longs/group)
    "link_opic_importance",
    "corpus_hll_distinct",
    # extended-session additions: bitext mining (hreflang resolve +
    # pair canonicalization + cosine scoring, 4 hash joins), snapshot
    # drift (two token aggregates + full-outer term join + scalar fold)
    "web_bitext_pairs",
    "corpus_snapshot_drift",
)


def _sf_from_dir(d: str) -> float:
    tail = Path(d).name
    try:
        return float(tail.replace("sf", ""))
    except ValueError:
        return -1.0


def _cpu_counters() -> tuple[int, int]:
    parts = open("/proc/stat").readline().split()[1:]
    vals = list(map(int, parts))
    return sum(vals), vals[3] + vals[4]  # total, idle+iowait


class CrawlBench:
    """One full CrawlJob run per call; corpus built once, outside timing."""

    def __init__(self, spark, n_cards: int = 0):
        from crawler_spark.sources.pages import (
            NUM_BASE, build_pages, synthetic_docs_from_range,
        )

        self.spark = spark
        self.num_base = NUM_BASE
        self.n_cards = n_cards or BENCH_CARDS
        docs = synthetic_docs_from_range(spark, self.n_cards)
        self.pages = build_pages(
            spark, SF_DIR, include_fixtures=False, docs_df=docs
        ).repartition(CPUS, "url").persist()
        self.n_pages = self.pages.count()  # materialize outside timing
        self.robots = spark.createDataFrame(
            [("pet911.ru", "/admin", 1), ("cdn.pet911.ru", "/admin", 1)],
            "host string, disallow_prefix string, crawl_delay_ms int",
        )

    def run(self) -> dict:
        from crawler_spark.plans.crawl_job import CrawlJob

        store_dir = tempfile.mkdtemp(prefix="bench_crawl_")
        try:
            job = CrawlJob(
                self.spark, store_dir, self.pages,
                wave_seconds=3600 * 1000,  # budget >> corpus: throughput mode
                robots_df=self.robots, use_bloom=True, salted=True,
            )
            a0, i0 = _cpu_counters()
            t0 = time.perf_counter()
            job.seed_range(self.num_base, self.num_base + self.n_cards - 1)
            stats = job.crawl(max_waves=4)
            dt = time.perf_counter() - t0
            a1, i1 = _cpu_counters()
            fetched = sum(s["fetched"] for s in stats)
            return {
                "seconds": round(dt, 3),
                "fetched": fetched,
                "waves": len(stats),
                "parsed_ok": sum(s["parsed_ok"] for s in stats),
                "cpu_busy_cores": round(
                    (1 - (i1 - i0) / max(a1 - a0, 1)) * os.cpu_count(), 1
                ),
            }
        finally:
            shutil.rmtree(store_dir, ignore_errors=True)

    def close(self) -> None:
        self.pages.unpersist()


class FrontierBench:
    """Frontier gen + seen anti-join + salted politeness select, N urls."""

    def __init__(self, spark):
        self.spark = spark
        self.n_ids = BENCH_FRONTIER_URLS // 2  # two urls (rf/rl) per id
        # hot-host list computed ONCE untimed, so the timed pipeline is
        # the selector's one frontier scan + one shuffle.  (CrawlJob
        # itself skips salting below CrawlJob.HOT_HOST_MIN_ROWS frontier
        # rows and computes the list inside each salted wave's plan.)
        from crawler_spark.operators.politeness import hot_host_list
        from crawler_spark.sources.frontier import frontier_from_range

        hot = hot_host_list(
            frontier_from_range(spark, 1, self.n_ids),
            hot_host_threshold=10_000,
        ).collect()
        self.hot_hosts = spark.createDataFrame(
            [(r["host"],) for r in hot], "host string"
        )
        self._pipeline(max(self.n_ids // 20, 1))  # untimed warmup: codegen

    def _pipeline(self, n: int) -> int:
        from pyspark.sql import functions as F

        from crawler_spark.operators.politeness import select_wave_salted
        from crawler_spark.operators.seen import filter_unseen
        from crawler_spark.sources.frontier import frontier_from_range

        frontier = frontier_from_range(self.spark, 1, n)
        # seen = every 3rd id, as a realistic warm-crawl anti-join
        seen = frontier.where(F.col("num") % 3 == 0).select("url_hash")
        pending = filter_unseen(frontier, seen)
        picked = select_wave_salted(
            pending, wave_seconds=3600, n_salts=16,
            hot_host_threshold=10_000, hot_hosts=self.hot_hosts,
        )
        return picked.where(F.col("selected")).count()

    def run(self) -> dict:
        a0, i0 = _cpu_counters()
        t0 = time.perf_counter()
        n_sel = self._pipeline(self.n_ids)
        dt = time.perf_counter() - t0
        a1, i1 = _cpu_counters()
        return {
            "seconds": round(dt, 3),
            "selected": n_sel,
            "cpu_busy_cores": round(
                (1 - (i1 - i0) / max(a1 - a0, 1)) * os.cpu_count(), 1
            ),
        }


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    from crawler_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("crawler-spark-bench", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # ---- interleaved heavy sections ------------------------------------
    crawl = CrawlBench(spark)
    frontier = FrontierBench(spark)
    # untimed warm-up crawl at 1/20 scale: pays the one-time Python-worker
    # spin-up / Arrow serializer / codegen cost outside the measured runs
    # (without it the first measured run was 2-3x the steady state)
    warm = CrawlBench(spark, n_cards=max(BENCH_CARDS // 20, 500))
    warm.run()
    warm.close()
    crawl_runs: list[dict] = []
    frontier_runs: list[dict] = []
    for _ in range(BENCH_REPEATS):
        crawl_runs.append(crawl.run())
        frontier_runs.append(frontier.run())
    crawl.close()

    crawl_secs = [r["seconds"] for r in crawl_runs]
    frontier_secs = [r["seconds"] for r in frontier_runs]
    timings["crawl_waves"] = round(statistics.median(crawl_secs), 3)
    timings["frontier_select"] = round(statistics.median(frontier_secs), 3)

    # ---- query slice ----------------------------------------------------
    qs = entrymod.queries()
    for name in QUERY_SLICE:
        fn = qs[name]
        # two untimed warmups: the iterative multi-job queries (connected
        # components, PageRank, k-means) JIT dozens of codegen classes and
        # only reach steady state on their third execution (measured
        # 19.9 -> 5.1 -> 5.0 s for doc_dup_clusters)
        fn(spark, SF_DIR).count()
        fn(spark, SF_DIR).count()
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)

    # ---- parse-kernel micro-bench (driver Python, no Spark) -------------
    # cards/sec of the P1-P15 kernel over the REAL reference fixture pages
    # (~57 KB each) — the per-core floor of crawl parsing.  The crawl
    # workload's synthetic pages are ~2 KB all-card-content, so the pruned
    # jump-scan kernel's gains on real page shapes only show here.
    import glob as _glob

    from crawler_spark.html.pet911 import parse_card as _parse_card

    _fixtures = [
        open(f, "rb").read().decode("utf-8", "replace")
        for f in sorted(
            _glob.glob("/root/reference/data/20240114/petCard_*.html.dump")
        )
    ]
    if _fixtures:
        for d in _fixtures:  # warm (regex caches, index paths)
            _parse_card(d)
        _kn = max(1, 400 // len(_fixtures))
        _t0 = time.perf_counter()
        for _ in range(_kn):
            for d in _fixtures:
                _parse_card(d)
        _kdt = time.perf_counter() - _t0
        timings["parse_kernel_fixtures"] = round(_kdt / _kn / len(_fixtures), 5)
        kernel_cards_per_sec = round(_kn * len(_fixtures) / _kdt, 1)
    else:
        kernel_cards_per_sec = None

    fetched = crawl_runs[0]["fetched"]
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "cpus": CPUS,
        "repeats": BENCH_REPEATS,
        "pages_in_corpus": crawl.n_pages,
        "pages_fetch_attempts": fetched,
        "pages_per_sec": round(fetched / statistics.median(crawl_secs), 1),
        "pages_per_sec_best": round(fetched / min(crawl_secs), 1),
        "waves": crawl_runs[0]["waves"],
        "parsed_ok": crawl_runs[0]["parsed_ok"],
        "frontier_urls": BENCH_FRONTIER_URLS,
        "frontier_selected": frontier_runs[0]["selected"],
        "frontier_urls_per_sec": round(
            BENCH_FRONTIER_URLS / statistics.median(frontier_secs), 1
        ),
        "frontier_urls_per_sec_best": round(
            BENCH_FRONTIER_URLS / min(frontier_secs), 1
        ),
        "parse_kernel_cards_per_sec": kernel_cards_per_sec,
        "runs": {
            "crawl_waves": crawl_runs,
            "frontier_select": frontier_runs,
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
