"""Wave-based crawl scheduler (D4/D5 + K1-K6) with snapshot checkpoint/resume.

The reference's actor pipeline (card agent → downloader → photo fan-in,
SURVEY §3.1) is re-expressed as deterministic fetch-wave micro-batches:

wave k:
  1. pending frontier  ←  snapshot k-1          (frontier table, overwrite)
  2. drop seen and known-missing (C1-C3): exact anti-joins; once |seen|
     reaches ``PREFILTER_MIN_SEEN`` (and ``use_bloom``), one Bloom filter
     is built from the seen snapshot and probed in front of the seen join
  3. politeness token-bucket selects ≤budget urls/host (F3); rest deferred
  4. fetch = left join vs `pages` (F1/J3)
  5. cards:  downloaded → parse UDF (P15) → `cards` append;
             photo fan-out (J1) enqueued for wave k+1
     photos: downloaded → image validation (P18) → `card_photos` append
     absent  → `missing` append  (MissingResourceTracker semantics)
  6. `seen` append (url_hash of everything successfully stored — absent
     lives in `missing`, transport errors stay out so retries can re-fetch),
     `crawl_log` append (wave, seq, id, status, error) — crawl-order evidence
  7. new frontier snapshot = deferred ∪ fan-out ∪ in-budget retries

Every table is a SnapshotStore (Iceberg-contract) table; killing the job
between waves and resuming from the latest snapshots reproduces the exact
same remaining execution (tested in tests/test_resume.py).

Determinism contract (SURVEY §4.2): crawl order = (wave, seq) where seq is
the reference's enumeration order — rf before rl, n ascending (Utils.fs:20-23),
photos in card array order scaled into the parent's seq slot.  The final
URL-seen set = seen ∪ missing = the reference's {card dirs} ∪ {missing lines}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.parse_udfs import with_parsed_card
from ..functions.url import url_hash, url_host
from ..operators.fetch import fetch_downloaded, fetch_wave, within_retry_budget
from ..operators.photos import fanin_photos, fanout_photos, validate_image
from ..operators.politeness import (
    apply_robots,
    min_host_budget,
    robots_rules,
    select_wave,
    select_wave_salted,
)
from ..operators.seen import (
    ShardedBloom,
    build_bloom_into,
    filter_not_missing,
    filter_unseen,
    filter_unseen_with_bloom,
)
from ..sources.frontier import frontier_from_range
from ..sources.local import local_frame
from ..sources.store import SnapshotStore

FRONTIER_SCHEMA = (
    "seq long, id string, url string, num long, kind string, url_hash long, "
    "host string, resource_type string, attempt int"
)
SEEN_SCHEMA = "url_hash long, id string, wave int"
MISSING_SCHEMA = "id string, wave int"
LOG_SCHEMA = "wave int, seq long, id string, resource_type string, status string, error string"
WAVE_METRICS_SCHEMA = (
    "wave int, fetched long, downloaded long, absent long, parsed_ok long, "
    "deferred long, enqueued_photos long, parse_fallbacks long, "
    "step_seconds_json string"
)

# photos occupy seq slots right after their parent card:
# photo_seq' = parent_seq * PHOTO_SEQ_SLOT + photo_index + 1 (≤64 photos/card)
PHOTO_SEQ_SLOT = 64


class CrawlJob:
    # seen-filter cost gate: while |seen| (manifest row count) is below
    # this, the exact anti-join is cheaper than a prefilter pass over the
    # frontier (measured: at sandbox scale the anti-join won every round),
    # so no filter exists at all — no fold, no blob
    PREFILTER_MIN_SEEN = 2_000_000
    # hot-host salting gate: a host is hot at this many frontier rows.  The
    # pending frontier's manifest row count bounds every host's count, so
    # below it no host can be hot and the exact selector runs — no hot-list
    # job; at or above it the salted selector finds the hot hosts inside
    # the wave's own plan
    HOT_HOST_MIN_ROWS = 100_000

    def __init__(self, spark: SparkSession, store_dir: str, pages_df: DataFrame,
                 wave_seconds: int = 3600, robots_df: DataFrame | None = None,
                 use_bloom: bool = False, salted: bool = True,
                 prewarm: bool = True,
                 faults_df: DataFrame | None = None):
        self.spark = spark
        self.store = SnapshotStore(store_dir)
        # a pages_df carrying url_hash (sources.pages.write_pages_bucketed)
        # takes the storage-partitioned payload join (operators/fetch)
        self.pages = pages_df
        self.wave_seconds = wave_seconds
        # the robots table never changes during a job: collected once here,
        # every wave applies it as row-local expressions (no join)
        self.robots = None if robots_df is None else robots_rules(robots_df)
        self.use_bloom = use_bloom
        self.salted = salted
        # F2 fault/retry surface: faults_df (url, fail_attempts) injects
        # transport errors; retries follow the reference's fib budget
        # (operators/fetch, Downloader.fs:134-137)
        self.faults = faults_df
        # wave pipelining state: one shared driver pool; per-table commit
        # chains (a table's next commit waits on its previous one, so
        # snapshot ids can never race); the deferred-finalize queue
        self._pool_obj = None
        self._last_commit: dict = {}
        self._pending: list = []
        # incremental seen-filter state (use_bloom, gate open): the merged
        # filter and the seen snapshot id it covers, persisted as ONE blob
        # under seen_bloom/ so a resumed job reloads it instead of
        # rescanning the seen table
        self._bloom: ShardedBloom | None = None
        self._bloom_snap = -1
        self._bloom_dir = self.store.root / "seen_bloom"
        if prewarm:
            self._prewarm_python_workers()

    def _prewarm_python_workers(self) -> None:
        """Spawn + warm one Python worker per core (imports, Arrow streams)
        BEFORE the first wave — otherwise worker startup serializes into the
        first parse stage and distorts its latency (measured: tens of
        seconds at 32 cores)."""
        n = self.spark.sparkContext.defaultParallelism
        probe = self.spark.range(0, n * 4, 1, n).select(
            F.lit("<html><body></body></html>").alias("text")
        )
        with_parsed_card(probe, "text").select("card.error").count()

    # ------------------------------------------------------------------ state
    def _read(self, table: str, schema: str) -> DataFrame:
        return self.store.read_or_empty(self.spark, table, schema)

    # ------------------------------------------------------------------ bloom
    def _prefilter_gate_open(self, n_seen: int | None) -> bool:
        """The seen filter exists only behind this gate; a None count
        (pre-summary manifest) keeps the exact path."""
        return (self.use_bloom and n_seen is not None
                and n_seen >= self.PREFILTER_MIN_SEEN)

    def _bloom_sync(self) -> ShardedBloom:
        """Bring the in-memory merged seen-bloom up to the latest seen
        snapshot WITHOUT rescanning the seen table.

        Fast path: the filter already covers the latest snapshot — zero
        I/O.  Resume path: load the persisted blob, then top up from ONLY
        the snapshot data dirs committed after it (each commit writes
        exactly one new dir).  Full build, distributed over the current
        seen snapshot and sized at twice |seen|: when the gate first opens,
        when the blob is missing or not a ShardedBloom blob (e.g. a cuckoo
        blob of an older store), and when ``n_items`` has outgrown the size
        the filter was built for.
        """
        latest = self.store.latest_snapshot_id("seen")
        if self._bloom is None:
            self._load_bloom(latest)
        if self._bloom is not None and self._bloom.n_items > self._bloom.capacity():
            self._bloom = None
        if self._bloom is None:
            seen = self.store.read(self.spark, "seen").select("url_hash")
            n_seen = self.store.total_rows("seen")
            if n_seen is None:
                n_seen = seen.count()
            self._bloom = ShardedBloom.sized(2 * n_seen)
            self._filter_add(seen)
        elif self._bloom_snap < latest:
            dirs = self.store.data_dirs_between("seen", self._bloom_snap, latest)
            if dirs:
                self._filter_add(self.spark.read.parquet(*dirs).select("url_hash"))
        else:
            return self._bloom
        self._bloom_snap = latest
        self._persist_bloom()
        return self._bloom

    def _load_bloom(self, latest: int) -> None:
        """Load the newest persisted blob covering at most ``latest``; a
        blob of any other format is ignored (the caller rebuilds, and the
        rebuilt blob's persist removes it)."""
        best = None
        for p in self._bloom_dir.glob("merged-*.bin"):
            try:
                sid = int(p.stem.split("-")[1])
            except ValueError:
                continue
            if sid <= latest and (best is None or sid > best[0]):
                best = (sid, p)
        if best is None:
            return
        try:
            self._bloom = ShardedBloom.from_bytes(best[1].read_bytes())
        except ValueError:
            return
        self._bloom_snap = best[0]

    # a wave's keys below this come to the driver as one Arrow batch and
    # fold in-process (milliseconds); above it, the distributed mapInPandas
    # partial build runs.  Round 2 ran the 32-task partial job for EVERY
    # wave — ~10 s of fixed cost per wave that a politeness-bounded wave
    # (tens of thousands of keys) never needed.
    DRIVER_FOLD_MAX_ROWS = 2_000_000

    def _filter_add(self, keys_df: DataFrame, n_rows: int | None = None) -> None:
        """Fold a key DataFrame into the in-memory filter: a small, known
        wave as one driver-side Arrow fetch + vectorized ``add_many``; an
        unknown or huge input (full build) as distributed mapInPandas
        partials, OR-merged (bytes move, not rows)."""
        if n_rows is not None and n_rows <= self.DRIVER_FOLD_MAX_ROWS:
            import numpy as _np

            keys = keys_df.toPandas()["url_hash"].to_numpy(_np.int64)
            self._bloom.add_many(keys)
        else:
            partial = build_bloom_into(keys_df, self._bloom.empty_like())
            self._bloom.bits |= partial.bits
            self._bloom.n_items += partial.n_items

    def _persist_bloom(self) -> None:
        """Write the filter as the store's one blob (atomic, like the
        manifest), then remove every older blob."""
        import os

        self._bloom_dir.mkdir(parents=True, exist_ok=True)
        path = self._bloom_dir / f"merged-{self._bloom_snap}.bin"
        tmp = path.with_suffix(".bin.tmp")
        tmp.write_bytes(self._bloom.to_bytes())
        os.replace(tmp, path)
        for p in self._bloom_dir.glob("merged-*.bin"):
            if p != path:
                p.unlink()

    # ------------------------------------------------------ wave pipelining
    @property
    def _pool(self):
        """Shared driver thread pool for wave-tail jobs.  16 workers is
        deadlock-safe by construction: pipeline depth is capped at 2 waves
        (see run_wave head), each wave submits ≤9 tasks, and a wave's
        tasks only ever wait on the PREVIOUS wave's — which were submitted
        first, so FIFO worker assignment means they already hold workers
        and can always make progress (they depend only on a fully-drained
        wave)."""
        if self._pool_obj is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool_obj = ThreadPoolExecutor(
                max_workers=16, thread_name_prefix="crawl-tail"
            )
        return self._pool_obj

    def _submit_chained(self, label: str, steps: dict, table: str, fn):
        """Submit ``fn`` chained on ``table``'s previous commit — concurrent
        across TABLES, serialized per table, so two pipelined waves can
        never race a snapshot id.  ``prev`` is captured HERE, on the driver
        thread, so chain order is submission order even though the bodies
        run on pool threads."""
        import time as _time

        prev = self._last_commit.get(table)

        def run():
            if prev is not None:
                prev.result()
            ts = _time.perf_counter()
            out = fn()
            steps[label] = round(_time.perf_counter() - ts, 3)
            return out

        fut = self._pool.submit(run)
        self._last_commit[table] = fut
        return fut

    def _submit_commit(self, label: str, steps: dict, table: str,
                       df: DataFrame, mode: str = "append"):
        return self._submit_chained(
            label, steps, table,
            lambda: self.store.commit(table, df, mode=mode),
        )

    def _await_tables(self, *tables: str) -> None:
        """Barrier on the commit chains the NEXT wave's plan reads."""
        for t in tables:
            f = self._last_commit.get(t)
            if f is not None:
                f.result()

    def _drain_pending(self) -> None:
        pending, self._pending = self._pending, []
        for fin in pending:
            fin.result()

    def next_wave_number(self) -> int:
        latest = self.store.latest_snapshot_id("frontier")
        return 0 if latest is None else latest + 1

    def pending_frontier(self) -> DataFrame:
        return self._read("frontier", FRONTIER_SCHEMA)

    # ------------------------------------------------------------------ seeds
    def seed_range(self, first: int, last: int) -> None:
        """Range mode seed (D5, Program.fs:47-62)."""
        self.seed_frontier(frontier_from_range(self.spark, first, last))

    def seed_frontier(self, frontier_df: DataFrame) -> None:
        assert self.store.latest_snapshot_id("frontier") is None, "already seeded"
        self.store.commit("frontier", frontier_df, mode="overwrite")

    def enqueue_frontier(self, frontier_df: DataFrame) -> None:
        """Union new descriptors into the pending frontier (newcards mode:
        each poll cycle enqueues freshly discovered ids, Program.fs:97-98).
        A pending frontier the manifest proves empty (never committed, or
        drained — every poll after a finished crawl) is not read at all."""
        merged = frontier_df
        if self.store.total_rows("frontier") != 0:
            merged = self.pending_frontier().unionByName(frontier_df)
        self.store.commit("frontier", merged.dropDuplicates(["id"]),
                          mode="overwrite")

    # ------------------------------------------------------------------ waves
    def _downloaded(self, batch: DataFrame, resource_type: str,
                    n_downloaded: int, n_rows: int) -> DataFrame:
        """Payload rows of the wave's downloaded ``resource_type`` urls.
        With none downloaded the batch is cut by ``where(false)``, so the
        optimizer plans this path and the parse or validation above it as
        ``LocalTableScan <empty>``: no pages scan, no Python, no task."""
        rows = batch.where(F.col("resource_type") == resource_type)
        if not n_downloaded:
            rows = rows.where(F.lit(False))
        # wave size gates the join strategy: broadcast small waves,
        # hash-partitioned join for waves too big to broadcast
        return fetch_downloaded(rows, self.pages, wave_rows=n_rows,
                                faults_df=self.faults)

    def run_wave(self, drain: bool = True) -> dict:
        """Execute one fetch wave; commits one snapshot per state table.
        Returns wave stats (also appended to crawl_log), including a
        ``step_seconds`` breakdown — the per-wave lineage/metrics surface.

        ``drain=False`` pipelines waves the way a real crawler overlaps
        fetch with store: the wave returns as soon as its tail jobs are
        SUBMITTED, and the next wave's frontier/politeness/fetch pipeline
        runs while this wave's cards/log/metrics commits finish.  The next
        wave's head barriers only on the commit chains its plan actually
        reads (frontier, seen, missing); per-table commit chaining keeps
        snapshot ids race-free; the returned stats dict is completed in
        place when :meth:`crawl` drains.  Pipeline depth is capped at 2."""
        import time as _time

        steps: dict[str, float] = {}

        def _mark(label: str, t0: float) -> float:
            now = _time.perf_counter()
            steps[label] = round(now - t0, 3)
            return now

        t0 = _time.perf_counter()
        # pipeline-depth cap (deadlock-safe pool sizing, see _pool) + the
        # head barrier: everything this wave's PLAN reads must be committed
        while len(self._pending) > 1:
            self._pending.pop(0).result()
        self._await_tables("frontier", "seen", "missing")
        t0 = _mark("await_prev_wave", t0)
        wave = self.next_wave_number()
        # snapshot-summary row counts (Iceberg planner stats): the drained
        # check is a manifest lookup, not a scan job; a None (pre-summary
        # manifest) falls back to the scan-side isEmpty
        n_frontier = self.store.total_rows("frontier")
        if n_frontier == 0:
            return {"wave": wave, "fetched": 0, "done": True}
        frontier = self.pending_frontier()
        if n_frontier is None and frontier.isEmpty():
            return {"wave": wave, "fetched": 0, "done": True}
        t0 = _mark("read_frontier", t0)

        # C1-C3: negative cache first (reference checks missing before local
        # presence, CrawlerPet911.fs:79-92), then the positive seen set.
        # Both anti-joins are ELIDED when the manifest row counts prove the
        # build side empty — the stats-based join elision a real catalog
        # (Iceberg total-records) gives its planner.  In a fully-resolving
        # corpus the missing table stays at 0 rows forever, so this deletes
        # a shuffle barrier from every wave, not just wave 0.
        if self.store.total_rows("missing") != 0:
            missing = self._read("missing", MISSING_SCHEMA)
            frontier = filter_not_missing(frontier, missing)
        wave_persisted: list = []  # prefilter caches to release at wave end
        n_seen = self.store.total_rows("seen")
        if n_seen == 0:
            pass  # wave 0 (or nothing stored yet): no seen filter at all
        elif self._prefilter_gate_open(n_seen):
            # incremental filter: covers all committed seen snapshots without
            # rescanning the seen table (per-wave folds; the exact anti-join
            # backstop on the maybe band guarantees correctness)
            frontier = filter_unseen_with_bloom(
                frontier, self._read("seen", SEEN_SCHEMA), self._bloom_sync(),
                persisted_out=wave_persisted,
            )
        else:
            frontier = filter_unseen(
                frontier, self._read("seen", SEEN_SCHEMA)
            )

        if self.robots is not None:
            frontier = apply_robots(frontier, self.robots)

        t0 = _mark("seen_missing_filters", t0)

        # F3: politeness token bucket.  Hot-host salting only once the
        # frontier can hold a hot host (a None count: older manifest); it
        # rounds a hot host's budget per salt, so it is never elided.
        # Below that, the pending count bounds every host's rows: a frontier
        # that fits the smallest per-host budget is selected whole — no
        # window, no shuffle, crawl order kept within partitions
        if self.salted and (n_frontier is None
                            or n_frontier >= self.HOT_HOST_MIN_ROWS):
            picked = select_wave_salted(
                frontier, self.wave_seconds, self.robots,
                hot_host_threshold=self.HOT_HOST_MIN_ROWS,
            )
        elif (n_frontier is not None and n_frontier
                <= min_host_budget(self.robots, self.wave_seconds)):
            picked = frontier.withColumn(
                "selected", F.lit(True)
            ).sortWithinPartitions("host", "seq")
        else:
            picked = select_wave(frontier, self.wave_seconds, self.robots)
        picked.cache()
        batch = picked.where(F.col("selected")).drop("selected")
        deferred = picked.where(~F.col("selected")).drop("selected")

        t0 = _mark("politeness_select", t0)

        # F1/J3: fetch.  The page payloads (html/text, kilobytes per row) are
        # each consumed exactly ONCE — text by the card parser, html by the
        # image validator — so only the slim status columns are cached; the
        # payload-bearing join is streamed straight into its single consumer
        # instead of being materialized.  At 100 TB caching payloads would be
        # the memory bottleneck; this shape never holds a page after use.
        fetched = fetch_wave(
            batch, self.pages, payload=False, faults_df=self.faults
        ).cache()
        # materialize the slim cache + wave counts in ONE job, so the heavy
        # payload paths below can be skipped entirely when their input is
        # empty (a pages scan per skipped path saved — e.g. photo-only waves)
        frow = fetched.agg(
            F.count(F.lit(1)).alias("fetched"),
            F.sum(F.when(F.col("fetch_status") == "downloaded", 1).otherwise(0)).alias("downloaded"),
            F.sum(F.when(F.col("fetch_status") == "absent", 1).otherwise(0)).alias("absent"),
            F.sum(
                F.when(
                    (F.col("resource_type") == "card")
                    & (F.col("fetch_status") == "downloaded"), 1
                ).otherwise(0)
            ).alias("cards_downloaded"),
            F.sum(
                F.when(
                    (F.col("resource_type") == "photo")
                    & (F.col("fetch_status") == "downloaded"), 1
                ).otherwise(0)
            ).alias("photos_downloaded"),
            F.sum(
                F.when(F.col("resource_type") == "card", 1).otherwise(0)
            ).alias("cards_total"),
            F.sum(
                F.when(F.col("resource_type") == "photo", 1).otherwise(0)
            ).alias("photos_total"),
        ).collect()[0]
        n_cards_dl = int(frow["cards_downloaded"] or 0)
        n_photos_dl = int(frow["photos_downloaded"] or 0)
        n_cards_wave = int(frow["cards_total"] or 0)
        n_photos_wave = int(frow["photos_total"] or 0)
        t0 = _mark("fetch_plan", t0)

        # ---- cards ----------------------------------------------------------
        parsed = (
            with_parsed_card(
                self._downloaded(batch, "card", n_cards_dl, n_cards_wave),
                "text",
            )
            .select(
                "seq",
                # parsed card id (byte-identical extraction) when the parse
                # succeeded, else the frontier id so error rows stay addressable
                F.coalesce(F.col("card.id"), F.col("id")).alias("id"),
                "url", "num", "kind",
                # K1 .mime sidecar of the stored card (FileCollector.fs:36-40)
                "mime",
                *[F.col(f"card.{c}").alias(c) for c in
                  ("animal", "sex", "type", "address", "latitude", "longitude",
                   "date", "description", "author", "photos", "error")],
                # engine telemetry (dropped before the cards commit;
                # aggregated into wave_metrics.parse_fallbacks)
                "parse_fallback",
            )
        )
        if n_cards_dl:
            # an empty card path is a LocalRelation: nothing to cache
            parsed = parsed.cache()
        good_cards = parsed.where(F.col("error").isNull())
        # the wave's stats ride the commits that scan these frames anyway
        # (observed metrics, no job of their own): parsed_ok and the
        # parse-fallback sum on the cards commit, deferred and
        # enqueued_photos on the next-frontier commit
        cards_obs, deferred_obs, photos_obs = (
            Observation(), Observation(), Observation()
        )
        cards = parsed.observe(
            cards_obs,
            F.count(F.when(F.col("error").isNull(), 1)).alias("parsed_ok"),
            F.sum(F.col("parse_fallback").cast("long")).alias("parse_fallbacks"),
        ).drop("url", "parse_fallback")

        # J1: photo fan-out → next wave's frontier rows.  seq/num/kind ride
        # through the explode (card ids are unique), so the fan-out is a
        # narrow generate — no join-back shuffle on the wave's critical path.
        photo_frontier = (
            fanout_photos(
                good_cards.select(F.col("id"), "photos", "error",
                                  "seq", "num", "kind"),
                carry=("seq", "num", "kind"),
            )
            .select(
                (F.col("seq") * PHOTO_SEQ_SLOT + F.col("photo_seq") + 1).alias("seq"),
                F.col("photo_id").alias("id"),
                "url",
                "num",
                "kind",
                url_hash(F.col("url")).alias("url_hash"),
                url_host(F.col("url")).alias("host"),
                F.lit("photo").alias("resource_type"),
                F.lit(0).alias("attempt"),
            )
        )

        # ---- photos ---------------------------------------------------------
        from ..operators.photos import mime_to_ext

        photo_results = validate_image(
            self._downloaded(batch, "photo", n_photos_dl, n_photos_wave)
        ).select(
            F.split(F.col("id"), "/")[0].alias("card_id"),
            F.col("seq"),
            F.col("id").alias("photo_id"),
            F.col("url"),
            F.col("image_ok"),
            # K1/K2 mime sidecar (FileCollector.fs:36-40, captured at
            # Downloader.fs:114) + extension mapping (Images.fs:26-34)
            F.col("mime"),
            mime_to_ext(F.col("mime")).alias("ext"),
            F.when(~F.col("image_ok"), F.lit("Resource is not a valid image")).alias("error"),
        )

        absent = fetched.where(F.col("fetch_status") == "absent")

        # EVERY remaining wave action — the seven table commits and the
        # bloom fold — is submitted concurrently from driver threads (the
        # wave's stats are observed on those commits, see cards_obs).  The
        # round-4 stage profiler (BENCH.md §16.2) measured the wave's fixed
        # cost as ~10 s of SEQUENTIAL thin-job latency (each ≤0.2 s of task
        # time behind 0.4-1.3 s of submit/barrier overhead); concurrent
        # submission collapses that sum to the slowest member.  Sharing the `parsed`/`picked`/`fetched`
        # caches across concurrent jobs is safe AND work-free: Spark's
        # BlockManager takes a per-block write lock in getOrElseUpdate, so a
        # second job needing a partition another job is already computing
        # blocks until it lands, then reads it — partitions are computed
        # exactly once no matter how many jobs race.

        # seen = successfully STORED resources ({dirs created} in the
        # reference) — absent goes to `missing`, transport errors stay out
        # entirely so the retry path can re-fetch them next wave
        seen_rows = fetched.where(
            F.col("fetch_status") == "downloaded"
        ).select(F.col("url_hash"), F.col("id"), F.lit(wave).alias("wave"))
        # per-host lineage metrics (K6 / north-rule "per-partition lineage
        # and fetch/parse metrics"): where each wave's fetches went, keyed by
        # the host the politeness layer shards on — committed concurrently
        # with the four state tables (one cheap agg over the slim cache)
        host_metrics = fetched.groupBy("host").agg(
            F.count(F.lit(1)).alias("fetched"),
            F.sum(F.when(F.col("fetch_status") == "downloaded", 1).otherwise(0)).alias("downloaded"),
            F.sum(F.when(F.col("fetch_status") == "absent", 1).otherwise(0)).alias("absent"),
            F.sum(F.when(F.col("fetch_status") == "error", 1).otherwise(0)).alias("errors"),
        ).select(F.lit(wave).alias("wave"), "host", "fetched", "downloaded",
                 "absent", "errors")
        # ---- crawl log plan (K5/K6, ordering evidence) — lazy until commit
        log = fetched.select(
            F.lit(wave).alias("wave"),
            "seq",
            "id",
            "resource_type",
            F.col("fetch_status").alias("status"),
            F.when(
                (F.col("resource_type") == "card") & (F.col("fetch_status") == "absent"),
                F.lit("Absent"),
            ).alias("error"),
        ).unionByName(
            parsed.where(F.col("error").isNotNull()).select(
                F.lit(wave).alias("wave"),
                "seq",
                "id",
                F.lit("card").alias("resource_type"),
                F.lit("parse_error").alias("status"),
                "error",
            )
        )

        # ---- next frontier plan ---------------------------------------------
        # F2: transport errors (impossible against the deterministic corpus,
        # kept for the live-fetch variant) re-enter within the fib budget
        frontier_cols = [c.split(" ")[0] for c in FRONTIER_SCHEMA.split(", ")]
        retries = (
            fetched.where(F.col("fetch_status") == "error")
            .where(within_retry_budget(F.col("attempt")))
            .withColumn("attempt", F.col("attempt") + 1)
            .select(*frontier_cols)
        )
        next_frontier = (
            deferred.observe(deferred_obs, F.count(F.lit(1)).alias("n"))
            .unionByName(
                photo_frontier.observe(photos_obs, F.count(F.lit(1)).alias("n"))
            )
            .unionByName(retries)
        )

        def _seen_then_bloom():
            # seen = successfully STORED resources; once the gate has opened
            # (a filter exists) the bloom fold chains onto the commit inside
            # the same thread (it needs the snapshot id) — this wave's keys
            # only, and small waves fold driver-side in milliseconds.
            snap = self.store.commit("seen", seen_rows)
            if self._bloom is not None:
                self._filter_add(
                    seen_rows.select("url_hash"),
                    n_rows=int(frow["downloaded"] or 0),
                )
                self._bloom_snap = snap
                self._persist_bloom()
            return snap

        fut = {
            "cards": self._submit_commit("tail.cards", steps, "cards", cards),
            "card_photos": self._submit_commit(
                "tail.card_photos", steps, "card_photos", photo_results),
            "missing": self._submit_commit(
                "tail.missing", steps, "missing",
                absent.select("id", F.lit(wave).alias("wave"))),
            "seen": self._submit_chained(
                "tail.seen_bloom", steps, "seen", _seen_then_bloom),
            "host_metrics": self._submit_commit(
                "tail.host_metrics", steps, "host_metrics", host_metrics),
            "crawl_log": self._submit_commit(
                "tail.crawl_log", steps, "crawl_log", log),
            "frontier": self._submit_commit(
                "tail.next_frontier", steps, "frontier", next_frontier,
                mode="overwrite"),
        }
        t_tail = _time.perf_counter()

        # stats returned NOW (head numbers are final; tail numbers are
        # filled in place by the finalize task) — callers that need the
        # complete dict drain first (run_wave default / crawl end)
        stats = {
            "wave": wave,
            "fetched": frow["fetched"],
            "downloaded": int(frow["downloaded"] or 0),
            "absent": int(frow["absent"] or 0),
            "parsed_ok": None,
            "deferred": None,
            "enqueued_photos": None,
            "done": False,
            "step_seconds": steps,
        }

        def _finalize():
            # barrier on THIS wave's tail, complete the stats in place,
            # persist the wave metrics row (the K6 trace surface, queryable
            # like any other table), then release the wave's caches.  Every
            # commit resolves BEFORE an observation is read: a failed commit
            # raises here instead of blocking Observation.get forever
            for f in fut.values():
                f.result()
            steps["parallel_tail"] = round(_time.perf_counter() - t_tail, 3)
            card_row = cards_obs.get
            stats["parsed_ok"] = int(card_row["parsed_ok"])
            stats["deferred"] = int(deferred_obs.get["n"])
            stats["enqueued_photos"] = int(photos_obs.get["n"])
            import json as _json

            return local_frame(
                self.spark,
                [(
                    wave, int(stats["fetched"]), stats["downloaded"],
                    stats["absent"], stats["parsed_ok"],
                    stats["deferred"], stats["enqueued_photos"],
                    int(card_row["parse_fallbacks"] or 0),
                    _json.dumps(steps),
                )],
                WAVE_METRICS_SCHEMA,
            )

        def _release():
            picked.unpersist()
            fetched.unpersist()
            parsed.unpersist()
            for df in wave_persisted:
                df.unpersist()
            return stats

        # wave_metrics rides the same per-table chain as every other commit
        # (submission order = wave order, so snapshot ids stay monotone);
        # the metrics fn itself barriers on this wave's tail futures first.
        # Its own duration goes to a scratch dict — the metrics row can't
        # contain the timing of the commit that writes it.
        metrics_fut = self._submit_chained(
            "tail.wave_metrics", {}, "wave_metrics",
            lambda: self.store.commit("wave_metrics", _finalize()),
        )
        fin = self._pool.submit(
            lambda: (metrics_fut.result(), _release())[1]
        )
        self._pending.append(fin)
        if drain:
            self._drain_pending()
        return stats

    def crawl(self, max_waves: int | None = None) -> list[dict]:
        """Run waves until the frontier drains (D5 batch mode).  Waves are
        PIPELINED: wave w+1's frontier/politeness/fetch head overlaps wave
        w's cards/log/metrics tail (drain=False), the way a real crawler
        overlaps fetch with store; the final drain completes every stats
        dict in place before returning."""
        stats = []
        try:
            while max_waves is None or len(stats) < max_waves:
                s = self.run_wave(drain=False)
                if s.get("done"):
                    break
                stats.append(s)
        finally:
            self._drain_pending()
        return stats

    # ------------------------------------------------------------ maintenance
    def maintain(self, keep_last: int = 1) -> dict:
        """Between-session store maintenance: compact every table's current
        snapshot to one dir, then expire history to ``keep_last`` snapshots
        (Iceberg's routine rewrite_data_files + expire_snapshots pass).  A
        crawl commits one snapshot per wave per table, so without this the
        scan-side file count grows linearly with crawl age.

        Ordering is load-bearing for the incremental seen-filter: expiry
        drops manifest lines, and a filter blob older than the expiry
        horizon could no longer see those lines' data dirs to top up from —
        bloom false negatives, i.e. re-crawling seen urls.  So compacting
        ``seen`` DROPS the filter and its blob before history expires; the
        next gate-open wave rebuilds it from the compacted snapshot (one
        single-dir scan, accurate ``n_items``).  Resume always reads
        latest, which is never expired.

        Returns {table: {"compacted_to": id|None, "expired": n,
        "deleted_dirs": n}}.
        """
        out = {}
        for table in self.store.tables():
            snap = self.store.compact(self.spark, table)
            if table == "seen" and snap is not None:
                import shutil

                self._bloom = None
                shutil.rmtree(self._bloom_dir, ignore_errors=True)
            out[table] = {
                "compacted_to": snap,
                **self.store.expire_snapshots(table, keep_last=keep_last),
            }
        return out

    # ------------------------------------------------------------------ reads
    def cards(self) -> DataFrame:
        return self._read(
            "cards",
            "seq long, id string, num long, kind string, mime string, "
            "animal int, sex int, "
            "type int, address string, latitude double, longitude double, "
            "date timestamp, description string, "
            "author struct<name:string,phone:string,email:string>, "
            "photos array<struct<ID:string,url:string>>, error string",
        )

    def card_photos(self) -> DataFrame:
        return self._read(
            "card_photos",
            "card_id string, seq long, photo_id string, url string, "
            "image_ok boolean, mime string, ext string, error string",
        )

    def seen_set(self) -> DataFrame:
        return self._read("seen", SEEN_SCHEMA)

    def missing_set(self) -> DataFrame:
        return self._read("missing", MISSING_SCHEMA)

    def crawl_log(self) -> DataFrame:
        return self._read("crawl_log", LOG_SCHEMA)

    def wave_metrics(self) -> DataFrame:
        return self._read("wave_metrics", WAVE_METRICS_SCHEMA)

    def host_metrics(self) -> DataFrame:
        return self._read(
            "host_metrics",
            "wave int, host string, fetched long, downloaded long, "
            "absent long, errors long",
        )

    def revalidate_cards(self) -> dict:
        """C4 cache self-heal (Crawler.fs:71-84): cards whose stored parse
        failed re-enter the frontier and are dropped from the seen set so
        the next wave re-fetches and re-parses them.

        The reference re-parses each local copy on every access and
        re-downloads on failure; batch-side that is one revalidation sweep:
        ``error IS NOT NULL`` rows (the stored parse verdict) are exactly
        the local copies that would fail re-processing.  Seen-set removal is
        a metadata-only overwrite commit (Iceberg DELETE equivalent).

        Cards commits are append-only, so a successful re-parse ADDS an
        error-IS-NULL row next to the old error row — such cards are healed
        and must not re-enter the frontier (otherwise every sweep would
        re-fetch them forever).  Bad = has an error row AND no good row.
        """
        from ..sources.frontier import frontier_from_ids

        cards = self.cards()
        bad = (
            cards
            .where(F.col("error").isNotNull())
            .select("id")
            .distinct()
            .join(
                cards.where(F.col("error").isNull()).select("id").distinct(),
                "id",
                "left_anti",
            )
        )
        n_bad = bad.count()
        if not n_bad:
            return {"revalidated": 0}
        refetch = frontier_from_ids(bad)
        healed_seen = self.seen_set().join(
            refetch.select("url_hash"), "url_hash", "left_anti"
        )
        # bring the seen-filter up to date BEFORE the overwrite: it then
        # covers a superset of the healed table without ever re-reading it
        # (the healed keys stay in it as stale false positives, which the
        # exact anti-join backstop re-admits)
        if self._prefilter_gate_open(self.store.total_rows("seen")):
            self._bloom_sync()
        snap = self.store.commit("seen", healed_seen, mode="overwrite")
        if self._bloom is not None:
            self._bloom_snap = snap
            self._persist_bloom()
        self.enqueue_frontier(refetch)
        return {"revalidated": n_bad}

    def finalize(self) -> DataFrame:
        """Cards joined with their photo fan-in barrier (J2)."""
        results = self.card_photos().select(
            "card_id",
            F.col("seq").alias("photo_seq"),
            "photo_id",
            F.col("image_ok").alias("photo_ok"),
            "error",
        )
        fanin = fanin_photos(results)
        from ..operators.photos import cards_with_photo_status

        return cards_with_photo_status(self.cards().where(F.col("error").isNull()), fanin)
