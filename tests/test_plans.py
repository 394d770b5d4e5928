"""Physical-plan audits: the optimizations we design for must actually be
in the executed plan — predicate pushdown to the parquet scan, column
pruning, broadcast joins on the fetch hot path, map-side partial
aggregation, and whole-stage codegen on the native pipelines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.where(F.col("doc_id") < 5).select("doc_id", "lang")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,5)]" in plan
    # column pruning: text/source/n_chars must NOT be read
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_fetch_downloaded_uses_broadcast_hash_join(spark, sf_dir):
    from crawler_spark.operators.fetch import fetch_downloaded
    from crawler_spark.sources.frontier import frontier_from_range
    from crawler_spark.sources.pages import build_pages, synthetic_docs_from_range

    docs = synthetic_docs_from_range(spark, 100)
    pages = build_pages(spark, sf_dir, include_fixtures=False, docs_df=docs)
    frontier = frontier_from_range(spark, 100_000, 100_050)
    plan = plan_of(fetch_downloaded(frontier, pages))
    assert "BroadcastHashJoin" in plan
    # the pages side must NOT be exchanged (payloads stay map-side): no
    # shuffle exchange between the pages scan and the join
    assert "Exchange hashpartitioning(url" not in plan


def test_fetch_downloaded_large_wave_switches_to_hash_join(spark, sf_dir):
    """Above the broadcast gate the wave must NOT be broadcast — the join
    falls back to a hash-partitioned shuffled-hash join (never a broadcast
    of a multi-GB wave, and never a sort of the payload rows)."""
    from crawler_spark.operators.fetch import fetch_downloaded
    from crawler_spark.sources.frontier import frontier_from_range
    from crawler_spark.sources.pages import build_pages, synthetic_docs_from_range

    docs = synthetic_docs_from_range(spark, 100)
    pages = build_pages(spark, sf_dir, include_fixtures=False, docs_df=docs)
    frontier = frontier_from_range(spark, 100_000, 100_050)
    plan = plan_of(fetch_downloaded(frontier, pages, wave_rows=10_000_000))
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_fetch_downloaded_paths_agree(spark, sf_dir):
    """e2e equality of the two join strategies on the same wave."""
    from crawler_spark.operators.fetch import fetch_downloaded
    from crawler_spark.sources.frontier import frontier_from_range
    from crawler_spark.sources.pages import build_pages, synthetic_docs_from_range

    docs = synthetic_docs_from_range(spark, 100)
    pages = build_pages(spark, sf_dir, include_fixtures=False, docs_df=docs)
    frontier = frontier_from_range(spark, 100_000, 100_050)
    small = fetch_downloaded(frontier, pages).select("id", "url").collect()
    large = fetch_downloaded(frontier, pages, wave_rows=10_000_000).select(
        "id", "url"
    ).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, large))
    assert len(small) > 0


def test_exact_dedup_has_partial_aggregation(spark, sf_dir):
    from crawler_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(exact_dedup(docs))
    # two HashAggregates (partial + final) around one exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "partial_min" in plan and "partial_count" in plan
    assert "EvalPython" not in plan        # fully native


def test_seen_anti_join_is_not_a_cartesian(spark, sf_dir):
    from crawler_spark.operators.seen import filter_unseen

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    plan = plan_of(filter_unseen(orders, li, key="o_orderkey"))
    assert "LeftAnti" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_minhash_pipeline_stays_in_codegen(spark, sf_dir):
    from crawler_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2          # partial mins map-side
    assert "partial_min" in plan                     # map-side combine


def test_ivf_plan_has_no_global_window(spark, sf_dir):
    """Every window in the IVF plan must be partitioned (per query_id) —
    a partition-less Window.orderBy funnels the corpus through one task."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["emb_ivf_topk"](spark, sf_dir)
    plan = plan_of(q)
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, "expected windows for the per-query top-k"
    for frag in specs:
        head = frag.split(",")[0]
        assert "query_id" in head, f"unpartitioned window found: {frag[:80]}"


def test_bucketed_pages_join_has_no_big_side_exchange(spark, sf_dir, tmp_path):
    """Storage-partitioned fetch join (the 10^10-url layout): with `pages`
    written bucketed by url_hash, the payload side must scan Bucketed with
    NO Exchange anywhere in the plan except the frontier side — and agree
    exactly with the broadcast path."""
    from crawler_spark.operators.fetch import fetch_downloaded
    from crawler_spark.sources.frontier import frontier_from_range
    from crawler_spark.sources.pages import (
        build_pages, synthetic_docs_from_range, write_pages_bucketed,
    )

    docs = synthetic_docs_from_range(spark, 100)
    pages = build_pages(spark, sf_dir, include_fixtures=False, docs_df=docs)
    bucketed = write_pages_bucketed(
        pages, str(tmp_path / "pages_bucketed"), "pages_bucketed_test",
        n_buckets=8,
    )
    frontier = frontier_from_range(spark, 100_000, 100_050)

    q = fetch_downloaded(frontier, bucketed)
    plan = plan_of(q)
    assert "Bucketed: true" in plan, plan[:1500]
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # exactly one exchange: the (politeness-bounded) frontier side; the
    # payload side's bucket layout satisfies the join distribution
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in plan

    base = fetch_downloaded(frontier, pages).select("id", "url").collect()
    buck = q.select("id", "url").collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, buck))
    assert len(base) > 0
    spark.sql("DROP TABLE IF EXISTS pages_bucketed_test")


def test_default_wave_selection_salts_hot_hosts(spark):
    """The default CrawlJob wave path must never rank a hot host's whole
    frontier in one task: select_wave_salted is the default selector, and
    on a frontier dominated by one hot host its plan windows on
    (host, __salt) — the skew-safe shape — not on host alone."""
    import inspect

    from crawler_spark.operators.politeness import select_wave_salted
    from crawler_spark.plans.crawl_job import CrawlJob
    from crawler_spark.sources.frontier import frontier_from_range

    # the constructor default routes waves through the salted selector
    assert inspect.signature(CrawlJob.__init__).parameters["salted"].default is True

    frontier = frontier_from_range(spark, 0, 5_000)  # one host, 10k urls
    picked = select_wave_salted(frontier, 3600, hot_host_threshold=1_000)
    plan = plan_of(picked)
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, "expected a window for the per-host rank"
    salted_specs = [s for s in specs if "__salt" in s.split("specifiedwindowframe")[0]]
    assert salted_specs, f"no (host, __salt) window in plan:\n{plan[:2000]}"
    # and the hot branch result still honors the budget semantics
    assert picked.where("selected").count() > 0


def test_doc_token_stats_prunes_text_dependencies_only(spark, sf_dir):
    """Aggregation query reads only the columns it needs from parquet."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["doc_token_stats"](spark, sf_dir)
    plan = plan_of(q)
    assert "doc_id" not in plan.split("ReadSchema:")[-1][:200]


def test_web_ops_stay_in_codegen_with_text_pruning(spark, sf_dir):
    """normalize_url / html_visible_text are pure codegen expressions: no
    Python eval anywhere, and the text extractor's scan reads only the two
    columns it needs."""
    from crawler_spark.operators.web import html_visible_text, normalize_url

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    extract = docs.select(
        "doc_id", html_visible_text(F.col("text")).alias("clean")
    )
    plan = plan_of(extract)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan

    urls = docs.select(
        normalize_url(F.concat(F.lit("http://H.io/p?b=2&a=1#f"),
                               F.col("doc_id").cast("string"))).alias("u")
    )
    plan2 = plan_of(urls)
    assert "BatchEvalPython" not in plan2 and "ArrowEvalPython" not in plan2


def test_incremental_dedup_signs_only_the_incoming_batch(spark, sf_dir):
    """minhash_lsh_incremental must not re-shingle the existing corpus: with
    the band table read from parquet, the plan contains exactly ONE
    partial_min aggregation chain (the incoming batch's signature job)."""
    import tempfile

    from crawler_spark.operators.dedup import (
        minhash_bands,
        minhash_lsh_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tempfile.TemporaryDirectory() as d:
        minhash_bands(docs).write.mode("overwrite").parquet(f"{d}/bands")
        stored = spark.read.parquet(f"{d}/bands")
        incoming = docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        plan = plan_of(minhash_lsh_incremental(incoming, stored))
        # one signature job: partial_min appears for the incoming side only
        assert "partial_min" in plan
        assert plan.count("Scan parquet") == 2  # docs (incoming) + stored bands
        # exactly one explode-of-shingles chain
        assert plan.count("Generate explode") <= 2  # shingles + band keys, once each


def test_circuit_breaker_enforcement_broadcasts_no_python(spark):
    from crawler_spark.operators.politeness import (
        apply_circuit_breaker,
        host_circuit_breaker,
    )

    log = spark.createDataFrame(
        [(f"h{i % 9}", i % 3 == 0) for i in range(200)],
        "host string, success boolean",
    )
    frontier = spark.createDataFrame(
        [(f"h{i % 9}", i) for i in range(500)], "host string, seq long"
    )
    plan = plan_of(apply_circuit_breaker(frontier, host_circuit_breaker(log)))
    assert "EvalPython" not in plan
    # the tripped-host set joins as a broadcast anti-join — the frontier
    # side never shuffles for enforcement
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the health rollup combines map-side
    assert "partial_count" in plan


def test_makespan_bound_chain_vs_slot_binding(spark):
    # 3 hosts: one 100-url slow host (chain 100s) vs 2 small ones; with
    # 32 slots the slot bound is (100+2+3)/32 ≈ 3.28s so the chain
    # binds; with 1 slot the slot bound (105s) binds instead
    from crawler_spark.operators.politeness import crawl_makespan_bound

    rows = ([("big",)] * 100) + ([("s1",)] * 4) + ([("s2",)] * 6)
    frontier = spark.createDataFrame(rows, "host string")
    delays = spark.createDataFrame(
        [("big", 1.0), ("s1", 0.5)], "host string, delay_s double")
    out = {r["host"]: r for r in
           crawl_makespan_bound(frontier, delays, n_slots=32).collect()}
    assert out["big"]["chain_s"] == 100.0 and out["big"]["is_critical"]
    assert out["s1"]["chain_s"] == 2.0      # declared 0.5s delay
    assert out["s2"]["chain_s"] == 6.0      # default 1.0s delay
    assert all(r["binding"] == "chain" and r["bound_s"] == 100.0
               for r in out.values())
    assert not out["s1"]["is_critical"] and not out["s2"]["is_critical"]

    one = crawl_makespan_bound(frontier, delays, n_slots=1).collect()[0]
    assert one["binding"] == "slots" and one["bound_s"] == 108.0


def test_bloom_fpr_calibration_boundary_regimes(spark):
    # saturated filter (m=8 bits, 20 keys): every bit set -> every
    # truly-new probe false-positives (measured 1.0); oversized filter
    # (m=2^20, 5 keys): zero false positives; in-key probes excluded
    from crawler_spark.operators.seen import bloom_fpr_calibration

    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(20)], "key string")
    probes = spark.createDataFrame(
        [(f"k{i}",) for i in range(15, 25)], "key string")  # 5 overlap
    sat = bloom_fpr_calibration(keys, probes, m_bits=8, k_hashes=3) \
        .collect()[0]
    assert sat["n_probes"] == 5            # overlap anti-joined away
    assert sat["n_bits_set"] <= 8
    assert sat["false_positives"] == 5 and sat["measured_fpr"] == 1.0

    big = bloom_fpr_calibration(keys, probes, m_bits=1 << 20,
                                k_hashes=3).collect()[0]
    assert big["false_positives"] == 0 and big["measured_fpr"] == 0.0
    assert big["theory_fpr"] < 0.001

    # duplicate probe/key rows must not distort the measurement: a
    # duplicated probe explodes 2k bit rows, which would fail the
    # count==k hit test and hide the false positive
    dup_probes = probes.unionByName(probes)
    dup = bloom_fpr_calibration(keys.unionByName(keys), dup_probes,
                                m_bits=8, k_hashes=3).collect()[0]
    assert dup["n_keys"] == 20 and dup["n_probes"] == 5
    assert dup["false_positives"] == 5 and dup["measured_fpr"] == 1.0


def test_politeness_conformance_violations_and_defaults(spark):
    # host A promised 10s: gaps 5 and 20 -> one violation, deficit 5;
    # host B undeclared (1s default): gap 1 ok; single-fetch host C;
    # duplicate delay declarations for A fold to one (min)
    from crawler_spark.operators.politeness import politeness_conformance

    log = spark.createDataFrame(
        [("A", "2024-01-01 00:00:00"), ("A", "2024-01-01 00:00:05"),
         ("A", "2024-01-01 00:00:25"),
         ("B", "2024-01-01 00:00:00"), ("B", "2024-01-01 00:00:01"),
         ("C", "2024-01-01 00:00:00")],
        "host string, ts string",
    ).select("host", F.to_timestamp("ts").alias("ts"))
    delays = spark.createDataFrame([("A", 10.0), ("A", 10.0)],
                                   "host string, delay_s double")
    out = {r["host"]: r for r in
           politeness_conformance(log, delays).collect()}
    a = out["A"]
    assert a["n_fetches"] == 3 and a["min_gap_s"] == 5.0
    assert a["n_violations"] == 1 and a["worst_deficit_s"] == 5.0
    assert not a["compliant"]
    b = out["B"]
    assert b["delay_s"] == 1.0 and b["n_violations"] == 0 and b["compliant"]
    c = out["C"]
    assert c["min_gap_s"] is None and c["compliant"]


def test_politeness_conformance_sees_subsecond_hammering(spark):
    # two fetches 600ms apart against a promised 1s delay MUST register
    # as a violation — second-floored audits are blind to exactly this
    from crawler_spark.operators.politeness import politeness_conformance

    log = spark.createDataFrame(
        [("H", "2024-01-01 00:00:00.200"),
         ("H", "2024-01-01 00:00:00.800")],
        "host string, ts string",
    ).select("host", F.to_timestamp("ts").alias("ts"))
    delays = spark.createDataFrame([("H", 1.0)],
                                   "host string, delay_s double")
    h = politeness_conformance(log, delays).collect()[0]
    assert h["n_fetches"] == 2 and h["min_gap_s"] == 0.6
    assert h["n_violations"] == 1 and not h["compliant"]
    assert h["worst_deficit_s"] == 0.4


def test_driver_rows_plan_as_local_relations(spark, tmp_path):
    """Frames made from driver rows are Arrow-backed LocalRelations — no
    PythonRDD scan (``LogicalRDD``) left in their optimized plans — and a
    wave path with nothing downloaded (a photo wave's card path) optimizes
    to an empty LocalRelation: no pages scan, no parse UDF."""
    from crawler_spark.functions.parse_udfs import with_parsed_card
    from crawler_spark.plans.crawl_job import FRONTIER_SCHEMA, CrawlJob
    from crawler_spark.plans.discovery import _fetch_pages
    from crawler_spark.sources.frontier import frontier_from_range
    from crawler_spark.sources.local import local_frame
    from crawler_spark.sources.pages import (
        CHECK_API_URL,
        NUM_BASE,
        build_pages,
        synthetic_checkapi_pages,
        synthetic_docs_from_range,
    )
    from crawler_spark.sources.store import SnapshotStore

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    docs = synthetic_docs_from_range(spark, 100)
    pages = build_pages(spark, "", include_fixtures=False, docs_df=docs)
    rows = local_frame(spark, [(0, "a"), (1, None)], "wave int, s string")
    frames = {
        "rows": rows,
        "no rows": local_frame(spark, [], "wave int, s string"),
        "never committed": SnapshotStore(str(tmp_path / "store")).read_or_empty(
            spark, "frontier", FRONTIER_SCHEMA),
        "probe": _fetch_pages(
            spark, synthetic_checkapi_pages(spark, "", docs),
            [CHECK_API_URL % str(NUM_BASE // 10)]),
    }
    for name, df in frames.items():
        plan = optimized(df)
        assert "LocalRelation" in plan, (name, plan)
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, (name, plan)
    assert rows.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in rows.collect()] == [(0, "a"), (1, None)]
    assert frames["probe"].where(F.col("fetch_status") == "downloaded").count() == 1

    job = CrawlJob(spark, str(tmp_path / "job"), pages, prewarm=False)
    batch = frontier_from_range(spark, NUM_BASE, NUM_BASE + 9)
    card_path = with_parsed_card(job._downloaded(batch, "card", 0, 20), "text")
    plan = optimized(card_path)
    assert plan.startswith("LocalRelation <empty>"), plan
    assert card_path.collect() == []
