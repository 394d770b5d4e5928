"""Tests for graph operators (operators/graph.py): weighted PageRank and
transition-edge derivation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.graph import pagerank, transition_edges


def test_pagerank_symmetric_two_cycle(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert out == {"a": 0.5, "b": 0.5}    # symmetry is a fixpoint


def test_pagerank_dangling_sink(spark):
    # a->b only: a keeps teleport mass, b = teleport + d * teleport after
    # round 2 (a's rank is constant 0.075 from round 1 on)
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert out["a"] == pytest.approx(0.075, abs=1e-6)
    assert out["b"] == pytest.approx(0.075 + 0.85 * 0.075, abs=1e-6)


def test_pagerank_weights_split_proportionally(spark):
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], "src string, dst string, w double"
    )
    out = {r["node"]: r["rank"]
           for r in pagerank(edges, weight="w", iters=1).collect()}
    third = 1.0 / 3.0
    assert out["b"] == pytest.approx(0.05 + 0.85 * third * 0.75, abs=1e-6)
    assert out["c"] == pytest.approx(0.05 + 0.85 * third * 0.25, abs=1e-6)


def test_transition_edges_orders_and_counts(spark):
    events = spark.createDataFrame(
        [(0, 1, 10, "x"), (1, 1, 20, "y"), (2, 1, 30, "x"),
         (3, 2, 10, "x"), (4, 2, 20, "y")],
        "event_id long, user_id long, ts long, event_type string",
    )
    out = {(r["src"], r["dst"]): r["w"]
           for r in transition_edges(events).collect()}
    # user1: x->y, y->x; user2: x->y  — no cross-user edge
    assert out == {("x", "y"): 2.0, ("y", "x"): 1.0}


# ---------------------------------------------------- redirect resolve

def test_resolve_redirects_chains_and_branches(spark):
    from crawler_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),   # 3-hop chain -> d
         ("x", "d"),                            # 1 hop
         ("p", "q")],                           # 1 hop
        "src string, dst string",
    )
    out = {r["src"]: r["final_dst"] for r in resolve_redirects(edges).collect()}
    assert out == {"a": "d", "b": "d", "c": "d", "x": "d", "p": "q"}


def test_resolve_redirects_cycle_is_bounded_and_deterministic(spark):
    from crawler_spark.operators.graph import resolve_redirects

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    out1 = {r["src"]: r["final_dst"] for r in resolve_redirects(edges, max_hops=8).collect()}
    out2 = {r["src"]: r["final_dst"] for r in resolve_redirects(edges, max_hops=8).collect()}
    assert out1 == out2                       # deterministic
    assert set(out1) == {"a", "b"}            # budget exhausted, no hang
    assert set(out1.values()) <= {"a", "b"}   # lands inside the cycle


def test_resolve_redirects_round_count_is_logarithmic(spark):
    """A 7-hop chain resolves with 3 join rounds (2^3 = 8 >= 7)."""
    from crawler_spark.operators.graph import resolve_redirects

    chain = [(f"n{i}", f"n{i+1}") for i in range(7)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    out = {r["src"]: r["final_dst"] for r in resolve_redirects(edges, max_hops=8).collect()}
    assert all(v == "n7" for v in out.values())


# ---------------------------------------------------- recrawl schedule

def test_recrawl_schedule_rates_and_clamps(spark):
    from crawler_spark.operators.graph import recrawl_schedule

    rows = [
        # key 1: 3 obs, 2h apart -> interval 7200s
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 02:00:00"),
        (1, "2024-01-01 04:00:00"),
        # key 2: single obs -> base interval
        (2, "2024-01-10 00:00:00"),
        # key 3: 2 obs 1 minute apart -> clamped up to min_interval
        (3, "2024-01-05 00:00:00"), (3, "2024-01-05 00:01:00"),
        # key 4: 2 obs 90 days apart -> clamped down to max_interval
        (4, "2024-01-01 00:00:00"), (4, "2024-03-31 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "k long, ts string").select(
        "k", F.to_timestamp("ts").alias("ts")
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {
        r["key"]: r
        for r in recrawl_schedule(
            df, "k", "ts", now_ts="2024-02-01 00:00:00",
            base_interval_s=86400, min_interval_s=3600,
            max_interval_s=30 * 86400,
        ).collect()
    }
    assert out[1]["interval_s"] == 7200
    assert out[1]["next_due_epoch"] == out[1]["last_ts_epoch"] + 7200
    assert out[1]["overdue"]                      # Jan 1 + 2h << Feb 1
    assert out[2]["interval_s"] == 86400          # single obs -> base
    assert out[3]["interval_s"] == 3600           # clamped up
    assert out[4]["interval_s"] == 30 * 86400     # clamped down
    assert not out[4]["overdue"]                  # Mar 31 obs is after 'now'


def test_hits_star_graph_hand_computed(spark):
    from crawler_spark.operators.graph import hits

    # hub h points at authorities a1, a2; plus a back-edge a1->h.
    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("a1", "h")], "src string, dst string"
    )
    out = {r["node"]: r for r in hits(edges, iters=1).collect()}
    # round 1: auth_raw = {a1:1/3, a2:1/3, h:1/3} -> L1 = 1/3 each;
    # hub_raw = {h: 1/3+1/3, a1: 1/3} -> L1: h=2/3, a1=1/3
    assert out["h"]["hub"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["a1"]["hub"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["a2"]["hub"] == 0.0
    for n in ("h", "a1", "a2"):
        assert out[n]["authority"] == pytest.approx(1 / 3, abs=1e-6)


def test_hits_weighted_and_l1_invariant(spark):
    from crawler_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("d", "b", 4.0)],
        "src string, dst string, w double",
    )
    rows = hits(edges, weight="w", iters=3).collect()
    hub_sum = sum(r["hub"] for r in rows)
    auth_sum = sum(r["authority"] for r in rows)
    assert hub_sum == pytest.approx(1.0, abs=1e-5)
    assert auth_sum == pytest.approx(1.0, abs=1e-5)
    out = {r["node"]: r for r in rows}
    # b receives 3/4 of a's push plus all of d's: strictly dominant authority
    assert out["b"]["authority"] > out["c"]["authority"]
    assert out["c"]["hub"] == 0.0 and out["b"]["hub"] == 0.0


def test_hits_plan_no_global_window_no_python(spark):
    from crawler_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(f"s{i % 7}", f"d{i % 11}") for i in range(100)],
        "src string, dst string",
    )
    df = hits(edges, iters=1)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    ) if False else df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Window" not in plan  # normalization is a broadcast scalar, not a window


def test_degree_stats_reciprocity(spark):
    from crawler_spark.operators.graph import degree_stats

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # reciprocal pair
            ("a", "c"), ("a", "c"),          # duplicate edge deduped
            ("a", "a"),                      # self-loop dropped
            ("c", "d"),
        ],
        "src string, dst string",
    )
    out = {r["node"]: r for r in degree_stats(edges).collect()}
    assert out["a"]["out_deg"] == 2 and out["a"]["n_reciprocal"] == 1
    assert out["a"]["reciprocity"] == 0.5
    assert out["b"]["out_deg"] == 1 and out["b"]["reciprocity"] == 1.0
    assert out["c"]["out_deg"] == 1 and out["c"]["in_deg"] == 1
    assert out["c"]["n_reciprocal"] == 0
    assert "d" not in out                    # no out-edges -> not emitted


def test_opic_symmetric_two_cycle(spark):
    from crawler_spark.operators.graph import opic_importance

    edges = spark.createDataFrame([("a", "b"), ("b", "a")],
                                  "src string, dst string")
    out = {r["node"]: r["importance"]
           for r in opic_importance(edges, iters=4).collect()}
    assert out == {"a": 0.5, "b": 0.5}        # symmetry is a fixpoint


def test_opic_mass_conserved_and_hand_computed(spark):
    from crawler_spark.operators.graph import opic_importance

    # a -> b -> c, c dangling: c's cash redistributes uniformly.
    # Hand-run of the synchronous recurrence, cash0 = 1/3 each:
    #   r1: cash a=1/9, b=1/3+1/9, c=1/3+1/9; hist = cash0
    #   importance R=1: (hist+cash)/2 -> a=(1/3+1/9)/2, b=c=(1/3+4/9)/2
    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "src string, dst string")
    out = {r["node"]: r["importance"]
           for r in opic_importance(edges, iters=1).collect()}
    assert out["a"] == pytest.approx((1 / 3 + 1 / 9) / 2, abs=1e-6)
    assert out["b"] == pytest.approx((1 / 3 + 4 / 9) / 2, abs=1e-6)
    assert out["c"] == pytest.approx(out["b"], abs=1e-6)
    # total importance is exactly 1 at any round count
    for it in (1, 3):
        vals = [r["importance"]
                for r in opic_importance(edges, iters=it).collect()]
        assert sum(vals) == pytest.approx(1.0, abs=5e-6)


def test_opic_hub_outranks_leaf(spark):
    from crawler_spark.operators.graph import opic_importance

    # star into h: h accumulates every leaf's cash each round.
    # Odd iteration count: cash oscillates h<->l1 on this 2-cycle, and at
    # even R the (hist+cash) totals tie exactly -- the hand-run shows
    # h pulls ahead only on odd R.
    edges = spark.createDataFrame(
        [("l1", "h"), ("l2", "h"), ("l3", "h"), ("h", "l1")],
        "src string, dst string")
    out = {r["node"]: r["importance"]
           for r in opic_importance(edges, iters=5).collect()}
    assert out["h"] > out["l2"]
    assert out["h"] > out["l1"]


def test_trustrank_single_seed_hand_computed(spark):
    from crawler_spark.operators.graph import trustrank

    # a -> b, seed {a}, one round:
    #   rank0 = t = (a:1, b:0)
    #   rank1(a) = 0.15*1 + 0.85*0 = 0.15; rank1(b) = 0.15*0 + 0.85*1
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r["node"]: r["trust"]
           for r in trustrank(edges, seeds, iters=1).collect()}
    assert out["a"] == pytest.approx(1.0 - 0.85, abs=1e-6)
    assert out["b"] == pytest.approx(0.85, abs=1e-6)


def test_trustrank_starves_spam_neighborhood(spark):
    from crawler_spark.operators.graph import trustrank

    # spam farm l1..l3 -> spam has maximal in-degree but is unreachable
    # from the seed component (s <-> good): trust must stay exactly 0.
    edges = spark.createDataFrame(
        [("l1", "spam"), ("l2", "spam"), ("l3", "spam"),
         ("s", "good"), ("good", "s")],
        "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {r["node"]: r["trust"]
           for r in trustrank(edges, seeds, iters=5).collect()}
    assert out["spam"] == 0.0
    assert out["good"] > 0.0 and out["s"] > 0.0
    assert out["good"] > out["spam"]


def test_trustrank_isolated_seed_still_scored(spark):
    from crawler_spark.operators.graph import trustrank

    # seed z absent from the edge set: unioned into the node set, keeps
    # its teleport share; everything else gets nothing.
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("z",)], "node string")
    out = {r["node"]: r["trust"]
           for r in trustrank(edges, seeds, iters=3).collect()}
    assert out["z"] == pytest.approx(0.15, abs=1e-6)
    assert out["a"] == 0.0 and out["b"] == 0.0


def test_label_propagation_bridge_does_not_merge(spark):
    from crawler_spark.operators.graph import label_propagation

    # two 5-cliques joined by ONE bridge edge: LPA keeps two communities
    # (connected components would merge them).  Cliques must be dense
    # enough that the intra-community majority beats the deterministic
    # min tie-break pulling across the bridge -- all-tie votes on tiny
    # communities (e.g. triangles) CAN be invaded, by design.
    def clique(p):
        return [(f"{p}{i}", f"{p}{j}")
                for i in range(5) for j in range(i + 1, 5)]

    edges = spark.createDataFrame(
        clique("a") + clique("b") + [("a0", "b0")],
        "src string, dst string")
    out = {r["node"]: r["community"]
           for r in label_propagation(edges, iters=3).collect()}
    a = {out[f"a{i}"] for i in range(5)}
    b = {out[f"b{i}"] for i in range(5)}
    assert len(a) == 1 and len(b) == 1
    assert a != b


def test_label_propagation_min_tie_break_deterministic(spark):
    from crawler_spark.operators.graph import label_propagation

    # single edge: each node's only neighbor label is the other's id;
    # round 1 swaps, round 2 swaps back... with min-tie-break on a
    # 2-cycle both see one neighbor -> adopt the neighbor's label; after
    # the even round both hold their own, after odd both hold... just
    # assert determinism across two runs and a valid member label
    edges = spark.createDataFrame([("x", "y")], "src string, dst string")
    r1 = sorted(label_propagation(edges, iters=3).collect())
    r2 = sorted(label_propagation(edges, iters=3).collect())
    assert r1 == r2
    assert all(r["community"] in ("x", "y") for r in r1)


def test_label_propagation_clique_converges_to_min(spark):
    from crawler_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{j}") for i in range(5) for j in range(i + 1, 5)],
        "src string, dst string")
    out = {r["node"]: r["community"]
           for r in label_propagation(edges, iters=3).collect()}
    assert set(out.values()) == {"n0"}


def test_change_rate_estimator_hand_computed(spark):
    # url A: 5 visits 100s apart, digests change on every revisit ->
    # c=n=4, lambda = -ln(0.5/4.5)/100; url B: never changes -> c=0,
    # lambda = -ln(4.5/4.5)=0 -> interval clamps to max; url C: one
    # visit -> NULL rate, max interval
    import math

    from crawler_spark.operators.graph import estimate_change_rates

    rows = []
    for i in range(5):
        rows.append(("A", f"2024-01-01 00:{i:02d}:40", str(i)))
        rows.append(("B", f"2024-01-01 00:{i:02d}:40", "same"))
    rows.append(("C", "2024-01-01 00:00:00", "x"))
    visits = spark.createDataFrame(
        rows, "url string, ts string, digest string"
    ).select("url", F.to_timestamp("ts").alias("ts"), "digest")
    out = {r["key"]: r for r in estimate_change_rates(
        visits, min_interval_s=60, max_interval_s=86400).collect()}
    lam_a = -math.log(0.5 / 4.5) / 60.0  # 60s mean interval
    assert out["A"]["n_changes"] == 4 and out["A"]["n_intervals"] == 4
    assert out["A"]["rate_per_day"] == round(lam_a * 86400, 6)
    assert out["A"]["interval_s"] == round(
        max(min(1 / lam_a, 86400.0), 60.0), 3)
    assert out["B"]["n_changes"] == 0
    # -ln((4-0+.5)/4.5) = 0 exactly -> 1/0 = inf -> clamps to max
    assert out["B"]["rate_per_day"] == 0.0
    assert out["B"]["interval_s"] == 86400.0
    assert out["C"]["n_visits"] == 1
    assert out["C"]["rate_per_day"] is None
    assert out["C"]["interval_s"] == 86400.0


def test_hyperball_path_graph_properties(spark):
    # a->b->c: forward balls grow 1 per hop; the sink's ball never grows.
    # With m=64 and <=3 items per ball, the corrected estimator tracks
    # true cardinality to within a few percent, so the qualitative
    # ordering is exact.
    from crawler_spark.operators.graph import hyperball_harmonic

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string")
    out = {r["node"]: r for r in
           hyperball_harmonic(edges, rounds=3, p=6).collect()}
    assert set(out) == {"a", "b", "c"}
    for r in out.values():  # balls are nondecreasing in the radius
        assert r["ball0"] <= r["ball1"] <= r["ball2"] <= r["ball3"]
    assert out["c"]["harmonic"] == 0.0          # sink: ball never grows
    assert out["a"]["harmonic"] > out["b"]["harmonic"] > 0.0
    assert abs(out["a"]["ball2"] - 3.0) < 0.2   # {a,b,c}
    assert abs(out["b"]["ball3"] - 2.0) < 0.15  # {b,c}, saturated
    assert out["a"]["ball2"] == out["a"]["ball3"]  # converged


def test_hyperball_estimates_merge_exactly_like_sets(spark):
    # register max-merge == sketch of the union: a node pointing at two
    # disjoint subtrees ends with the same ball estimate as a node
    # pointing at one subtree with the union's members
    from crawler_spark.operators.graph import hyperball_harmonic

    e1 = spark.createDataFrame(
        [("r", "x"), ("r", "y")], "src string, dst string")
    e2 = spark.createDataFrame(
        [("r", "x"), ("x", "y")], "src string, dst string")
    b1 = {r["node"]: r["ball2"]
          for r in hyperball_harmonic(e1, rounds=2, p=6).collect()}
    b2 = {r["node"]: r["ball2"]
          for r in hyperball_harmonic(e2, rounds=2, p=6).collect()}
    assert b1["r"] == b2["r"]  # both balls are exactly {r, x, y}


def test_effective_diameter_path_vs_clique(spark):
    # complete bidirectional triangle: everything reached at r=1 -> the
    # 0.9 target falls inside the first radius; 4-node directed path:
    # coverage keeps growing through r=3, so the diameter lands deeper
    from crawler_spark.operators.graph import hyperball_effective_diameter

    tri = spark.createDataFrame(
        [(a, b) for a in "abc" for b in "abc" if a != b],
        "src string, dst string")
    d_tri = hyperball_effective_diameter(tri, rounds=3, p=6).collect()[0]
    assert 0.0 < d_tri["eff_diameter"] <= 1.0
    assert d_tri["n_pairs_r1"] == d_tri["n_pairs_r3"]  # saturated at r=1

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    d_path = hyperball_effective_diameter(path, rounds=3, p=6).collect()[0]
    assert d_path["eff_diameter"] > d_tri["eff_diameter"]
    assert d_path["n_pairs_r0"] < d_path["n_pairs_r1"] \
        < d_path["n_pairs_r2"] < d_path["n_pairs_r3"]


def test_triangle_counts_known_graphs(spark):
    # K4: every node has 3 triangles, clustering 1.0; star S4: zero
    # triangles, hub clustering 0.0; directed duplicates and both
    # orientations collapse to one undirected edge
    from crawler_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a != b]  # both dirs
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(k4, "src string, dst string")).collect()}
    assert all(r["degree"] == 3 and r["triangles"] == 3
               and r["clustering"] == 1.0 for r in out.values())

    star = [("hub", x) for x in ("s1", "s2", "s3", "s4")]
    out = {r["node"]: r for r in triangle_counts(
        spark.createDataFrame(star, "src string, dst string")).collect()}
    assert out["hub"]["triangles"] == 0 and out["hub"]["clustering"] == 0.0
    assert out["s1"]["degree"] == 1 and out["s1"]["clustering"] == 0.0


def test_triangle_counts_triangle_plus_tail(spark):
    # a-b-c triangle with a pendant d on a: T(a)=T(b)=T(c)=1;
    # clustering(a) = 2*1/(3*2) = 1/3, b and c = 1.0, d = 0
    from crawler_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")],
        "src string, dst string")
    out = {r["node"]: r for r in triangle_counts(edges).collect()}
    assert out["a"]["triangles"] == 1 and out["a"]["clustering"] == round(1 / 3, 6)
    assert out["b"]["clustering"] == 1.0 and out["c"]["clustering"] == 1.0
    assert out["d"]["triangles"] == 0 and out["d"]["degree"] == 1


def test_assortativity_star_vs_cycle(spark):
    # star: hub(deg 4) pairs only with leaves(deg 1) -> strongly
    # disassortative (r = -1 for a pure star); cycle: all degrees equal
    # -> denominator 0 -> NULL (undefined correlation)
    from crawler_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [("hub", f"s{i}") for i in range(4)], "src string, dst string")
    r = degree_assortativity(star).collect()[0]
    assert r["m_edges"] == 4 and r["assortativity"] == -1.0

    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string")
    r = degree_assortativity(cycle).collect()[0]
    assert r["assortativity"] is None  # regular graph: undefined


def test_wcc_summary_counts_components(spark):
    # two triangles + an isolated edge: 3 components, giant size 3
    from crawler_spark.operators.graph import wcc_summary

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)],
        "src long, dst long")
    r = wcc_summary(edges).collect()[0]
    assert r["n_nodes"] == 8 and r["n_components"] == 3
    assert r["giant_size"] == 3 and r["giant_frac"] == 0.375


def test_kcore_peels_pendant_chains_transitively(spark):
    # triangle a-b-c with chain e-d-a: e peels round 1 (deg 1), d only
    # AFTER e is gone (round 2) — the multi-round case; triangle stays
    from crawler_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("e", "d")],
        "src string, dst string")
    out = {r["node"]: r["core_degree"]
           for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}

    # rounds beyond convergence are no-ops (idempotence the oracle
    # unroll relies on)
    out8 = {r["node"]: r["core_degree"]
            for r in kcore_peel(edges, k=2, rounds=8).collect()}
    assert out8 == out


def test_change_rate_null_digest_counts_as_change(spark):
    # ADVICE r4: with plain `!=` a NULL digest made the lag comparison
    # NULL, which F.sum silently skipped — under-counting n_changes.
    # eqNullSafe semantics: 'a' -> NULL -> 'a' is TWO changes; the
    # all-NULL url never "changes"; fully non-null behavior unchanged.
    from crawler_spark.operators.graph import estimate_change_rates

    rows = [
        ("A", "2024-01-01 00:00:00", "a"),
        ("A", "2024-01-01 00:01:00", None),   # a -> NULL: change
        ("A", "2024-01-01 00:02:00", "a"),    # NULL -> a: change
        ("B", "2024-01-01 00:00:00", None),
        ("B", "2024-01-01 00:01:00", None),   # NULL -> NULL: no change
    ]
    visits = spark.createDataFrame(
        rows, "url string, ts string, digest string"
    ).select("url", F.to_timestamp("ts").alias("ts"), "digest")
    out = {r["key"]: r for r in estimate_change_rates(visits).collect()}
    assert out["A"]["n_changes"] == 2 and out["A"]["n_intervals"] == 2
    assert out["B"]["n_changes"] == 0 and out["B"]["n_intervals"] == 1


def test_change_rate_oracle_counts_null_digests_like_spark(spark):
    """The crawl_change_rates DuckDB oracle compares digests NULL-safe,
    like estimate_change_rates: NULL -> value and value -> NULL are
    changes, NULL -> NULL is not, and both engines agree on n_changes."""
    import duckdb

    import __spark_entry__ as entry
    from crawler_spark.operators.graph import estimate_change_rates

    rows = [
        ("A", 0, None), ("A", 60, "a"),   # NULL -> value
        ("B", 0, "b"), ("B", 60, None),   # value -> NULL
        ("C", 0, None), ("C", 60, None),  # NULL -> NULL
    ]
    visits = spark.createDataFrame(
        rows, "url string, sec long, digest string"
    ).select("url", F.timestamp_seconds("sec").alias("ts"), "digest")
    spark_changes = {
        r["key"]: r["n_changes"]
        for r in estimate_change_rates(visits).collect()
    }

    # the oracle's own change/aggregate CTEs over the fixture visits
    oracle = entry.oracle_sql()["crawl_change_rates"]
    values = ", ".join(
        f"('{k}', {t}::bigint, {'NULL' if d is None else repr(d)}::varchar)"
        for k, t, d in rows
    )
    sql = (f"WITH v AS (SELECT * FROM (VALUES {values}) f(key, t, dg)), "
           + oracle[oracle.index("ch AS ("):])
    duck_changes = dict(
        duckdb.sql(f"SELECT key, n_changes FROM ({sql})").fetchall()
    )
    assert spark_changes == duck_changes == {"A": 1, "B": 1, "C": 0}
