"""SnapshotStore maintenance: compaction (rewrite_data_files analog) and
snapshot expiry (expire_snapshots analog) — the operational pieces a
one-snapshot-per-wave crawl needs to not accumulate files forever."""

from __future__ import annotations

from pathlib import Path

from crawler_spark.sources.store import SnapshotStore


def _commit_range(spark, store, table, lo, hi):
    df = spark.range(lo, hi).withColumnRenamed("id", "v")
    return store.commit(table, df, mode="append")


def test_compact_rewrites_to_one_dir_preserving_data_and_history(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    _commit_range(spark, store, "t", 0, 10)       # snap 0
    _commit_range(spark, store, "t", 10, 25)      # snap 1
    _commit_range(spark, store, "t", 25, 30)      # snap 2
    assert len(store.snapshots("t")[-1]["dirs"]) == 3

    before = sorted(r["v"] for r in store.read(spark, "t").collect())
    snap_id = store.compact(spark, "t", target_partitions=1)
    assert snap_id == 3
    latest = store.snapshots("t")[-1]
    assert latest["dirs"] == ["snap-3"]           # one dir after compaction
    assert latest["compaction_of"] == 2
    after = sorted(r["v"] for r in store.read(spark, "t").collect())
    assert after == before == list(range(30))
    # time-travel below the compaction still resolves (old dirs untouched)
    asof1 = sorted(r["v"] for r in store.read(spark, "t", as_of=1).collect())
    assert asof1 == list(range(25))
    # nothing left to compact
    assert store.compact(spark, "t") is None


def test_compact_on_empty_or_single_dir_is_noop(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    assert store.compact(spark, "empty") is None
    _commit_range(spark, store, "one", 0, 5)
    assert store.compact(spark, "one") is None


def test_expire_snapshots_gc_and_horizon(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    _commit_range(spark, store, "t", 0, 10)       # snap 0
    _commit_range(spark, store, "t", 10, 20)      # snap 1
    store.compact(spark, "t", target_partitions=1)  # snap 2 (dirs: snap-2)
    _commit_range(spark, store, "t", 20, 22)      # snap 3 (dirs: snap-2,3)

    res = store.expire_snapshots("t", keep_last=2)
    assert res == {"expired": 2, "deleted_dirs": 2}   # snap-0, snap-1 dirs GC'd
    assert not (Path(str(tmp_path)) / "t" / "snap-0").exists()
    assert not (Path(str(tmp_path)) / "t" / "snap-1").exists()
    # snap-2's dir survives: still referenced by the kept snapshot 3
    assert (Path(str(tmp_path)) / "t" / "snap-2").exists()

    # latest read unaffected; incremental reads above the horizon unaffected
    vals = sorted(r["v"] for r in store.read(spark, "t").collect())
    assert vals == list(range(22))
    assert store.data_dirs_between("t", after=2) == [
        str(Path(str(tmp_path)) / "t" / "snap-3")
    ]
    # time-travel below the horizon intentionally stops resolving
    assert store.read(spark, "t", as_of=1) is None
    # idempotent at the same horizon
    assert store.expire_snapshots("t", keep_last=2) == {
        "expired": 0, "deleted_dirs": 0,
    }


def test_expire_never_touches_latest(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    _commit_range(spark, store, "t", 0, 4)
    res = store.expire_snapshots("t", keep_last=1)
    assert res == {"expired": 0, "deleted_dirs": 0}
    assert sorted(r["v"] for r in store.read(spark, "t").collect()) == [0, 1, 2, 3]


def test_snapshot_diff_added_removed_changed(spark, tmp_path):
    from pyspark.sql import functions as F

    from crawler_spark.sources.store import snapshot_diff

    store = SnapshotStore(str(tmp_path))
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    store.commit("t", v1, mode="overwrite")                       # snap 0
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], "k long, s string, v long"
    )
    store.commit("t", v2, mode="overwrite")                       # snap 1

    out = {r["k"]: r["change"]
           for r in snapshot_diff(spark, store, "t", 0, 1, ["k"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}        # 1 unchanged

    # restricting compare_cols hides the s-change
    out_v = {r["k"]: r["change"]
             for r in snapshot_diff(spark, store, "t", 0, 1, ["k"],
                                    compare_cols=["v"]).collect()}
    assert out_v == {3: "removed", 4: "added"}

    # append snapshots diff too (file-level sees one new dir; row-level
    # sees exactly the appended keys)
    store.commit("t", spark.createDataFrame([(9, "z", 90)],
                 "k long, s string, v long"), mode="append")      # snap 2
    out2 = {r["k"]: r["change"]
            for r in snapshot_diff(spark, store, "t", 1, 2, ["k"]).collect()}
    assert out2 == {9: "added"}


def test_snapshot_diff_expired_raises(spark, tmp_path):
    import pytest as _pytest

    from crawler_spark.sources.store import snapshot_diff

    store = SnapshotStore(str(tmp_path))
    for lo in (0, 5, 10):
        store.commit("t", spark.range(lo, lo + 5).withColumnRenamed("id", "k"))
    store.expire_snapshots("t", keep_last=1)
    with _pytest.raises(ValueError):
        snapshot_diff(spark, store, "t", 0, 2, ["k"])


def test_snapshot_summary_row_counts(spark, tmp_path):
    """Iceberg-style snapshot summaries: rows/total_rows from parquet
    footers, correct across append / overwrite / compaction / expiry, 0 for
    a never-committed table, and None (never a wrong number) for manifest
    lines that predate the summary fields."""
    store = SnapshotStore(str(tmp_path))
    assert store.total_rows("t") == 0             # never committed
    _commit_range(spark, store, "t", 0, 10)       # snap 0: +10
    assert store.snapshots("t")[-1]["rows"] == 10
    assert store.total_rows("t") == 10
    _commit_range(spark, store, "t", 10, 25)      # snap 1: +15
    assert store.total_rows("t") == 25
    assert store.total_rows("t", as_of=0) == 10   # time-travel count
    store.commit("t", spark.range(0, 3).withColumnRenamed("id", "v"),
                 mode="overwrite")                # snap 2: =3
    assert store.total_rows("t") == 3
    _commit_range(spark, store, "t", 3, 7)        # snap 3: 3+4
    assert store.total_rows("t") == 7
    store.compact(spark, "t")                     # snap 4 (overwrite)
    assert store.total_rows("t") == 7
    store.expire_snapshots("t", keep_last=1)
    assert store.total_rows("t") == 7
    # legacy line without summaries → None, and an append on top of it
    # propagates the unknown instead of inventing a number
    snaps = store.snapshots("t")
    del snaps[-1]["rows"], snaps[-1]["total_rows"]
    store._write_manifest("t", snaps)
    assert store.total_rows("t") is None
    _commit_range(spark, store, "t", 7, 9)
    assert store.snapshots("t")[-1]["rows"] == 2
    assert store.total_rows("t") is None


def test_read_with_schema_surfaces_added_column_as_null(spark, tmp_path):
    """A table whose older snapshot dirs predate a column (wave_metrics
    before parse_fallbacks) reads under its declared schema on every read:
    the old rows carry NULL, the new rows their value."""
    store = SnapshotStore(str(tmp_path))
    store.commit("wave_metrics", spark.createDataFrame(
        [(0, 10)], "wave int, fetched long"))
    store.commit("wave_metrics", spark.createDataFrame(
        [(1, 20, 3)], "wave int, fetched long, parse_fallbacks long"))
    schema = "wave int, fetched long, parse_fallbacks long"
    for _ in range(3):
        rows = sorted(
            tuple(r) for r in
            store.read_or_empty(spark, "wave_metrics", schema).collect()
        )
        assert rows == [(0, 10, None), (1, 20, 3)]
