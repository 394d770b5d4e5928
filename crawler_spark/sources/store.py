"""Snapshot-committed table store — the Iceberg contract on plain parquet.

The sandbox has no Iceberg runtime jar (no network to fetch one), so this
shim implements the part of the contract the engine needs — atomic snapshot
commits, time-travel reads, exact resume (north_rule: "checkpoints frontier +
seen-set state to Iceberg snapshots for exact resume").  On a real cluster
every call site swaps 1:1 for an Iceberg catalog table:

=================  ==========================================
here               Iceberg
=================  ==========================================
commit(append)     df.writeTo(t).append()
commit(overwrite)  df.writeTo(t).overwritePartitions()
read(as_of=n)      spark.read.option('snapshot-id', n).table(t)
manifest json      Iceberg metadata/manifest lists
=================  ==========================================

Layout::

    root/<table>/_snapshots.json        # one JSON line per snapshot
    root/<table>/snap-<n>/part-*.parquet

A snapshot line lists the data dirs visible at that snapshot, so `overwrite`
is a metadata-only swap and readers of older snapshots are unaffected
(append-only files, like Iceberg).  The manifest is written via tmp+rename —
atomic on POSIX.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .local import local_frame


class SnapshotStore:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, table: str) -> Path:
        return self.root / table / "_snapshots.json"

    def snapshots(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not p.exists():
            return []
        with p.open() as f:
            return [json.loads(line) for line in f if line.strip()]

    def latest_snapshot_id(self, table: str) -> int | None:
        snaps = self.snapshots(table)
        return snaps[-1]["snapshot"] if snaps else None

    def _write_manifest(self, table: str, snaps: list[dict]) -> None:
        p = self._manifest_path(table)
        tmp = p.with_suffix(".json.tmp")
        with tmp.open("w") as f:
            for s in snaps:
                f.write(json.dumps(s) + "\n")
        os.replace(tmp, p)  # atomic commit point

    # -- write path ---------------------------------------------------------
    def commit(self, table: str, df: DataFrame, mode: str = "append",
               extra: dict | None = None) -> int:
        """Write df as a new snapshot of `table`; returns the snapshot id.

        mode='append'    → new snapshot = previous dirs + new dir
        mode='overwrite' → new snapshot = just the new dir (old files kept
                           for time-travel, exactly like Iceberg overwrite)

        ``extra`` is merged into the snapshot's manifest line (Iceberg's
        snapshot summary properties).  Because the manifest rename IS the
        commit point, extra metadata is atomic with the data — the hook
        incremental consumers use to record their source watermark (e.g.
        the WARC ingest's already-consumed archive list) such that data
        and watermark can never disagree after a crash.
        """
        snaps = self.snapshots(table)
        snap_id = (snaps[-1]["snapshot"] + 1) if snaps else 0
        data_dir = self.root / table / f"snap-{snap_id}"
        df.write.mode("overwrite").parquet(str(data_dir))
        prev_dirs = snaps[-1]["dirs"] if (snaps and mode == "append") else []
        # Iceberg-style snapshot summary: record counts from the parquet
        # footers just written (driver-side metadata reads, no Spark job).
        # Planners use these the way Iceberg uses added-records/total-records
        # — e.g. CrawlJob elides anti-joins against provably-empty tables
        # and answers "is the frontier drained?" without a scan.
        rows = self._dir_rows(data_dir)
        if mode == "append" and snaps:
            prev_total = snaps[-1].get("total_rows")
            total = None if prev_total is None else prev_total + rows
        else:
            total = rows
        line = {
            "snapshot": snap_id,
            "mode": mode,
            "dirs": prev_dirs + [f"snap-{snap_id}"],
            "rows": rows,
            "total_rows": total,
            "ts": time.time(),
        }
        if extra:
            clash = set(extra) & set(line)
            if clash:
                raise ValueError(
                    f"extra keys {sorted(clash)} would clobber reserved "
                    "snapshot-manifest fields"
                )
            line.update(extra)
        snaps.append(line)
        self._write_manifest(table, snaps)
        return snap_id

    @staticmethod
    def _dir_rows(data_dir: Path) -> int:
        """Row count of one snapshot dir from parquet footer metadata —
        milliseconds of driver-side file reads, never a Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in data_dir.glob("*.parquet")
        )

    def total_rows(self, table: str, as_of: int | None = None) -> int | None:
        """Row count of the table's current (or ``as_of``) snapshot, from
        manifest summaries alone.  Returns 0 for a never-committed table and
        None when the snapshot predates summary tracking (callers must then
        fall back to scanning) — never a wrong number."""
        snaps = self.snapshots(table)
        if as_of is not None:
            snaps = [s for s in snaps if s["snapshot"] <= as_of]
        if not snaps:
            return 0
        return snaps[-1].get("total_rows")

    def data_dirs_between(self, table: str, after: int,
                          until: int | None = None) -> list[str]:
        """Data dirs WRITTEN by snapshots in (after, until] — the incremental
        read path: consumers that already processed snapshot ``after`` read
        only the newer files, never the whole table (each commit writes
        exactly one new dir, for append and overwrite alike)."""
        snaps = self.snapshots(table)
        out = []
        for s in snaps:
            sid = s["snapshot"]
            if sid > after and (until is None or sid <= until):
                d = self.root / table / f"snap-{sid}"
                if d.exists():
                    out.append(str(d))
        return out

    # -- read path ----------------------------------------------------------
    def read(self, spark: SparkSession, table: str, as_of: int | None = None,
             schema: str | None = None) -> DataFrame | None:
        """Read `table` at snapshot `as_of` (default latest).  Returns None if
        the table has no snapshots yet (callers supply an empty frame).

        With a ``schema`` every snapshot dir is read under it, so a column
        added after older dirs were written reads back NULL for their rows
        (without it Spark infers the schema from one arbitrary file)."""
        snaps = self.snapshots(table)
        if as_of is not None:
            snaps = [s for s in snaps if s["snapshot"] <= as_of]
        if not snaps:
            return None
        dirs = [str(self.root / table / d) for d in snaps[-1]["dirs"]]
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*dirs)

    def read_or_empty(self, spark: SparkSession, table: str, schema: str,
                      as_of: int | None = None) -> DataFrame:
        """:meth:`read` under ``schema``; a table with no snapshot (at
        ``as_of``) reads as an empty ``LocalRelation`` of that schema
        (:func:`~crawler_spark.sources.local.local_frame`), which the
        optimizer propagates through the joins and projections above it:
        they plan as ``LocalTableScan <empty>`` and run no task."""
        df = self.read(spark, table, as_of=as_of, schema=schema)
        return df if df is not None else local_frame(spark, [], schema)

    # -- maintenance --------------------------------------------------------
    def compact(self, spark: SparkSession, table: str,
                target_partitions: int | None = None) -> int | None:
        """Rewrite the CURRENT snapshot's data dirs into one new dir and
        commit it as an overwrite snapshot — Iceberg's
        ``rewrite_data_files``.  A crawl that commits one snapshot per wave
        accumulates one dir (and its small files) per wave; without
        periodic compaction the scan-side file count grows without bound.
        Readers of older snapshots are unaffected (their dirs are never
        touched); the latest snapshot afterwards references exactly one
        dir.  Returns the new snapshot id, or None when there is nothing
        to compact (empty table or already a single dir).
        """
        snaps = self.snapshots(table)
        if not snaps or len(snaps[-1]["dirs"]) <= 1:
            return None
        df = self.read(spark, table)
        if target_partitions:
            df = df.coalesce(target_partitions)
        return self.commit(
            table, df, mode="overwrite",
            extra={"compaction_of": snaps[-1]["snapshot"]},
        )

    def expire_snapshots(self, table: str, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` manifest lines and delete
        every data dir no surviving snapshot references — Iceberg's
        ``expire_snapshots``.  The latest snapshot is never expired, so
        resume (which always reads latest) and incremental consumers whose
        watermark is at or above the horizon are unaffected; time-travel
        below the horizon intentionally stops resolving.  The manifest
        rewrite is the same atomic tmp+rename as ``commit``, and dirs are
        removed only AFTER the new manifest is durable, so a crash
        mid-expiry leaves a readable (merely over-retaining) store.
        Returns {"expired": n_snapshots, "deleted_dirs": n_dirs}.
        """
        import shutil

        snaps = self.snapshots(table)
        if len(snaps) <= keep_last:
            return {"expired": 0, "deleted_dirs": 0}
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        referenced = {d for s in kept for d in s["dirs"]}
        self._write_manifest(table, kept)  # commit point, then GC
        deleted = 0
        for s in dropped:
            d = f"snap-{s['snapshot']}"
            if d not in referenced:
                p = self.root / table / d
                if p.exists():
                    shutil.rmtree(p)
                    deleted += 1
        return {"expired": len(dropped), "deleted_dirs": deleted}

    def tables(self) -> list[str]:
        """All table names in this store (dirs holding a manifest)."""
        return sorted(
            p.parent.name for p in self.root.glob("*/_snapshots.json")
        )


def row_diff(a: DataFrame, b: DataFrame, key_cols: list[str],
             compare_cols: list[str] | None = None) -> DataFrame:
    """Logical row-level diff of two relations sharing a key — which keys
    were ``added``, ``removed``, or ``changed`` going from ``a`` to ``b``.

    One full-outer hash join on the key columns; non-key columns are
    compared via an ``md5(to_json(struct(...)))`` digest computed inside
    the scan, so wide rows never travel past the join — at 100 TB both
    sides hash-partition on the key and the join carries (key, 32-byte
    digest) only.

    Returns (key_cols..., change) where change ∈ {added, removed,
    changed}; unchanged keys are filtered out before the result leaves the
    join stage.
    """
    if compare_cols is None:
        compare_cols = [c for c in b.columns if c not in key_cols]

    from pyspark.sql import functions as F

    def slim(df: DataFrame, tag: str) -> DataFrame:
        digest = (
            F.md5(F.to_json(F.struct(*[F.col(c) for c in compare_cols])))
            if compare_cols else F.lit("")
        )
        return df.select(*key_cols, digest.alias(f"__h{tag}")).dropDuplicates(
            key_cols
        )

    j = slim(a, "a").join(slim(b, "b"), key_cols, "full_outer")
    change = (
        F.when(F.col("__ha").isNull(), F.lit("added"))
        .when(F.col("__hb").isNull(), F.lit("removed"))
        .when(F.col("__ha") != F.col("__hb"), F.lit("changed"))
    )
    return (
        j.select(*key_cols, change.alias("change"))
        .where(F.col("change").isNotNull())
    )


def snapshot_diff(spark: SparkSession, store: SnapshotStore, table: str,
                  from_snap: int, to_snap: int, key_cols: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Change-data-capture between two snapshots of a store table —
    Iceberg's changelog-view analog, built on :func:`row_diff`.  The
    incremental-consumer primitive one level up from ``data_dirs_between``
    (which sees appended *files*): this sees logical *row* changes, so it
    also understands overwrite snapshots (revalidation heals, compactions,
    frontier rewrites).
    """
    a = store.read(spark, table, as_of=from_snap)
    b = store.read(spark, table, as_of=to_snap)
    if a is None or b is None:
        raise ValueError(f"snapshot {from_snap} or {to_snap} of '{table}' "
                         "does not resolve (empty table or expired history)")
    return row_diff(a, b, key_cols, compare_cols)
