"""IcebergLite: checkpointed, resumable batch stages with per-partition
lineage + metrics (SURVEY.md §7.0; north_rule "resumable from checkpoint
with per-partition lineage + metrics").

The sandbox has no Iceberg runtime jars, so this layer provides the
Iceberg semantics we need on plain partitioned Parquet:

- a **manifest table** (`_manifests/` parquet) with one row per committed
  partition: (table, snapshot_id, partition_key, n_rows, n_bytes,
  checksum, committed_at_ns)
- **idempotent stage execution**: ``run_stage`` skips partitions whose
  manifest rows already exist (resume after failure re-does only missing
  partitions)
- **snapshot isolation (lite)**: data lands under
  ``table/partition_key=.../snapshot_id=.../part-*.parquet``; readers go
  through the manifest, so half-written partitions are invisible

Swap-in path for real Iceberg: the public API (``commit_partitions``,
``committed_keys``, ``read_table``) maps 1:1 onto Iceberg's snapshot +
manifest model via ``spark.jars.packages=org.apache.iceberg:...`` when a
catalog is available; nothing else in the engine would change.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "table string, snapshot_id string, partition_key string, n_rows long, "
    "n_bytes long, checksum long, committed_at_ns long, stage string"
)


def _ranked(m: DataFrame) -> DataFrame:
    """Manifest rows plus ``_rk``: each partition_key's versions numbered
    newest first (commit time, then snapshot id as the tiebreak), so
    ``_rk == 1`` is the version latest-wins reads serve."""
    w = Window.partitionBy("partition_key").orderBy(
        F.col("committed_at_ns").desc(), F.col("snapshot_id").desc()
    )
    return m.withColumn("_rk", F.row_number().over(w))


def _checksum(cols: list[str]) -> Column:
    """Partition checksum aggregate: xor-fold of every row's xxhash64 —
    order-insensitive and immune to ANSI overflow. Columns are NAME-SORTED
    so the checksum is comparable across frames that arrange columns
    differently (compact_partitions verifies a rewrite's commit against
    the rows it read back)."""
    return F.expr(f"bit_xor(xxhash64({', '.join(sorted(cols))}))")


class IcebergLite:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._manifest_dir = f"{self.root}/_manifests"

    # ---------------- manifest ----------------

    def manifests(self) -> DataFrame:
        try:
            return self.spark.read.parquet(self._manifest_dir)
        except Exception:
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)

    def committed_keys_df(self, table: str, stage: str) -> DataFrame:
        """Distinct committed partition keys as a DataFrame (the scale
        path: consumed by anti-joins, never collected to the driver)."""
        return (
            self.manifests()
            .filter((F.col("table") == table) & (F.col("stage") == stage))
            .select("partition_key")
            .distinct()
        )

    def committed_keys(self, table: str, stage: str) -> set[str]:
        """Driver-side set view — for tests/inspection only. Resume logic
        uses ``committed_keys_df`` + anti-join (collecting 10^5-10^6 keys
        and building an ``isin`` literal list both blow up at scale)."""
        return {r.partition_key for r in self.committed_keys_df(table, stage).collect()}

    # ---------------- write path ----------------

    def commit_partitions(
        self,
        table: str,
        stage: str,
        df: DataFrame,
        partition_col: str,
        mode: str = "skip-done",
        cluster: bool = False,
    ) -> DataFrame:
        """Write ``df`` partitioned by ``partition_col``, skipping already-
        committed partitions; append manifest rows with row/byte metrics
        and a value checksum. Returns the manifest rows written.

        ``mode="skip-done"`` (resume): partitions already in the manifest
        are filtered out. ``mode="overwrite"``: every partition in ``df``
        is written as a NEW snapshot — readers using
        ``read_table(latest_only=True)`` see the new version, the old
        snapshot stays readable via time travel (Iceberg's upsert shape;
        used by delta_materialize for changed partitions).

        ``cluster=True`` repartitions by ``partition_col`` before the
        write, so each hive partition dir gets ONE file instead of one
        file per upstream task touching it (a 256-task encode feeding 32
        buckets otherwise writes ~task x bucket small files; measured
        812 files -> 32 on the delta gate, and every later
        ``read_table`` scan lists/opens proportionally fewer files —
        guide-§6 output sizing). The same shuffle co-locates the
        metrics groupBy, which then needs no exchange of its own.
        delta_materialize and compact_partitions commit this way. Leave
        False in per-record streaming commits (a blocking per-batch
        shuffle), or when one partition key is planet-hot (identical
        keys land on ONE task — the repartitionByRange tiebreak gotcha
        applies)."""
        if mode not in ("skip-done", "overwrite"):
            raise ValueError(f"unknown commit mode {mode!r}")
        if mode == "skip-done":
            done = self.committed_keys_df(table, stage).withColumnRenamed(
                "partition_key", "_done_pk"
            )
            # left-anti join against the manifest: distributed resume
            # filter (scales to millions of committed partitions; an isin
            # literal list would serialize them all into the plan)
            df = df.join(
                done,
                df[partition_col].cast("string") == done["_done_pk"],
                "left_anti",
            )

        snapshot_id = uuid.uuid4().hex[:16]
        data_dir = f"{self.root}/{table}/snapshot_id={snapshot_id}"
        if cluster:
            df = df.repartition(F.col(partition_col))
        dtypes = dict(df.dtypes)
        # logical byte size = sum of per-column octet lengths
        # (octet_length counts UTF-8 bytes for strings, raw bytes for
        # binary); binary columns avoid the previous to_json(struct())
        # rendering, which base64-encoded every payload blob just for
        # this metric (wall-clock neutral at sf0.1 where payloads are
        # small; avoids the 4/3x blob copy when payload bytes dominate)
        sizes = [
            F.coalesce(
                F.octet_length(
                    F.col(c) if dtypes[c] in ("binary", "string")
                    else F.col(c).cast("string")
                ),
                F.lit(0),
            )
            for c in df.columns
        ]
        byte_expr = sizes[0]
        for e in sizes[1:]:
            byte_expr = byte_expr + e
        pending = df.cache()
        try:
            metrics = pending.groupBy(
                F.col(partition_col).cast("string").alias("partition_key")
            ).agg(
                F.count("*").alias("n_rows"),
                F.sum(byte_expr.cast("long")).alias("n_bytes"),
                _checksum(pending.columns).alias("checksum"),
            )
            if metrics.isEmpty():
                return self.spark.createDataFrame([], MANIFEST_SCHEMA)
            pending.write.partitionBy(partition_col).mode("append").parquet(data_dir)
            return self._append_manifest(table, stage, snapshot_id, metrics)
        finally:
            pending.unpersist()

    def commit_tombstones(
        self, table: str, stage: str, keys: DataFrame,
        partition_col: str = "partition_key",
    ) -> DataFrame:
        """Delete-by-partition: commit a manifest-only snapshot (no data
        files) claiming each key in ``keys``. ``read_table(latest_only=
        True)`` resolves the tombstone snapshot as the newest winner for
        the key and finds zero data rows in it, so the partition
        vanishes from latest reads; time travel before the tombstone
        still sees the old rows (Iceberg's delete-manifest shape).
        Returns the manifest rows written (empty if ``keys`` is)."""
        if keys.isEmpty():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        zero = F.lit(0).cast("long")
        return self._append_manifest(
            table, stage, uuid.uuid4().hex[:16], keys.select(
                F.col(partition_col).cast("string").alias("partition_key"),
                zero.alias("n_rows"),
                zero.alias("n_bytes"),
                zero.alias("checksum"),
            ),
        )

    def _append_manifest(
        self, table: str, stage: str, snapshot_id: str, parts: DataFrame
    ) -> DataFrame:
        """Append one manifest row per ``parts`` row (partition_key,
        n_rows, n_bytes, checksum) under ``snapshot_id``, stamped with the
        commit time. Returns the COMMITTED rows read back by snapshot id:
        a lazy plan over ``parts`` may re-run a resume anti-join on
        evaluation, and post-commit that join sees this very snapshot as
        done -> empty."""
        parts.select(
            F.lit(table).alias("table"),
            F.lit(snapshot_id).alias("snapshot_id"),
            "partition_key",
            "n_rows",
            "n_bytes",
            "checksum",
            F.lit(time.time_ns()).alias("committed_at_ns"),
            F.lit(stage).alias("stage"),
        ).write.mode("append").parquet(self._manifest_dir)
        return self.manifests().filter(F.col("snapshot_id") == snapshot_id)

    def _swap_manifests(self, keep: DataFrame) -> None:
        """Replace the manifest table with ``keep``: copy-then-swap on a
        local/posix lake; a real Iceberg catalog does this as an atomic
        metadata pointer flip — swap-in path unchanged."""
        tmp = f"{self._manifest_dir}.tmp-{uuid.uuid4().hex[:8]}"
        keep.write.mode("overwrite").parquet(tmp)
        old = f"{self._manifest_dir}.old-{uuid.uuid4().hex[:8]}"
        os.rename(self._manifest_dir, old)
        os.rename(tmp, self._manifest_dir)
        shutil.rmtree(old)
        # drop Spark's cached file listing for the swapped path, or the
        # next manifests() read resolves the pre-swap file set
        self.spark.catalog.refreshByPath(self._manifest_dir)

    def _partition_col(self, table: str) -> str | None:
        """The data partition column, recovered from the hive layout
        (data lands under ``<table>/snapshot_id=<id>/<col>=<key>/``);
        None when no snapshot directory holds data."""
        base = f"{self.root}/{table}"
        for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            if d.startswith("snapshot_id="):
                for e in os.listdir(f"{base}/{d}"):
                    if "=" in e:
                        return e.split("=", 1)[0]
        return None

    # ---------------- read path ----------------

    def read_table(
        self,
        table: str,
        as_of_ns: int | None = None,
        latest_only: bool = False,
    ) -> DataFrame:
        """Read the committed snapshots of a table (manifest-gated).

        ``as_of_ns`` is Iceberg-style time travel: only snapshots whose
        manifest commit timestamp is <= the bound are visible — the view
        any reader saw at that instant, reconstructible forever because
        commits are append-only.

        ``latest_only``: upsert semantics — for every partition_key, keep
        rows only from its newest visible snapshot (overwrite commits
        supersede; pure-append tables are unaffected since each key then
        has one snapshot). The filter is a broadcast semi-join on
        (snapshot_id, partition_key) pairs derived from the manifest."""
        base = f"{self.root}/{table}"
        snaps = [
            d for d in os.listdir(base) if d.startswith("snapshot_id=")
        ] if os.path.isdir(base) else []
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table}")
        vis = self.manifests().filter(F.col("table") == table)
        if as_of_ns is not None:
            vis = vis.filter(F.col("committed_at_ns") <= as_of_ns)
        committed = {
            r.snapshot_id for r in vis.select("snapshot_id").distinct().collect()
        }
        paths = [
            f"{base}/{d}" for d in snaps if d.split("=", 1)[1] in committed
        ]
        if not paths:
            raise FileNotFoundError(
                f"no snapshots for table {table} at as_of_ns={as_of_ns}"
            )
        df = self.spark.read.option("basePath", base).parquet(*paths)
        if latest_only:
            winners = _ranked(vis).filter(F.col("_rk") == 1).select(
                F.col("snapshot_id").alias("_w_snap"),
                F.col("partition_key").alias("_w_pk"),
            )
            pcol = self._partition_col(table)
            df = df.join(
                F.broadcast(winners),
                (df["snapshot_id"] == winners["_w_snap"])
                & (df[pcol].cast("string") == winners["_w_pk"]),
                "left_semi",
            )
        return df.drop("snapshot_id")

    def snapshots(self, table: str) -> DataFrame:
        """Snapshot log: (snapshot_id, stage, committed_at_ns,
        n_partitions, n_rows, n_bytes), oldest first — the audit surface
        Iceberg exposes as the snapshots metadata table."""
        return (
            self.manifests()
            .filter(F.col("table") == table)
            .groupBy("snapshot_id", "stage", "committed_at_ns")
            .agg(
                F.count("*").alias("n_partitions"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_bytes").alias("n_bytes"),
            )
            .orderBy("committed_at_ns")
        )

    def rollback(self, table: str, as_of_ns: int) -> int:
        """Drop every snapshot of ``table`` committed after ``as_of_ns``
        from the manifest (data files stay; invisible without manifest
        rows — Iceberg's rollback model). Returns snapshots dropped.
        The manifest rewrite is :meth:`_swap_manifests`."""
        m = self.manifests().cache()
        try:
            doomed = (
                m.filter((F.col("table") == table)
                         & (F.col("committed_at_ns") > as_of_ns))
                .select("snapshot_id").distinct().count()
            )
            if doomed:
                self._swap_manifests(m.filter(
                    (F.col("table") != table)
                    | (F.col("committed_at_ns") <= as_of_ns)
                ))
        finally:
            m.unpersist()
        return doomed

    # ---------------- maintenance ----------------

    def expire_snapshots(self, table: str, older_than_ns: int) -> dict:
        """Vacuum superseded partition versions beyond the time-travel
        horizon (Iceberg's ``expireSnapshots`` + orphan cleanup, at the
        granularity our layout allows).

        A (snapshot, partition_key) version is expirable iff it was
        committed at or before ``older_than_ns`` AND a newer snapshot
        owns that key (so latest-wins reads cannot change — including
        tombstone winners, which must stay so deleted keys don't
        resurrect). Expired versions lose their manifest rows and their
        ``snapshot_id=…/<pcol>=…`` data directory; time travel to
        before the horizon correspondingly forgets them — that is the
        storage-reclaim contract. Returns counts + reclaimed bytes.

        File deletion is a driver-side posix walk on this lite lake; a
        real Iceberg catalog does the same from its file manifests."""
        m = self.manifests().filter(F.col("table") == table).cache()
        try:
            doomed = _ranked(m).filter(
                (F.col("_rk") > 1) & (F.col("committed_at_ns") <= older_than_ns)
            ).select("snapshot_id", "partition_key", "n_bytes").collect()
        finally:
            m.unpersist()
        if not doomed:
            return {"versions_expired": 0, "bytes_reclaimed": 0, "dirs_removed": 0}

        base = f"{self.root}/{table}"
        pcol = self._partition_col(table)
        dirs_removed = 0
        for r in doomed:
            snap_dir = f"{base}/snapshot_id={r.snapshot_id}"
            part_dir = f"{snap_dir}/{pcol}={r.partition_key}"
            if pcol and os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
                dirs_removed += 1
            # drop now-empty snapshot dirs so read_table's listing stays clean
            if os.path.isdir(snap_dir) and not any(
                e for e in os.listdir(snap_dir) if not e.startswith(".")
            ):
                shutil.rmtree(snap_dir)

        doomed_keys = {(r.snapshot_id, r.partition_key) for r in doomed}
        doomed_df = self.spark.createDataFrame(
            [(s, k) for s, k in doomed_keys], "snapshot_id string, partition_key string"
        ).withColumnRenamed("snapshot_id", "_d_snap").withColumnRenamed(
            "partition_key", "_d_pk"
        )
        all_m = self.manifests()
        self._swap_manifests(all_m.join(
            F.broadcast(doomed_df),
            (all_m["table"] == table)
            & (all_m["snapshot_id"] == doomed_df["_d_snap"])
            & (all_m["partition_key"] == doomed_df["_d_pk"]),
            "left_anti",
        ))
        return {
            "versions_expired": len(doomed),
            "bytes_reclaimed": int(sum(r.n_bytes for r in doomed)),
            "dirs_removed": dirs_removed,
        }

    def compact_partitions(self, table: str, stage: str) -> dict:
        """Small-file compaction: rewrite the latest rows of every
        partition whose winning version holds more than one file as ONE
        new overwrite snapshot, committed with ``cluster=True`` (each
        key's rows land in one task → one file per partition directory).

        Safety invariant from the lineage model: before the rewrite, the
        fragmented partitions' xor-fold checksums are recomputed from
        the read-back frame with the manifest formula (one pure-JVM hash
        aggregation over the rows being rewritten); the new commit's
        manifest checksums must equal them exactly or the compaction
        raises — a rewrite that corrupts even one value refuses to
        stand. (The superseded winner's RECORDED checksum is not used
        directly: parquet partition-type inference may read the
        partition column back as a different type than it was hashed
        with at commit time, e.g. string "0" → int.) Fragmentation
        detection walks the winner version directories (metadata-scale;
        an object-store deployment consults its file manifests instead).
        Old versions stay time-travelable until
        :meth:`expire_snapshots`."""
        winners = _ranked(
            self.manifests().filter(F.col("table") == table)
        ).filter((F.col("_rk") == 1) & (F.col("n_rows") > 0)).select(
            "snapshot_id", "partition_key"
        ).collect()
        base = f"{self.root}/{table}"
        pcol = self._partition_col(table)
        frag_keys: list[str] = []
        for r in winners:
            pdir = f"{base}/snapshot_id={r.snapshot_id}/{pcol}={r.partition_key}"
            if not pcol or not os.path.isdir(pdir):
                continue
            n_files = sum(
                1 for f in os.listdir(pdir)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            if n_files > 1:
                frag_keys.append(r.partition_key)
        if not frag_keys:
            return {"partitions_compacted": 0, "checksums_verified": 0}

        keys_df = self.spark.createDataFrame(
            [(k,) for k in frag_keys], "partition_key string"
        ).withColumnRenamed("partition_key", "_c_pk")
        cur = self.read_table(table, latest_only=True)
        frag = cur.join(
            F.broadcast(keys_df),
            cur[pcol].cast("string") == keys_df["_c_pk"],
            "left_semi",
        ).cache()
        try:
            old_sums = {
                r.partition_key: r.checksum
                for r in frag.groupBy(
                    F.col(pcol).cast("string").alias("partition_key")
                ).agg(_checksum(frag.columns).alias("checksum")).collect()
            }
            new_rows = self.commit_partitions(
                table, stage, frag, pcol, mode="overwrite", cluster=True
            ).select("partition_key", "checksum").collect()
        finally:
            frag.unpersist()
        mismatches = [
            r.partition_key
            for r in new_rows
            if old_sums.get(r.partition_key) != r.checksum
        ]
        if mismatches:
            raise RuntimeError(
                f"compaction checksum mismatch on partitions {mismatches[:5]}"
                " — new snapshot left in place for inspection; latest reads"
                " still win on commit order, investigate before expiring"
            )
        return {
            "partitions_compacted": len(new_rows),
            "checksums_verified": len(new_rows),
        }


def run_stage(
    lake: IcebergLite,
    table: str,
    stage: str,
    build: "callable[[DataFrame], DataFrame]",
    partition_col: str,
) -> DataFrame:
    """Idempotent stage: ``build(done)`` produces the stage output; ``done``
    is a DataFrame of already-committed partition keys (column
    ``partition_key``) the builder may anti-join against to prune work
    early — never a collected set. Only not-yet-committed partitions are
    written. Returns new manifest rows (empty on full resume)."""
    done = lake.committed_keys_df(table, stage)
    df = build(done)
    return lake.commit_partitions(table, stage, df, partition_col)
