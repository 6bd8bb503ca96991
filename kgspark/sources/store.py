"""Graph-table store S2-S8, S12 (SURVEY §2.1).

Iceberg-shaped API over parquet: the sandbox image has no Iceberg jars
(they'd be a config swap in ``get_spark`` + ``format('iceberg')`` here),
so writes are parquet with url-hash bucket columns — the same physical
layout the north rule asks for (`bucket(N, url_hash)` partitioning).
MERGE-upsert (the reference's Cypher MERGE, node_db_queries.py:17-69) is
emulated with anti-join + union, keyed on uuid.

Incremental tables additionally hive-partition by group-hash
(``gpart=pmod(xxhash64(group_id), n_gparts)`` — Iceberg's
``bucket(n, group_id)`` transform): `splice_groups` / `merge` /
`delete_by_group` then rewrite only the touched partitions via dynamic
partition overwrite (Iceberg ``overwritePartitions``), and
`read_parts` prunes scans to those partitions, so per-batch IO is
O(affected partitions) rather than O(corpus).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ("episodes", "nodes", "edges", "mentions", "communities",
          "community_members", "postings", "doc_stats", "checkpoints")

N_BUCKETS = 64
N_GPARTS = 64


def with_bucket(df: DataFrame, key: str = "uuid", n: int = N_BUCKETS) -> DataFrame:
    """Stable hash bucket for co-located writes/joins (north rule:
    partitioned by url-hash bucket; at cluster scale this becomes the
    Iceberg `bucket(n, key)` partition transform)."""
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n)).cast("int"))


class GraphStore:
    def __init__(self, root: str, n_buckets: int = N_BUCKETS,
                 n_gparts: int = N_GPARTS):
        self.root = root
        self.n_buckets = n_buckets
        # table → schema of the files on disk, set by every write and
        # used to skip parquet schema inference on read: the footer-read
        # Spark job that inference launches costs a fixed ~60 ms of
        # serial driver time, and the point-update path reads a dozen
        # tables per episode (BASELINE fact 24). Safe because all table
        # mutations go through write()/write_grouped() (compaction
        # rewrites rows, never schema).
        self._schemas: dict[str, object] = {}
        # group-hash partition count for the group-keyed tables: one
        # incremental batch touches only its groups' partitions, so both
        # the splice rewrite and the re-assembly side-table scans are
        # O(touched partitions), never O(corpus). Size it so each
        # partition holds a few GB (a 100 TB corpus wants ~4096+).
        self.n_gparts = n_gparts

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _gpart(self, group_id: F.Column) -> F.Column:
        return F.pmod(F.xxhash64(group_id), F.lit(self.n_gparts)).cast("int")

    def group_parts(self, groups: DataFrame) -> list[int]:
        """Distinct gpart ids for a (small) group_id frame — the
        partition list a splice/delete touches."""
        return [
            r["gpart"]
            for r in groups.select(
                self._gpart(F.col("group_id")).alias("gpart")).distinct().collect()
        ]

    def is_partitioned(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            e.startswith("gpart=") for e in os.listdir(p))

    def write(self, table: str, df: DataFrame, mode: str = "overwrite",
              bucket_key: str = "uuid") -> None:
        out = with_bucket(df, bucket_key, self.n_buckets) if bucket_key in df.columns else df
        (out.write.mode(mode).option("compression", "zstd").parquet(self.path(table)))
        self._schemas[table] = out.schema

    def write_grouped(self, table: str, df: DataFrame, mode: str = "overwrite",
                      bucket_key: str = "uuid", dynamic: bool = False) -> None:
        """Write hive-partitioned by group-hash (``gpart=k/`` dirs — the
        parquet stand-in for Iceberg's ``bucket(n, group_id)`` partition
        transform). ``dynamic=True`` = Iceberg ``overwritePartitions``:
        only the partitions present in ``df`` are replaced."""
        out = with_bucket(df, bucket_key, self.n_buckets) if bucket_key in df.columns else df
        out = out.withColumn("gpart", self._gpart(F.col("group_id")))
        w = (out.write.mode(mode).option("compression", "zstd")
             .partitionBy("gpart"))
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.parquet(self.path(table))
        self._schemas[table] = out.schema

    def append_grouped(self, table: str, df: DataFrame,
                       bucket_key: str = "uuid") -> None:
        """Append in the partitioned layout (new files land inside their
        ``gpart=`` dirs); falls back to a flat append only onto a
        pre-existing unpartitioned table (never mixes layouts)."""
        if self.exists(table) and not self.is_partitioned(table):
            if self.read(df.sparkSession, table).isEmpty():
                # schema-only remnant of a fully-emptied table — reclaim
                # the partitioned layout instead of appending flat
                shutil.rmtree(self.path(table))
                self.write_grouped(table, df, bucket_key=bucket_key)
            else:
                self.write(table, df, mode="append", bucket_key=bucket_key)
        else:
            self.write_grouped(table, df, mode="append", bucket_key=bucket_key)

    def write_all(self, tables: dict[str, DataFrame]) -> None:
        for name, df in tables.items():
            self.write(name, df)

    def _read_raw(self, spark: SparkSession, table: str) -> DataFrame:
        schema = self._schemas.get(table)
        if schema is not None:
            return spark.read.schema(schema).parquet(self.path(table))
        df = spark.read.parquet(self.path(table))
        self._schemas[table] = df.schema
        return df

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self._read_raw(spark, table).drop("bucket", "gpart")

    def read_parts(self, spark: SparkSession, table: str,
                   parts: list[int]) -> DataFrame:
        """Partition-pruned read: only the ``gpart`` dirs in ``parts``
        are scanned (a no-op passthrough on unpartitioned tables)."""
        df = self._read_raw(spark, table)
        if "gpart" in df.columns:
            df = df.where(F.col("gpart").isin(parts))
        return df.drop("bucket", "gpart")

    def _overwrite_parts(self, table: str, out: DataFrame,
                         parts: list[int]) -> int:
        """Replace exactly the given partitions with ``out``'s rows
        (dynamic partition overwrite); partitions that end up empty are
        removed explicitly — dynamic overwrite only touches partitions
        present in the new data, so an emptied one would otherwise keep
        serving its old files."""
        # materialize before replacing files we read — persist, with the
        # count below as the materializing action, instead of an eager
        # localCheckpoint: one job fewer per spliced table (micro-batch
        # ingest runs this 6+ times per batch — job count is wall time).
        # MEMORY_AND_DISK spills rather than evicting, so the write can
        # never recompute from the files this method is about to replace.
        out = out.persist()
        try:
            # one job yields the row count, the present-partition set AND
            # the cache population
            per_part = out.groupBy(
                self._gpart(F.col("group_id")).alias("gpart")).count().collect()
            n = int(sum(r["count"] for r in per_part))
            present = {r["gpart"] for r in per_part}
            if present:
                self.write_grouped(table, out, dynamic=True)
            for p in set(parts) - present:
                stale = os.path.join(self.path(table), f"gpart={p}")
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
            if not self.exists(table):
                # table fully emptied: a partitioned write of an empty
                # frame leaves no parquet at all (unreadable dir) — keep a
                # schema-only flat empty table so reads still work;
                # append_grouped migrates it back to partitioned layout.
                self.write(table, out.limit(0))
        finally:
            out.unpersist()
        return n

    def splice_groups(self, spark: SparkSession, table: str,
                      rebuilt: DataFrame, groups: DataFrame,
                      parts: list[int] | None = None,
                      group_list: list[str] | None = None) -> int:
        """Replace the given groups' rows with ``rebuilt``, touching only
        their ``gpart`` partitions — the Iceberg
        ``overwritePartitions`` emulation the incremental path runs per
        micro-batch. IO is O(affected partitions): unaffected partition
        files are never read or rewritten (tested via mtime in
        test_checkpoint_streaming). A pre-existing unpartitioned table
        is migrated to the partitioned layout on first splice. Returns
        rows written to the affected partitions. ``parts`` short-circuits
        the gpart lookup when the caller already collected it (micro-batch
        ingest splices 6+ tables for the same groups — one tiny lookup
        job each adds up). ``group_list`` (point-update fast path) swaps
        the anti-join for a literal NOT-IN filter pushed to the scan: a
        broadcast join materializes its exchange as an EXTRA driver job
        inside every action on this lineage, and at one-episode batch
        sizes those fixed ~60 ms jobs dominate wall time (BASELINE fact
        24). group_id is non-nullable in every table schema, so NOT IN
        has no NULL trap here."""
        if not self.exists(table):
            out = rebuilt.localCheckpoint()
            self.write_grouped(table, out)
            return int(out.count())
        drop_groups = (
            (lambda df: df.where(~F.col("group_id").isin(group_list)))
            if group_list is not None
            else (lambda df: df.join(groups, "group_id", "left_anti")))
        if not self.is_partitioned(table):
            kept = drop_groups(self.read(spark, table))
            out = kept.unionByName(
                rebuilt, allowMissingColumns=True).localCheckpoint()
            shutil.rmtree(self.path(table))  # no mixed layouts
            self.write_grouped(table, out)
            return int(out.count())
        if parts is None:
            parts = self.group_parts(groups)
        kept = drop_groups(self.read_parts(spark, table, parts))
        out = kept.unionByName(rebuilt, allowMissingColumns=True)
        return self._overwrite_parts(table, out, parts)

    # ------------------------------------------------------- maintenance
    def _part_files(self, d: str) -> list[str]:
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]

    def compact(self, spark: SparkSession, table: str,
                parts: list[int] | None = None,
                target_bytes: int = 128 << 20) -> dict:
        """Small-file compaction — the Iceberg ``rewrite_data_files``
        analogue. Streaming ingest appends one file per micro-batch per
        touched ``gpart`` partition (append_grouped), and every splice
        writes as many files as shuffle tasks hit the partition; at
        streaming rates a partition accumulates hundreds of small files
        and scan/open overhead starts to dominate reads. This rewrites
        each (touched) partition's files into
        ``max(1, ceil(partition_bytes / target_bytes))`` files —
        row-identical, scoped to the partitions it touches (untouched
        partition files are never read or rewritten; tested via mtime in
        test_store_compact). Already-compact partitions are skipped, so
        running it on a schedule is idempotent and cheap.

        One small Spark job per compacted partition, committed via
        write-to-tmp + atomic dir swap (the crash-safe order: new files
        exist before old ones go). At cluster scale (4096+ partitions)
        submit these jobs from a thread pool — they're independent —
        exactly how Iceberg plans per-file-group rewrites.

        Returns {"files_before", "files_after", "parts"} for the touched
        partitions."""
        path = self.path(table)
        if not self.exists(table):
            return {"files_before": 0, "files_after": 0, "parts": []}
        if not self.is_partitioned(table):
            files = self._part_files(path)
            n_target = max(1, -(-sum(os.path.getsize(f) for f in files)
                                // target_bytes))
            if len(files) <= n_target:
                return {"files_before": len(files),
                        "files_after": len(files), "parts": []}
            out = spark.read.parquet(path).coalesce(n_target).localCheckpoint()
            (out.write.mode("overwrite").option("compression", "zstd")
             .parquet(path))
            return {"files_before": len(files),
                    "files_after": len(self._part_files(path)), "parts": []}
        touched, before, after = [], 0, 0
        for entry in sorted(os.listdir(path)):
            if not entry.startswith("gpart="):
                continue
            p = int(entry.split("=", 1)[1])
            if parts is not None and p not in parts:
                continue
            d = os.path.join(path, entry)
            files = self._part_files(d)
            n_target = max(1, -(-sum(os.path.getsize(f) for f in files)
                                // target_bytes))
            if len(files) <= n_target:
                continue
            sub = spark.read.parquet(d).coalesce(n_target)
            tmp = os.path.join(path, f".compact-tmp-gpart={p}")
            (sub.write.mode("overwrite").option("compression", "zstd")
             .parquet(tmp))
            # drop the _SUCCESS marker so the dir is pure data files like
            # a dynamic-overwrite partition dir
            marker = os.path.join(tmp, "_SUCCESS")
            if os.path.exists(marker):
                os.remove(marker)
            # two renames + delete: both copies exist on disk at every
            # instant, so a crash never loses rows — at worst the
            # partition is parked under a dot-dir (restorable by
            # renaming it back) until a restart sweep
            old = os.path.join(path, f".compact-old-gpart={p}")
            os.rename(d, old)
            os.rename(tmp, d)
            shutil.rmtree(old)
            touched.append(p)
            before += len(files)
            after += len(self._part_files(d))
        return {"files_before": before, "files_after": after,
                "parts": touched}

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    # ---------------------------------------------------------- S2-S4 upsert
    def merge(self, spark: SparkSession, table: str, updates: DataFrame,
              key: str = "uuid") -> None:
        """MERGE INTO emulation: existing rows not in updates ∪ updates.
        With Iceberg this is `MERGE INTO t USING u ON t.uuid = u.uuid
        WHEN MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *`."""
        if not self.exists(table):
            self.write(table, updates)
            return
        if self.is_partitioned(table) and "group_id" in updates.columns:
            # a row's uuid never changes group, so the stale versions of
            # these updates live in the updates' own partitions — scope
            # the rewrite there (Iceberg: MERGE with partition pruning)
            parts = self.group_parts(updates.select("group_id").distinct())
            kept = self.read_parts(spark, table, parts).join(
                updates.select(key), key, "left_anti")
            self._overwrite_parts(
                table, kept.unionByName(updates, allowMissingColumns=True), parts)
            return
        existing = self.read(spark, table)
        kept = existing.join(updates.select(key), key, "left_anti")
        merged = kept.unionByName(updates, allowMissingColumns=True).localCheckpoint()
        self.write(table, merged)

    # ---------------------------------------------------------- S12 delete
    def delete_by_group(self, spark: SparkSession, table: str, group_ids: list[str]) -> None:
        if not self.exists(table):
            return
        if self.is_partitioned(table):
            spark_groups = spark.createDataFrame(
                [(g,) for g in group_ids], "group_id string")
            parts = self.group_parts(spark_groups)
            kept = self.read_parts(spark, table, parts).where(
                ~F.col("group_id").isin(group_ids))
            self._overwrite_parts(table, kept, parts)
            return
        df = self.read(spark, table)
        remaining = df.where(~F.col("group_id").isin(group_ids)).localCheckpoint()
        self.write(table, remaining)

    def purge_episode_inputs(self, spark: SparkSession, episode_uuid: str) -> str | None:
        """Delete an episode's rows from the append-only extraction side
        tables (raw_episodes / ext_nodes / ext_edges) so a later
        re-assembly cannot resurrect it. Returns the episode's group_id
        (for targeted re-assembly), or None if the episode has no side
        rows (e.g. graph tables written by a one-shot batch build)."""
        if not self.exists("raw_episodes"):
            return None
        raw = self.read(spark, "raw_episodes")
        hit = raw.where(F.col("uuid") == episode_uuid).select("group_id").take(1)
        if not hit:
            return None
        group_id = hit[0]["group_id"]
        deletions = {"raw_episodes": F.col("uuid") != episode_uuid,
                     "ext_nodes": F.col("episode_uuid") != episode_uuid,
                     "ext_edges": F.col("episode_uuid") != episode_uuid}
        for t, keep in deletions.items():
            if not self.exists(t):
                continue
            if self.is_partitioned(t):
                # scope the rewrite to the episode's own gpart partition
                groups = spark.createDataFrame([(group_id,)], "group_id string")
                parts = self.group_parts(groups)
                self._overwrite_parts(
                    t, self.read_parts(spark, t, parts).where(keep), parts)
            else:
                rem = self.read(spark, t).where(keep).localCheckpoint()
                self.write(t, rem)
        return group_id

    def remove_episode(self, spark: SparkSession,
                       episode_uuid: str) -> str | None:
        """Cascading delete (reference graphiti.py:776-805): drop the
        episode, its mentions, edges only it supports, and orphan nodes.
        The cascade never crosses group_id (node/edge uuids are
        group-scoped), so on partitioned tables the whole rewrite is
        scoped to the episode's gpart partition. Returns the episode's
        group_id when it could be determined (for index refresh)."""
        tables = ("episodes", "mentions", "edges", "nodes")
        scoped = all(self.is_partitioned(t) for t in tables)
        parts: list[int] = []
        hit = self.read(spark, "episodes").where(
            F.col("uuid") == episode_uuid).select("group_id").take(1)
        if not hit:
            return None
        group_id: str = hit[0]["group_id"]
        if scoped:
            groups = spark.createDataFrame([(group_id,)], "group_id string")
            parts = self.group_parts(groups)
            rd = lambda t: self.read_parts(spark, t, parts)  # noqa: E731
        else:
            rd = lambda t: self.read(spark, t)  # noqa: E731
        # the read mentions cover every group in the touched partitions,
        # so hash-collision co-tenant nodes keep their support rows
        kept = cascade_remove({t: rd(t) for t in tables}, [episode_uuid])
        # materialize EVERY frame before overwriting ANY table — nodes'
        # lineage reads the mentions files the loop would have replaced
        frames = [(name, kept[name].localCheckpoint()) for name in tables]
        for name, df in frames:
            if scoped:
                self._overwrite_parts(name, df, parts)
            else:
                self.write(name, df)
        return group_id


def cascade_remove(g: dict[str, DataFrame],
                   episode_uuids: list[str]) -> dict[str, DataFrame]:
    """S12 cascade as a pure dataflow over the ``episodes`` /
    ``mentions`` / ``edges`` / ``nodes`` frames of ``g``: drop the
    listed episodes and their mentions, strip them from each edge's
    ``episodes`` array (order and duplicates kept, as ``array_remove``
    does), drop edges left unsupported, and keep only nodes a surviving
    mention still reaches."""
    gone = F.array(*[F.lit(u) for u in episode_uuids])
    episodes = g["episodes"].where(~F.col("uuid").isin(episode_uuids))
    mentions = g["mentions"].where(~F.col("episode_uuid").isin(episode_uuids))
    edges = (
        g["edges"].withColumn(
            "episodes",
            F.filter("episodes", lambda e: ~F.array_contains(gone, e)))
        .where(F.size("episodes") > 0)
    )
    live = mentions.select(F.col("entity_uuid").alias("uuid")).distinct()
    nodes = g["nodes"].join(live, "uuid", "left_semi")
    return {"episodes": episodes, "mentions": mentions,
            "edges": edges, "nodes": nodes}


# ------------------------------------------------------------------ S7/S8
def get_by_uuids(df: DataFrame, uuids: list[str]) -> DataFrame:
    """Point lookups (reference nodes.py:178-228 et al.) — an IN filter the
    scan pushes down; for large probe lists use a broadcast semi-join."""
    return df.where(F.col("uuid").isin(uuids))


def get_by_group_ids(
    df: DataFrame, group_ids: list[str], limit: int | None = None,
    uuid_cursor: str | None = None,
) -> DataFrame:
    """Keyset pagination ORDER BY uuid DESC (reference nodes.py:230-269)."""
    out = df.where(F.col("group_id").isin(group_ids))
    if uuid_cursor:
        out = out.where(F.col("uuid") < uuid_cursor)
    out = out.orderBy(F.desc("uuid"))
    return out.limit(limit) if limit else out
