"""Graph-table store S2-S8, S12 (SURVEY §2.1).

Iceberg-shaped API over parquet: the sandbox image has no Iceberg jars
(they'd be a config swap in ``get_spark`` + ``format('iceberg')`` here).
Every table has one layout: hive partitions by group hash,
``<table>/gpart=<k>/`` with ``gpart = pmod(xxhash64(group_id),
n_gparts)`` — Iceberg's ``bucket(n, group_id)`` transform, and the
url-hash bucket of the north rule (``group_id`` is the url's host).
MERGE-upsert (the reference's Cypher MERGE, node_db_queries.py:17-69) is
emulated by re-assembling the touched groups and splicing them in
(anti-join + union, keyed on group_id).

Every mutation — splice, delete, purge, cascade, the checkpointed build
— commits through one primitive, `overwrite_parts`: a dynamic partition
overwrite (Iceberg ``overwritePartitions``) of exactly the touched
partitions. `read_parts` prunes scans to those partitions, so per-batch
IO is O(affected partitions) rather than O(corpus). A table that a
write leaves with no rows keeps one schema-only file in ``gpart=0`` so
it stays readable.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

GRAPH_TABLES = ("episodes", "nodes", "edges", "mentions")
# every table the incremental ingest path appends to or splices — the
# graph tables, the extraction side tables and the maintained fulltext
# index (the delete and compaction sweep targets)
INGEST_TABLES = GRAPH_TABLES + ("raw_episodes", "ext_nodes", "ext_edges",
                                "postings", "doc_stats")

N_GPARTS = 64
LITERAL_GROUPS_MAX = 64  # see GraphStore.in_groups


class GraphStore:
    def __init__(self, root: str, n_gparts: int = N_GPARTS):
        self.root = root
        # table → schema of the files on disk, set by every write and
        # used to skip parquet schema inference on read: the footer-read
        # Spark job that inference launches costs a fixed ~60 ms of
        # serial driver time, and the point-update path reads a dozen
        # tables per episode (BASELINE fact 24). Safe because all table
        # mutations go through write()/overwrite_parts() (compaction
        # rewrites rows, never schema).
        self._schemas: dict[str, object] = {}
        # group-hash partition count: one incremental batch touches only
        # its groups' partitions, so both the splice rewrite and the
        # re-assembly side-table scans are O(touched partitions), never
        # O(corpus). Size it so each partition holds a few GB (a 100 TB
        # corpus wants ~4096+).
        self.n_gparts = n_gparts

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def gpart(self, group_id: Column) -> Column:
        return F.pmod(F.xxhash64(group_id), F.lit(self.n_gparts)).cast("int")

    def parts_of(self, group_ids: list[str]) -> list[int]:
        """Distinct gpart ids of ``group_ids`` — the partition list a
        splice/delete of those groups touches (one small job)."""
        g = SparkSession.active().createDataFrame(
            [(x,) for x in group_ids], "group_id string")
        return sorted(r["gpart"] for r in g.select(
            self.gpart(F.col("group_id")).alias("gpart")).distinct().collect())

    @staticmethod
    def in_groups(df: DataFrame, group_ids: list[str],
                  keep: bool = True) -> DataFrame:
        """Keep (or, with ``keep=False``, drop) the rows of ``df`` whose
        group_id is in ``group_ids`` — the one place a frame is scoped to
        a group set. Up to LITERAL_GROUPS_MAX ids: a literal IN filter
        pushed to the scan, since a broadcast join adds one exchange job
        (~60 ms) to every action on its lineage (BASELINE fact 24). Above
        it: a broadcast semi/anti join, since the IN Column costs one py4j
        call per literal (local[1]: 0.57 s for 1k ids, 5.2 s for 10k, vs
        0.035 / 0.086 s to ``createDataFrame`` them) and a bulk batch
        applies the scope ~10 times. The join is on an expression, not
        USING group_id, so ``df`` keeps its column order. group_id is
        non-nullable in every table, so NOT IN has no NULL trap."""
        if len(group_ids) <= LITERAL_GROUPS_MAX:
            hit = F.col("group_id").isin(group_ids)
            return df.where(hit if keep else ~hit)
        g = F.broadcast(df.sparkSession.createDataFrame(
            [(x,) for x in group_ids], "gid string"))
        return df.join(g, df["group_id"] == g["gid"],
                       "left_semi" if keep else "left_anti")

    def is_partitioned(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            e.startswith("gpart=") for e in os.listdir(p))

    def write(self, table: str, df: DataFrame, mode: str = "overwrite") -> None:
        """Write ``df`` into ``gpart=k/`` dirs (the parquet stand-in for
        Iceberg's ``bucket(n, group_id)`` partition transform). ``mode``
        is a Spark save mode: ``overwrite`` replaces the whole table,
        ``append`` adds new files inside their partitions."""
        self._save(table, df, mode)
        self._keep_readable(table, df)

    def _save(self, table: str, df: DataFrame, mode: str,
              dynamic: bool = False) -> None:
        out = df.withColumn("gpart", self.gpart(F.col("group_id")))
        w = (out.write.mode(mode).option("compression", "zstd")
             .partitionBy("gpart"))
        if dynamic:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.parquet(self.path(table))
        self._schemas[table] = out.schema

    def _keep_readable(self, table: str, df: DataFrame) -> None:
        """A partitioned write of no rows leaves no parquet file, and a
        directory without one cannot be read: keep a schema-only file in
        ``gpart=0`` instead. Later appends and partition overwrites work
        on it like on any other file."""
        if not self.exists(table):
            empty = df.sparkSession.createDataFrame([], df.schema)
            _write_dir(empty, os.path.join(self.path(table), "gpart=0"))

    def append_grouped(self, table: str, df: DataFrame) -> None:
        """Append: new files land inside their ``gpart=`` dirs."""
        self.write(table, df, mode="append")

    def _read_raw(self, spark: SparkSession, table: str) -> DataFrame:
        schema = self._schemas.get(table)
        if schema is not None:
            return spark.read.schema(schema).parquet(self.path(table))
        df = spark.read.parquet(self.path(table))
        self._schemas[table] = df.schema
        return df

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self._read_raw(spark, table).drop("gpart")

    def read_parts(self, spark: SparkSession, table: str,
                   parts: list[int]) -> DataFrame:
        """Partition-pruned read: only the ``gpart`` dirs in ``parts``
        are scanned."""
        return (self._read_raw(spark, table)
                .where(F.col("gpart").isin(parts)).drop("gpart"))

    def overwrite_parts(self, table: str, out: DataFrame,
                        parts: list[int]) -> int:
        """Replace exactly the given partitions with ``out``'s rows
        (dynamic partition overwrite); partitions that end up empty are
        removed explicitly — dynamic overwrite only touches partitions
        present in the new data, so an emptied one would otherwise keep
        serving its old files. Returns the rows written."""
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
                self.gpart(F.col("group_id")).alias("gpart")).count().collect()
            n = int(sum(r["count"] for r in per_part))
            present = {r["gpart"] for r in per_part}
            if present:
                self._save(table, out, "overwrite", dynamic=True)
            for p in set(parts) - present:
                stale = os.path.join(self.path(table), f"gpart={p}")
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
            if not present:
                self._keep_readable(table, out)
        finally:
            out.unpersist()
        return n

    def splice_groups(self, spark: SparkSession, table: str,
                      rebuilt: DataFrame, group_ids: list[str],
                      parts: list[int] | None = None) -> int:
        """Replace the given groups' rows with ``rebuilt``, touching only
        their ``gpart`` partitions — the Iceberg
        ``overwritePartitions`` emulation the incremental path runs per
        micro-batch. IO is O(affected partitions): unaffected partition
        files are never read or rewritten (tested via mtime in
        test_checkpoint_streaming). Returns rows written to the affected
        partitions. ``parts`` short-circuits the gpart lookup when the
        caller already collected it (micro-batch ingest splices 6+
        tables for the same groups — one tiny lookup job each adds up)."""
        if parts is None:
            parts = self.parts_of(group_ids)
        if not self.exists(table):
            return self.overwrite_parts(table, rebuilt, parts)
        kept = self.in_groups(self.read_parts(spark, table, parts), group_ids,
                              keep=False)
        out = kept.unionByName(rebuilt, allowMissingColumns=True)
        return self.overwrite_parts(table, out, parts)

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
            tmp = os.path.join(path, f".compact-tmp-gpart={p}")
            _write_dir(spark.read.parquet(d).coalesce(n_target), tmp)
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

    # ---------------------------------------------------------- S12 delete
    def delete_rows(self, spark: SparkSession, table: str,
                    parts: list[int], cond: Column) -> int:
        """Delete the rows matching ``cond`` from the partitions ``parts``
        (rows outside those partitions are never read). Returns the rows
        kept in the rewritten partitions."""
        if not self.exists(table):
            return 0
        kept = self.read_parts(spark, table, parts).where(~cond)
        return self.overwrite_parts(table, kept, parts)

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
        # each rewrite is scoped to the episode's own gpart partition
        parts = self.parts_of([group_id])
        for t, key in (("raw_episodes", "uuid"), ("ext_nodes", "episode_uuid"),
                       ("ext_edges", "episode_uuid")):
            self.delete_rows(spark, t, parts, F.col(key) == episode_uuid)
        return group_id

    def remove_episode(self, spark: SparkSession,
                       episode_uuid: str) -> str | None:
        """Cascading delete (reference graphiti.py:776-805): drop the
        episode, its mentions, edges only it supports, and orphan nodes.
        The cascade never crosses group_id (node/edge uuids are
        group-scoped), so the whole rewrite is scoped to the episode's
        gpart partition. Returns the episode's group_id when it could be
        determined (for index refresh)."""
        tables = ("episodes", "mentions", "edges", "nodes")
        hit = self.read(spark, "episodes").where(
            F.col("uuid") == episode_uuid).select("group_id").take(1)
        if not hit:
            return None
        group_id: str = hit[0]["group_id"]
        parts = self.parts_of([group_id])
        # the read mentions cover every group in the touched partitions,
        # so hash-collision co-tenant nodes keep their support rows
        kept = cascade_remove(
            {t: self.read_parts(spark, t, parts) for t in tables}, [episode_uuid])
        # materialize EVERY frame before overwriting ANY table — nodes'
        # lineage reads the mentions files the loop would have replaced
        frames = [(name, kept[name].localCheckpoint()) for name in tables]
        for name, df in frames:
            self.overwrite_parts(name, df, parts)
        return group_id


def _write_dir(df: DataFrame, d: str) -> None:
    """Write ``df`` as the parquet files of one partition dir, without
    the ``_SUCCESS`` marker, so the dir holds data files only like a
    dynamic-overwrite partition dir."""
    df.write.mode("overwrite").option("compression", "zstd").parquet(d)
    marker = os.path.join(d, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)


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
