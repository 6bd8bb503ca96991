"""Per-partition checkpoint / lineage / resume for the KG-construction
pipeline (north rule: "resumable from per-partition checkpoints carrying
lineage and extraction metrics").

The corpus is split into ``n_parts`` **group-aligned** partitions: the
store's own ``gpart = pmod(xxhash64(group_id), n_parts)``. Every
downstream stage — D1/D2 dedup, D7 pointer rewrite, T2 invalidation —
partitions by ``group_id`` (reference: "partition of the graph",
nodes.py:96), so each checkpoint partition is semantically
self-contained: processing parts in any order, or re-processing one
after a crash, yields byte-identical tables to a single-shot run. Each
part is one partition-overwrite commit per table
(``GraphStore.overwrite_parts`` of ``<table>/gpart=<k>``, Iceberg
``overwritePartitions``; idempotent), so the finished build is an
ordinary GraphStore with ``n_gparts=n_parts``.

Lineage model (the ``checkpoints`` table, one row per part per run):
    run_id, part, status, input_fingerprint (order-insensitive xxhash64
    aggregate over urls — detects input drift between resume attempts),
    n_pages/n_episodes/n_mention_rows/n_triple_rows/n_nodes/n_edges
    (per-stage extraction metrics), wall_s, started_at, finished_at.

Resume = anti-join: parts whose latest checkpoint row has
``status='done'`` AND a matching input fingerprint are skipped. The
lineage table has no ``group_id``, so it is a plain parquet append.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.functions.text import url_group_id
from kgspark.pipeline import build_graph
from kgspark.sources.store import GRAPH_TABLES, GraphStore

CKPT_TABLE = "checkpoints"


def input_fingerprint(pages_part: DataFrame) -> tuple[int, int]:
    """(n_pages, order-insensitive url-set hash) for drift detection."""
    row = pages_part.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(url))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


class CheckpointedPipeline:
    """Driver for resumable partition-at-a-time graph construction."""

    def __init__(self, spark: SparkSession, root: str, n_parts: int = 8):
        self.spark = spark
        self.root = root
        self.n_parts = n_parts
        self.store = GraphStore(root, n_gparts=n_parts)

    # ---------------------------------------------------------- bookkeeping
    def _ckpt_path(self) -> str:
        return os.path.join(self.root, CKPT_TABLE)

    def read_checkpoints(self) -> DataFrame | None:
        p = self._ckpt_path()
        if not os.path.isdir(p) or not any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            return None
        return self.spark.read.parquet(p)

    def completed_parts(self, run_id: str) -> dict[int, int]:
        """part -> input hash of the latest 'done' row for this run."""
        ck = self.read_checkpoints()
        if ck is None:
            return {}
        latest = (
            ck.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .groupBy("part")
            .agg(F.max_by("input_hash", "finished_at").alias("input_hash"))
        )
        return {int(r["part"]): int(r["input_hash"]) for r in latest.collect()}

    def _log_checkpoint(self, row: dict) -> None:
        df = self.spark.createDataFrame(
            [row],
            schema=(
                "run_id string, part int, status string, input_hash long, "
                "n_pages long, n_episodes long, n_mention_rows long, "
                "n_triple_rows long, n_nodes long, n_edges long, "
                "wall_s double, started_at timestamp, finished_at timestamp"
            ),
        )
        df.coalesce(1).write.mode("append").parquet(self._ckpt_path())

    # ---------------------------------------------------------- execution
    def run(
        self,
        pages: DataFrame,
        now: datetime | None = None,
        run_id: str = "run-0",
        fail_on_part: int | None = None,
    ) -> dict:
        """Process every partition not already checkpointed. Returns run
        metrics. ``fail_on_part`` injects a crash (for resume tests)."""
        staged = pages.withColumn(
            "_part", self.store.gpart(url_group_id(F.col("url")))).persist()
        done = self.completed_parts(run_id)
        metrics: dict = {"run_id": run_id, "parts": {}, "skipped": [], "n_parts": self.n_parts}

        for part in range(self.n_parts):
            pages_part = staged.where(F.col("_part") == part).drop("_part")
            n_pages, in_hash = input_fingerprint(pages_part)
            if part in done and done[part] == in_hash:
                metrics["skipped"].append(part)
                continue
            if fail_on_part is not None and part == fail_on_part:
                staged.unpersist()
                raise RuntimeError(f"injected failure at part {part}")
            started = datetime.now(timezone.utc)
            t0 = time.perf_counter()
            if n_pages == 0:
                # a part that drifted to zero pages must not keep serving
                # the rows a previous run wrote for it
                g = {t: self.store.read(self.spark, t).limit(0)
                     for t in GRAPH_TABLES if self.store.exists(t)}
            else:
                g = build_graph(pages_part, now=now)
            # extraction-stage metrics from the committed graph tables
            counts = {t: self.store.overwrite_parts(t, g[t], [part]) if t in g else 0
                      for t in GRAPH_TABLES}
            wall = time.perf_counter() - t0
            row = {
                "run_id": run_id,
                "part": part,
                "status": "done",
                "input_hash": in_hash,
                "n_pages": n_pages,
                "n_episodes": counts["episodes"],
                "n_mention_rows": counts["mentions"],
                "n_triple_rows": counts["edges"],
                "n_nodes": counts["nodes"],
                "n_edges": counts["edges"],
                "wall_s": round(wall, 3),
                "started_at": started,
                "finished_at": datetime.now(timezone.utc),
            }
            self._log_checkpoint(row)
            metrics["parts"][part] = row
        staged.unpersist()
        return metrics

    # ---------------------------------------------------------- readback
    def table(self, name: str) -> DataFrame:
        """Read a graph table across all completed parts."""
        return self.store.read(self.spark, name)

    def lineage(self, run_id: str | None = None) -> DataFrame:
        ck = self.read_checkpoints()
        if ck is None:
            raise FileNotFoundError("no checkpoints written yet")
        return ck.where(F.col("run_id") == run_id) if run_id else ck
