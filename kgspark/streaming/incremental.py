"""Incremental ingest — the Spark restatement of the reference's
`add_episode` point-update path (graphiti.py:267-484) as a micro-batch
job (SURVEY §2.7 "Streaming": the reference has no stream engine, just
an external queue feeding add_episode one at a time;
server/graph_service/routers/ingest.py:17-52).

Design (materialized-incremental-view pattern):

- Per-episode extraction results are **append-only side tables**
  (``ext_nodes``/``ext_edges``) — extraction is deterministic per
  episode, so it runs exactly once per new page (the expensive pandas-UDF
  stage is never repeated).
- The graph tables (``nodes``/``edges``/``mentions`` + episode
  entity_edges backfill) are a deterministic aggregation of those side
  tables, partitioned by ``group_id``. A new batch only perturbs the
  groups it touches, so we re-assemble **affected groups only** from the
  stored extraction rows and splice them over the previous table state.

This gives exact convergence: after any sequence of batches, every table
is byte-identical to a one-shot ``build_graph`` over the union of all
pages (tested in tests/test_checkpoint_streaming.py) — i.e. the
incremental path has full `add_episode` semantics including D5
resolution against the existing graph (dedup within re-assembled group)
and T2 re-invalidation, which the reference's own bulk path skips
(graphiti.py:520-522).

At cluster scale: affected-group splice = Iceberg
``overwritePartitions`` on the group-hash partition
(`GraphStore.splice_groups`) — per-batch IO is O(affected
partitions), never O(corpus): side-table scans, the idempotence
anti-join, and the graph-table rewrite are all pruned to the batch's
``gpart=`` partitions (unaffected partition files are neither read
nor rewritten; asserted via file mtimes in
tests/test_checkpoint_streaming.py).
"""

from __future__ import annotations

from contextlib import contextmanager
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.operators.extract import pages_to_episodes, run_extraction
from kgspark.pipeline import assemble_graph
from kgspark.sources.store import GRAPH_TABLES, GraphStore

# Batches at or below this many episodes take the low-latency path:
# AQE off for the duration of the splice/reassembly. At point-update
# size every adaptive query-stage materialization is its own driver job
# (~60 ms serial each, BASELINE fact 24) and AQE's skew/coalesce
# decisions have nothing to optimize — measured 101 → ~2.5× fewer jobs
# per add_episode with identical results. Bulk batches keep AQE: skew
# joins and partition coalescing matter there.
POINT_UPDATE_MAX_EPISODES = 64


@contextmanager
def _point_update_confs(spark: SparkSession):
    """Temporarily disable AQE (results are plan-invariant; only job
    count changes). Restored even on error — the session is shared."""
    conf = spark.conf
    old = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old)


def ingest_pages(
    spark: SparkSession,
    store: GraphStore,
    pages: DataFrame,
    now: datetime | None = None,
    embed_dim: int = 64,
    entity_types: dict | None = None,
) -> dict:
    """One micro-batch: extract new pages once, append extraction side
    tables, re-assemble affected groups, splice graph tables. Returns
    the rows written per table, ``new_episodes`` and ``group_ids`` (the
    groups the batch touched)."""
    ext = run_extraction(pages_to_episodes(pages))
    episodes, ext_nodes, ext_edges = ext.episodes, ext.ext_nodes, ext.ext_edges

    # touched groups + gpart partitions, collected ONCE (one job) off the
    # shared extraction cache and reused by the idempotence scan, the
    # reassembly and every splice. Tiny by construction — the group set
    # is the batch's blast radius.
    pairs = episodes.select(
        "group_id", store.gpart(F.col("group_id")).alias("gpart")
    ).distinct().collect()
    group_ids = sorted({r["group_id"] for r in pairs})
    parts = sorted({r["gpart"] for r in pairs})

    # idempotence / exactly-once per url: drop episodes already ingested
    # (stream restarts can redeliver a batch). A redelivered episode has
    # the same group_id, so scanning only the batch's gpart partitions
    # sees every possible duplicate — O(touched partitions), not O(corpus).
    if store.exists("raw_episodes"):
        seen = store.read_parts(spark, "raw_episodes", parts).select("uuid")
        episodes = episodes.join(seen, "uuid", "left_anti")
    # localCheckpoint severs lineage BEFORE we append to raw_episodes —
    # otherwise the anti-join above re-reads the table we just appended
    # this very batch to and filters everything out. eager=False: the
    # n_new count below is the materializing action (one job instead of
    # checkpoint-job + count-job), and it also populates
    # run_extraction's shared persist, so the two ext appends read the
    # cache directly — appending them without their own checkpoints
    # saves 2 more driver jobs per batch (jobs are wall time at
    # point-update sizes, BASELINE fact 24).
    episodes = episodes.localCheckpoint(eager=False)
    new_uuids = episodes.select(F.col("uuid").alias("episode_uuid"))
    ext_nodes = ext_nodes.join(F.broadcast(new_uuids), "episode_uuid", "left_semi")
    ext_edges = ext_edges.join(F.broadcast(new_uuids), "episode_uuid", "left_semi")

    n_new = episodes.count()
    if n_new == 0:
        ext.cached.unpersist()
        return {"new_episodes": 0, "group_ids": group_ids}

    from contextlib import nullcontext

    fast = (_point_update_confs(spark) if n_new <= POINT_UPDATE_MAX_EPISODES
            else nullcontext())
    with fast:
        store.append_grouped("raw_episodes", episodes)
        store.append_grouped("ext_nodes", ext_nodes)
        store.append_grouped("ext_edges", ext_edges)
        # side tables are on disk now; reassembly reads them back, so the
        # extraction cache is dead weight from here (and a long-running
        # stream must not accumulate one dead cache per micro-batch)
        ext.cached.unpersist()

        # group_ids was collected before the idempotence anti-join, so a
        # redelivered-only group may get one redundant (idempotent)
        # rebuild after a stream restart — harmless, and it saves the
        # second distinct-groups job on every normal batch
        counts = {"new_episodes": n_new, "group_ids": group_ids}
        counts.update(reassemble_groups(
            spark, store, group_ids, now, embed_dim, entity_types,
            parts=parts))
    return counts


def reassemble_groups(
    spark: SparkSession,
    store: GraphStore,
    group_ids: list[str],
    now: datetime | None = None,
    embed_dim: int = 64,
    entity_types: dict | None = None,
    parts: list[int] | None = None,
) -> dict[str, int]:
    """Rebuild the graph tables for the given group_ids from the stored
    per-episode extraction side tables and splice them over the previous
    state (no re-extraction — summary_text persisted with raw_episodes).
    Shared by batch ingest, add_triplet and remove_episode."""
    if parts is None:
        parts = store.parts_of(group_ids)
    # gpart prune cuts the scan to the touched partitions; the group
    # filter then drops hash-collision co-tenants of those partitions.
    all_eps, all_nodes, all_edges = (
        store.in_groups(store.read_parts(spark, t, parts), group_ids)
        for t in ("raw_episodes", "ext_nodes", "ext_edges"))
    g = assemble_graph(all_eps, all_nodes, all_edges, embed_dim, now,
                       entity_types=entity_types)
    # Per-table lazy localCheckpoint + a thread pool over the 4
    # independent table splices (plus the postings refresh as a 5th
    # task, below). Two separate wins, both aimed at the point-update wall
    # floor (BASELINE fact 24: after the 101→39 job cut, ~7.8 s/episode
    # was DRIVER-side — Catalyst re-analysis of the deep assemble_graph
    # lineage on every one of the ~10 splice actions, plus py4j turns):
    # (a) the checkpoint truncates each table's plan to a leaf scan, so
    #     the splice's 2 actions (count+present-parts, write) re-plan a
    #     one-node tree instead of the full extract→dedup→invalidate
    #     lineage — the shared expensive subtrees (nodes0, edges_deduped)
    #     are already materialized eagerly inside assemble_graph, so the
    #     checkpoint itself mostly reads cache;
    # (b) the tables are disjoint outputs, so their checkpoint+splice
    #     chains run concurrently — Catalyst planning happens JVM-side
    #     (py4j releases the GIL on the socket), overlapping the serial
    #     driver time that dominates at point-update sizes. Safe because
    #     partitionOverwriteMode is a per-write OPTION (not session
    #     conf) and each thread touches only its own table's files.
    # On a real cluster the same shape holds: 4 concurrent Iceberg
    # overwritePartitions commits on 4 different tables.
    # eager=False: the plan is truncated to a LogicalRDD at call time
    # (one deep Catalyst pass, inside the worker thread) but NO
    # materialization job is submitted — the splice's fused
    # count+present-parts action computes the checkpoint RDD and
    # populates its cache in the same job, keeping the 39-job budget.
    # The localCheckpoint CALL itself moved into the pool threads
    # (round 5): the four deep Catalyst passes ran serially on the main
    # thread (~1 s/episode measured by cProfile); JVM-side analysis
    # releases the GIL, so per-thread checkpointing overlaps them. The
    # postings task needs the three frames it consumes checkpointed
    # before it plans against them — events gate that handoff without
    # serializing the graph-table splices behind each other.
    import threading

    ckpt: dict[str, DataFrame] = {}
    ckpt_ready = {t: threading.Event() for t in GRAPH_TABLES}

    def _splice(t: str) -> tuple[str, int]:
        try:
            ckpt[t] = g[t].localCheckpoint(eager=False)
        finally:
            # always release waiters — a checkpoint error must surface as
            # the postings task's KeyError, never as a deadlocked pool
            ckpt_ready[t].set()
        return t, store.splice_groups(spark, t, ckpt[t], group_ids,
                                      parts=parts)

    # keep the materialized fulltext index current (the reference's
    # Lucene indexes update on every save) — same splice machinery, so
    # per-batch index IO is also O(touched partitions). It rebuilds the
    # touched groups' postings from the rebuilt frames handed to it
    # in-memory (not from the spliced files — identical rows), so it has
    # no dependency on the graph-table splices and runs as a 5th
    # concurrent task against its own disjoint tables.
    from kgspark.search.fulltext import refresh_postings_groups

    def _postings() -> tuple[str, int]:
        for t in ("episodes", "nodes", "edges"):
            ckpt_ready[t].wait()
        return "postings", refresh_postings_groups(
            spark, store, group_ids, parts=parts,
            graph_frames={t: ckpt[t] for t in ("episodes", "nodes", "edges")})

    from concurrent.futures import ThreadPoolExecutor

    tasks = [lambda t=t: _splice(t) for t in GRAPH_TABLES] + [_postings]
    with ThreadPoolExecutor(max_workers=len(tasks)) as ex:
        counts = dict(f.result() for f in [ex.submit(fn) for fn in tasks])
    return counts
