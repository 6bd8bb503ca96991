"""End-to-end KG construction pipeline — the Spark restatement of
``Graphiti.add_episode_bulk`` (reference graphiti.py:487-598) **plus**
the T2 invalidation pass the bulk path skips (graphiti.py:520-522), so
batch output matches single-episode `add_episode` semantics
(SURVEY §3.1-3.2).

One lineage: pages → episodes → extract (one pandas-UDF pass) →
entity aggregation (1 shuffle) → alias dedup (LSH-keyed equi-joins +
tiny CC fixpoint) → edge pointer rewrite (broadcast) → edge dedup
(1 shuffle) → window invalidation (3 keyed window passes) → graph
tables.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgspark.functions.embed import embedder_udf
from kgspark.operators.attributes import extract_attributes
from kgspark.operators.dedup import (
    alias_pairs,
    apply_uuid_map_nodes,
    build_uuid_map,
    dedupe_edges,
    resolve_edge_pointers,
)
from kgspark.operators.extract import (
    build_entity_nodes,
    pages_to_episodes,
    run_extraction,
    sha1_uuid,
)
from kgspark.operators.temporal import invalidate_edges

# Default salt for the edge-dedup hot-key path (north rule "salted joins
# for hot entities"): a web corpus repeats celebrity facts across
# millions of pages, landing one (src, dst, pred) key on a single
# reduce task that map-side combine cannot relieve for collect_list.
# The salted two-phase aggregate is output-identical (test_skew) and
# costs one extra shuffle of per-salt partials — negligible on uniform
# data, 1.3×+ faster on hot-key corpora (tools/skew_bench.py →
# BENCH_SKEW.json) and unboundedly better as the hot key grows.
# edge_salt=None disables.
EDGE_SALT = 16


def build_graph(
    pages: DataFrame,
    embed_dim: int = 64,
    now: datetime | None = None,
    dedup: bool = True,
    entity_types: dict | None = None,
    edge_salt: int | None = EDGE_SALT,
    homonym_split: float | None = None,
    ctx_embedder=None,
) -> dict[str, DataFrame]:
    """pages(url, warc_ts, html, text, lang) → graph tables
    {episodes, nodes, edges, mentions}. ``entity_types`` controls E4
    attribute hydration: None (default) SKIPS it — parity with the
    reference's bulk path, which never calls extract_attributes_from_
    nodes (add_episode_bulk, graphiti.py:487-598; hydration is the
    point-update path's stage, graphiti.py:411). Pass
    attributes.DEFAULT_ENTITY_TYPES for the full typed fill or {} for
    fact-derived summaries only. KGSpark's ingest always hydrates
    (add_episode parity)."""
    episodes, ext_nodes, ext_edges = run_extraction(pages_to_episodes(pages))[:3]
    return assemble_graph(episodes, ext_nodes, ext_edges, embed_dim, now, dedup,
                          entity_types, edge_salt, homonym_split, ctx_embedder)


def assemble_graph(
    episodes: DataFrame,
    ext_nodes: DataFrame,
    ext_edges: DataFrame,
    embed_dim: int = 64,
    now: datetime | None = None,
    dedup: bool = True,
    entity_types: dict | None = None,
    edge_salt: int | None = EDGE_SALT,
    homonym_split: float | None = None,
    ctx_embedder=None,
) -> dict[str, DataFrame]:
    """Extraction outputs → graph tables. Split from ``build_graph`` so
    incremental ingest (kgspark.streaming) can re-assemble affected
    group partitions from stored per-episode extraction rows without
    re-running the extraction UDF.

    ``homonym_split`` (default None = off) opts into mention-context
    homonym splitting before node aggregation (operators/disambig.py —
    the deterministic stand-in for the reference's LLM duplicate judge,
    node_operations.py:271-380). Only meaningful with a SEMANTIC
    ``ctx_embedder``; the default hash embedder carries no signal, so
    leave it off unless a real encoder is plugged in."""
    if homonym_split is not None:
        from kgspark.operators.disambig import apply_split, split_homonyms

        smap = split_homonyms(ext_nodes, episodes, threshold=homonym_split,
                              embedder=ctx_embedder, embed_dim=embed_dim)
        ext_nodes, ext_edges = apply_split(ext_nodes, ext_edges, smap)
    # Eagerly materialized: nodes0 fans out to 4+ consumers (alias pairs,
    # the uuid-map created_at lookup, node-merge, E4) and several of them
    # issue driver-side actions (take/collect) — with a lazy persist the
    # first such action raced cache population and re-derived the whole
    # extraction→aggregate lineage (measured 113 core-s for a 3k-row
    # lookup). localCheckpoint also truncates the plan AQE has to
    # re-optimize per consumer. Trade-off: checkpoint blocks are
    # unreplicated executor storage, so lineage CANNOT recompute them
    # after executor loss — on preemptible/spot clusters prefer
    # persist(MEMORY_AND_DISK) or reliable checkpointing for this
    # subtree.
    nodes0 = build_entity_nodes(ext_nodes, embed_dim).localCheckpoint(eager=True)
    if dedup:
        pairs = alias_pairs(nodes0)
        uuid_map = build_uuid_map(nodes0, pairs).persist()
        nodes = apply_uuid_map_nodes(nodes0, uuid_map)
        edges_resolved = resolve_edge_pointers(ext_edges, uuid_map)
    else:
        uuid_map = None
        nodes = nodes0
        edges_resolved = ext_edges

    # persisted because invalidate_edges' slim path consumes it TWICE
    # (slim window side + wide join-back side) — without the cache the
    # whole resolve+dedupe subtree is evaluated once per side. The
    # count() materializes the cache (the first consumer paid that
    # anyway) and feeds the T2 size gate: below the slim threshold the
    # projection+join-back costs more than it saves.
    edges_deduped = dedupe_edges(edges_resolved, n_salt=edge_salt).persist()
    n_deduped = edges_deduped.count()
    edges_temporal = invalidate_edges(edges_deduped, now,
                                      n_edges=n_deduped).persist()

    # E4: typed attributes + fact-derived summaries from the node's own
    # (canonical, invalidation-aware) edges — one extra shuffle; skipped
    # when entity_types is None (bulk parity — see build_graph docstring)
    if entity_types is not None:
        nodes = extract_attributes(nodes, edges_temporal, entity_types)

    embed = embedder_udf(embed_dim)
    # Explicit data-sized repartition before the embedding UDF: AQE sizes
    # shuffle partitions by BYTES, which systematically under-parallelizes
    # Python-UDF stages (per-row CPU is invisible to byte sizing — at
    # sf0.1 the post-dedup edge set coalesces to 1 partition and the
    # embed stage ran serial, measured 5.3s for 33k rows on a 32-core
    # box). A production embedder (a real model) is even more CPU-heavy,
    # so right-sizing partitions for the embed stage is exactly what a
    # cluster pipeline does before its GPU/CPU batch step. User-specified
    # repartition(N) is exempt from AQE coalescing.
    n_embed_parts = int(edges_temporal.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    edges = (
        edges_temporal.repartition(n_embed_parts)
        .withColumn("fact_embedding", embed(F.col("fact")))
        .withColumn("name", F.col("pred"))
        .withColumn(
            "attributes",
            F.create_map(F.lit("n_episodes"), F.size("episodes").cast("string")),
        )
        .select(
            "uuid", "source_node_uuid", "target_node_uuid", "name", "fact",
            "fact_embedding", "group_id", "episodes", "created_at", "expired_at",
            "valid_at", "invalid_at", "attributes",
        )
    )

    # MENTIONS (S5/edge_operations.py:45-62): distinct (episode, canonical entity)
    mentions = ext_nodes.select(
        "episode_uuid",
        F.col("uuid").alias("entity_uuid"),
        "group_id",
        F.col("warc_ts").alias("created_at"),
    )
    if uuid_map is not None:
        mentions = (
            mentions.join(F.broadcast(uuid_map), mentions.entity_uuid == uuid_map.uuid, "left")
            .withColumn("entity_uuid", F.coalesce("canonical_uuid", "entity_uuid"))
            .drop("uuid", "canonical_uuid")
        )
    mentions = (
        mentions.groupBy("episode_uuid", "entity_uuid", "group_id")
        .agg(F.min("created_at").alias("created_at"))
        .withColumn("uuid", sha1_uuid(F.lit("mention"), F.col("episode_uuid"), F.col("entity_uuid")))
        .select("uuid", "episode_uuid", "entity_uuid", "group_id", "created_at")
    )

    # backfill episode.entity_edges (graphiti.py:421)
    ep_edges = (
        edges.select(F.col("uuid").alias("edge_uuid"), F.explode("episodes").alias("episode_uuid"))
        .groupBy("episode_uuid")
        .agg(F.array_sort(F.collect_set("edge_uuid")).alias("entity_edges"))
    )
    episodes = (
        episodes.drop("entity_edges")
        .join(ep_edges, episodes.uuid == ep_edges.episode_uuid, "left")
        .drop("episode_uuid")
        .withColumn("entity_edges", F.coalesce("entity_edges", F.array().cast("array<string>")))
        .select(
            "uuid", "name", "group_id", "source", "source_description", "content",
            "valid_at", "created_at", "entity_edges", "summary_text", "url",
            "warc_ts", "lang",
        )
    )

    nodes_out = nodes.drop("norm_name")
    return {"episodes": episodes, "nodes": nodes_out, "edges": edges, "mentions": mentions}
