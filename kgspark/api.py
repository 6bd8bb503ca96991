"""KGSpark — the user-facing facade, mirroring the reference's
``Graphiti`` class surface (graphiti_core/graphiti.py) over the Spark
engine. A user of the reference maps 1:1:

| reference (graphiti.py)            | here                         |
|------------------------------------|------------------------------|
| Graphiti(uri, user, password)      | KGSpark(spark, store_root)   |
| add_episode(...) :267-484          | add_episode(...)             |
| add_episode_bulk(...) :487-598     | add_episode_bulk(...)        |
| add_triplet(...) :736-774          | add_triplet(...)             |
| search(...) :624-681               | search(...)                  |
| search_(...) :697-721              | search_(...)                 |
| retrieve_episodes(...) :222-264    | retrieve_episodes(...)       |
| get_nodes_and_edges_by_episode     | get_nodes_and_edges_by_episode |
| build_communities(...) :600-622    | build_communities()          |
| remove_episode(...) :776-805       | remove_episode(...)          |
| build_indices_and_constraints      | (not needed — see SURVEY S11)|

Ingest goes through the incremental engine (kgspark.streaming), so every
call converges to the same tables a one-shot batch build would produce —
including T2 invalidation, which the reference's own bulk path skips.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.functions.text import norm_name as _norm_name_col
from kgspark.operators.community import build_communities as _build_communities
from kgspark.operators.community import remove_communities as _remove_communities
from kgspark.schemas import PAGES
from kgspark.search.filters import SearchFilters
from kgspark.search.fulltext import (
    PostingsIndex,
    build_index,
    read_index,
    refresh_postings_groups,
)
from kgspark.search.recipes import (
    EDGE_HYBRID_SEARCH_NODE_DISTANCE,
    EDGE_HYBRID_SEARCH_RRF,
)
from kgspark.search.search import SearchResults
from kgspark.search.search import get_nodes_and_edges_by_episode as _by_episode
from kgspark.search.search import search as _search
from kgspark.sources.store import GRAPH_TABLES, INGEST_TABLES, GraphStore
from kgspark.streaming.incremental import ingest_pages, reassemble_groups


class KGSpark:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        embed_dim: int = 64,
        entity_types: dict | None = None,
    ):
        """``entity_types``: custom entity-type registry (E4) — validated
        up front like the reference's add_episode does
        (entity_types_utils.py:23-37). None → the default deterministic
        ontology; {} → summaries only. The facade's ingest ALWAYS
        hydrates attributes (reference add_episode parity,
        graphiti.py:411); only the raw bulk build_graph skips it."""
        from kgspark.operators.attributes import (
            DEFAULT_ENTITY_TYPES,
            validate_entity_types,
        )

        validate_entity_types(entity_types)
        self.spark = spark
        self.store = GraphStore(store_root)
        self.embed_dim = embed_dim
        self.entity_types = (DEFAULT_ENTITY_TYPES if entity_types is None
                             else entity_types)
        self._postings: PostingsIndex | None = None

    def _invalidate_postings(self) -> None:
        """Drop the cached index AND unpersist it — a long-running stream
        calling ingest per micro-batch must not accumulate dead cached
        frames in the CacheManager."""
        if self._postings is not None:
            self._postings.unpersist()
            self._postings = None

    # ------------------------------------------------------------ ingest
    def add_pages(
        self,
        pages: DataFrame,
        now: datetime | None = None,
        update_communities: bool = False,
    ) -> dict:
        """Bulk ingest of Common-Crawl-style pages (the input_hint shape);
        incremental — only new urls are extracted, affected groups
        re-assembled. ``update_communities=True`` mirrors reference
        add_episode(update_communities=True) (graphiti.py:464-471):
        nodes touched by this batch are assigned to the plurality
        community of their neighbors and affected community summaries
        refresh — without a full build_communities()."""
        will_update = update_communities and self.store.exists("communities")
        if will_update:
            # only this path consumes the batch twice (ingest + touched-set
            # derivation); the common point-update path skips the extra
            # eager materialization job
            pages = pages.localCheckpoint()
        counts = ingest_pages(self.spark, self.store, pages, now=now,
                              embed_dim=self.embed_dim,
                              entity_types=self.entity_types)
        if will_update:
            self._update_communities_for_batch(pages, now)
            # ingest refreshed postings BEFORE the community update wrote
            # its new summaries — re-splice the batch's groups so the
            # community-kind postings reflect the updated communities
            self._refresh_postings_if_maintained(counts["group_ids"])
        self._invalidate_postings()
        return counts

    def _update_communities_for_batch(self, pages: DataFrame,
                                      now: datetime | None) -> None:
        """C4 for every node the batch's episodes mention — episode uuids
        are content-addressed (sha1 of url), so the touched set is
        derivable from the input pages without extra bookkeeping."""
        from kgspark.operators.community import update_communities

        ep_uuids = pages.select(
            F.sha1(F.concat_ws(":", F.lit("episode"), F.col("url")))
            .alias("episode_uuid"))
        g = self.graph()
        touched = (
            g["mentions"].join(F.broadcast(ep_uuids), "episode_uuid", "left_semi")
            .select(F.col("entity_uuid").alias("uuid")).distinct()
        )
        communities, members = update_communities(
            g["nodes"], g["edges"], g["communities"], g["community_members"],
            touched, now, self.embed_dim)
        communities = communities.localCheckpoint()
        members = members.localCheckpoint()
        self.store.write("communities", communities)
        self.store.write("community_members", members)

    def add_episode(
        self,
        name: str,
        episode_body: str,
        source_description: str = "",
        reference_time: datetime | None = None,
        group_id: str = "default",
        now: datetime | None = None,
        update_communities: bool = False,
    ) -> dict:
        """Point update (reference add_episode): one episode wrapped as a
        one-row pages batch. url scheme https://<group_id>/<name> keeps
        the group derivation identical to the page path."""
        ts = reference_time or datetime.utcnow()
        row = pd.DataFrame([{
            "url": f"https://{group_id}/{name}",
            "warc_ts": ts, "html": None, "text": episode_body, "lang": "en",
        }])
        return self.add_pages(self.spark.createDataFrame(row, PAGES), now=now,
                              update_communities=update_communities)

    def add_episode_bulk(
        self, episodes: list[dict], group_id: str = "default",
        now: datetime | None = None,
    ) -> dict:
        """Bulk episodes (reference RawEpisode list, bulk_utils.py:67-72):
        dicts with name, content, reference_time[, source_description]."""
        rows = pd.DataFrame([{
            "url": f"https://{group_id}/{e['name']}",
            "warc_ts": e.get("reference_time") or datetime.utcnow(),
            "html": None, "text": e["content"], "lang": e.get("lang", "en"),
        } for e in episodes])
        return self.add_pages(self.spark.createDataFrame(rows, PAGES), now=now)

    def add_triplet(
        self,
        subj_name: str,
        pred: str,
        obj_name: str,
        fact: str | None = None,
        group_id: str = "default",
        valid_at: datetime | None = None,
        now: datetime | None = None,
    ) -> dict:
        """Manual fact insert (reference graphiti.py:736-774): append
        extraction-shaped rows for a synthetic episode, then re-assemble
        the group — the triplet flows through the same dedup/invalidation
        machinery as extracted facts."""
        ts = valid_at or datetime.utcnow()
        fact = fact or f"{subj_name} {pred.lower().replace('_', ' ')} {obj_name}"
        import hashlib

        key = f"{subj_name}|{pred}|{obj_name}|{ts.isoformat()}"
        ep_name = "triplet-" + hashlib.sha1(key.encode()).hexdigest()[:10]
        url = f"https://{group_id}/{ep_name}"

        ep = self.spark.createDataFrame(pd.DataFrame([{
            "url": url, "warc_ts": ts, "lang": "en",
            "content": fact, "group_id": group_id,
        }]), "url string, warc_ts timestamp, lang string, content string, group_id string") \
            .withColumn("uuid", F.sha1(F.concat_ws(":", F.lit("episode"), F.col("url")))) \
            .withColumn("source", F.lit("text")) \
            .withColumn("name", F.lit(ep_name)) \
            .withColumn("source_description", F.lit("manual triplet")) \
            .withColumn("valid_at", F.col("warc_ts")) \
            .withColumn("created_at", F.col("warc_ts")) \
            .withColumn("summary_text", F.col("content"))
        ep = ep.localCheckpoint()
        ep_uuid = ep.collect()[0]["uuid"]

        nodes = self.spark.createDataFrame(pd.DataFrame([
            {"episode_uuid": ep_uuid, "group_id": group_id, "warc_ts": ts,
             "name": n, "entity_type": "Entity"} for n in (subj_name, obj_name)
        ]), "episode_uuid string, group_id string, warc_ts timestamp, "
            "name string, entity_type string") \
            .withColumn("norm_name", _norm_name_col(F.col("name"))) \
            .withColumn("uuid", F.sha1(F.concat_ws(
                ":", F.lit("node"), F.col("group_id"), F.col("norm_name"))))

        edges = self.spark.createDataFrame(pd.DataFrame([{
            "episode_uuid": ep_uuid, "group_id": group_id, "warc_ts": ts,
            "idx": 0, "subj_name": subj_name, "pred": pred, "obj_name": obj_name,
            "fact": fact, "valid_at": valid_at, "invalid_at": None,
        }]), "episode_uuid string, group_id string, warc_ts timestamp, idx int, "
            "subj_name string, pred string, obj_name string, fact string, "
            "valid_at timestamp, invalid_at timestamp") \
            .withColumn("source_node_uuid", F.sha1(F.concat_ws(
                ":", F.lit("node"), F.col("group_id"), _norm_name_col(F.col("subj_name"))))) \
            .withColumn("target_node_uuid", F.sha1(F.concat_ws(
                ":", F.lit("node"), F.col("group_id"), _norm_name_col(F.col("obj_name"))))) \
            .withColumn("uuid", F.sha1(F.concat_ws(
                ":", F.lit("edge"), F.col("group_id"), F.col("source_node_uuid"),
                F.col("pred"), F.col("target_node_uuid"), F.col("episode_uuid"),
                F.col("idx").cast("string"))))

        self.store.append_grouped("raw_episodes", ep)
        self.store.append_grouped("ext_nodes", nodes)
        self.store.append_grouped("ext_edges", edges)
        counts = reassemble_groups(self.spark, self.store, [group_id], now=now,
                                   embed_dim=self.embed_dim,
                                   entity_types=self.entity_types)
        self._invalidate_postings()
        return counts

    # ------------------------------------------------------------ read state
    def graph(self) -> dict[str, DataFrame]:
        g = {t: self.store.read(self.spark, t) for t in GRAPH_TABLES
             if self.store.exists(t)}
        for t in ("communities", "community_members"):
            if self.store.exists(t):
                g[t] = self.store.read(self.spark, t)
        return g

    def postings(self) -> PostingsIndex:
        """The fulltext index (reference's Lucene analogue). Ingest paths
        maintain it incrementally as group-partitioned store tables
        (fulltext.refresh_postings_groups), so this is a table read —
        NOT an O(corpus) rebuild per graph state. The in-memory full
        build remains only as a fallback for stores without a
        maintained index (graph tables written around the facade)."""
        if self._postings is None:
            idx = read_index(self.spark, self.store)
            self._postings = (idx or build_index(self.graph())).persist()
        return self._postings

    # ------------------------------------------------------------ retrieval
    def search_(
        self,
        query: str,
        config=None,
        group_ids: list[str] | None = None,
        center_node_uuid: str | None = None,
        bfs_origin_uuids: list[str] | None = None,
        filters: SearchFilters | None = None,
    ) -> SearchResults:
        config = config or EDGE_HYBRID_SEARCH_RRF
        return _search(self.spark, self.graph(), self.postings(), query, config,
                       group_ids, center_node_uuid, bfs_origin_uuids, filters,
                       self.embed_dim)

    def search(
        self,
        query: str,
        center_node_uuid: str | None = None,
        group_ids: list[str] | None = None,
        num_results: int = 10,
    ) -> DataFrame:
        """Default edge search (reference graphiti.py:624-681): RRF
        recipe, or node-distance recipe when a center node is given.
        Hydrated like the reference's return (a list of full EntityEdge
        objects, not bare ids): the ranked (uuid, score) frame is joined
        back to the edges table. Both recipes used here order by
        (score desc, uuid) — RRF literally, node-distance via score =
        1/dist — so the re-sort after the join reproduces the ranking."""
        from dataclasses import replace

        cfg = (EDGE_HYBRID_SEARCH_NODE_DISTANCE if center_node_uuid
               else EDGE_HYBRID_SEARCH_RRF)
        cfg = replace(cfg, limit=num_results)
        ranked = self.search_(query, cfg, group_ids, center_node_uuid).edges
        if not self.store.exists("edges"):
            return ranked
        edges = self.store.read(self.spark, "edges")
        return (
            ranked.join(edges, "uuid", "left")
            .orderBy(F.desc("score"), "uuid")
        )

    def retrieve_episodes(
        self,
        reference_time: datetime,
        last_n: int = 3,
        group_ids: list[str] | None = None,
    ) -> DataFrame:
        """S9 (graph_data_operations.py:115-188): last-n episodes before
        the reference time, chronological."""
        eps = self.store.read(self.spark, "episodes")
        if group_ids:
            eps = eps.where(F.col("group_id").isin(group_ids))
        return (
            eps.where(F.col("valid_at") <= F.lit(reference_time))
            .orderBy(F.desc("valid_at"), F.desc("uuid"))
            .limit(last_n)
            .orderBy("valid_at", "uuid")
        )

    def get_nodes_and_edges_by_episode(self, episode_uuids: list[str]):
        return _by_episode(self.graph(), episode_uuids)

    # ------------------------------------------------------------ communities
    def build_communities(
        self, now: datetime | None = None,
        group_ids: list[str] | None = None,
    ) -> dict[str, int]:
        """Reference build_communities(group_ids) (graphiti.py:600-622):
        with group_ids, only those graph partitions are re-clustered and
        spliced over the previous community state; without, a full
        rebuild."""
        g = self.graph()
        communities, members = _build_communities(g["nodes"], g["edges"], now,
                                                  self.embed_dim, group_ids)
        if group_ids and self.store.exists("communities"):
            kept_c, kept_m = (
                self.store.in_groups(self.store.read(self.spark, t), group_ids,
                                     keep=False)
                for t in ("communities", "community_members"))
            communities = kept_c.unionByName(communities)
            members = kept_m.unionByName(members)
        communities = communities.localCheckpoint()
        members = members.localCheckpoint()
        self.store.write("communities", communities)
        self.store.write("community_members", members)
        # re-splice only the re-clustered groups' postings (full rebuild:
        # every group with nodes — the same O() as the rebuild itself)
        self._refresh_postings_if_maintained(group_ids or [
            r["group_id"] for r in g["nodes"].select("group_id").distinct().collect()])
        self._invalidate_postings()
        return {"communities": communities.count(), "members": members.count()}

    # ------------------------------------------------------------ analytics
    def pagerank(self, n_iter: int = 10, damping: float = 0.85) -> DataFrame:
        """Link-structure entity importance over the materialized edge
        table → (node, rank_fp, rank). Fixed-point by default: results
        are partition-invariant exact integers (operators/centrality.py)."""
        from kgspark.operators.centrality import pagerank

        return pagerank(self._edges_or_raise(), damping=damping, n_iter=n_iter)

    def graph_stats(self) -> DataFrame:
        """Per-entity degree / triangle count / clustering coefficient —
        structural quality signals (operators/graphstats.py; degree-
        ordered wedge join, hub-skew safe)."""
        from kgspark.operators.graphstats import triangle_stats

        return triangle_stats(self._edges_or_raise())

    def kcore(self, n_iter: int | None = None, max_iter: int = 64) -> DataFrame:
        """Per-entity core number → (node, core) — cohesion depth of each
        entity's neighborhood (operators/graphstats.py kcore_numbers;
        distributed h-index iteration). Default runs to convergence;
        pass n_iter for a fixed deterministic schedule."""
        from kgspark.operators.graphstats import kcore_numbers

        return kcore_numbers(self._edges_or_raise(), n_iter=n_iter,
                             max_iter=max_iter)

    def _edges_or_raise(self) -> DataFrame:
        # read ONLY the edges table — self.graph() would scan every store
        # table (episodes, nodes, communities, …) just to hand back one
        if not self.store.exists("edges"):
            raise ValueError("no edges table in this store yet — ingest "
                             "episodes before running graph analytics")
        return self.store.read(self.spark, "edges")

    def _refresh_postings_if_maintained(self, group_ids: list[str]) -> None:
        """Re-splice the given groups' postings after a mutation outside
        the ingest path (community rebuilds, cascades). No-op when the
        store has no maintained index (graphs written around the facade
        fall back to the in-memory build in postings())."""
        if self.store.exists("postings"):
            refresh_postings_groups(self.spark, self.store, group_ids)

    def remove_communities(self) -> None:
        _remove_communities(self.store, self.spark)

    # ------------------------------------------------------------ maintenance
    def get_edge(self, edge_uuid: str) -> DataFrame:
        """Point lookup of one entity edge by uuid (reference
        EntityEdge.get_by_uuid, used by the MCP get_entity_edge tool,
        graphiti_mcp_server.py:986-1013). IN-filter pushes to the scan."""
        return self._edges_or_raise().where(F.col("uuid") == edge_uuid)

    def remove_edge(self, edge_uuid: str) -> bool:
        """Delete one entity edge record by uuid (reference
        EntityEdge.delete via the MCP delete_entity_edge tool,
        graphiti_mcp_server.py:926-953). No cascade — the reference
        removes only the edge; nodes/episodes stay. The rewrite is scoped
        to the edge's gpart partition; the group's fulltext postings are
        re-spliced so the deleted fact stops matching BM25. Returns False
        when no such edge exists."""
        if not self.store.exists("edges"):
            return False
        hit = (self.store.read(self.spark, "edges")
               .where(F.col("uuid") == edge_uuid).select("group_id").take(1))
        if not hit:
            return False
        gids = [hit[0]["group_id"]]
        self.store.delete_rows(self.spark, "edges", self.store.parts_of(gids),
                               F.col("uuid") == edge_uuid)
        self._refresh_postings_if_maintained(gids)
        self._invalidate_postings()
        return True

    def remove_episode(self, episode_uuid: str,
                       now: datetime | None = None) -> None:
        """Cascading delete (reference graphiti.py:776-805). The episode
        must also leave the append-only extraction side tables — otherwise
        the next ingest touching its group re-assembles from those side
        tables and resurrects it — and the affected group is re-assembled
        so derived state (dedup clusters, T2 invalidation) converges to
        what a build without the episode would produce. ``now`` is the
        rebuild's invalidation clock, like every other mutator — without
        it the re-assembled group stamps wall-clock expired_at and stops
        being byte-reproducible."""
        group_id = self.store.purge_episode_inputs(self.spark, episode_uuid)
        if group_id is None:  # not an ingested episode — graph-table cascade only
            gid = self.store.remove_episode(self.spark, episode_uuid)
            if gid is not None:
                self._refresh_postings_if_maintained([gid])
        else:
            reassemble_groups(self.spark, self.store, [group_id], now=now,
                              embed_dim=self.embed_dim,
                              entity_types=self.entity_types)
        self._invalidate_postings()

    def delete_group(self, group_ids: list[str]) -> None:
        parts = self.store.parts_of(group_ids)
        for t in INGEST_TABLES:
            if self.store.exists(t):
                self.store.overwrite_parts(t, self.store.in_groups(
                    self.store.read_parts(self.spark, t, parts), group_ids,
                    keep=False), parts)
        self._invalidate_postings()

    def compact(self, tables: tuple[str, ...] | None = None,
                target_bytes: int = 128 << 20) -> dict[str, dict]:
        """Maintenance: small-file compaction over the store tables
        (Iceberg ``rewrite_data_files``). Streaming ingest appends one
        file per micro-batch per touched partition; run this on a
        schedule to keep scan open-cost flat. Row-identical, skips
        already-compact partitions. Returns per-table stats."""
        return {t: self.store.compact(self.spark, t,
                                      target_bytes=target_bytes)
                for t in (INGEST_TABLES if tables is None else tables)
                if self.store.exists(t)}
