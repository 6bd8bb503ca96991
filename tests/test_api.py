"""KGSpark facade tests — the reference's Graphiti class surface
(add_episode / add_triplet / search / communities / remove_episode)
exercised end-to-end against a temp store."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kgspark.api import KGSpark

NOW = datetime(2024, 6, 1)


@pytest.fixture(scope="module")
def kg(spark, tmp_path_factory):
    kg = KGSpark(spark, str(tmp_path_factory.mktemp("kgstore")))
    kg.add_episode(
        "ep1", "Alice Johnson lives in Berlin. Alice Johnson works at Acme Corp.",
        reference_time=datetime(2024, 1, 1), group_id="g1", now=NOW)
    kg.add_episode(
        "ep2", "Alice Johnson moved to Paris. Alice Johnson lives in Paris.",
        reference_time=datetime(2024, 3, 1), group_id="g1", now=NOW)
    kg.add_episode(
        "ep3", "Bob Smith likes Spark. Bob Smith works at Initech.",
        reference_time=datetime(2024, 2, 1), group_id="g1", now=NOW)
    return kg


def test_ingest_builds_graph(kg):
    g = kg.graph()
    names = {r["name"] for r in g["nodes"].collect()}
    assert "Alice Johnson" in names and "Berlin" in names and "Paris" in names
    preds = {r["name"] for r in g["edges"].collect()}
    assert "LIVES_IN" in preds


def test_invalidation_across_episodes(kg):
    """ep2's LIVES_IN Paris must close ep1's LIVES_IN Berlin (T2 —
    the semantics the reference's bulk path skips)."""
    edges = kg.graph()["edges"]
    berlin = edges.where((F.col("name") == "LIVES_IN")
                         & F.col("fact").contains("Berlin")).collect()
    assert berlin and berlin[0]["invalid_at"] is not None
    paris = edges.where((F.col("name") == "LIVES_IN")
                        & F.col("fact").contains("Paris")).collect()
    assert paris and paris[0]["invalid_at"] is None


def test_search_default_edge_rrf(kg):
    res = kg.search("Where does Alice Johnson live?", group_ids=["g1"])
    rows = res.collect()
    assert rows, "default edge search returns results"
    facts = kg.graph()["edges"].join(
        res.select("uuid"), "uuid", "left_semi").select("fact").collect()
    assert any("Alice" in r["fact"] for r in facts)


def test_search_empty_query(kg):
    assert kg.search_("").edges.isEmpty()


def test_retrieve_episodes_window(kg):
    eps = kg.retrieve_episodes(datetime(2024, 2, 15), last_n=2,
                               group_ids=["g1"]).collect()
    assert [r["name"] for r in eps] == ["ep1", "ep3"]  # chronological


def test_add_triplet_flows_through_dedup_and_invalidation(kg):
    kg.add_triplet("Alice Johnson", "LIVES_IN", "Madrid",
                   group_id="g1", valid_at=datetime(2024, 5, 1), now=NOW)
    edges = kg.graph()["edges"]
    madrid = edges.where(F.col("fact").contains("Madrid")).collect()
    assert madrid and madrid[0]["invalid_at"] is None
    # triplet endpoints resolved to the SAME canonical Alice node
    alice_uuid = kg.graph()["nodes"].where(
        F.col("name") == "Alice Johnson").collect()[0]["uuid"]
    assert madrid[0]["source_node_uuid"] == alice_uuid
    # and it supersedes the Paris fact
    paris = edges.where((F.col("name") == "LIVES_IN")
                        & F.col("fact").contains("Paris")).collect()
    assert paris[0]["invalid_at"] is not None


def test_communities_and_by_episode(kg):
    counts = kg.build_communities(now=NOW)
    assert counts["communities"] >= 1 and counts["members"] >= 2
    ep_uuid = kg.graph()["episodes"].where(F.col("name") == "ep3") \
        .collect()[0]["uuid"]
    nodes, edges = kg.get_nodes_and_edges_by_episode([ep_uuid])
    names = {r["name"] for r in nodes.collect()}
    assert "Bob Smith" in names
    assert edges.count() >= 1


def test_analytics_surface(kg):
    """pagerank() / graph_stats() run off the materialized edge table;
    entities referenced by facts outrank isolated-ish ones, and the
    stats cover every edge endpoint."""
    pr = {r["node"]: r["rank_fp"] for r in kg.pagerank(n_iter=5).collect()}
    assert pr and all(v > 0 for v in pr.values())
    g = kg.graph()
    endpoints = {r[0] for r in g["edges"]
                 .select("source_node_uuid").collect()} | \
                {r[0] for r in g["edges"].select("target_node_uuid").collect()}
    stats = {r["node"]: r["degree"] for r in kg.graph_stats().collect()}
    assert endpoints <= set(stats) and set(pr) == endpoints
    assert all(d >= 1 for d in stats.values())
    cores = {r["node"]: r["core"] for r in kg.kcore().collect()}
    # every edge endpoint gets a core number, 1 ≤ core ≤ degree
    assert set(cores) == set(stats)
    assert all(1 <= cores[n] <= stats[n] for n in cores)


def test_analytics_on_empty_store_raises_clearly(spark, tmp_path):
    empty = KGSpark(spark, str(tmp_path / "empty_store"))
    with pytest.raises(ValueError, match="no edges table"):
        empty.pagerank()
    with pytest.raises(ValueError, match="no edges table"):
        empty.graph_stats()


def test_edge_type_map_constrains_predicates(kg):
    """D12: (src_label, tgt_label) -> allowed predicate list."""
    from kgspark.operators.dedup import apply_edge_type_map

    g = kg.graph()
    only_lives = apply_edge_type_map(
        g["edges"], g["nodes"], {("Entity", "Entity"): ["LIVES_IN"]},
        default_allow=False)
    preds = {r["name"] for r in only_lives.collect()}
    assert preds == {"LIVES_IN"}
    # map that constrains a label pair not present → default passthrough
    untouched = apply_edge_type_map(
        g["edges"], g["nodes"], {("Company", "City"): ["HQ_IN"]},
        default_allow=True)
    assert untouched.count() == g["edges"].count()


def test_context_formatting(kg):
    """Q15: SearchResults → FACTS context block with validity ranges."""
    from kgspark.search.context import search_results_to_context

    res = kg.search_("Where does Alice Johnson live?", group_ids=["g1"])
    ctx = search_results_to_context(res, kg.graph())
    assert "FACTS:" in ctx
    assert "- Present)" in ctx or "Present" in ctx


def test_remove_episode_cascade(kg, spark, tmp_path):
    kg2 = KGSpark(spark, str(tmp_path / "s2"))
    kg2.add_episode("only", "Carol Davis works at Globex.",
                    reference_time=datetime(2024, 1, 1), group_id="g9", now=NOW)
    ep = kg2.graph()["episodes"].collect()[0]
    kg2.remove_episode(ep["uuid"])
    assert kg2.graph()["episodes"].count() == 0
    assert kg2.graph()["nodes"].count() == 0
    assert kg2.graph()["edges"].count() == 0


def test_remove_episode_not_resurrected_by_next_ingest(kg, spark, tmp_path):
    """A removed episode must leave the append-only extraction side
    tables too — otherwise the next ingest in the same group
    re-assembles from them and resurrects the episode's nodes/edges."""
    kg2 = KGSpark(spark, str(tmp_path / "s3"))
    kg2.add_episode("e1", "Dora Lane works at Hooli.",
                    reference_time=datetime(2024, 1, 1), group_id="gX", now=NOW)
    kg2.add_episode("e2", "Evan Price likes Scala.",
                    reference_time=datetime(2024, 1, 2), group_id="gX", now=NOW)
    ep1 = kg2.graph()["episodes"].where(F.col("name") == "e1").collect()[0]
    kg2.remove_episode(ep1["uuid"])
    names = {r["name"] for r in kg2.graph()["nodes"].collect()}
    assert "Dora Lane" not in names and "Evan Price" in names
    # ingest another page in the SAME group — the trigger that used to
    # rebuild the group from the stale side tables
    kg2.add_episode("e3", "Frank Ocean visited Tokyo.",
                    reference_time=datetime(2024, 1, 3), group_id="gX", now=NOW)
    eps = {r["name"] for r in kg2.graph()["episodes"].collect()}
    assert eps == {"e2", "e3"}
    names = {r["name"] for r in kg2.graph()["nodes"].collect()}
    assert "Dora Lane" not in names
    assert not kg2.graph()["edges"].where(
        F.col("fact").contains("Hooli")).take(1)


def test_removed_only_episode_keeps_partitioned_layout(spark, tmp_path):
    """Removing a store's only episode empties every table. Each must
    keep the gpart= layout and stay readable with its full schema, so a
    fresh facade on the same root re-ingests into the same graph."""
    root = str(tmp_path / "s4")

    def add(k):
        k.add_episode("solo", "Gina Park works at Umbrella.",
                      reference_time=datetime(2024, 1, 1), group_id="gY",
                      now=NOW)

    def rows(k):  # row sets per table, compared column by name
        return {t: sorted(str(sorted(r.asDict(recursive=True).items()))
                          for r in df.collect())
                for t, df in k.graph().items()}

    kg2 = KGSpark(spark, root)
    add(kg2)
    want = rows(kg2)
    tables = sorted(os.listdir(root))
    dtypes = {t: kg2.store.read(spark, t).dtypes for t in tables}
    kg2.remove_episode(kg2.graph()["episodes"].first()["uuid"], now=NOW)
    assert set(tables) >= {"episodes", "nodes", "edges", "mentions",
                           "raw_episodes", "postings"}
    assert all(kg2.store.is_partitioned(t) for t in tables)

    kg3 = KGSpark(spark, root)
    for t in tables:
        df = kg3.store.read(spark, t)
        assert df.count() == 0 and df.dtypes == dtypes[t], t
    add(kg3)
    assert rows(kg3) == want
