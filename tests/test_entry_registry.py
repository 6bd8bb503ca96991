"""Driver-contract registry: the graded surface is exactly 50 queries,
each with a DuckDB oracle, and the S12 cascade slot matches its oracle
(the same row count / columns / order-insensitive value hash that
tools/check_oracle.py compares)."""

import __spark_entry__ as entry_mod
from kgspark.sources.store import cascade_remove
from tools.check_oracle import canon, oracle_db

SF = "/root/testdata/sf0.001"


def test_registry_has_fifty_queries_each_with_an_oracle():
    qs = entry_mod.queries()
    assert len(qs) == 50
    assert set(qs) == set(entry_mod.oracle_sql())
    assert list(qs)[-1] == "s12_remove_episodes"


def test_s12_remove_episodes_matches_oracle(spark):
    sdf = entry_mod.q_s12_remove_episodes(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    con = oracle_db(SF)
    rel = con.sql(entry_mod.oracle_sql()["s12_remove_episodes"])
    orows = rel.fetchall()
    ocols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(ocols) == ["kind", "support", "uuid"]
    assert canon(srows, sdf.columns) == canon(orows, ocols)
    kind = sdf.columns.index("kind")
    assert {r[kind] for r in srows} == {"episode", "edge", "node"}


def test_cascade_remove_keeps_order_and_duplicates(spark):
    g = {
        "episodes": spark.createDataFrame(
            [("e1",), ("e2",), ("e3",)], "uuid string"),
        "mentions": spark.createDataFrame(
            [("e1", "a"), ("e2", "b"), ("e3", "c")],
            "episode_uuid string, entity_uuid string"),
        "edges": spark.createDataFrame(
            [("x", ["e2", "e1", "e2", "e3"]), ("y", ["e1", "e3"])],
            "uuid string, episodes array<string>"),
        "nodes": spark.createDataFrame(
            [("a",), ("b",), ("c",)], "uuid string"),
    }
    kept = cascade_remove(g, ["e1", "e3"])
    assert [r["uuid"] for r in kept["episodes"].collect()] == ["e2"]
    assert [tuple(r) for r in kept["mentions"].collect()] == [("e2", "b")]
    assert [tuple(r) for r in kept["edges"].collect()] == [("x", ["e2", "e2"])]
    assert [r["uuid"] for r in kept["nodes"].collect()] == ["b"]
