"""Checkpoint/resume and incremental/streaming ingest tests.

Invariants:
- checkpointed partition-at-a-time run == single-shot build_graph
- crash + resume completes only missing parts, same final tables
- N-batch incremental ingest == single-shot build_graph
- Structured Streaming (availableNow) drain == single-shot build_graph
"""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kgspark.checkpoint import CheckpointedPipeline
from kgspark.pipeline import build_graph
from kgspark.sources.store import LITERAL_GROUPS_MAX, GraphStore
from kgspark.streaming import ingest_pages, stream_ingest
from kgspark.synth import synth_pages

NOW = datetime(2024, 6, 1)

N_DOCS, N_GROUPS = 48, 6


def _edge_key_rows(edges):
    return sorted(
        (r["group_id"], r["source_node_uuid"], r["name"], r["target_node_uuid"],
         str(r["valid_at"]), str(r["invalid_at"]), str(r["expired_at"] is not None),
         tuple(r["episodes"]))
        for r in edges.select(
            "group_id", "source_node_uuid", "name", "target_node_uuid",
            "valid_at", "invalid_at", "expired_at", "episodes").collect()
    )


def _node_key_rows(nodes):
    return sorted(
        (r["uuid"], r["name"], r["group_id"], str(r["created_at"]),
         r["attributes"]["mention_count"])
        for r in nodes.select("uuid", "name", "group_id", "created_at",
                              "attributes").collect()
    )


@pytest.fixture(scope="module")
def oneshot(spark):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7)
    g = build_graph(pages, now=NOW)
    return {
        "edges": _edge_key_rows(g["edges"]),
        "nodes": _node_key_rows(g["nodes"]),
        "n_mentions": g["mentions"].count(),
        "n_episodes": g["episodes"].count(),
    }


def test_checkpoint_run_matches_oneshot(spark, tmp_path, oneshot):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7)
    cp = CheckpointedPipeline(spark, str(tmp_path / "store"), n_parts=4)
    m = cp.run(pages, now=NOW, run_id="r1")
    assert len(m["parts"]) + len(m["skipped"]) == 4
    assert _edge_key_rows(cp.table("edges")) == oneshot["edges"]
    assert _node_key_rows(cp.table("nodes")) == oneshot["nodes"]
    assert cp.table("mentions").count() == oneshot["n_mentions"]
    # the build is an ordinary GraphStore: one gpart= layout, same rows
    store = GraphStore(str(tmp_path / "store"), n_gparts=4)
    for t in ("episodes", "nodes", "edges", "mentions"):
        assert store.is_partitioned(t)
        assert (sorted(store.read(spark, t).collect(), key=str)
                == sorted(cp.table(t).collect(), key=str))
    # lineage rows carry extraction metrics
    lin = cp.lineage("r1")
    rows = {r["part"]: r for r in lin.collect()}
    # n_docs synthetic + the golden fixture pages synth_pages appends
    assert sum(r["n_pages"] for r in rows.values()) == oneshot["n_episodes"]
    assert all(r["status"] == "done" for r in rows.values())
    assert all(r["n_pages"] == 0 or r["n_edges"] > 0 for r in rows.values())


def test_checkpoint_crash_resume(spark, tmp_path, oneshot):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7)
    root = str(tmp_path / "store2")
    cp = CheckpointedPipeline(spark, root, n_parts=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        cp.run(pages, now=NOW, run_id="r1", fail_on_part=2)
    done_before = set(cp.completed_parts("r1"))
    assert done_before and 2 not in done_before and 3 not in done_before
    # resume: already-done parts are skipped, remaining complete
    m = cp.run(pages, now=NOW, run_id="r1")
    assert set(m["skipped"]) == done_before
    assert set(m["parts"]) == {0, 1, 2, 3} - done_before
    assert _edge_key_rows(cp.table("edges")) == oneshot["edges"]
    assert _node_key_rows(cp.table("nodes")) == oneshot["nodes"]
    # second resume: everything skipped (input unchanged → fingerprints match)
    m2 = cp.run(pages, now=NOW, run_id="r1")
    assert not m2["parts"] and len(m2["skipped"]) == 4


def test_incremental_batches_match_oneshot(spark, tmp_path, oneshot):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7).persist()
    store = GraphStore(str(tmp_path / "inc"))
    thirds = [
        pages.where(F.pmod(F.xxhash64("url"), F.lit(3)) == i) for i in range(3)
    ]
    for b in thirds:
        ingest_pages(spark, store, b, now=NOW)
    assert _edge_key_rows(store.read(spark, "edges")) == oneshot["edges"]
    assert _node_key_rows(store.read(spark, "nodes")) == oneshot["nodes"]
    assert store.read(spark, "mentions").count() == oneshot["n_mentions"]
    assert store.read(spark, "episodes").count() == oneshot["n_episodes"]
    # redelivery of an already-ingested batch is a no-op (effectively-once)
    counts = ingest_pages(spark, store, thirds[0], now=NOW)
    assert counts["new_episodes"] == 0
    assert _edge_key_rows(store.read(spark, "edges")) == oneshot["edges"]
    pages.unpersist()


def test_incremental_splice_prunes_partitions(spark, tmp_path, oneshot):
    """A micro-batch touching one group must not read or rewrite other
    gpart partitions: every parquet file outside the touched partition
    survives the batch byte-identical (same path, same mtime)."""
    from kgspark.synth import group_id_col

    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7).persist()
    gids = sorted(
        r["g"] for r in pages.select(group_id_col().alias("g")).distinct().collect())
    target = gids[0]
    store = GraphStore(str(tmp_path / "pruned"), n_gparts=8)
    ingest_pages(spark, store, pages.where(group_id_col() != target), now=NOW)
    tables = ("episodes", "nodes", "edges", "mentions",
              "raw_episodes", "ext_nodes", "ext_edges")
    assert all(store.is_partitioned(t) for t in tables)

    def snapshot(table):
        out = {}
        for dirpath, _dirs, fs in os.walk(store.path(table)):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = {t: snapshot(t) for t in tables}
    counts = ingest_pages(spark, store, pages.where(group_id_col() == target), now=NOW)
    assert counts["new_episodes"] > 0
    [tpart] = store.parts_of([target])
    untouched = 0
    for t, snap in before.items():
        for p, mtime in snap.items():
            if f"gpart={tpart}" + os.sep in p:
                continue  # the touched partition (incl. hash co-tenants)
            assert os.path.exists(p), f"{p} deleted by unrelated batch"
            assert os.path.getmtime(p) == mtime, f"{p} rewritten by unrelated batch"
            untouched += 1
    assert untouched > 0  # the assertion actually covered files
    # and the spliced store still converges to the one-shot build
    assert _edge_key_rows(store.read(spark, "edges")) == oneshot["edges"]
    assert _node_key_rows(store.read(spark, "nodes")) == oneshot["nodes"]
    assert store.read(spark, "episodes").count() == oneshot["n_episodes"]
    pages.unpersist()


def test_splice_groups_literal_and_broadcast_arms(spark, tmp_path):
    """A splice scopes its groups by a literal IN filter up to
    LITERAL_GROUPS_MAX ids and by a broadcast anti-join above that. Both
    arms must write the same rows, keep the table's column order (group_id
    is not the first column here), and leave other partitions alone."""
    schema = "kind string, group_id string, n long"
    rows = [(f"k{i}", f"g{i % 6}", i) for i in range(24)]
    target = "g0"
    rebuilt = spark.createDataFrame([("new", target, 100)], schema)
    absent = [f"absent{i}" for i in range(LITERAL_GROUPS_MAX + 6)]
    got = {}
    for arm, group_ids in (("literal", [target]),
                           ("broadcast", [target] + absent)):
        store = GraphStore(str(tmp_path / arm), n_gparts=4)
        store.write("t", spark.createDataFrame(rows, schema))
        [tpart] = store.parts_of([target])
        plan = store.in_groups(store.read(spark, "t"), group_ids, keep=False) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert ("Join LeftAnti" in plan) == (arm == "broadcast"), plan
        before = {os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
                  for d, _dirs, fs in os.walk(store.path("t"))
                  for f in fs if f.endswith(".parquet")}
        store.splice_groups(spark, "t", rebuilt, group_ids, parts=[tpart])
        others = {p: m for p, m in before.items()
                  if f"gpart={tpart}" + os.sep not in p}
        assert others and all(os.path.getmtime(p) == m for p, m in others.items())
        # the spliced partition's own files keep the table's column order
        spliced = spark.read.parquet(os.path.join(store.path("t"), f"gpart={tpart}"))
        assert spliced.columns == ["kind", "group_id", "n"], arm
        df = GraphStore(store.root, n_gparts=4).read(spark, "t")
        got[arm] = sorted(tuple(r) for r in df.select(*spliced.columns).collect())
    assert got["literal"] == got["broadcast"]
    assert ("new", target, 100) in got["literal"]
    assert not [r for r in got["literal"] if r[1] == target and r[0] != "new"]
    assert len(got["literal"]) == len(rows) - 4 + 1


def test_stream_ingest_available_now(spark, tmp_path, oneshot):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7)
    in_dir = str(tmp_path / "in")
    # two files → at least one micro-batch each with maxFilesPerTrigger=1
    for i in range(2):
        pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == i).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    store_root = str(tmp_path / "stream_store")
    q = stream_ingest(
        spark, in_dir, store_root, str(tmp_path / "ckpt"),
        now=NOW, max_files_per_trigger=1,
    )
    assert q.lastProgress is not None
    store = GraphStore(store_root)
    assert _edge_key_rows(store.read(spark, "edges")) == oneshot["edges"]
    assert _node_key_rows(store.read(spark, "nodes")) == oneshot["nodes"]
    assert os.path.isdir(str(tmp_path / "ckpt"))


def test_stream_ingest_auto_compaction(spark, tmp_path, oneshot):
    """compact_every merges the per-batch small files without changing
    a single row: the stream converges to the same graph, and the
    append-only side tables end up with fewer files than batches."""
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7)
    in_dir = str(tmp_path / "in")
    n_batches = 4
    for i in range(n_batches):
        pages.where(F.pmod(F.xxhash64("url"), F.lit(n_batches)) == i) \
            .coalesce(1).write.mode("append").parquet(in_dir)
    store_root = str(tmp_path / "stream_store")
    stream_ingest(
        spark, in_dir, store_root, str(tmp_path / "ckpt"),
        now=NOW, max_files_per_trigger=1, compact_every=n_batches,
    )
    store = GraphStore(store_root)
    assert _edge_key_rows(store.read(spark, "edges")) == oneshot["edges"]
    assert _node_key_rows(store.read(spark, "nodes")) == oneshot["nodes"]
    # raw_episodes is append-only: every gpart dir took one file per
    # batch that touched it; the sweep merged each back to one
    root = store.path("raw_episodes")
    for entry in os.listdir(root):
        if entry.startswith("gpart="):
            files = [f for f in os.listdir(os.path.join(root, entry))
                     if f.endswith(".parquet")]
            assert len(files) == 1, f"{entry}: {len(files)} files survive"
