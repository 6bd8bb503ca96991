"""Incremental postings/doc_stats maintenance (the reference keeps its
Lucene fulltext indexes current on every save — graph_data_operations.py
:73-82 DDLs them once, every MERGE updates them; here they are
group-partitioned store tables spliced per ingest batch).

Invariants:
- after any batch sequence, the stored index == a full rebuild from the
  graph tables (postings AND doc_stats, exact rows)
- bm25 search over the maintained index == over a fresh full build
- per-batch index IO is O(touched partitions): parquet files in other
  gpart dirs survive byte-identical (mtime test, like the graph tables)
"""

import os
from datetime import datetime

from pyspark.sql import functions as F

from kgspark.api import KGSpark
from kgspark.search.fulltext import (
    bm25_search,
    build_doc_stats,
    build_index,
    build_postings,
)
from kgspark.sources.store import GraphStore
from kgspark.streaming import ingest_pages
from kgspark.synth import group_id_col, synth_pages

NOW = datetime(2024, 6, 1)
N_DOCS, N_GROUPS = 48, 6


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


P_COLS = ["kind", "term", "doc_uuid", "group_id", "tf", "doc_len"]
S_COLS = ["kind", "group_id", "n_docs", "sum_len"]


def test_spliced_index_matches_full_rebuild(spark, tmp_path):
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7).persist()
    store = GraphStore(str(tmp_path / "inc"))
    thirds = [
        pages.where(F.pmod(F.xxhash64("url"), F.lit(3)) == i) for i in range(3)
    ]
    for b in thirds:
        counts = ingest_pages(spark, store, b, now=NOW)
        assert counts["postings"] > 0
    assert store.exists("postings") and store.exists("doc_stats")

    graph = {t: store.read(spark, t) for t in ("episodes", "nodes", "edges")}
    full = build_postings(graph)
    assert _rows(store.read(spark, "postings"), P_COLS) == _rows(full, P_COLS)
    assert _rows(store.read(spark, "doc_stats"), S_COLS) == _rows(
        build_doc_stats(full), S_COLS)

    # search parity: maintained index == fresh full build, through the facade
    kg = KGSpark(spark, str(tmp_path / "inc"))
    maintained = kg.postings()
    fresh = build_index(graph)
    q = "alice bob carol works lives"
    got = _rows(bm25_search(spark, maintained, "edge", q, limit=15),
                ["uuid", "score"])
    want = _rows(bm25_search(spark, fresh, "edge", q, limit=15),
                 ["uuid", "score"])
    assert got == want and len(got) > 0
    maintained.unpersist()
    pages.unpersist()


def test_postings_splice_prunes_partitions(spark, tmp_path):
    """A batch touching one group must not read back or rewrite other
    groups' postings partitions — the O(corpus)-rebuild-per-batch
    regression this table exists to kill."""
    pages = synth_pages(spark, n_docs=N_DOCS, n_groups=N_GROUPS, seed=7).persist()
    gids = sorted(
        r["g"] for r in pages.select(group_id_col().alias("g")).distinct().collect())
    target = gids[0]
    store = GraphStore(str(tmp_path / "pruned"), n_gparts=8)
    ingest_pages(spark, store, pages.where(group_id_col() != target), now=NOW)
    assert store.is_partitioned("postings")
    assert store.is_partitioned("doc_stats")

    def snapshot(table):
        out = {}
        for dirpath, _dirs, fs in os.walk(store.path(table)):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = {t: snapshot(t) for t in ("postings", "doc_stats")}
    counts = ingest_pages(spark, store, pages.where(group_id_col() == target),
                          now=NOW)
    assert counts["postings"] > 0
    [tpart] = store.parts_of([target])
    untouched = 0
    for t, snap in before.items():
        for p, mtime in snap.items():
            if f"gpart={tpart}" + os.sep in p:
                continue
            assert os.path.exists(p), f"{p} deleted by unrelated batch"
            assert os.path.getmtime(p) == mtime, f"{p} rewritten by unrelated batch"
            untouched += 1
    assert untouched > 0
    # and the spliced index still equals the full rebuild
    graph = {t: store.read(spark, t) for t in ("episodes", "nodes", "edges")}
    assert _rows(store.read(spark, "postings"), P_COLS) == _rows(
        build_postings(graph), P_COLS)
    pages.unpersist()


def test_index_follows_mutations(spark, tmp_path):
    """delete_group and remove_episode keep the maintained index exact."""
    pages = synth_pages(spark, n_docs=24, n_groups=3, seed=11).persist()
    root = str(tmp_path / "mut")
    kg = KGSpark(spark, root)
    kg.add_pages(pages, now=NOW)
    gids = sorted(
        r["g"] for r in pages.select(group_id_col().alias("g")).distinct().collect())

    kg.delete_group([gids[0]])
    graph = {t: kg.store.read(spark, t) for t in ("episodes", "nodes", "edges")}
    assert _rows(kg.store.read(spark, "postings"), P_COLS) == _rows(
        build_postings(graph), P_COLS)
    assert kg.store.read(spark, "postings").where(
        F.col("group_id") == gids[0]).count() == 0

    ep = kg.store.read(spark, "episodes").take(1)[0]["uuid"]
    kg.remove_episode(ep, now=NOW)
    graph = {t: kg.store.read(spark, t) for t in ("episodes", "nodes", "edges")}
    assert _rows(kg.store.read(spark, "postings"), P_COLS) == _rows(
        build_postings(graph), P_COLS)
    pages.unpersist()
