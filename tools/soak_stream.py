"""Streaming soak: many micro-batches through stream_ingest with
periodic compaction, asserting the three long-run invariants a
production stream needs (VERDICT r3 item 7):

1. file counts stay bounded (compaction keeps up with append churn),
2. per-batch wall stays flat (no O(corpus) creep as the store grows),
3. the final graph is byte-identical to a one-shot build of the same
   pages (incremental == batch, regardless of batch count).

Usage: python tools/soak_stream.py [n_batches] [compact_every]
Defaults: 50 batches, sweep every 10. Appends a "soak" evidence row to
BENCH_INCREMENTAL.json. The pytest version (tests/test_soak_stream.py)
runs 12 batches by default, the full 50 with KGSPARK_SOAK=1.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOW = datetime(2024, 6, 1)


def run_soak(spark, workdir: str, n_batches: int = 50,
             compact_every: int = 10, docs_per_group: int = 20) -> dict:
    """One group per micro-batch (the worst case for partition churn:
    every batch touches a fresh gpart). Returns the evidence dict and
    raises AssertionError on any invariant violation."""
    from pyspark.sql import functions as F

    from kgspark.sources.store import INGEST_TABLES, GraphStore
    from kgspark.streaming.stream import stream_ingest
    from kgspark.synth import group_id_col, synth_pages

    n_docs = n_batches * docs_per_group
    # include_golden=False: the goldens' fixed domains would add extra
    # groups beyond the n_batches synthetic ones (one batch per group)
    pages = synth_pages(spark, n_docs=n_docs, n_groups=n_batches, seed=13,
                        include_golden=False)
    pages = pages.localCheckpoint(eager=True)
    gids = sorted(r["g"] for r in
                  pages.select(group_id_col().alias("g")).distinct().collect())
    assert len(gids) == n_batches
    in_dir = os.path.join(workdir, "in")
    for g in gids:  # one file per group -> one micro-batch per group
        pages.where(group_id_col() == F.lit(g)).coalesce(1) \
            .write.mode("append").parquet(in_dir)

    store_root = os.path.join(workdir, "store")
    q = stream_ingest(
        spark, in_dir, store_root, os.path.join(workdir, "ckpt"),
        now=NOW, max_files_per_trigger=1, compact_every=compact_every,
    )
    progress = [json.loads(p) if isinstance(p, str) else p
                for p in q.recentProgress]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress
                if p.get("numInputRows", 0) > 0]
    assert len(batch_ms) == n_batches, (len(batch_ms), n_batches)

    # ---- invariant 2: flat per-batch wall. Medians of the first and
    # last thirds (median is robust to the every-Nth sweep batches and
    # co-tenant blips); the store grows ~n_batches x between the windows.
    third = max(3, n_batches // 3)
    early = statistics.median(batch_ms[:third])
    late = statistics.median(batch_ms[-third:])
    flatness = late / early
    assert flatness < 1.5, f"per-batch wall grew {flatness:.2f}x"

    # ---- invariant 1: bounded files. The final batch triggers a sweep
    # (n_batches % compact_every == 0 when aligned), so every ingest
    # table must sit at <= ceil(bytes/128MB) = 1 file per partition dir,
    # and mid-run growth is capped at compact_every appends per dir.
    store = GraphStore(store_root)
    max_files = 0
    for t in INGEST_TABLES:
        if not store.exists(t):
            continue
        root = store.path(t)
        for entry in os.listdir(root):
            d = os.path.join(root, entry)
            if entry.startswith("gpart=") and os.path.isdir(d):
                n = len([f for f in os.listdir(d) if f.endswith(".parquet")])
                max_files = max(max_files, n)
    sweeps_aligned = n_batches % compact_every == 0
    cap = 1 if sweeps_aligned else compact_every
    assert max_files <= cap, f"{max_files} files in a partition (cap {cap})"

    # ---- invariant 3: incremental == one-shot
    from kgspark.pipeline import build_graph

    g = build_graph(pages, now=NOW)
    want_edges = _canon(g["edges"])
    got_edges = _canon(store.read(spark, "edges"))
    assert want_edges == got_edges, "final graph != one-shot build"

    return {
        "n_batches": n_batches,
        "compact_every": compact_every,
        "docs": n_docs,
        "batch_ms_median_first_third": round(early, 1),
        "batch_ms_median_last_third": round(late, 1),
        "flatness_ratio": round(flatness, 3),
        "max_files_per_partition_after": max_files,
        "graph_equals_oneshot": True,
    }


def _canon(edges):
    return sorted(
        (r["group_id"], r["source_node_uuid"], r["name"],
         r["target_node_uuid"], str(r["valid_at"]), str(r["invalid_at"]),
         tuple(r["episodes"]))
        for r in edges.select(
            "group_id", "source_node_uuid", "name", "target_node_uuid",
            "valid_at", "invalid_at", "episodes").collect())


def main() -> None:
    from kgspark.session import get_spark

    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    compact_every = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("soak-stream", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    with tempfile.TemporaryDirectory(prefix="soak_") as workdir:
        row = run_soak(spark, workdir, n_batches, compact_every)
    out_path = os.path.join(REPO, "BENCH_INCREMENTAL.json")
    doc = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
    doc["soak"] = row
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(row))


if __name__ == "__main__":
    main()
