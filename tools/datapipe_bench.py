"""Scale evidence for the training-data-pipeline operators.

The oracle gate proves these ops CORRECT at sf0.01; this bench proves the
scale claims hold at 120× that corpus: runs substring dedup, bigram-LM
scoring, MinHash-LSH pair generation and exact dedup over a 600k-document
synthetic corpus (same deterministic generator as the scaling harness) and
k-core + PageRank over the KG built from a 100k-doc slice, reporting walls
and per-op throughput. Writes BENCH_DATAPIPE.json.

Usage: python tools/datapipe_bench.py [n_docs] [cpus] [repeats]
Defaults: 600000 docs, 8 cpus (under-subscribed per BASELINE fact 8),
repeats 2 — per-op min + all runs reported (minutes-scale host
co-tenancy swings single shots up to 3.5×; see BENCH_SCALING_600K_STAGES).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 600_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    # clamp: repeats=0 would crash min([]) in timed() below
    repeats = max(1, int(sys.argv[3])) if len(sys.argv) > 3 else 2
    from pyspark.sql import functions as F

    from kgspark.functions.text import html_to_text
    from kgspark.session import get_spark
    from kgspark.synth import synth_pages

    spark = get_spark("datapipe-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus * 4, 32))
    docs = (
        synth_pages(spark, n_docs=n_docs, n_groups=64, seed=42,
                    partitions=cpus * 8)
        .select(
            F.xxhash64("url").alias("doc_id"),
            html_to_text(F.col("html")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    res: dict[str, dict] = {}

    def timed(name: str, fn, denom: int = 0, rate_key: str = "docs_per_sec") -> None:
        walls, rows = [], None
        for _ in range(repeats):
            t0 = time.perf_counter()
            rows = fn()
            walls.append(round(time.perf_counter() - t0, 3))
        wall = min(walls)
        res[name] = {"wall_s": wall, "runs": walls, "rows_out": rows,
                     rate_key: round((denom or n_docs) / wall, 1)}
        print(name, res[name], flush=True)

    from kgspark.datapipe.dedupe import (
        exact_dedup,
        minhash_lsh_pairs,
        substring_dup_spans,
    )
    from kgspark.datapipe.lm import lm_nll_scores

    timed("exact_dedup", lambda: exact_dedup(docs, "doc_id", "text").count())
    timed("substring_dup_spans_k8",
          lambda: substring_dup_spans(docs, "doc_id", "text", k=8).count())
    timed("lm_nll_self_trained",
          lambda: lm_nll_scores(docs, "doc_id", "text").count())
    timed("minhash_lsh_pairs",
          lambda: minhash_lsh_pairs(docs, "doc_id", "text").count())

    # graph ops over the KG built from a slice (graph build itself is the
    # pipeline bench's metric, not this one's)
    from kgspark.operators.centrality import pagerank
    from kgspark.operators.graphstats import kcore_numbers, triangle_stats
    from kgspark.pipeline import build_graph

    slice_docs = min(n_docs, 100_000)
    pages = synth_pages(spark, n_docs=slice_docs, n_groups=64, seed=42,
                        partitions=cpus * 8).localCheckpoint(eager=True)
    g = build_graph(pages)
    edges = g["edges"].select("source_node_uuid", "target_node_uuid") \
        .localCheckpoint(eager=True)
    n_edges = edges.count()
    timed("pagerank_10iter", lambda: pagerank(edges, n_iter=10).count(),
          denom=n_edges, rate_key="edges_per_sec")
    timed("kcore_converged", lambda: kcore_numbers(edges).count(),
          denom=n_edges, rate_key="edges_per_sec")
    timed("triangle_stats", lambda: triangle_stats(edges).count(),
          denom=n_edges, rate_key="edges_per_sec")

    out = {
        "metric": "datapipe_ops_600k",
        "n_docs": n_docs,
        "cpus": cpus,
        "kg_slice_docs": slice_docs,
        "kg_edges": n_edges,
        "ops": res,
    }
    with open(os.path.join(REPO, "BENCH_DATAPIPE.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
