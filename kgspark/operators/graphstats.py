"""Graph-quality statistics over the materialized KG edge table:
per-node triangle counts, degree, and local clustering coefficient.

Why it's here: a web-scale KG needs structural quality signals —
clustering coefficient separates genuinely-connected entity
neighborhoods from hub-spam / extraction-noise stars, and triangle
support is the standard edge-confidence prior for link validation. The
reference (markalosey/graphiti) has no analytics layer; these extend
SURVEY §2.6's community ops the same way PageRank
(operators/centrality.py) extends mention-count importance.

Scale design (the part that must survive 100 TB): naive triangle
enumeration self-joins each node's full neighbor list — a single
10^7-degree hub (every crawl corpus has one) produces 10^14 wedges in
one task: the "curse of the last reducer" (Suri & Vassilvitskii,
WWW 2011 — public). The fix implemented here is theirs: orient every
undirected edge from the (degree, node)-smaller endpoint to the larger,
then enumerate wedges only between OUT-neighbors. Out-degree in the
oriented DAG is bounded by O(√E), the wedge total by O(E^1.5)
regardless of skew, and every triangle is produced exactly once (its
≺-minimal vertex owns it). Everything is equi-joins + integer counts:
two shuffles on the wedge key, map-side-combinable final aggregation,
no UDFs, exact cross-engine hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def simple_undirected(edges: DataFrame,
                      src: str = "source_node_uuid",
                      dst: str = "target_node_uuid") -> DataFrame:
    """Collapse a directed multigraph to simple undirected ``(u, v)``
    with ``u < v``: self-loops dropped, parallel/reciprocal edges
    deduped (one groupBy-shaped distinct on the canonical pair)."""
    return (
        edges.where(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .distinct()
    )


def degree_oriented(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each simple edge low → high in the (degree, node) total
    order → ``(src, dst, dkey)``; ``dkey`` is the dst's order key so the
    wedge join can compare without re-joining degrees. Out-degree of the
    result is O(√E) even at a 10^7-degree hub — the Suri-Vassilvitskii
    bound the skew test asserts."""
    e = (
        und.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    u_first = (
        F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
        < F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
         .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n"))).alias("dkey"),
    )


def triangle_stats(edges: DataFrame,
                   src: str = "source_node_uuid",
                   dst: str = "target_node_uuid") -> DataFrame:
    """→ ``(node, degree, triangles, clustering)`` for every non-isolated
    node of the simple undirected graph.

    ``degree`` and ``triangles`` are exact integers (the oracle hashes
    those); ``clustering`` = 2·T / (deg·(deg−1)), null for deg < 2.
    """
    und = simple_undirected(edges, src, dst).persist()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    o = degree_oriented(und, deg).persist()

    # wedges between out-neighbors (b ≺ c), closed by the oriented edge
    # b→c — each triangle materializes exactly once, at its ≺-min vertex
    x, y, z = o.alias("x"), o.alias("y"), o.alias("z")
    tri = (
        x.join(y, (F.col("x.src") == F.col("y.src"))
               & (F.col("x.dkey") < F.col("y.dkey")))
        .select(F.col("x.src").alias("a"), F.col("x.dst").alias("b"),
                F.col("y.dst").alias("c"))
        .join(z, (F.col("b") == F.col("z.src")) & (F.col("c") == F.col("z.dst")))
        .select("a", "b", "c")
    )
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            ).alias("clustering"),
        )
        # materialize before releasing the caches: `o` is scanned three
        # times in the wedge+closure DAG, and the result must not hold a
        # reference to unpersisted relations (same pattern as C2 label
        # propagation; see PLANS.md on the localCheckpoint trade-off)
        .localCheckpoint()
    )
    o.unpersist()
    und.unpersist()
    return out


def triangle_stats_oracle_sql(edges_sql: str) -> str:
    """ANSI-SQL replay for DuckDB: same orientation, same wedge rule.
    Integer columns only — (node, degree, triangles) — so the value
    hash is exact. ``edges_sql`` must yield (src, dst)."""
    return f"""
        WITH e0 AS ({edges_sql}),
        und AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM e0 WHERE src <> dst
        ),
        deg AS (
          SELECT node, COUNT(*) AS degree FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und
          ) GROUP BY node
        ),
        o AS (
          SELECT CASE WHEN (du.degree, und.u) < (dv.degree, und.v)
                      THEN und.u ELSE und.v END AS src,
                 CASE WHEN (du.degree, und.u) < (dv.degree, und.v)
                      THEN und.v ELSE und.u END AS dst,
                 CASE WHEN (du.degree, und.u) < (dv.degree, und.v)
                      THEN dv.degree ELSE du.degree END AS dd
          FROM und
          JOIN deg du ON du.node = und.u
          JOIN deg dv ON dv.node = und.v
        ),
        tri AS (
          SELECT x.src AS a, x.dst AS b, y.dst AS c
          FROM o x
          JOIN o y ON x.src = y.src AND (x.dd, x.dst) < (y.dd, y.dst)
          JOIN o z ON z.src = x.dst AND z.dst = y.dst
        ),
        per_node AS (
          SELECT node, COUNT(*) AS triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
          ) GROUP BY node
        )
        SELECT deg.node, deg.degree,
               CAST(COALESCE(per_node.triangles, 0) AS BIGINT) AS triangles
        FROM deg LEFT JOIN per_node ON per_node.node = deg.node
        ORDER BY deg.node
    """


def kcore_numbers(
    edges: DataFrame,
    src: str = "source_node_uuid",
    dst: str = "target_node_uuid",
    n_iter: int | None = None,
    max_iter: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-node core number ``(node, core)`` by distributed h-index
    iteration (Montresor, De Pellegrini & Miorandi, "Distributed k-Core
    Decomposition", IEEE TPDS 2013 — public): est₀(v) = degree(v);
    est_{t+1}(v) = h-index of {est_t(u) : u ∈ N(v)} — the largest h such
    that ≥ h neighbors currently estimate ≥ h. Estimates are monotone
    non-increasing and the fixpoint is exactly the core number.

    ``n_iter`` fixed → deterministic unrolled schedule (cross-engine
    oracle parity, like community.label_propagation); ``None`` → run to
    convergence by DELTA ITERATION (round 5): a node's h-index depends
    only on its neighbors' estimates, so after the first full round only
    neighbors of changed nodes can change — each round recomputes just
    that candidate set and merges. Rounds are still O(diameter) on
    path-like tails (a lowered estimate walks inward one hop per
    round), but per-round WORK shrinks with the frontier instead of
    staying O(E): on a 120-node path the full recompute does 120·2
    neighbor rows × ~60 rounds, the delta loop a handful per round.
    Measured envelope on the 600k-doc web co-mention graph
    (BENCH_DATAPIPE.json kcore_converged): 15 rounds, 16.9 s at
    local[8] — vs 21.1 s for the r4 full-recompute loop.
    Raises after ``max_iter`` rather than returning an unconverged
    labeling (the connected_components contract, dedup.py).

    Scale shape: the symmetric adjacency — the big side — is
    hash-partitioned ONCE per join key and persisted (by neighbor ``b``
    for the estimate join; convergence mode persists a second copy by
    ``a`` so the candidate semi-join is co-partitioned — a documented
    memory-for-shuffle trade). Per round only slim (node, est) /
    frontier vectors and the frontier's adjacency rows shuffle (pagerank
    pattern, centrality.py). The h-index needs each node's neighbor
    estimates ranked, which is a per-node window sort — hub partitions
    sort deg(hub) slim rows and spill if huge; no driver-side state, no
    collected arrays.
    """
    if n_iter is not None and n_iter < 1:
        raise ValueError("n_iter must be >= 1 (or None for convergence)")
    und = simple_undirected(edges, src, dst)
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    adj = (adj.repartition(num_partitions, "b") if num_partitions
           else adj.repartition("b")).persist()
    adj.count()  # materialize once; every round reuses the same blocks

    from pyspark.sql import Window

    adj_a = None
    try:
        if n_iter is not None:
            return _kcore_loop(adj, n_iter, max_iter, Window)
        adj_a = (adj.repartition(num_partitions, "a") if num_partitions
                 else adj.repartition("a")).persist()
        return _kcore_loop_delta(adj, adj_a, max_iter, Window)
    finally:
        adj.unpersist()  # also on per-round job failure — no cache leak
        if adj_a is not None:
            adj_a.unpersist()


def _hindex_pass(adj_rows, est, Window):
    """One h-index recomputation over ``adj_rows`` (a, b) against the
    full estimate vector: h(v) = max over rank rn of min(rn, est) when
    the node's neighbor estimates are sorted descending."""
    nb = adj_rows.join(est.withColumnRenamed("id", "b"), "b").select("a", "est")
    w = Window.partitionBy("a").orderBy(F.desc("est"))
    return (
        nb.withColumn("rn", F.row_number().over(w))
        .select("a", F.least(F.col("rn").cast("long"), F.col("est")).alias("m"))
        .groupBy("a")
        .agg(F.max("m").alias("new_est"))
        .select(F.col("a").alias("id"), F.col("new_est").alias("est"))
    )


def _kcore_loop(adj, n_iter, max_iter, Window):
    """Fixed-schedule mode: n_iter full h-index rounds (oracle parity)."""
    est = adj.groupBy(F.col("a").alias("id")).agg(
        F.count("*").cast("long").alias("est")
    ).localCheckpoint()
    for _ in range(n_iter):
        est = _hindex_pass(adj, est, Window).localCheckpoint()
    # est is localCheckpoint-materialized: safe for the caller's finally
    # to unpersist adj before the returned frame is consumed
    return est.select(F.col("id").alias("node"), F.col("est").alias("core"))


def _kcore_loop_delta(adj, adj_a, max_iter, Window):
    """Convergence mode by delta iteration: round 1 recomputes every
    node (frontier = all); thereafter only NEIGHBORS of changed nodes
    are recomputed and merged over the previous estimates. Terminates
    when the frontier empties — the estimates are then a fixpoint, and
    the fixpoint of the h-index operator is exactly the core number
    (Montresor et al. 2013, Thm 1)."""
    est = adj.groupBy(F.col("a").alias("id")).agg(
        F.count("*").cast("long").alias("est")
    ).localCheckpoint()
    frontier = est.select("id")  # round 1: everyone "changed"
    rounds = 0
    while True:
        # candidates: nodes with a changed neighbor (adj is partitioned
        # by b — the frontier shuffles, the big side does not)
        cand = (
            adj.join(frontier.withColumnRenamed("id", "b"), "b")
            .select(F.col("a").alias("id")).distinct()
        )
        # candidate adjacency: adj_a is partitioned by a, and cand's
        # distinct output is hash-partitioned on the same key — the
        # semi-join is co-partitioned, no O(E) shuffle
        sub = adj_a.join(cand.withColumnRenamed("id", "a"), "a", "left_semi")
        new = _hindex_pass(sub, est, Window)
        merged = (
            est.withColumnRenamed("est", "old")
            .join(new, "id", "left")
            .select(
                "id", "old",
                F.coalesce("est", "old").alias("est"),
            )
            .localCheckpoint(eager=False)
        )
        frontier = merged.where("est != old").select("id")
        est = merged.select("id", "est")
        rounds += 1
        # one slim count probes convergence AND materializes `merged`
        n_changed = frontier.count()
        if n_changed == 0:
            break
        if rounds >= max_iter:
            raise RuntimeError(
                f"kcore_numbers: no fixpoint after {max_iter} h-index rounds"
            )
    return est.select(F.col("id").alias("node"), F.col("est").alias("core"))


def kcore_oracle_sql(edges_sql: str, n_iter: int) -> str:
    """ANSI-SQL replay for DuckDB: the same ``n_iter`` h-index rounds
    unrolled as chained CTEs (the label_propagation oracle convention).
    ``edges_sql`` must yield (src, dst); output (node, core) is integer
    so the value hash is exact."""
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1 (kcore_numbers contract)")
    ctes = [
        f"""e0 AS ({edges_sql}),
        und AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM e0 WHERE src <> dst
        ),
        adj AS (
          SELECT u AS a, v AS b FROM und
          UNION ALL SELECT v AS a, u AS b FROM und
        ),
        est0 AS (SELECT a AS id, count(*) AS est FROM adj GROUP BY a)"""
    ]
    for r in range(1, n_iter + 1):
        ctes.append(f"""est{r} AS (
          SELECT a AS id, max(least(rn, est)) AS est FROM (
            SELECT adj.a, e.est,
                   row_number() OVER (PARTITION BY adj.a
                                      ORDER BY e.est DESC) AS rn
            FROM adj JOIN est{r - 1} e ON adj.b = e.id
          ) t GROUP BY a
        )""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT id AS node, CAST(est AS BIGINT) AS core "
              f"FROM est{n_iter} ORDER BY node")
