#!/usr/bin/env python3
"""One benchmark for the kgspark engine's three real workloads.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

WORKLOAD is one of:

- ``bulk_build``: repeated ``build_graph`` over materialized pages,
  after one untimed warm-up build. No store, no search.
- ``point_update``: single-episode ``KGSpark.add_episode`` calls into
  existing groups of a small store, each followed by one
  ``KGSpark.search`` (a read right after a write).
- ``search``: read-only searches over a warm, larger store.

Each workload is a closed loop with one client, in one process driving
one Spark session on local[<cpus this process may use>]. Its inputs come
from ``kgspark.synth`` seeded by ``--seed``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate
traced run (perfbench/WORKLOADS.md maps each layer metric to the
end-to-end metric it should move). Logs go to stderr; the last line of
stdout is one JSON object with the keys correct, attempted, failed and
metrics. A failed correctness gate exits with status 3 and prints no
result; a checkout without the engine exits with status 2.

Run it from the root of a checkout: it builds nothing, and reads and
writes only inside the checkout (scratch space under .perfbench_work/,
removed on exit).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from datetime import datetime, timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NOW = datetime(2024, 6, 1)  # invalidation clock: fixed, so outputs repeat byte for byte
EMBED_DIM = 64
DEFAULT_SEED = 1  # the seed whose bulk_build digest perfbench/expected.json records
DRIVER_MEMORY = "2g"

# Input sizes. They are small because every run pays a Spark start and a
# cold first build, and the whole protocol (22 runs per workload) must fit
# the benchmark's time budget; see WORKLOADS.md.
BULK_DOCS, BULK_GROUPS = 1000, 4
POINT_DOCS, POINT_GROUPS = 56, 4
SEARCH_DOCS, SEARCH_GROUPS = 1600, 16
# bulk set-up (materializing the pages) is cheap enough to repeat and
# report as a median; a store build is not, within the time budget
BULK_SETUP_REPEATS = 3
N_QUERIES = 10  # distinct queries the search workload cycles through

WORKLOADS = ("bulk_build", "point_update", "search")
GRAPH_TABLES = ("episodes", "nodes", "edges", "mentions")

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "extract.wall_s": "s", "extract.task_s": "s", "extract.rows_out": "count",
    "extract.nodes.wall_s": "s", "extract.nodes.task_s": "s",
    "embed.edges.wall_s": "s", "embed.edges.task_s": "s",
    "dedup.alias.wall_s": "s", "dedup.alias.pairs": "count",
    "dedup.uuid_map.wall_s": "s", "dedup.uuid_map.jobs": "count",
    "dedup.edges.wall_s": "s", "dedup.edges.shuffle_mb": "MB",
    "dedup.edges.kept_ratio": "ratio",
    "temporal.wall_s": "s", "temporal.task_s": "s", "temporal.invalidated": "count",
    "pipeline.rest.wall_s": "s",
    "bulk.wall_s": "s", "bulk.jobs": "count", "bulk.task_s": "s", "bulk.gc_s": "s",
    "bulk.spill_mb": "MB", "bulk.max_task_s": "s", "bulk.driver_only_s": "s",
    "point.wall_s": "s", "point.jobs": "count", "point.task_s": "s",
    "point.driver_only_s": "s",
    "store.append.wall_s": "s", "store.append.jobs": "count",
    "assemble.wall_s": "s", "assemble.jobs": "count",
    "store.splice.wall_s": "s", "store.splice.jobs": "count",
    "store.bytes_written": "bytes",
    "postings.refresh.wall_s": "s", "postings.refresh.jobs": "count",
    "postings.read.wall_s": "s",
    "search.wall_s": "s", "search.plan_s": "s", "search.exec_s": "s",
    "search.jobs": "count", "search.task_s": "s", "search.input_rows": "count",
    "search.shuffle_mb": "MB",
    "trace.overhead_s": "s",
}


class GateError(Exception):
    """A correctness gate failed: the run must not report numbers."""


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it."""
    if len(xs) < 11:
        return None
    p = int(100 * (1 - 10 / len(xs)))
    return p, statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


# ---------------------------------------------------------------- launcher
def prepare_env(workdir: str) -> None:
    """Environment for the Spark JVM and its Python workers: the engine on
    the workers' path (the preload daemon imports kgspark), and every
    scratch directory inside this run's work directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["KGSPARK_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    # the whole heap committed and touched at start: the JVM's share of
    # peak_rss_mb is then the heap size, not wherever the collector's
    # sizing heuristics happened to leave it, and no run pays heap growth
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
    # the JVM that spark-submit runs to build the driver's command line;
    # without -UsePerfData a JVM writes /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} --driver-java-options "
        f"{shlex.quote(java_opts)} pyspark-shell")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(workdir: str):
    from kgspark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark("kgspark-perfbench", master=f"local[{cpus}]", extra={
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # keep every job and stage of a run readable for the traced run
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark, started: list[int]) -> None:
    """Stop Spark, then wait for the JVM and every process seen under it
    (the Python worker daemon and its workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------- outputs
def table_digest(df) -> str:
    """Order-insensitive digest of a table: row count and the sum of one
    64-bit hash per row over every column (maps as sorted entries, since
    a map's entry order is not part of its value)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [F.array_sort(F.map_entries(F.col(f.name))) if isinstance(f.dataType, MapType)
            else F.col(f.name)
            for f in sorted(df.schema.fields, key=lambda f: f.name)]
    r = (df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
         .agg(F.count("*").alias("n"), F.sum("h").alias("s")).first())
    return f"{r['n']}:{r['s']}"


def graph_digest(g: dict) -> dict:
    return {t: table_digest(g[t]) for t in GRAPH_TABLES}


def expected_digest(workload: str) -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)[workload]


# ---------------------------------------------------------------- inputs
def make_pages(spark, n_docs: int, n_groups: int, seed: int):
    from kgspark.synth import synth_pages

    cpus = spark.sparkContext.defaultParallelism
    return synth_pages(spark, n_docs=n_docs, n_groups=n_groups, seed=seed,
                       partitions=2 * cpus).localCheckpoint(eager=True)


def vocabulary_query(rng: random.Random) -> str:
    from kgspark.synth import CITIES, FIRST, LAST, ORGS

    kind = rng.randrange(4)
    person = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
    if kind == 0:
        return person
    if kind == 1:
        return f"{person} works at {rng.choice(ORGS)}"
    if kind == 2:
        return f"who lives in {rng.choice(CITIES)}"
    return f"{rng.choice(LAST)} {rng.choice(ORGS)}"


def episodes_for(seed: int, n_groups: int, count: int) -> list[dict]:
    """A seeded sequence of single episodes into existing synth groups,
    all dated after the base corpus and before NOW."""
    from kgspark.synth import CITIES, FIRST, LAST, ORGS, ROLES

    rng = random.Random(seed * 7919 + 17)
    out = []
    for i in range(count):
        p1 = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        p2 = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        body = (f"{p1} works at {rng.choice(ORGS)}. {p2} lives in "
                f"{rng.choice(CITIES)}. {p1} is the {rng.choice(ROLES)} of "
                f"{rng.choice(ORGS)}. {p1} knows {p2}.")
        out.append({"name": f"bench-{seed}-{i}", "body": body,
                    "group": f"g{rng.randrange(n_groups)}.example.org",
                    "ts": datetime(2024, 5, 1) + timedelta(minutes=i),
                    "query": p1})
    return out


# ---------------------------------------------------------------- runner
class Run:
    """One benchmark run: op accounting, set-up timing and the time window."""

    def __init__(self, spark, workdir: str, seconds: int, trace: bool):
        self.spark = spark
        self.workdir = workdir
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.ops: list[float] = []
        self.layers: dict[str, list[float]] = {}
        self.report: dict = {}
        self.phases: dict[str, float] = {}
        self._window_start = None
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the named phase of the run (for the stderr summary)."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._mark, 3)
        self._mark = now

    def attempt(self, fn, *args, **kw):
        """Count one op; an exception is logged and counted as failed,
        and the loop goes on."""
        self.attempted += 1
        try:
            return True, fn(*args, **kw)
        except GateError:
            raise
        except Exception:
            self.failed += 1
            log(traceback.format_exc())
            return False, None

    def start_window(self) -> None:
        self._window_start = time.perf_counter()

    def more(self, n_started: int, minimum: int, last_s: float) -> bool:
        """Start another op while it should end inside the window, and at
        least ``minimum`` ops."""
        if n_started < minimum:
            return True
        return time.perf_counter() - self._window_start + last_s <= self.seconds

    def add_layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)


# ---------------------------------------------------------------- bulk_build
def bulk_build(run: Run, seed: int) -> None:
    from kgspark.pipeline import build_graph

    spark = run.spark
    for _ in range(BULK_SETUP_REPEATS):
        t0 = time.perf_counter()
        pages = make_pages(spark, BULK_DOCS, BULK_GROUPS, seed)
        run.setup_s.append(time.perf_counter() - t0)
    n_docs = pages.count()
    run.phase("setup")

    def build() -> dict:
        digest = graph_digest(build_graph(pages, now=NOW))
        spark.catalog.clearCache()
        return digest

    warm = build()  # untimed: JIT and page cache, paid once per session
    run.phase("warmup")
    if seed == DEFAULT_SEED:
        want = expected_digest("bulk_build")
        if want != {"docs": n_docs, **warm}:
            raise GateError(f"bulk_build digest at the default seed is "
                            f"{ {'docs': n_docs, **warm} }, expected {want}")
    if run.trace:
        return bulk_build_traced(run, pages, build, warm)
    run.start_window()
    n = 0
    while run.more(n, 2, median(run.ops)):
        n += 1
        t0 = time.perf_counter()
        ok, digest = run.attempt(build)
        if ok:
            run.ops.append(time.perf_counter() - t0)
            if digest != warm:
                raise GateError(f"build digest changed between builds: {digest} vs {warm}")
    run.phase("window")
    run.report = {"bulk_docs_per_s": n_docs / median(run.ops), "docs": n_docs}


def bulk_build_traced(run: Run, pages, build, want: dict) -> None:
    """Alternate one build_graph under a single label (the bulk.* totals)
    with a replay of build_graph's public calls, materialized at each
    layer boundary (the per-layer split)."""
    from layers import Tracer, totals

    tr = Tracer(run.spark)
    run.start_window()
    op = 0
    pairs: list[tuple[float, float]] = []
    while run.more(op // 2, 1, sum(pairs[-1]) if pairs else 0.0):
        op += 1
        t0 = time.perf_counter()
        with tr.layer("bulk", op):
            ok, _ = run.attempt(build)
        wall = time.perf_counter() - t0
        if not ok:
            continue
        spans = tr.collect(op, max_task=True)
        t = totals(spans, wall)
        run.add_layer("bulk.wall_s", wall)
        for k in ("jobs", "task_s", "gc_s", "spill_mb", "max_task_s", "driver_only_s"):
            run.add_layer(f"bulk.{k}", t[k])

        op += 1
        ok, stats = run.attempt(replay_build, run.spark, pages, tr, op)
        if not ok:
            continue
        digest, counts = stats
        # the replay guard: a replay that no longer composes to what
        # build_graph computes would attribute time to stale layers
        if digest != want:
            raise GateError("traced replay of build_graph diverged from "
                            f"build_graph: {digest} vs {want}")
        run.spark.catalog.clearCache()
        spans = {s.layer: s for s in tr.collect(op)}
        traced = sum(s.wall_s for s in spans.values())
        pairs.append((wall, traced))
        for name, s in spans.items():
            run.add_layer(f"{name}.wall_s", s.wall_s)
        for name in ("extract", "extract.nodes", "embed.edges", "temporal"):
            run.add_layer(f"{name}.task_s", spans[name].metrics["task_s"])
        run.add_layer("dedup.uuid_map.jobs", spans["dedup.uuid_map"].metrics["jobs"])
        run.add_layer("dedup.edges.shuffle_mb", spans["dedup.edges"].metrics["shuffle_mb"])
        for k, v in counts.items():
            run.add_layer(k, v)
        run.add_layer("trace.overhead_s", traced - wall)


def replay_build(spark, pages, tr, op: int):
    """build_graph (entity_types=None, the bulk default) as its public
    calls, one labelled layer each, each materialized before the next.
    Mirrors kgspark.pipeline.assemble_graph; the caller checks that the
    result digests equal build_graph's."""
    from pyspark.sql import functions as F

    from kgspark.functions.embed import embedder_udf
    from kgspark.operators.dedup import (
        alias_pairs, apply_uuid_map_nodes, build_uuid_map, dedupe_edges,
        resolve_edge_pointers,
    )
    from kgspark.operators.extract import (
        build_entity_nodes, pages_to_episodes, run_extraction, sha1_uuid,
    )
    from kgspark.operators.temporal import invalidate_edges
    from kgspark.pipeline import EDGE_SALT

    with tr.layer("extract", op):
        ext = run_extraction(pages_to_episodes(pages))
        ext.cached.count()
    with tr.layer("extract.nodes", op):
        nodes0 = build_entity_nodes(ext.ext_nodes, EMBED_DIM).localCheckpoint(eager=True)
    with tr.layer("dedup.alias", op):
        pairs = alias_pairs(nodes0)
    with tr.layer("dedup.uuid_map", op):
        uuid_map = build_uuid_map(nodes0, pairs).persist()
        uuid_map.count()
    with tr.layer("dedup.edges", op):
        deduped = dedupe_edges(resolve_edge_pointers(ext.ext_edges, uuid_map),
                               n_salt=EDGE_SALT).persist()
        n_deduped = deduped.count()
    with tr.layer("temporal", op):
        temporal = invalidate_edges(deduped, NOW, n_edges=n_deduped).persist()
        temporal.count()
    with tr.layer("embed.edges", op):
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        edges = (
            temporal.repartition(n_parts)
            .withColumn("fact_embedding", embedder_udf(EMBED_DIM)(F.col("fact")))
            .withColumn("name", F.col("pred"))
            .withColumn("attributes", F.create_map(
                F.lit("n_episodes"), F.size("episodes").cast("string")))
            .select("uuid", "source_node_uuid", "target_node_uuid", "name", "fact",
                    "fact_embedding", "group_id", "episodes", "created_at",
                    "expired_at", "valid_at", "invalid_at", "attributes")
            .persist())
        edges.count()
    with tr.layer("pipeline.rest", op):
        nodes = apply_uuid_map_nodes(nodes0, uuid_map).drop("norm_name")
        m = ext.ext_nodes.select("episode_uuid", F.col("uuid").alias("entity_uuid"),
                                 "group_id", F.col("warc_ts").alias("created_at"))
        m = (m.join(F.broadcast(uuid_map), m.entity_uuid == uuid_map.uuid, "left")
             .withColumn("entity_uuid", F.coalesce("canonical_uuid", "entity_uuid"))
             .drop("uuid", "canonical_uuid"))
        mentions = (
            m.groupBy("episode_uuid", "entity_uuid", "group_id")
            .agg(F.min("created_at").alias("created_at"))
            .withColumn("uuid", sha1_uuid(F.lit("mention"), F.col("episode_uuid"),
                                          F.col("entity_uuid")))
            .select("uuid", "episode_uuid", "entity_uuid", "group_id", "created_at"))
        ep_edges = (
            edges.select(F.col("uuid").alias("edge_uuid"),
                         F.explode("episodes").alias("episode_uuid"))
            .groupBy("episode_uuid")
            .agg(F.array_sort(F.collect_set("edge_uuid")).alias("entity_edges")))
        eps = ext.episodes
        episodes = (
            eps.drop("entity_edges")
            .join(ep_edges, eps.uuid == ep_edges.episode_uuid, "left")
            .drop("episode_uuid")
            .withColumn("entity_edges", F.coalesce(
                "entity_edges", F.array().cast("array<string>")))
            .select("uuid", "name", "group_id", "source", "source_description",
                    "content", "valid_at", "created_at", "entity_edges",
                    "summary_text", "url", "warc_ts", "lang"))
        digest = graph_digest({"episodes": episodes, "nodes": nodes,
                               "edges": edges, "mentions": mentions})
    # bookkeeping counts, outside every layer span
    n_ext = ext.ext_nodes.count() + ext.ext_edges.count()
    counts = {
        "extract.rows_out": n_ext,
        "dedup.alias.pairs": pairs.count(),
        "dedup.edges.kept_ratio": n_deduped / max(1, ext.ext_edges.count()),
        "temporal.invalidated": temporal.where(F.col("expired_at").isNotNull()).count(),
    }
    return digest, counts


# ---------------------------------------------------------------- stores
def build_store(run: Run, n_docs: int, n_groups: int, seed: int):
    """The workload's base store: synth pages ingested through
    KGSpark.add_pages. Timed as set-up."""
    from kgspark.api import KGSpark

    t0 = time.perf_counter()
    kg = KGSpark(run.spark, os.path.join(run.workdir, "store"), embed_dim=EMBED_DIM)
    pages = make_pages(run.spark, n_docs, n_groups, seed)
    kg.add_pages(pages, now=NOW)
    run.setup_s.append(time.perf_counter() - t0)
    return kg, pages


def collect_search(kg, kind: str, query: str, center: str | None, traced: bool = False):
    """One search, materialized to its ranked uuid lists. Traced, the
    plan (everything up to the physical plan, including any eager BFS
    jobs) and the execution are timed apart."""
    from kgspark.search.recipes import COMBINED_HYBRID_SEARCH_RRF

    t0 = time.perf_counter()
    if kind == "combined":
        res = kg.search_(query, COMBINED_HYBRID_SEARCH_RRF)
        frames = {"edges": res.edges, "nodes": res.nodes,
                  "episodes": res.episodes, "communities": res.communities}
    else:
        frames = {"edges": kg.search(query, center_node_uuid=center, num_results=10)}
    if traced:
        for df in frames.values():
            df._jdf.queryExecution().executedPlan()
    t1 = time.perf_counter()
    out = {k: [r["uuid"] for r in df.collect()] for k, df in frames.items()}
    t2 = time.perf_counter()
    return out, t1 - t0, t2 - t1


# ---------------------------------------------------------------- point_update
def point_update(run: Run, seed: int) -> None:
    kg, base = build_store(run, POINT_DOCS, POINT_GROUPS, seed)
    episodes = iter(episodes_for(seed, POINT_GROUPS, 1000))
    added: list[dict] = []

    def write(ep: dict) -> None:
        kg.add_episode(ep["name"], ep["body"], reference_time=ep["ts"],
                       group_id=ep["group"], now=NOW)
        added.append(ep)

    def read(ep: dict) -> dict:
        out, _, _ = collect_search(kg, "rrf", ep["query"], None)
        if not out["edges"]:
            raise GateError(f"empty read after write for {ep['query']!r}")
        return out

    # the store build ran the write path's plans; one search (part of
    # set-up) runs the read path's, so the first timed cycle is warm
    t0 = time.perf_counter()
    read({"query": "who lives in San Francisco"})  # in the golden pages of every store
    run.setup_s[-1] += time.perf_counter() - t0
    run.phase("setup")
    if run.trace:
        point_update_traced(run, kg, episodes, write, read)
    else:
        writes, reads = [], []
        run.start_window()
        n = 0
        while run.more(n, 2, median(run.ops)):
            n += 1
            ep = next(episodes)
            t0 = time.perf_counter()
            ok, _ = run.attempt(write, ep)
            t1 = time.perf_counter()
            if ok and run.attempt(read, ep)[0]:
                t2 = time.perf_counter()
                writes.append(t1 - t0)
                reads.append(t2 - t1)
                run.ops.append(t2 - t0)
        run.report = {"add_episode_p50_s": median(writes),
                      "read_after_write_p50_s": median(reads)}
    run.phase("window")
    check_convergence(run.spark, kg, base, added)
    run.phase("gate")


def check_convergence(spark, kg, base, added: list[dict]) -> None:
    """The incremental store must equal a one-shot build over the base
    pages and every added episode (kgspark.streaming.incremental's
    convergence guarantee; the facade always hydrates attributes)."""
    import pandas as pd

    from kgspark.operators.attributes import DEFAULT_ENTITY_TYPES
    from kgspark.pipeline import build_graph
    from kgspark.schemas import PAGES

    rows = pd.DataFrame([{"url": f"https://{e['group']}/{e['name']}", "warc_ts": e["ts"],
                          "html": None, "text": e["body"], "lang": "en"} for e in added])
    pages = base.unionByName(spark.createDataFrame(rows, PAGES))
    want = graph_digest(build_graph(pages, embed_dim=EMBED_DIM, now=NOW,
                                    entity_types=DEFAULT_ENTITY_TYPES))
    got = graph_digest(kg.graph())
    if got != want:
        raise GateError(f"store after {len(added)} add_episode calls differs from "
                        f"the one-shot build: {got} vs {want}")


# engine functions whose calls are the point-update layers, wrapped for
# the traced run only; (module, attribute owner, attribute name)
POINT_LAYERS = {
    "store.append": ("kgspark.sources.store", "GraphStore", "append_grouped"),
    "assemble": ("kgspark.streaming.incremental", None, "assemble_graph"),
    "store.splice": ("kgspark.sources.store", "GraphStore", "splice_groups"),
    "postings.refresh": ("kgspark.search.fulltext", None, "refresh_postings_groups"),
}


def wrap_point_layers(tr, op_ref: list[int]):
    """Label the engine's own calls on the point-update path with layer
    spans, in whichever thread makes them (the splice pool included). A
    call made inside another layer (the postings splices) stays in that
    layer. Returns a function that undoes the wrapping."""
    import importlib

    undo = []
    for layer, (mod, owner, attr) in POINT_LAYERS.items():
        target = importlib.import_module(mod)
        if owner:
            target = getattr(target, owner)
        fn = getattr(target, attr)

        def wrapper(*a, _fn=fn, _layer=layer, **kw):
            if tr.in_layer():
                return _fn(*a, **kw)
            with tr.layer(_layer, op_ref[0]):
                return _fn(*a, **kw)

        setattr(target, attr, wrapper)
        undo.append((target, attr, fn))

    def restore():
        for target, attr, fn in undo:
            setattr(target, attr, fn)
    return restore


def point_update_traced(run: Run, kg, episodes, write, read) -> None:
    """Alternate untraced and traced write+read cycles: the traced ones
    give the layers, the difference gives the tracing overhead."""
    from layers import Tracer, totals

    tr = Tracer(run.spark)
    op_ref = [0]
    plain, traced = [], []
    run.start_window()
    while run.more(op_ref[0], 1, median(plain) + median(traced)):
        ep = next(episodes)
        t0 = time.perf_counter()
        if run.attempt(write, ep)[0] and run.attempt(read, ep)[0]:
            plain.append(time.perf_counter() - t0)

        ep = next(episodes)
        op_ref[0] += 1
        op = op_ref[0]
        restore = wrap_point_layers(tr, op_ref)
        try:
            t0 = time.perf_counter()
            with tr.layer("point", op, nests=False):
                ok, _ = run.attempt(write, ep)
            t1 = time.perf_counter()
        finally:
            restore()
        if not ok:
            continue
        with tr.layer("postings.read", op):
            idx = kg.postings()
            idx.postings.count()
            idx.doc_stats.count()
        t2 = time.perf_counter()
        with tr.layer("search", op):
            ok, res = run.attempt(collect_search, kg, "rrf", ep["query"], None, True)
        t3 = time.perf_counter()
        if not ok:
            continue
        if not res[0]["edges"]:
            raise GateError(f"empty read after write for {ep['query']!r}")
        traced.append(t3 - t0)
        spans = tr.collect(op)
        by = {}
        for s in spans:
            by.setdefault(s.layer, []).append(s)
        missing = [name for name in POINT_LAYERS if name not in by]
        if missing:
            raise GateError(f"no call reached the traced layers {missing}: the "
                            "layer map no longer matches the point-update path")
        write_spans = [s for s in spans if s.layer not in ("postings.read", "search")]
        t = totals(write_spans, t1 - t0)
        run.add_layer("point.wall_s", t1 - t0)
        for k in ("jobs", "task_s", "driver_only_s"):
            run.add_layer(f"point.{k}", t[k])
        run.add_layer("store.bytes_written", t["output_bytes"])
        for name in ("store.append", "assemble", "postings.refresh"):
            run.add_layer(f"{name}.wall_s", sum(s.wall_s for s in by[name]))
            run.add_layer(f"{name}.jobs", sum(s.metrics["jobs"] for s in by[name]))
        # the splices run in parallel: the slowest one is the critical path
        run.add_layer("store.splice.wall_s", max(s.wall_s for s in by["store.splice"]))
        run.add_layer("store.splice.jobs", sum(s.metrics["jobs"] for s in by["store.splice"]))
        run.add_layer("postings.read.wall_s", t2 - t1)
        add_search_layers(run, by["search"][0], res[1], res[2])
    run.add_layer("trace.overhead_s", median(traced) - median(plain))


def add_search_layers(run: Run, span, plan_s: float, exec_s: float) -> None:
    m = span.metrics
    run.add_layer("search.wall_s", span.wall_s)
    run.add_layer("search.plan_s", plan_s)
    run.add_layer("search.exec_s", exec_s)
    for k in ("jobs", "task_s", "input_rows", "shuffle_mb"):
        run.add_layer(f"search.{k}", m[k])


# ---------------------------------------------------------------- search
def search_workload(run: Run, seed: int) -> None:
    from pyspark.sql import functions as F

    kg, _ = build_store(run, SEARCH_DOCS, SEARCH_GROUPS, seed)
    g = kg.graph()
    edge_ids = {r["uuid"] for r in g["edges"].select("uuid").collect()}
    node_ids = {r["uuid"] for r in g["nodes"].select("uuid").collect()}
    centers = sorted(r["s"] for r in g["edges"].select(
        F.col("source_node_uuid").alias("s")).distinct().collect())
    # mostly the default RRF edge search, some center-node (node-distance,
    # BFS) searches and one combined hybrid search per cycle
    rng = random.Random(seed)
    kinds = ["rrf"] * 7 + ["center"] * 2 + ["combined"]
    queries = [(kinds[i], vocabulary_query(rng),
                rng.choice(centers) if kinds[i] == "center" else None)
               for i in range(N_QUERIES)]
    rng.shuffle(queries)
    first: dict[int, dict] = {}

    def one(i: int, traced: bool = False):
        kind, q, center = queries[i]
        out, plan_s, exec_s = collect_search(kg, kind, q, center, traced)
        if i not in first:
            if not out["edges"]:
                raise GateError(f"empty result for vocabulary query {q!r}")
            if not set(out["edges"]) <= edge_ids or not set(out.get("nodes", [])) <= node_ids:
                raise GateError(f"result for {q!r} holds uuids missing from the graph")
            first[i] = out
        elif out != first[i]:
            raise GateError(f"ranking for {q!r} changed between repetitions")
        return plan_s, exec_s

    for i in range(N_QUERIES):  # untimed warm-up pass, fixes the reference results
        one(i)
    if run.trace:
        return search_traced(run, one)
    run.start_window()
    i = 0
    while run.more(i, N_QUERIES, median(run.ops)):
        t0 = time.perf_counter()
        if run.attempt(one, i % N_QUERIES)[0]:
            run.ops.append(time.perf_counter() - t0)
        i += 1
    t = tail(run.ops)
    run.report = {"search_p50_s": median(run.ops), "samples": len(run.ops),
                  **({f"search_p{t[0]}_s": t[1]} if t else {})}


def search_traced(run: Run, one) -> None:
    """Whole cycles over the query list, alternating an untraced cycle
    with a traced one, so job counts cover the same query mix every run."""
    from layers import Tracer

    tr = Tracer(run.spark)
    plain, traced = [], []
    op = 0
    run.start_window()
    while run.more(op // N_QUERIES, 1, sum(plain[-N_QUERIES:]) + sum(traced[-N_QUERIES:])):
        for i in range(N_QUERIES):
            t0 = time.perf_counter()
            if run.attempt(one, i)[0]:
                plain.append(time.perf_counter() - t0)
        for i in range(N_QUERIES):
            op += 1
            t0 = time.perf_counter()
            with tr.layer("search", op):
                ok, res = run.attempt(one, i, True)
            if ok:
                traced.append(time.perf_counter() - t0)
                add_search_layers(run, tr.collect(op)[0], *res)
    run.add_layer("trace.overhead_s", median(traced) - median(plain))


# ---------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    if not os.path.isfile(os.path.join(ROOT, "kgspark", "__init__.py")):
        log(f"no kgspark engine next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)

    from layers import RssSampler, process_tree

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(workdir)
    spark = None
    try:
        prepare_env(workdir)
        t0 = time.perf_counter()
        with RssSampler() as rss:
            spark = start_spark(workdir)
            session_s = time.perf_counter() - t0
            run = Run(spark, workdir, args.seconds, bool(args.trace))
            {"bulk_build": bulk_build, "point_update": point_update,
             "search": search_workload}[args.workload](run, args.seed)
    except GateError as e:
        log(f"correctness gate failed: {e}")
        return 3
    finally:
        if spark is not None:
            stop_spark(spark, process_tree(os.getpid())[1:])
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if args.trace:
        metrics = {k: median(run.layers.get(k, [])) for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = {"setup_s": median(run.setup_s), "op_p50_s": median(run.ops),
                   "peak_rss_mb": rss.peak_kb / 1024}
        units = END_TO_END
    log(json.dumps({"workload": args.workload, "seed": args.seed,
                    "session_s": round(session_s, 3), "phases_s": run.phases,
                    "setup_runs_s": run.setup_s,
                    "ops": len(run.ops), "op_runs_s": run.ops, **run.report}))
    print(json.dumps({
        "correct": True, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
