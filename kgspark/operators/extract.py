"""Extraction operators E1-E6 as Spark dataflow (SURVEY §2.2).

One Arrow-batched pandas UDF runs the whole EXTRACTION SPEC v1 per
episode (mentions + triples + summary in a single pass — the reference
makes 3-5 LLM calls per episode here: node_operations.py:73-218,
edge_operations.py:83-224, temporal_operations.py:33-71,
graphiti.py:426-454); everything downstream is native exploding /
joins / hashing, fully JVM-side.

uuid scheme (deterministic, content-addressed):
- episode uuid  = sha1('episode:' + url)
- node uuid     = sha1('node:' + group_id + ':' + norm_name)   (D1 built in:
  exact-normalized-name dedup collapses by construction — reference
  bulk_utils.py:278-288 "first occurrence wins" keyed on name)
- edge uuid     = sha1('edge:' + group + ':' + subj + ':' + pred + ':' +
  obj + ':' + episode + ':' + idx)
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kgspark.functions.embed import embedder_udf
from kgspark.functions.text import html_to_text, norm_name, url_group_id
from kgspark.operators._extract_core import extract_episode
from kgspark.schemas import MENTION_STRUCT, TRIPLE_STRUCT

EXTRACT_RESULT = T.StructType(
    [
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT), False),
        T.StructField("triples", T.ArrayType(TRIPLE_STRUCT), False),
        T.StructField("summary", T.StringType(), True),
    ]
)


@pandas_udf(EXTRACT_RESULT)
def extract_udf(content: pd.Series, source: pd.Series, ref_ts: pd.Series) -> pd.DataFrame:
    mentions, triples, summaries = [], [], []
    for c, s, r in zip(content, source, ref_ts):
        m, t, su = extract_episode(c or "", s or "text", r.to_pydatetime())
        mentions.append(m)
        triples.append([
            {**x, "valid_at": pd.Timestamp(x["valid_at"]) if x["valid_at"] else None,
             "invalid_at": pd.Timestamp(x["invalid_at"]) if x["invalid_at"] else None}
            for x in t
        ])
        summaries.append(su)
    return pd.DataFrame({"mentions": mentions, "triples": triples, "summary": summaries})


def detect_source(content: Column) -> Column:
    """EpisodeType dispatch (reference nodes.py:57-90) from content shape."""
    return (
        F.when(content.rlike(r"^\s*\{"), F.lit("json"))
        .when(content.rlike(r"^[A-Za-z][\w .'-]{0,40}:\s"), F.lit("message"))
        .otherwise(F.lit("text"))
    )


def sha1_uuid(*cols: Column) -> Column:
    return F.sha1(F.concat_ws(":", *cols))


class Extracted(NamedTuple):
    episodes: DataFrame       # EPISODES schema minus entity_edges backfill
    ext_nodes: DataFrame      # uuid, name, group_id, entity_type, episode_uuid, created_at
    ext_edges: DataFrame      # uuid, subj/obj name+uuid, pred, fact, temporal cols
    # the shared UDF-output persist all three frames read from —
    # per-batch callers (streaming ingest) unpersist it when the batch
    # is done so a long-running stream doesn't accumulate dead caches
    cached: DataFrame | None = None


def pages_to_episodes(pages: DataFrame) -> DataFrame:
    """S1: pages → episodes projection. Text comes from the html extractor
    when html is present (byte-identical invariant), else the text column."""
    content = F.when(
        F.col("html").isNotNull(), html_to_text(F.col("html"))
    ).otherwise(F.col("text"))
    return (
        pages.select(
            F.col("url"),
            F.col("warc_ts"),
            F.col("lang"),
            content.alias("content"),
            url_group_id(F.col("url")).alias("group_id"),
        )
        .withColumn("uuid", sha1_uuid(F.lit("episode"), F.col("url")))
        .withColumn("source", detect_source(F.col("content")))
        .withColumn("name", F.regexp_extract("url", r"([^/]+)$", 1))
        .withColumn("source_description", F.concat(F.lit("web page "), F.col("url")))
        .withColumn("valid_at", F.col("warc_ts"))
        .withColumn("created_at", F.col("warc_ts"))
    )


def run_extraction(episodes: DataFrame) -> Extracted:
    """E1+E2+E3+E5 in one pass; returns per-episode exploded node and edge
    candidates keyed by deterministic uuids."""
    extracted = episodes.withColumn(
        "_ext", extract_udf(F.col("content"), F.col("source"), F.col("valid_at"))
    ).select(
        "uuid", "group_id", "valid_at", "warc_ts",
        F.col("_ext.mentions").alias("mentions"),
        F.col("_ext.triples").alias("triples"),
        F.col("_ext.summary").alias("summary_text"),
    )
    # cache: feeds nodes, edges and the episode summary join
    extracted = extracted.persist()

    ext_nodes = (
        extracted.select(
            F.col("uuid").alias("episode_uuid"),
            "group_id", "warc_ts",
            F.explode("mentions").alias("m"),
        )
        .select(
            "episode_uuid", "group_id", "warc_ts",
            F.col("m.name").alias("name"),
            F.col("m.entity_type").alias("entity_type"),
        )
        .withColumn("norm_name", norm_name(F.col("name")))
        .withColumn("uuid", sha1_uuid(F.lit("node"), F.col("group_id"), F.col("norm_name")))
    )

    ext_edges = (
        extracted.select(
            F.col("uuid").alias("episode_uuid"),
            "group_id", "warc_ts",
            F.posexplode("triples").alias("idx", "t"),
        )
        .select(
            "episode_uuid", "group_id", "warc_ts", "idx",
            F.col("t.subj").alias("subj_name"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj_name"),
            F.col("t.fact").alias("fact"),
            F.col("t.valid_at").alias("valid_at"),
            F.col("t.invalid_at").alias("invalid_at"),
        )
        .withColumn(
            "source_node_uuid",
            sha1_uuid(F.lit("node"), F.col("group_id"), norm_name(F.col("subj_name"))),
        )
        .withColumn(
            "target_node_uuid",
            sha1_uuid(F.lit("node"), F.col("group_id"), norm_name(F.col("obj_name"))),
        )
        .withColumn(
            "uuid",
            sha1_uuid(
                F.lit("edge"), F.col("group_id"), F.col("source_node_uuid"),
                F.col("pred"), F.col("target_node_uuid"), F.col("episode_uuid"),
                F.col("idx").cast("string"),
            ),
        )
    )

    episodes_out = episodes.drop("summary_text").join(
        extracted.select("uuid", "summary_text"), "uuid", "left"
    )
    return Extracted(episodes_out, ext_nodes, ext_edges, extracted)


def build_entity_nodes(ext_nodes: DataFrame, embed_dim: int = 64) -> DataFrame:
    """E4-lite + E6: collapse mentions to one row per node uuid (first
    occurrence wins on (warc_ts, episode_uuid) — reference
    bulk_utils.py:283-287), summary = earliest episode provenance, then
    batch name embeddings. Map-side combinable single shuffle on uuid."""
    agg = (
        ext_nodes.groupBy("uuid", "group_id", "norm_name")
        .agg(
            F.min_by("name", F.struct("warc_ts", "episode_uuid")).alias("name"),
            F.min_by("entity_type", F.struct("warc_ts", "episode_uuid")).alias("entity_type"),
            F.min("warc_ts").alias("created_at"),
            F.count("*").alias("mention_count"),
        )
    )
    embed = embedder_udf(embed_dim)
    # Explicit data-sized repartition before the name-embedding UDF: AQE
    # coalesces the groupBy output by BYTES (slim node rows → 3 partitions
    # at 150k docs / advisory 32m), so the pandas-UDF embed stage — and
    # every downstream UDF stage that inherits nodes0's partitioning
    # (alias_pairs' MinHash banding) — ran near-serial regardless of core
    # count (profiled: 3-task ArrowEvalPython stages, 3s max tasks). Same
    # fix as the edge-embed stage in pipeline.assemble_graph; the extra
    # exchange moves only slim pre-embedding rows (~200 B/row).
    n_parts = int(agg.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    agg = agg.repartition(n_parts)
    return (
        agg.withColumn("labels", F.array(F.lit("Entity"), F.col("entity_type")))
        .withColumn("labels", F.array_distinct("labels"))
        .withColumn("name_embedding", embed(F.col("name")))
        .withColumn("summary", F.concat(F.lit("Entity "), F.col("name")))
        .withColumn(
            "attributes",
            F.create_map(
                F.lit("mention_count"), F.col("mention_count").cast("string")
            ),
        )
        .select(
            "uuid", "name", "group_id", "labels", "created_at",
            "summary", "name_embedding", "attributes", "norm_name",
        )
    )
