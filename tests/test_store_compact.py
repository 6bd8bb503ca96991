"""Small-file compaction (GraphStore.compact — the Iceberg
``rewrite_data_files`` analogue; reference keeps Lucene segments merged
the same way, Lucene's background segment merges).

Invariants:
- rows are byte-identical before/after (contents never change)
- per-partition file count drops to ceil(bytes/target) (=1 here)
- partitions outside ``parts`` are never read or rewritten (mtime)
- already-compact partitions are skipped (idempotent re-run is a no-op)
"""

import os

from pyspark.sql import functions as F

from kgspark.sources.store import GraphStore


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _files_per_gpart(store, table):
    out = {}
    root = store.path(table)
    for entry in os.listdir(root):
        if entry.startswith("gpart="):
            d = os.path.join(root, entry)
            out[int(entry.split("=")[1])] = sorted(
                f for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def _mk_batch(spark, groups, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("u"), F.col("id")).alias("uuid"),
        F.concat(F.lit("g"), (F.col("id") % groups)).alias("group_id"),
        F.col("id").alias("val"),
    )


def test_compact_partitioned(spark, tmp_path):
    store = GraphStore(str(tmp_path / "s"), n_gparts=8)
    # 5 appended micro-batches -> >=5 files in every touched gpart dir
    for i in range(5):
        store.append_grouped("t", _mk_batch(spark, 4, i * 100, (i + 1) * 100))
    before_files = _files_per_gpart(store, "t")
    assert all(len(v) >= 5 for v in before_files.values())
    want = _rows(store.read(spark, "t"))

    stats = store.compact(spark, "t")
    after_files = _files_per_gpart(store, "t")
    assert sorted(stats["parts"]) == sorted(before_files)
    assert stats["files_before"] == sum(len(v) for v in before_files.values())
    # tiny partitions all fit one 128MB target file
    assert all(len(v) == 1 for v in after_files.values())
    assert _rows(store.read(spark, "t")) == want

    # idempotent: second run touches nothing
    again = store.compact(spark, "t")
    assert again["parts"] == [] and again["files_before"] == 0
    assert _files_per_gpart(store, "t") == after_files


def test_compact_scoped_to_parts(spark, tmp_path):
    store = GraphStore(str(tmp_path / "s2"), n_gparts=8)
    for i in range(4):
        store.append_grouped("t", _mk_batch(spark, 4, i * 100, (i + 1) * 100))
    want = _rows(store.read(spark, "t"))
    all_parts = sorted(_files_per_gpart(store, "t"))
    target, rest = all_parts[:1], all_parts[1:]
    snap = {}
    for p in rest:
        d = os.path.join(store.path("t"), f"gpart={p}")
        for f in os.listdir(d):
            snap[os.path.join(d, f)] = os.path.getmtime(os.path.join(d, f))

    stats = store.compact(spark, "t", parts=target)
    assert stats["parts"] == target
    for path, mtime in snap.items():
        assert os.path.exists(path) and os.path.getmtime(path) == mtime, (
            f"{path} rewritten by a compaction scoped elsewhere")
    assert len(_files_per_gpart(store, "t")[target[0]]) == 1
    assert _rows(store.read(spark, "t")) == want
