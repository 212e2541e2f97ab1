"""Crash-window and edge-state hardening of the maintenance protocols.

Pins the round-5 review batch: orphan tombstones (a crashed upsert's
staged rows) must never be folded by compaction; a zero-survivor
compaction keeps its docid span across gc; a sealed upsert over a
still-pending copy activates its delete immediately; bulk_load handles
NULL chunk keys and single-key boundaries; write_meta never regresses
history_floor; gc/delete on an empty-build index no-op instead of
crashing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators.bulk import bulk_load
from frankensearch_spark.operators.maintenance import IndexMaintenance


def _build(spark, d, docs):
    df = spark.createDataFrame(
        [{"doc_id": k, "content": v} for k, v in docs],
        "doc_id string, content string",
    )
    return LexicalIndex(spark, d).build(
        df, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=2, num_buckets=4,
    )


def test_compaction_never_folds_orphan_tombstones(spark, tmp_path_factory):
    """A crashed upsert leaves tombstone files no record names
    (staged pre-publish, the publish never ran).  No reader applies them,
    so compaction must not physically drop those docids — that would
    silently delete visible docs until the batch's replay."""
    d = str(tmp_path_factory.mktemp("orphan_ix"))
    idx = _build(spark, d, [("x", "alpha keepme"), ("y", "bravo dropme"),
                            ("z", "charlie filler")])
    m = idx.maintenance
    orphan_gen = m.storage.current_generation(include_unsealed=True) + 1
    # simulate the crash window: stage tombstones tagged with the next
    # generation, then never publish (exactly upsert's pre_publish state
    # when the commit dies before publish)
    ids = spark.createDataFrame([("x",)], "doc_id string")
    staged, _files = m._stage_tombstones(
        m.storage.read_manifest(), ids, generation=orphan_gen,
        include_unsealed=True,
    )
    assert staged == 1
    # readers exclude the orphan: x is still visible
    assert list(idx.search("keepme").hits["doc_id"]) == ["x"]
    # a REAL delete gives compaction a reason to rewrite the segment
    idx.delete(["y"])
    idx.maintenance.compact(max_density=0.01)
    after = LexicalIndex(spark, d)
    assert list(after.search("keepme").hits["doc_id"]) == ["x"], (
        "compaction folded an orphan tombstone — visible doc physically dropped"
    )
    assert after.search("dropme").hits.empty


def test_zero_survivor_compaction_keeps_docid_span_across_gc(
    spark, tmp_path_factory
):
    """Compacting a fully-dead segment must publish a doc_count=0 record
    row carrying its docid span, and after gc(expire_history=True) drops
    the superseded rows, next_bases() must not regress below the dead
    segment's high watermark (docids are never reused)."""
    d = str(tmp_path_factory.mktemp("deadseg_ix"))
    idx = _build(spark, d, [(f"d{i:02d}", f"alpha w{i}") for i in range(16)])
    hi_before, _ = idx.storage.next_bases()
    # kill every doc in the highest-docid segment
    rows = idx.storage.read_manifest()["segments"]
    top = max(rows, key=lambda r: r["docid_hi"])["segment_id"]
    victims = [
        r["doc_id"]
        for r in idx.storage.read("docs")
        .where(F.col("segment_id") == top)
        .select("doc_id")
        .collect()
    ]
    assert victims
    idx.delete(victims)
    assert idx.maintenance.compact(max_density=0.5)
    idx.reopen()
    hi_mid, _ = idx.storage.next_bases()
    assert hi_mid >= hi_before, "compaction lost the dead segment's span"
    idx.maintenance.gc(expire_history=True, orphan_grace_sec=0)
    hi_after, _ = LexicalIndex(spark, d).storage.next_bases()
    assert hi_after >= hi_before, (
        "gc expired the only record row carrying the dead segment's span — "
        "next upsert would re-mint previously assigned docids"
    )


def test_sealed_upsert_over_pending_copy_deletes_old_immediately(
    spark, tmp_path_factory
):
    """upsert(X, seal=False) stages a pending replacement; a following
    upsert(X, seal=True) must tombstone the ORIGINAL committed copy at its
    own (sealed) generation instead of relying on the pending batch's
    tombstone — default readers suppress pending rows, so relying on them
    shows two copies of X until some later seal()."""
    d = str(tmp_path_factory.mktemp("sealover_ix"))
    idx = _build(spark, d, [("x", "uniqueold text"), ("q", "steady text")])
    idx.maintenance.upsert(
        spark.createDataFrame([("x", "uniquemid text")],
                              "doc_id string, content string"),
        sort_cols=("doc_id",), seal=False,
    )
    idx.maintenance.upsert(
        spark.createDataFrame([("x", "uniquenew text")],
                              "doc_id string, content string"),
        sort_cols=("doc_id",), seal=True,
    )
    reader = LexicalIndex(spark, d)
    assert reader.search("uniqueold").hits.empty, (
        "old committed copy still visible — its delete was deferred to seal()"
    )
    assert list(reader.search("uniquenew").hits["doc_id"]) == ["x"]
    assert list(reader.search("text", limit=10).hits["doc_id"].sort_values()) == [
        "q", "x",
    ]
    # sealing the pending batch later must not resurrect or duplicate
    LexicalIndex(spark, d).maintenance.seal()
    after = LexicalIndex(spark, d)
    assert list(after.search("text", limit=10).hits["doc_id"].sort_values()) == [
        "q", "x",
    ]
    got = after.search("uniquenew").hits
    assert list(got["doc_id"]) == ["x"]


def test_bulk_load_indexes_null_chunk_keys(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bulknull_ix"))
    rows = [(None, 0, "user", "", "alpha nullrow")] + [
        (f"c{i}", 0, "user", "", f"alpha w{i}") for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, text string"
    ).withColumn("ts", F.current_timestamp()).withColumn(
        "doc_id", F.concat_ws(":", F.coalesce("conv_id", F.lit("~null~")),
                              F.col("turn_idx").cast("string"))
    ).withColumn("content", F.col("text"))
    storage = bulk_load(
        spark, df.select("doc_id", "conv_id", "turn_idx", "content"),
        d, n_batches=3, chunk_col="conv_id",
        text_fields=("content",), sort_cols=("conv_id", "turn_idx"),
        num_buckets=4,
    )
    idx = LexicalIndex(spark, d)
    assert idx.search("alpha", limit=50).hits.shape[0] == 13, (
        "NULL-keyed rows were counted into the docid bases but never indexed"
    )
    assert list(idx.search("nullrow").hits["doc_id"]) == ["~null~:0"]


def test_bulk_load_single_distinct_key_completes(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bulkone_ix"))
    df = spark.createDataFrame(
        [(f"same:{i}", "same", i, f"alpha w{i}") for i in range(10)],
        "doc_id string, conv_id string, turn_idx int, content string",
    )
    bulk_load(
        spark, df, d, n_batches=4, chunk_col="conv_id",
        text_fields=("content",), sort_cols=("conv_id", "turn_idx"),
        num_buckets=4,
    )
    assert LexicalIndex(spark, d).search("alpha", limit=20).hits.shape[0] == 10


def test_write_meta_never_regresses_history_floor(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("floor_ix"))
    idx = _build(spark, d, [(f"d{i}", f"alpha w{i}") for i in range(8)])
    stale = IndexMaintenance(spark, d)  # constructed at floor 0
    # build some history and expire it, advancing the floor on disk
    idx.delete(["d0"])
    idx.maintenance.compact(max_density=0.01)
    idx.maintenance.gc(expire_history=True, orphan_grace_sec=0)
    floor = idx.storage.read_manifest()["history_floor"]
    assert floor > 0
    # the stale facade rewrites its meta and commits: the floor lives in
    # the record, which every commit derives from the one in force
    stale.storage.write_meta(stale.meta)
    stale.delete(["d1"])
    assert idx.storage.read_manifest()["history_floor"] >= floor, (
        "a stale facade regressed history_floor — at_generation readers "
        "would be admitted onto gc-deleted history"
    )


def test_gc_and_delete_noop_on_empty_build(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_ix"))
    df = spark.createDataFrame([], "doc_id string, content string")
    idx = LexicalIndex(spark, d).build(
        df, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    assert idx.maintenance.gc() == []
    assert idx.delete(["x"]) == 0
