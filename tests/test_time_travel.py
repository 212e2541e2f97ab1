"""Time travel: open a PAST committed generation (VERSION AS OF).

History retention is the Iceberg snapshot-log analogue grafted onto the
manifest protocol: supersede stamps rows (``superseded_at``) instead of
dropping them, tombstone folds are implied by segment liveness (no
rewrite), and gc() is the expire-snapshots point that records
``history_floor`` so stale opens fail loudly.  Visibility is
generation-granular: plain deletes tag the CURRENT generation, so time
travel distinguishes committed generations, not intra-generation order."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex


def _docs(spark, rows):
    return spark.createDataFrame(rows)


def _build(spark, tmp_path_factory, name, n=60, segs=3):
    d = str(tmp_path_factory.mktemp(name))
    rows = [
        {"doc_id": f"d{i:03d}", "content": f"alpha w{i % 5} original{i}"}
        for i in range(n)
    ]
    idx = LexicalIndex(spark, d).build(
        _docs(spark, rows),
        text_fields=("content",),
        sort_cols=("doc_id",),
        num_segments=segs,
        num_buckets=4,
    )
    return idx, d


def _doc_ids(index, query, k=100):
    return sorted(index.search(query, limit=k).hits["doc_id"])


def test_upsert_history_is_openable(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_upsert")
    assert idx.engine.generation == 1
    idx.maintenance.upsert(
        _docs(spark, [{"doc_id": "d000", "content": "alpha replaced zz"}])
    )
    now = LexicalIndex(spark, d)
    assert now.engine.generation == 2
    assert _doc_ids(now, "replaced") == ["d000"]
    assert _doc_ids(now, "original0") == []
    past = LexicalIndex(spark, d, at_generation=1)
    assert past.engine.generation == 1
    assert _doc_ids(past, "original0") == ["d000"]
    assert _doc_ids(past, "replaced") == []
    # the shared corpus reads identically at both generations
    assert _doc_ids(past, "alpha") == _doc_ids(now, "alpha") == [
        f"d{i:03d}" for i in range(60)
    ]


def test_merge_history_preserves_results_and_deletes(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_merge")
    idx.delete(["d007"])
    before = _doc_ids(idx.reopen(), "alpha")
    assert "d007" not in before
    segs = idx.storage.live_segments()
    idx.maintenance.concat_merge(segs)
    now = LexicalIndex(spark, d)
    assert now.engine.generation == 2
    assert _doc_ids(now, "alpha") == before
    past = LexicalIndex(spark, d, at_generation=1)
    assert sorted(past.engine.live_segments) == segs
    # the delete predates the merge (same committed generation), so the
    # historical read honors it through the ORIGINAL segment ids
    assert _doc_ids(past, "alpha") == before


def test_compaction_fold_keeps_history_until_gc(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_compact")
    idx.delete([f"d{i:03d}" for i in range(20)])  # 33% density
    mapping = idx.reopen().maintenance.compact(max_density=0.10)
    assert mapping  # something compacted
    survivors = [f"d{i:03d}" for i in range(20, 60)]
    now = LexicalIndex(spark, d)
    assert _doc_ids(now, "alpha") == survivors
    past = LexicalIndex(spark, d, at_generation=1)
    assert _doc_ids(past, "alpha") == survivors  # deletes visible at g1 too
    # lingering folded tombstones don't leak into the current pinned set
    assert now.engine._tombstones.count() == 0


def test_gc_expires_history_and_records_floor(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_gc")
    segs = idx.storage.live_segments()
    idx.maintenance.concat_merge(segs)
    # history intact before gc
    LexicalIndex(spark, d, at_generation=1).search("alpha", limit=1)
    removed = idx.maintenance.gc(orphan_grace_sec=0)
    assert removed
    with pytest.raises(ValueError, match="expired by gc"):
        LexicalIndex(spark, d, at_generation=1).engine
    # current reads unaffected; the record's history rows expired
    now = LexicalIndex(spark, d)
    assert len(_doc_ids(now, "alpha")) == 60
    rows = now.storage.read_manifest()["segments"]
    assert [r for r in rows if r["superseded_at"] is not None] == []
    # the current generation itself stays openable by number
    assert LexicalIndex(
        spark, d, at_generation=now.engine.generation
    ).search("alpha", limit=1).hits.shape[0] == 1


def test_gc_without_expiry_keeps_time_travel(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_gc_keep")
    segs = idx.storage.live_segments()
    idx.maintenance.concat_merge(segs)
    assert idx.maintenance.gc(expire_history=False) == []
    past = LexicalIndex(spark, d, at_generation=1)
    assert len(_doc_ids(past, "alpha")) == 60


def test_future_generation_rejected(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "tt_future")
    with pytest.raises(ValueError, match="future"):
        LexicalIndex(spark, d, at_generation=99).engine


def test_snapshot_immutable_across_seal(spark, tmp_path_factory):
    """VERSION AS OF g must mean the same thing before and after seal():
    sealing a pending batch activates it at a FRESH generation, never
    retroactively inside an already-published one (review finding,
    round 3).  Before the fix, seal() flipped status while keeping the
    staged generation, so a snapshot pinned between the staging and the
    seal silently changed contents once seal ran."""
    d = str(tmp_path_factory.mktemp("imm_ix"))
    base = spark.createDataFrame(
        [("a", "alpha original text"), ("b", "bravo original text")],
        "doc_id string, content string",
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    # staged (unsealed) replacement of a at some pending generation
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("a", "alpha replaced text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=False,
    )
    # a sealed commit advances the committed generation past the pending one
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("b", "bravo updated text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=True,
    )
    g = LexicalIndex(spark, d).engine.generation
    before = _doc_ids(LexicalIndex(spark, d, at_generation=g), "original")
    assert before == ["a"], "pre-seal: a's old version is the visible one"
    sealed = LexicalIndex(spark, d).maintenance.seal()
    assert sealed, "one pending segment sealed"
    # the SAME snapshot must still read the pre-seal state...
    assert _doc_ids(LexicalIndex(spark, d, at_generation=g), "original") == ["a"]
    assert _doc_ids(LexicalIndex(spark, d, at_generation=g), "replaced") == []
    # ...and the seal landed at a NEW generation holding the replacement
    after = LexicalIndex(spark, d)
    assert after.engine.generation > g
    assert _doc_ids(after, "replaced") == ["a"]
    assert _doc_ids(after, "original") == []


def test_immediate_delete_not_suppressed_by_pending_tombstone(
    spark, tmp_path_factory
):
    """A plain delete must take effect NOW even when a pending unsealed
    upsert already staged a tombstone for the same doc at a LOWER
    generation (review finding, round 3): the staged row is inactive
    until seal, so it must not dedup-suppress the immediate delete."""
    d = str(tmp_path_factory.mktemp("sup_ix"))
    base = spark.createDataFrame(
        [("a", "alpha original text"), ("b", "bravo original text")],
        "doc_id string, content string",
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    # pending replacement stages a tombstone for a at generation g0+1
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("a", "alpha replaced text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=False,
    )
    # a sealed commit advances the committed generation PAST the staged one
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("b", "bravo updated text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=True,
    )
    # the immediate delete must land (not be suppressed by the staged row)
    assert ix.maintenance.delete(["a"]) == 1
    assert _doc_ids(LexicalIndex(spark, d), "alpha") == []
    # commit-order semantics: the pending upsert seals LATER, so its
    # replacement resurfaces a — last writer wins
    LexicalIndex(spark, d).maintenance.seal()
    assert _doc_ids(LexicalIndex(spark, d), "alpha") == ["a"]
    assert _doc_ids(LexicalIndex(spark, d), "replaced") == ["a"]


def test_time_travel_refuses_dirty_reads(spark, tmp_path_factory):
    """at_generation + include_unsealed is refused: a past snapshot is
    committed state only — admitting pending tombstones without their
    replacement segments would fabricate a state no commit published."""
    idx, d = _build(spark, tmp_path_factory, "dirty_tt", n=10, segs=1)
    with pytest.raises(ValueError, match="include_unsealed"):
        LexicalIndex(
            spark, d, at_generation=1, include_unsealed=True
        ).engine
