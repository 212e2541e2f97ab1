"""Incremental ingest + maintenance laws.

Metamorphic/differential suites mirroring the reference gauntlet (plan
§15.2/15.3): incremental ≡ bulk, upsert replace semantics, tombstone
at-seal stats, compacted ≡ fresh-rebuild-on-survivors, merged ≡ unmerged,
GC safety, and Structured Streaming foreachBatch ingest ≡ batch upsert.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import stream_ingest, transcript_batch_to_docs

N_TURNS = 600
SPLIT = 400
QUERIES = ["w3", "w3 w47 w200", "w12 AND w47", "w1 -w9"]


@pytest.fixture(scope="module")
def corpus(spark):
    t = synthetic_transcripts(spark, N_TURNS, vocab_size=500).persist()
    t.count()
    yield t
    t.unpersist()


@pytest.fixture(scope="module")
def batches(spark, corpus):
    ordered = corpus.orderBy("conv_id", "turn_idx")
    rows = ordered.collect()
    b1 = spark.createDataFrame(rows[:SPLIT], corpus.schema)
    b2 = spark.createDataFrame(rows[SPLIT:], corpus.schema)
    return b1, b2


@pytest.fixture(scope="module")
def bulk(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bulk_ix"))
    return LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)


def _hits(index, query, k=10):
    h = index.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def test_incremental_equals_bulk(spark, batches, bulk, tmp_path_factory):
    b1, b2 = batches
    d = str(tmp_path_factory.mktemp("inc_ix"))
    inc = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    inc.upsert(transcript_batch_to_docs(b2), sort_cols=("conv_id", "turn_idx"))
    for query in QUERIES:
        assert _hits(inc, query) == _hits(bulk, query), query
    # docid assignment identical too (batch order == global order)
    a = inc.storage.read("docs").select("docid", "doc_id").orderBy("docid").collect()
    b = bulk.storage.read("docs").select("docid", "doc_id").orderBy("docid").collect()
    assert [(r["docid"], r["doc_id"]) for r in a] == [
        (r["docid"], r["doc_id"]) for r in b
    ]


def test_upsert_replaces_content(spark, batches, tmp_path_factory):
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("upsert_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    victim = idx.search("w3", limit=1).hits["doc_id"][0]
    conv_id, turn_idx = victim.rsplit(":", 1)
    replacement = spark.createDataFrame(
        [(victim, conv_id, int(turn_idx), "user", None, "zzreplacement token only")],
        "doc_id string, conv_id string, turn_idx long, role string, tool string, content string",
    )
    idx.upsert(replacement, sort_cols=("conv_id", "turn_idx"))
    assert list(idx.search("zzreplacement", limit=5).hits["doc_id"]) == [victim]
    assert victim not in list(idx.search("w3", limit=400).hits["doc_id"])
    # exactly one live row per doc_id
    live = idx.engine._filter_tombstones(
        idx.engine._read_live("docs").select("docid", "doc_id")
    )
    dups = live.groupBy("doc_id").count().where("count > 1").count()
    assert dups == 0


def test_delete_keeps_at_seal_stats(spark, batches, tmp_path_factory):
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("del_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    before = _hits(idx, "w3", k=20)
    victims = [doc for doc, _ in before[:3]]
    n = idx.delete(victims)
    assert n == 3
    after = _hits(idx, "w3", k=20)
    surviving = [h for h in before if h[0] not in set(victims)][: len(after)]
    # deleted docs vanish; remaining docs keep their exact at-seal scores
    assert after[: len(surviving)] == surviving
    assert idx.delete(victims) == 0  # idempotent


def test_compact_equals_fresh_rebuild(spark, batches, tmp_path_factory):
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("compact_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    all_ids = [r["doc_id"] for r in idx.storage.read("docs").select("doc_id").collect()]
    victims = sorted(all_ids)[:: 4]  # 25% spread across segments
    idx.delete(victims)
    mapping = idx.maintenance.compact(max_density=0.10)
    assert mapping
    idx.reopen()
    # docids preserved (gaps legal): surviving docids unchanged
    survivors = spark.createDataFrame(
        [(i,) for i in sorted(set(all_ids) - set(victims))], "doc_id string"
    )
    fresh_dir = str(tmp_path_factory.mktemp("fresh_ix"))
    fresh_docs = transcript_batch_to_docs(b1).join(survivors, "doc_id")
    fresh = LexicalIndex(spark, fresh_dir).build(
        fresh_docs,
        text_fields=("content",),
        keyword_fields=("conv_id", "role", "tool"),
        i64_fields=("turn_idx",),
        stored_fields=("ts",),
        sort_cols=("conv_id", "turn_idx"),
        num_segments=2,
        num_buckets=4,
    )
    for query in QUERIES:
        got = _hits(idx, query)
        exp = _hits(fresh, query)
        assert [g[0] for g in got] == [e[0] for e in exp], query
        assert np.array_equal(
            np.array([g[1] for g in got]), np.array([e[1] for e in exp])
        ), query
    # tombstones for compacted segments folded away
    dens = idx.maintenance.tombstone_density()
    assert all(v == 0.0 for v in dens.values())


def test_concat_merge_invariance_and_gc(spark, bulk, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merge_ix"))
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    before = {query: _hits(idx, query) for query in QUERIES}
    segs = idx.storage.live_segments()
    out = idx.maintenance.concat_merge(segs)
    idx.reopen()
    assert idx.storage.live_segments() == [out]
    for query in QUERIES:
        assert _hits(idx, query) == before[query], query
    removed = idx.maintenance.gc(orphan_grace_sec=0)
    assert removed  # superseded segment dirs reclaimed
    idx.reopen()
    for query in QUERIES:
        assert _hits(idx, query) == before[query], query


def test_tier_merge_planner(spark, batches, tmp_path_factory):
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("tier_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=8, num_buckets=4)
    plans = idx.maintenance.plan_tier_merge(fanout=8)
    assert plans and len(plans[0]) == 8  # eight consecutive small segments


def test_upsert_unchanged_batch_is_skipped(spark, batches, tmp_path_factory):
    """Content-hash witness: re-upserting identical docs writes NOTHING
    (reference xxh3 identity, index.rs:10231) — the watch-mode common case
    of re-saved-but-unchanged files costs one anti-join."""
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("chash_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    segs_before = idx.storage.live_segments()
    before = {q: _hits(idx, q) for q in QUERIES}
    new_segments = idx.maintenance.upsert(
        transcript_batch_to_docs(b1), sort_cols=("conv_id", "turn_idx")
    )
    assert new_segments == []  # zero new segments
    idx.reopen()
    assert idx.storage.live_segments() == segs_before
    assert not idx.storage.read_manifest()["tombstone_files"]  # zero tombstones
    for q in QUERIES:
        assert _hits(idx, q) == before[q], q
    # a partially-changed batch indexes ONLY the changed docs
    docs = transcript_batch_to_docs(b1)
    one = docs.orderBy("doc_id").limit(1).withColumn(
        "content", F.lit("zzchanged only this one")
    )
    mixed = one.unionByName(docs.orderBy("doc_id").offset(1))
    idx.maintenance.upsert(mixed, sort_cols=("conv_id", "turn_idx"))
    idx.reopen()
    changed_id = one.collect()[0]["doc_id"]
    assert list(idx.search("zzchanged", limit=5).hits["doc_id"]) == [changed_id]
    # exactly one doc was tombstoned + one new doc indexed
    assert idx.storage.read_tombstones(idx.storage.read_manifest()).count() == 1
    live = idx.engine._filter_tombstones(
        idx.engine._read_live("docs").select("docid", "doc_id")
    )
    assert live.groupBy("doc_id").count().where("count > 1").count() == 0


def test_delete_snapshot_pinning(spark, batches, tmp_path_factory):
    """Deletes issued after engine open are invisible until reopen()
    (Arc-swap isolation — round-1 advisory: tombstones were read at query
    time, leaking mid-snapshot deletes)."""
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("pin_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    engine = idx.engine  # pin the snapshot now
    before = engine.search("w3", limit=10).hits
    victims = list(before["doc_id"][:3])
    idx.maintenance.delete(victims)
    # pinned engine still sees the deleted docs (same generation snapshot)
    engine._query_cache.clear()
    after_pinned = engine.search("w3", limit=10).hits
    assert list(after_pinned["doc_id"]) == list(before["doc_id"])
    # a reopened engine sees the deletes
    idx.reopen()
    assert not set(victims) & set(idx.search("w3", limit=10).hits["doc_id"])


def test_upsert_staged_tombstones_gated_by_generation(spark, batches, tmp_path_factory):
    """Tombstones tagged for generation g+1 are ignored while the
    record's max generation is g, even once a record names their file
    (a crashed upsert's staged files are not even named)."""
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("gate_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    before = _hits(idx, "w3")
    g = idx.storage.current_generation()
    victims = [doc for doc, _ in before[:3]]
    # the staged (pre-publish) tombstone write of an upsert
    ids = spark.createDataFrame([(v,) for v in victims], "doc_id string")
    m = idx.maintenance
    rec = m.storage.read_manifest()
    n, files = m._stage_tombstones(rec, ids, generation=g + 1)
    assert n == len(victims)
    idx.reopen()
    assert _hits(idx, "w3") == before  # unnamed: invisible
    with m.storage.writer():
        m.storage.publish(m.storage.with_tombstones(rec, files, n))
    idx.reopen()
    # no segment row with g+1 exists -> the named staged deletes are
    # still invisible
    assert _hits(idx, "w3") == before


def test_merge_crash_replay_is_idempotent(spark, corpus, tmp_path_factory):
    """A concat-merge that crashes after data writes but before the
    manifest swap re-mints the same output segment id on retry; the
    rewrite must REPLACE its partitions, not append a second copy
    (round-1 advisory: doubled df/cf and duplicate hits)."""
    d = str(tmp_path_factory.mktemp("crash_merge_ix"))
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    before = {q: _hits(idx, q) for q in QUERIES}
    segs = idx.storage.live_segments()
    m = idx.maintenance

    def crash(*a, **k):
        raise RuntimeError("simulated crash before manifest swap")

    m._publish_supersede = crash
    with pytest.raises(RuntimeError):
        m.concat_merge(segs)
    # replay with a fresh maintenance instance (new process analogue)
    out = idx.maintenance.concat_merge(segs)
    idx.reopen()
    assert idx.storage.live_segments() == [out]
    # no duplicated rows in the merged segment
    docs = idx.storage.read("docs").where(F.col("segment_id") == out)
    assert docs.groupBy("docid").count().where("count > 1").count() == 0
    for q in QUERIES:
        assert _hits(idx, q) == before[q], q


def test_compact_preserves_docid_watermark(spark, batches, tmp_path_factory):
    """Compacting away the doc holding the global max docid must not
    shrink the high-watermark — next_bases() would re-mint used docids
    (round-1 advisory; monotone/never-reused invariant, argus.rs:32)."""
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("hwm_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    hi_before, _ = idx.storage.next_bases()
    # delete the docs holding the highest docids (plus filler for density)
    top_docs = (
        idx.storage.read("docs")
        .orderBy(F.desc("docid"))
        .select("doc_id")
        .limit(SPLIT // 4)
        .collect()
    )
    idx.delete([r["doc_id"] for r in top_docs])
    assert idx.maintenance.compact(max_density=0.05)
    idx.reopen()
    hi_after, _ = idx.storage.next_bases()
    assert hi_after >= hi_before


def test_delete_all(spark, batches, tmp_path_factory):
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("delall_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    n = idx.delete_all()
    assert n == SPLIT
    assert idx.search("w3", limit=10).hits.empty
    assert idx.delete_all() == 0  # idempotent


def test_bulk_delete_frame_stays_distributed(spark, batches, tmp_path_factory):
    """A delete of 10^6 candidate ids must flow through joins, not a
    driver-side isin list (scale proxy for the driver-OOM class)."""
    b1, _ = batches
    d = str(tmp_path_factory.mktemp("bigdel_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    some_live = [
        r["doc_id"]
        for r in idx.storage.read("docs").select("doc_id").limit(5).collect()
    ]
    big = spark.range(1_000_000).select(
        F.concat(F.lit("missing:"), F.col("id").cast("string")).alias("doc_id")
    )
    ids = big.unionByName(
        spark.createDataFrame([(i,) for i in some_live], "doc_id string")
    )
    assert idx.delete_frame(ids) == len(some_live)
    assert not set(some_live) & set(idx.search("w3", limit=400).hits["doc_id"])


def test_stream_ingest_equals_batch(spark, batches, bulk, tmp_path_factory):
    b1, b2 = batches
    d = str(tmp_path_factory.mktemp("stream_ix"))
    idx = LexicalIndex.build_transcripts(spark, b1, d, num_segments=2, num_buckets=4)
    src = str(tmp_path_factory.mktemp("stream_src"))
    b2.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b2.schema).parquet(src)
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    query = stream_ingest(idx, stream, ckpt, trigger_available_now=True)
    query.awaitTermination(120)
    idx.reopen()
    for qs in QUERIES:
        assert _hits(idx, qs) == _hits(bulk, qs), qs


def test_unsealed_delta_visibility(spark, tmp_path_factory):
    """Pre-commit delta visibility (reference delta.rs): an unsealed
    upsert is invisible to default readers, visible (with its staged
    deletes applied) to include_unsealed readers, and visible to everyone
    after seal()."""
    d = str(tmp_path_factory.mktemp("delta_ix"))
    base = spark.createDataFrame(
        [("a", "alpha original text"), ("b", "bravo steady text")],
        "doc_id string, content string",
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    delta = spark.createDataFrame(
        [("a", "alpha replaced text"), ("c", "charlie fresh text")],
        "doc_id string, content string",
    )
    segs = ix.maintenance.upsert(delta, sort_cols=("doc_id",), seal=False)
    assert segs

    committed = LexicalIndex(spark, d)  # default reader
    assert [h for h in committed.search("charlie").hits["doc_id"]] == []
    assert list(committed.search("original").hits["doc_id"]) == ["a"]

    dirty = LexicalIndex(spark, d, include_unsealed=True)
    assert list(dirty.search("charlie").hits["doc_id"]) == ["c"]
    assert list(dirty.search("original").hits["doc_id"]) == []  # staged delete applies
    assert list(dirty.search("replaced").hits["doc_id"]) == ["a"]
    assert list(dirty.search("steady").hits["doc_id"]) == ["b"]

    sealed = LexicalIndex(spark, d).maintenance.seal()
    assert sealed == segs
    after = LexicalIndex(spark, d)
    assert list(after.search("charlie").hits["doc_id"]) == ["c"]
    assert list(after.search("original").hits["doc_id"]) == []
    assert list(after.search("replaced").hits["doc_id"]) == ["a"]
    # idempotent: nothing left to seal
    assert LexicalIndex(spark, d).maintenance.seal() == []


def test_sealed_commit_does_not_activate_pending_tombstones(spark, tmp_path_factory):
    """A sealed upsert committed while another batch is pending unsealed
    must not activate the pending batch's staged tombstones (review
    finding, round 3): generations are unique per commit and readers
    ignore tombstone generations that are still unsealed, so the pending
    doc's OLD version stays visible until seal()."""
    d = str(tmp_path_factory.mktemp("race_ix"))
    base = spark.createDataFrame(
        [("a", "alpha original text"), ("b", "bravo original text")],
        "doc_id string, content string",
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("a", "alpha replaced text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=False,
    )
    # sealed commit lands while a's replacement is still pending
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("b", "bravo updated text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=True,
    )
    committed = LexicalIndex(spark, d)
    # b's sealed replacement is visible...
    assert list(committed.search("updated").hits["doc_id"]) == ["b"]
    # ...and a did NOT vanish: its old version stays until seal()
    assert list(committed.search("original").hits["doc_id"]) == ["a"]
    assert list(committed.search("alpha").hits["doc_id"]) == ["a"]
    LexicalIndex(spark, d).maintenance.seal()
    after = LexicalIndex(spark, d)
    assert list(after.search("replaced").hits["doc_id"]) == ["a"]
    assert list(after.search("original").hits["doc_id"]) == []
    assert sorted(after.search("text", limit=10).hits["doc_id"]) == ["a", "b"]


def test_upsert_over_pending_upsert_single_copy(spark, tmp_path_factory):
    """Two unsealed upserts of the same doc_id must converge to ONE live
    copy after seal(): the second upsert tombstones the pending unsealed
    copy too, not just the committed one (review finding, round 3)."""
    d = str(tmp_path_factory.mktemp("dup_ix"))
    base = spark.createDataFrame(
        [("x", "xray version one")], "doc_id string, content string"
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    for body in ("xray version two", "xray version three"):
        ix.maintenance.upsert(
            spark.createDataFrame([("x", body)], "doc_id string, content string"),
            sort_cols=("doc_id",),
            seal=False,
        )
        # a dirty reader sees exactly one live copy at every point
        dirty = LexicalIndex(spark, d, include_unsealed=True)
        assert list(dirty.search("xray", limit=10).hits["doc_id"]) == ["x"]
    LexicalIndex(spark, d).maintenance.seal()
    after = LexicalIndex(spark, d)
    assert list(after.search("xray", limit=10).hits["doc_id"]) == ["x"]
    assert list(after.search("three", limit=10).hits["doc_id"]) == ["x"]
    assert list(after.search("two", limit=10).hits["doc_id"]) == []


def test_compact_during_pending_upsert(spark, tmp_path_factory):
    """Compaction while an upsert is pending unsealed must neither fold the
    pending batch's staged tombstones (the old doc would vanish before its
    replacement seals) nor strand them on the superseded segment (the
    delete would be lost at seal — two live copies).  Pending tombstones
    are excluded from the physical fold and remapped to the output
    segment (review finding, round 3)."""
    d = str(tmp_path_factory.mktemp("cpix"))
    base = spark.createDataFrame(
        [("a", "alpha original text"), ("b", "bravo filler text"),
         ("c", "carol filler text")],
        "doc_id string, content string",
    )
    ix = LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )
    # a's replacement is staged but NOT sealed
    ix.maintenance.upsert(
        spark.createDataFrame(
            [("a", "alpha replaced text")], "doc_id string, content string"
        ),
        sort_cols=("doc_id",),
        seal=False,
    )
    # a sealed delete pushes the committed segment over the density bar
    assert ix.maintenance.delete(["b"]) == 1
    mapping = ix.maintenance.compact(max_density=0.3)
    assert mapping, "the committed segment must have been compacted"
    mid = LexicalIndex(spark, d)
    # b is gone (its active tombstone folded)...
    assert list(mid.search("bravo").hits["doc_id"]) == []
    # ...but a did NOT vanish: its pending tombstone must not fold early
    assert list(mid.search("original").hits["doc_id"]) == ["a"]
    assert list(mid.search("alpha").hits["doc_id"]) == ["a"]
    LexicalIndex(spark, d).maintenance.seal()
    after = LexicalIndex(spark, d)
    # the delete was not lost in the rewrite: exactly one live copy of a
    assert list(after.search("alpha", limit=10).hits["doc_id"]) == ["a"]
    assert list(after.search("replaced").hits["doc_id"]) == ["a"]
    assert list(after.search("original").hits["doc_id"]) == []
    assert sorted(after.search("text", limit=10).hits["doc_id"]) == ["a", "c"]


def test_gc_without_expiry_sweeps_crash_orphans(spark, tmp_path_factory):
    """gc(expire_history=False) must still reclaim segment dirs referenced
    by NO manifest row (a _rewrite_segments output whose publish never
    ran) while leaving time-travel history readable (round-4 ADVICE)."""
    import os

    from frankensearch_spark.sources.transcripts import synthetic_transcripts

    d = str(tmp_path_factory.mktemp("gc_orphan_ix"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    before = _hits(idx, "w3")
    assert before  # non-vacuous: the probe term must match
    segs = idx.storage.live_segments()
    idx.maintenance.concat_merge(segs)  # creates superseded history rows
    # fabricate a crash orphan: a partial rewrite output with no manifest row
    orphans = []
    for table in ("docs", "postings"):
        p = os.path.join(idx.storage.path(table), "segment_id=999")
        os.makedirs(p, exist_ok=True)
        orphans.append(p)
    removed = idx.maintenance.gc(expire_history=False, orphan_grace_sec=0)
    assert sorted(removed) == sorted(orphans)
    for p in orphans:
        assert not os.path.exists(p)
    # superseded (history) segment dirs survive and time travel still reads
    past = LexicalIndex(spark, d, at_generation=1)
    assert _hits(past, "w3") == before
    # and the current generation is untouched
    idx.reopen()
    assert _hits(idx, "w3") == before


def test_gc_refreshes_meta_before_floor_write(spark, tmp_path_factory):
    """gc() must not regress state written by OTHER maintenance
    instances since this one was constructed (round-4 ADVICE): every
    commit derives its record from the one in force, so the floor and
    the generation it publishes include the other instance's upsert."""
    from frankensearch_spark.operators.maintenance import IndexMaintenance
    from frankensearch_spark.sources.transcripts import synthetic_transcripts

    d = str(tmp_path_factory.mktemp("gc_stale_meta_ix"))
    corpus = synthetic_transcripts(spark, 200, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    stale = IndexMaintenance(spark, d)  # snapshot at generation 1
    # another instance advances the index
    fresh = IndexMaintenance(spark, d)
    fresh.upsert(
        spark.createDataFrame(
            [("zz:0", "zz", 0, "user", None, "brand new doc")],
            "doc_id string, conv_id string, turn_idx long, role string, "
            "tool string, content string",
        ),
        sort_cols=("conv_id", "turn_idx"),
    )
    gen_after_upsert = stale.storage.current_generation()
    assert gen_after_upsert == 2
    stale.gc()  # must NOT publish the generation-1 state back
    assert stale.storage.current_generation() == gen_after_upsert
    assert stale.storage.read_manifest()["history_floor"] == gen_after_upsert


def test_bulk_delete_writes_multiple_tombstone_files(spark, tmp_path_factory, monkeypatch):
    """Tombstone writes scale with the batch: past tombstone_rows_per_file
    rows the append is hash-repartitioned on docid so MANY tasks write in
    parallel (the round-3 coalesce(1) funnelled every bulk delete through
    one task), and the gc/supersede rewrites size the swap the same way.
    Semantics (pinned_tombstones, density, compaction) are unchanged."""
    import os

    from frankensearch_spark.sources.transcripts import synthetic_transcripts

    d = str(tmp_path_factory.mktemp("multifile_ts_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    from frankensearch_spark.sources.storage import IndexStorage

    # class-level: LexicalIndex.maintenance builds fresh storage instances
    monkeypatch.setattr(IndexStorage, "tombstone_rows_per_file", 50, raising=False)
    all_ids = [r["doc_id"] for r in idx.storage.read("docs").select("doc_id").collect()]
    victims = sorted(all_ids)[::2]  # 200 deletes > 50 rows/file
    assert idx.delete(victims) == len(victims)
    ts_dir = idx.storage.path("tombstones")
    files = [f for f in os.listdir(ts_dir) if f.endswith(".parquet")]
    assert len(files) > 1  # parallel writers, not one task
    idx.reopen()
    live = set(idx.search("w1", limit=400).hits["doc_id"])
    assert not live & set(victims)
    assert idx.engine._tombstone_rows == len(victims)
    # the rewrite path (compaction fold -> gc) handles multi-file tables
    idx.maintenance.compact(max_density=0.10)
    idx.maintenance.gc()
    idx.reopen()
    assert set(idx.search("w1", limit=400).hits["doc_id"]) == live
    assert idx.engine._tombstone_rows == 0  # folded + swept


def test_auto_upsert_segment_sizing():
    """Upsert batch sizing: watch-mode micro-batches stay at ONE segment
    (no manifest/merge pressure), big commits get enough segments that
    the (segment, bucket) posting exchange reaches every core, and the
    64Ki-lease skew bound caps segment size exactly as in the cold build
    (num_segments=1 throttled a 100k-row commit to B tasks — measured
    2.3x slower than auto at local[32], BENCH.md)."""
    from frankensearch_spark.operators.build import TARGET_DOCS_PER_SEGMENT
    from frankensearch_spark.operators.maintenance import _auto_upsert_segments

    assert _auto_upsert_segments(1, 32, 8) == 1
    assert _auto_upsert_segments(6_250, 32, 8) == 1  # watch-mode batch
    assert _auto_upsert_segments(100_000, 32, 8) == 8  # 8 x 8 = 2 tasks/core
    assert _auto_upsert_segments(100_000, 8, 8) == 2  # small cluster
    # skew bound dominates at bulk scale
    n = 10**9
    assert _auto_upsert_segments(n, 32, 8) == -(-n // TARGET_DOCS_PER_SEGMENT)
    # degenerate inputs stay sane
    assert _auto_upsert_segments(0, 32, 8) == 1
    assert _auto_upsert_segments(5, 0, 0) == 1
