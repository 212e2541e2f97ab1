"""The manifest record: zero-Spark-job engine open from one JSON file.

The reference's keeper opens a 1M-doc index in ≤50 ms (QG-9,
COMPREHENSIVE_PLAN §keeper cold open); here every commit publishes one
``manifest.json`` — segment rows with per-field stats, the tombstone file
names and their total row count — and an engine open reads it once, with
no Spark job and no directory listing.

These tests pin: zero jobs at open for every view, the record's state
equal to a Spark recount from the data tables after every mutation
(doclens sums over the live segments, the view's tombstoned docids), the
record's tombstone row count bounding every view's dead docids with no
count job, and pinned tombstone files outliving the record that replaces
them.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.storage import pin_segments
from frankensearch_spark.sources.transcripts import synthetic_transcripts


def _build(spark, tmp_path_factory, name, n=400, segs=3):
    d = str(tmp_path_factory.mktemp(name))
    corpus = synthetic_transcripts(spark, n, vocab_size=120)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=segs, num_buckets=4)
    return idx, d


def _jobs_during_open(spark, index_dir, group, **kw):
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(group, "open")
    try:
        idx = LexicalIndex(spark, index_dir, **kw)
        engine = idx.engine  # forces the open
    finally:
        jobs = tracker.getJobIdsForGroup(group)
        spark.sparkContext.setJobGroup(None, None)
    return idx, engine, len(jobs)


def _tombstoned(engine):
    t = engine._tombstones
    return [] if t is None else sorted(r["docid"] for r in t.collect())


def _engine_state(engine):
    dead = _tombstoned(engine)
    # the record's row count bounds the view's dead docids
    assert engine._tombstone_rows >= len(dead)
    return (
        engine.generation,
        engine.live_segments,
        engine.doc_count,
        {f: round(v, 12) for f, v in engine.avgdl.items()},
        engine.field_tokens,
        dead,
    )


def _recounted_state(engine):
    """The engine's open state recomputed with Spark from the data
    tables: doc count and token totals summed over the live segments'
    doclens rows, and the view's tombstoned docids from a fresh pin of
    the named files."""
    st = engine.storage
    fields = engine.meta.text_fields
    row = (
        pin_segments(st.read("doclens"), engine.live_segments)
        .agg(
            F.count("*").alias("n"),
            *[F.sum(f"len_{f}").alias(f"t_{f}") for f in fields],
        )
        .first()
    )
    n_docs = int(row["n"])
    tokens = {f: int(row[f"t_{f}"] or 0) for f in fields} if n_docs else {}
    df = st.pinned_tombstones(
        engine.generation,
        engine._tombstone_files,
        live_segments=engine.live_segments,
        include_unsealed=engine._include_unsealed,
        gen_state=engine._gen_state,
    )
    dead = [] if df is None else sorted(r["docid"] for r in df.collect())
    if df is not None:
        df.unpersist()
    return (
        engine.generation,
        engine.live_segments,
        n_docs,
        {
            f: round(tokens.get(f, 0) / n_docs if n_docs else 0.0, 12)
            for f in fields
        },
        tokens,
        dead,
    )


def _hits(index, query, k=10):
    h = index.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def test_open_is_zero_spark_jobs_and_matches_fallback(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "os_zero")
    fast_idx, fast, n_jobs = _jobs_during_open(spark, d, "os-zero-open")
    assert n_jobs == 0  # the QG-9 contract: open issues no Spark actions
    # the record's state equals a Spark recount from the data tables
    assert _engine_state(fast) == _recounted_state(fast)
    assert _hits(fast_idx, "w3 w7") == _hits(LexicalIndex(spark, d), "w3 w7")


def test_open_state_refreshed_by_every_mutation(spark, tmp_path_factory):
    idx, d = _build(spark, tmp_path_factory, "os_mut")
    seqs = [idx.storage.read_manifest()["seq"]]

    def assert_published_and_exact(tag):
        seq = idx.storage.read_manifest()["seq"]
        assert seq == seqs[-1] + 1, (tag, seqs, seq)  # exactly one publish
        seqs.append(seq)
        _, fast, n_jobs = _jobs_during_open(spark, d, f"os-mut-{tag}")
        assert n_jobs == 0, tag
        assert _engine_state(fast) == _recounted_state(fast), tag

    victim = idx.search("w1", limit=1).hits["doc_id"][0]
    idx.delete([victim])
    assert_published_and_exact("delete")
    conv_id, turn_idx = victim.rsplit(":", 1)
    replacement = spark.createDataFrame(
        [(victim, conv_id, int(turn_idx), "user", None, "fresh replacement text")],
        "doc_id string, conv_id string, turn_idx long, role string, "
        "tool string, content string",
    )
    idx.maintenance.upsert(replacement, sort_cols=("conv_id", "turn_idx"))
    assert_published_and_exact("upsert")
    # unsealed upsert + seal
    unsealed_doc = spark.createDataFrame(
        [("zz:9", "zz", 9, "user", None, "pending unsealed doc")],
        "doc_id string, conv_id string, turn_idx long, role string, "
        "tool string, content string",
    )
    idx.maintenance.upsert(unsealed_doc, sort_cols=("conv_id", "turn_idx"), seal=False)
    assert_published_and_exact("unsealed-upsert")
    idx.maintenance.seal()
    assert_published_and_exact("seal")
    # delete enough docs of one segment to trigger compaction
    seg0_docs = (
        idx.storage.read("docs")
        .where("segment_id = 0")
        .select("doc_id")
        .limit(60)
        .collect()
    )
    idx.delete([r["doc_id"] for r in seg0_docs])
    assert_published_and_exact("delete-many")
    mapping = idx.maintenance.compact(max_density=0.05)
    assert mapping
    assert_published_and_exact("compact")
    live = idx.storage.live_segments()
    idx.maintenance.concat_merge(live)
    assert_published_and_exact("merge")
    idx.maintenance.gc()
    assert_published_and_exact("gc")


def test_dirty_and_time_travel_opens_rederive_their_view(spark, tmp_path_factory):
    """Every view's stats are the sum of its live segments' record rows:
    dirty and time-travel opens run no stats job either."""
    idx, d = _build(spark, tmp_path_factory, "os_views")
    pending = spark.createDataFrame(
        [("pp:0", "pp", 0, "user", None, "zzunsealed pending marker")],
        "doc_id string, conv_id string, turn_idx long, role string, "
        "tool string, content string",
    )
    idx.maintenance.upsert(pending, sort_cols=("conv_id", "turn_idx"), seal=False)
    # default open: pending batch invisible
    _, default_eng, n_default = _jobs_during_open(spark, d, "os-views-default")
    assert n_default == 0
    assert default_eng.doc_count == 400
    # dirty open: the pending doc is visible and counted
    dirty, dirty_eng, n_dirty = _jobs_during_open(
        spark, d, "os-views-dirty", include_unsealed=True
    )
    assert n_dirty == 0
    assert dirty_eng.doc_count == 401
    assert _engine_state(dirty_eng) == _recounted_state(dirty_eng)
    assert list(dirty.search("zzunsealed", limit=5).hits["doc_id"]) == ["pp:0"]
    assert idx.search("zzunsealed", limit=5).hits.empty
    # time-travel open: stats of the pinned generation
    idx.maintenance.seal()
    idx.maintenance.upsert(
        spark.createDataFrame(
            [("pp:0", "pp", 0, "user", None, "replaced again")],
            "doc_id string, conv_id string, turn_idx long, role string, "
            "tool string, content string",
        ),
        sort_cols=("conv_id", "turn_idx"),
    )
    # the sealed batch activated at generation 3 (seal mints a fresh
    # generation); the later replacement committed generation 4
    past, past_eng, n_past = _jobs_during_open(
        spark, d, "os-views-past", at_generation=3
    )
    assert n_past == 0
    assert list(past.search("zzunsealed", limit=5).hits["doc_id"]) == ["pp:0"]
    assert past_eng.doc_count == 401
    assert _engine_state(past_eng) == _recounted_state(past_eng)


def test_lazy_tombstone_pin_excludes_post_open_deletes(spark, tmp_path_factory):
    """The tombstone FRAME is built on the first query, but the FILE SET
    is the one the record named at open — a delete issued after open
    (tagged with the same pinned generation) stays invisible until
    reopen."""
    idx, d = _build(spark, tmp_path_factory, "os_lazy_pin")
    all_ids = list(idx.search("w1", limit=400).hits["doc_id"])
    assert len(all_ids) >= 2
    idx.delete([all_ids[0]])  # the record now counts one tombstone

    reader = LexicalIndex(spark, d)
    eng = reader.engine
    assert eng._tombstones_pending  # frame NOT built yet

    victim = all_ids[1]
    LexicalIndex(spark, d).delete([victim])  # post-open delete

    # first query builds the lazy frame: the open-time pin must hold
    visible = set(reader.search("w1", limit=400).hits["doc_id"])
    assert victim in visible  # post-open delete invisible to pinned reader
    assert all_ids[0] not in visible  # pre-open delete applied

    fresh = set(LexicalIndex(spark, d).search("w1", limit=400).hits["doc_id"])
    assert victim not in fresh  # reopen sees it


def test_gc_grace_protects_fresh_unpublished_dirs(spark, tmp_path_factory):
    """An unreferenced segment dir younger than the grace window looks
    like an in-flight writer's unpublished output and must survive gc;
    past the grace (forced to 0) it is swept as an orphan."""
    import os as _os

    idx, d = _build(spark, tmp_path_factory, "os_gc_grace")
    orphan = _os.path.join(idx.storage.path("docs"), "segment_id=777")
    _os.makedirs(orphan, exist_ok=True)
    with open(_os.path.join(orphan, "part-fake.parquet"), "wb") as fh:
        fh.write(b"x")
    assert idx.maintenance.gc(expire_history=False) == []  # default grace
    assert _os.path.exists(orphan)
    removed = idx.maintenance.gc(expire_history=False, orphan_grace_sec=0)
    assert orphan in removed and not _os.path.exists(orphan)


def test_delete_updates_rollup_incrementally(spark, tmp_path_factory):
    """An interactive delete must not count the tombstone set (at 10^9+
    tombstones that job dominates a one-doc delete): the record's row
    count grows by exactly the newly tombstoned docids.  Pinned by making
    the pinning kernel unreachable during the deletes."""
    from frankensearch_spark.sources.storage import IndexStorage

    idx, d = _build(spark, tmp_path_factory, "os_incr")
    ids = list(idx.search("w1", limit=400).hits["doc_id"])
    assert len(ids) >= 3
    # CLASS-level patch: LexicalIndex.maintenance constructs a fresh
    # IndexMaintenance (own IndexStorage) per call
    orig_pt = IndexStorage.pinned_tombstones

    def boom(self, *a, **k):
        raise AssertionError("tombstone recount ran — prior + n expected")

    IndexStorage.pinned_tombstones = boom
    try:
        assert idx.delete([ids[0]]) == 1
        assert idx.delete(ids[1:3]) == 2
        assert idx.delete([ids[0]]) == 0  # no-op redelete publishes nothing
    finally:
        IndexStorage.pinned_tombstones = orig_pt
    rec = idx.storage.read_manifest()
    assert rec["tombstone_rows"] == 3
    assert len(rec["tombstone_files"]) == 2
    eng = LexicalIndex(spark, d).engine
    assert _engine_state(eng) == _recounted_state(eng)


def test_rollup_fast_path_fails_safe(spark, tmp_path_factory):
    """Every commit that names tombstone files adds their rows to the
    record's count — a sealed upsert's staged deletes included — so the
    count never falls below the view's dead docids, and the engine pins
    its tombstone set with no count job."""
    idx, d = _build(spark, tmp_path_factory, "os_race")
    ids = list(idx.search("w1", limit=400).hits["doc_id"])
    idx.delete([ids[0]])
    assert idx.storage.read_manifest()["tombstone_rows"] == 1
    conv_id, turn_idx = ids[1].rsplit(":", 1)
    idx.maintenance.upsert(
        spark.createDataFrame(
            [(ids[1], conv_id, int(turn_idx), "user", None, "replaced text")],
            "doc_id string, conv_id string, turn_idx long, role string, "
            "tool string, content string",
        ),
        sort_cols=("conv_id", "turn_idx"),
    )
    assert idx.storage.read_manifest()["tombstone_rows"] == 2
    idx.delete([ids[2]])
    assert idx.storage.read_manifest()["tombstone_rows"] == 3
    eng = LexicalIndex(spark, d).engine
    assert eng._tombstone_rows == 3
    _, n_jobs = _jobs_during(spark, "os-race-pin", lambda: eng._tombstones)
    assert n_jobs == 0
    assert _engine_state(eng) == _recounted_state(eng)
    assert len(_tombstoned(eng)) == 3


def test_gc_reclaims_just_superseded_dirs_within_grace(spark, tmp_path_factory):
    """Segments whose history rows gc just expired are provably published
    (in-flight writes have no record row), so the orphan grace window
    must not defer their reclamation — gc right after a compaction
    reclaims disk, while a fresh UNPUBLISHED orphan dir in the same pass
    keeps its grace protection."""
    import os

    idx, d = _build(spark, tmp_path_factory, "os_gc_sup")
    seg0 = (
        idx.storage.read("docs")
        .where("segment_id = 0")
        .select("doc_id")
        .limit(80)
        .collect()
    )
    idx.delete([r["doc_id"] for r in seg0])
    mapping = idx.maintenance.compact(max_density=0.05)
    assert mapping
    before = _hits(idx, "w3 w7")
    orphan = os.path.join(idx.storage.path("docs"), "segment_id=888")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-fake.parquet"), "wb") as fh:
        fh.write(b"x")
    removed = idx.maintenance.gc()  # DEFAULT grace; dirs are seconds old
    assert removed  # superseded sources reclaimed immediately
    docs_root = idx.storage.path("docs")
    for src in mapping:
        assert not os.path.isdir(os.path.join(docs_root, f"segment_id={src}"))
    assert os.path.exists(orphan)  # unpublished fresh dir keeps its grace
    reopened = LexicalIndex(spark, d)
    assert _hits(reopened, "w3 w7") == before


def test_pinned_lazy_tombstones_survive_concurrent_rewrite(spark, tmp_path_factory):
    """gc writes the reduced tombstone set as NEW files and deletes a file
    only when neither its start record nor its published one names it:
    a reader opened before a gc keeps its pinned files through that gc,
    and the second gc reclaims them."""
    import os

    idx, d = _build(spark, tmp_path_factory, "os_lazy_gc")
    # superseded rows for the gc to expire, so it rewrites the named set
    idx.maintenance.concat_merge(idx.storage.live_segments()[:2])
    ids = list(LexicalIndex(spark, d).search("w1", limit=400).hits["doc_id"])
    idx.delete([ids[0]])
    reader = LexicalIndex(spark, d)
    eng = reader.engine
    assert eng._tombstones_pending  # lazy: frame not yet built
    pinned = list(eng._tombstone_files)
    idx.maintenance.gc(orphan_grace_sec=0)  # publishes a rewritten set
    assert idx.storage.read_manifest()["tombstone_files"] != [
        os.path.basename(f) for f in pinned
    ]
    assert all(os.path.exists(f) for f in pinned)
    visible = set(reader.search("w1", limit=400).hits["doc_id"])
    assert ids[0] not in visible  # the pinned delete still applies
    assert len(visible) == len(ids) - 1  # no doc resurrected
    assert eng._tombstone_rows == 1
    idx.maintenance.gc(orphan_grace_sec=0)  # the second gc reclaims them
    assert not any(os.path.exists(f) for f in pinned)
    fresh = set(LexicalIndex(spark, d).search("w1", limit=400).hits["doc_id"])
    assert fresh == visible


def test_gc_without_superseded_rows_keeps_tombstone_files(spark, tmp_path_factory):
    """With no superseded row the named tombstone set is already reduced:
    gc publishes it unchanged and runs no Spark job."""
    idx, d = _build(spark, tmp_path_factory, "os_gc_keep")
    ids = list(idx.search("w1", limit=400).hits["doc_id"])
    idx.delete(ids[:2])
    before = idx.storage.read_manifest()
    _, n_jobs = _jobs_during(
        spark, "os-gc-keep", lambda: idx.maintenance.gc(orphan_grace_sec=0)
    )
    assert n_jobs == 0
    after = idx.storage.read_manifest()
    assert after["seq"] == before["seq"] + 1
    assert after["tombstone_files"] == before["tombstone_files"]
    assert after["tombstone_rows"] == before["tombstone_rows"] == 2
    assert all(
        os.path.exists(f) for f in idx.storage.tombstone_paths(after)
    )


def test_open_state_random_mutation_walk(spark, tmp_path_factory):
    """Generalizes the deterministic mutation chain: a seeded random
    interleaving of the publish protocol's operations must leave, after
    EVERY step, a record whose zero-job open equals a Spark recount from
    the data tables."""
    import random

    idx, d = _build(spark, tmp_path_factory, "os_walk", n=300, segs=3)
    rng = random.Random(20260818)
    counter = [0]
    pending = [False]

    def fresh_rows(k):
        counter[0] += 1
        c = counter[0]
        return spark.createDataFrame(
            [(f"nw{c}:{i}", f"nw{c}", i, "user", None,
              f"walk doc {c} {i} w{rng.randrange(50)}") for i in range(k)],
            "doc_id string, conv_id string, turn_idx long, role string, "
            "tool string, content string",
        )

    def live_ids(k):
        hits = idx.search("w1 w2 w3", limit=200).hits
        ids = list(hits["doc_id"])
        rng.shuffle(ids)
        return ids[:k]

    def step_delete():
        ids = live_ids(rng.randint(1, 3))
        if ids:
            idx.delete(ids)

    def step_upsert():
        idx.maintenance.upsert(fresh_rows(2), sort_cols=("conv_id", "turn_idx"))

    def step_unsealed():
        idx.maintenance.upsert(
            fresh_rows(1), sort_cols=("conv_id", "turn_idx"), seal=False
        )
        pending[0] = True

    def step_seal():
        if pending[0]:
            idx.maintenance.seal()
            pending[0] = False

    def step_compact():
        idx.maintenance.compact(max_density=0.01)

    def step_merge():
        live = idx.storage.live_segments()
        if len(live) >= 2:
            idx.maintenance.concat_merge(sorted(live)[:2])

    def step_gc():
        idx.maintenance.gc()

    steps = [step_delete, step_upsert, step_unsealed, step_seal,
             step_compact, step_merge, step_gc]
    walk = [rng.choice(steps) for _ in range(10)]
    for i, step in enumerate(walk):
        step()
        idx.reopen()  # gc may have swept dirs a stale pin referenced
        tag = f"{i}:{step.__name__}"
        _, fast, n_jobs = _jobs_during_open(spark, d, f"walk-{tag}")
        assert n_jobs == 0, tag
        assert _engine_state(fast) == _recounted_state(fast), tag
        dirty = LexicalIndex(spark, d, include_unsealed=True).engine
        assert _engine_state(dirty) == _recounted_state(dirty), tag


def test_lazy_tombstone_fallback_semantics(spark, tmp_path_factory):
    """The pinned tombstone set is exact, with no fallback: a failure
    while building it surfaces instead of changing the scoring set, and
    a post-open delete followed by a gc stays invisible to the pinned
    reader (no early visibility) while nothing is resurrected."""
    from frankensearch_spark.sources.storage import IndexStorage
    import pytest

    idx, d = _build(spark, tmp_path_factory, "os_fb")
    ids = list(idx.search("w1", limit=400).hits["doc_id"])
    idx.delete([ids[0]])

    reader = LexicalIndex(spark, d)
    assert reader.engine._tombstones_pending
    orig_pt = IndexStorage.pinned_tombstones

    def flaky(self, *a, **k):
        raise RuntimeError("transient executor failure")

    IndexStorage.pinned_tombstones = flaky
    try:
        with pytest.raises(RuntimeError, match="transient"):
            reader.search("w1", limit=5, prune=False)
    finally:
        IndexStorage.pinned_tombstones = orig_pt

    reader2 = LexicalIndex(spark, d)
    eng2 = reader2.engine
    LexicalIndex(spark, d).delete([ids[1]])  # post-open, same generation
    idx.maintenance.gc()
    visible = set(reader2.search("w1", limit=400).hits["doc_id"])
    assert ids[0] not in visible  # pre-open delete applied
    assert ids[1] in visible  # post-open delete stays invisible
    assert len(visible) == len(ids) - 1  # nothing resurrected
    assert eng2._tombstone_rows == 1


def _jobs_during(spark, group, fn):
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        jobs = tracker.getJobIdsForGroup(group)
        spark.sparkContext.setJobGroup(None, None)
    return out, len(jobs)


def _unsealed_replacement(spark, idx, doc_id):
    conv_id, turn_idx = doc_id.rsplit(":", 1)
    batch = spark.createDataFrame(
        [(doc_id, conv_id, int(turn_idx), "user", None, "sealed fastpath replacement")],
        "doc_id string, conv_id string, turn_idx long, role string, "
        "tool string, content string",
    )
    idx.maintenance.upsert(batch, sort_cols=("conv_id", "turn_idx"), seal=False)


def test_seal_fast_path_is_zero_jobs_and_matches_spark_path(spark, tmp_path_factory):
    """seal() flips pending batches with ZERO Spark jobs — one record
    publish — and the state it publishes equals a Spark recount."""
    idx, d = _build(spark, tmp_path_factory, "os_fastseal")
    victim = idx.search("w2", limit=1).hits["doc_id"][0]
    _unsealed_replacement(spark, idx, victim)  # stages 1 tombstone too

    sealed, n_jobs = _jobs_during(
        spark, "fast-seal", lambda: idx.maintenance.seal()
    )
    assert sealed  # one pending batch flipped
    assert n_jobs == 0
    eng = LexicalIndex(spark, d).engine
    assert _engine_state(eng) == _recounted_state(eng)
    assert eng.doc_count == 401 and eng._tombstone_rows == 1
    assert list(LexicalIndex(spark, d).search("fastpath", limit=5).hits["doc_id"]) == [victim]


def test_full_rollup_preserves_pending_deltas(spark, tmp_path_factory):
    """A pending batch's stats live in its own record rows, so commits
    between its staging and its seal (a sealed delete, a sealed upsert)
    cannot lose them: the zero-job seal then publishes exact stats."""
    idx, d = _build(spark, tmp_path_factory, "os_pend_carry")
    hits = list(idx.search("w2", limit=3).hits["doc_id"])
    _unsealed_replacement(spark, idx, hits[0])
    idx.delete([hits[1]])
    idx.maintenance.upsert(
        spark.createDataFrame(
            [("nn:0", "nn", 0, "user", None, "a sealed newcomer")],
            "doc_id string, conv_id string, turn_idx long, role string, "
            "tool string, content string",
        ),
        sort_cols=("conv_id", "turn_idx"),
    )
    sealed, n_jobs = _jobs_during(
        spark, "carry-seal", lambda: idx.maintenance.seal()
    )
    assert sealed and n_jobs == 0
    eng = LexicalIndex(spark, d).engine
    assert eng.doc_count == 402
    assert _engine_state(eng) == _recounted_state(eng)


def test_seal_fast_path_refuses_after_overlapping_sealed_delete(
    spark, tmp_path_factory
):
    """An interactive (default-view) delete dedups against ACTIVE rows
    only, so it re-stages a docid a pending batch already staged.  The
    record's row count then counts that docid twice — an upper bound —
    while the engine's pinned set holds it once."""
    idx, d = _build(spark, tmp_path_factory, "os_fastseal_dup")
    victim = idx.search("w2", limit=1).hits["doc_id"][0]
    _unsealed_replacement(spark, idx, victim)  # stages old docid at gen gU
    # sealed delete of the SAME doc: its dedup excludes the pending row,
    # so the same docid is staged again at the committed generation
    idx.delete([victim])
    sealed, n_jobs = _jobs_during(spark, "dup-seal", lambda: idx.maintenance.seal())
    assert sealed and n_jobs == 0
    assert idx.storage.read_manifest()["tombstone_rows"] == 2
    eng = LexicalIndex(spark, d).engine
    assert _engine_state(eng) == _recounted_state(eng)
    assert len(_tombstoned(eng)) == 1  # distinct: the one dead docid
