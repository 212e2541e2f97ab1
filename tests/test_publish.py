"""The single publish point: ``manifest.json`` replaced by one ``os.replace``.

Every commit (driver micro-commit, Spark upsert, delete, seal, compact,
merge, gc) ends in ``IndexStorage.publish``.  These tests pin:

* ``index_meta.json`` and ``manifest.json`` are never missing to a
  concurrent reader while they are rewritten;
* a commit whose publish fails leaves the index at its pre-state (no
  file it wrote is read), and rerunning it converges to the state a
  clean run reaches;
* a reader opened before a delete, seal, compact, merge or gc keeps
  reading with unchanged results while that commit runs.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np
import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators.maintenance import IndexMaintenance
from frankensearch_spark.sources.storage import MANIFEST, IndexMeta, IndexStorage
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

QUERIES = ["w3", "w3 w7 w11", "w5 AND w9", '"w12 w47"']
SORT = ("conv_id", "turn_idx")


def test_metadata_files_never_missing_while_rewritten(tmp_path):
    """One thread rewrites the meta and the record in a loop while the
    main thread reads them: every read finds a whole file."""
    st = IndexStorage(None, str(tmp_path))
    st.write_meta(IndexMeta(text_fields=["content"]))
    st.clear_tables()
    stop = threading.Event()

    def writer():
        meta = IndexMeta(text_fields=["content"])
        while not stop.is_set():
            st.write_meta(meta)
            with st.writer():
                st.publish(st.read_manifest())

    t = threading.Thread(target=writer)
    t.start()
    reads = errors = 0
    deadline = time.time() + 1.5
    try:
        while time.time() < deadline:
            try:
                st.read_meta()
                st.read_manifest()
                reads += 1
            except (FileNotFoundError, ValueError):
                errors += 1
    finally:
        stop.set()
        t.join()
    assert reads > 100
    assert errors == 0, f"{errors} of {reads + errors} reads found no whole file"


# ── crash at the publish point ─────────────────────────────────────────────


def _hits(idx, query, k=10):
    h = idx.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def _state(spark, d):
    """Everything a reader of ``d`` sees, minus publish timestamps and
    the random parts of file names."""
    idx = LexicalIndex(spark, d)
    eng = idx.engine
    rec = eng.storage.read_manifest()
    rows = sorted(
        (
            r["segment_id"], r["generation"], r["sealed_at"], r["status"],
            r["superseded_at"], r["docid_lo"], r["docid_hi"], r["doc_count"],
            json.dumps(r["stats"], sort_keys=True),
        )
        for r in rec["segments"]
    )
    return (
        eng.generation,
        eng.live_segments,
        eng.doc_count,
        eng.field_tokens,
        eng._tombstone_rows,
        rows,
        (rec["history_floor"], rec["next_docid"], rec["next_segment"]),
        {q: _hits(idx, q) for q in QUERIES},
    )


def _batch(spark, n, seed):
    return transcript_batch_to_docs(
        synthetic_transcripts(spark, n, vocab_size=120, seed=seed, partitions=1)
    ).dropDuplicates(["doc_id"])


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """3 segments, a tombstone-heavy segment 0 and one pending batch:
    every operation below has work to do."""
    d = str(tmp_path_factory.mktemp("publish_base"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=120)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    seg0 = [
        r["doc_id"]
        for r in idx.storage.read("docs").where("segment_id = 0").select("doc_id").limit(30).collect()
    ]
    idx.delete(seg0)
    IndexMaintenance(spark, d).upsert(_batch(spark, 20, seed=5), sort_cols=SORT, seal=False)
    return d


OPS = {
    "micro_commit": lambda spark, m: m.upsert_arrow_small(
        _batch(spark, 30, seed=11).toArrow(), sort_cols=SORT, seal=False
    ),
    "spark_upsert": lambda spark, m: m.upsert(_batch(spark, 30, seed=12), sort_cols=SORT),
    "delete": lambda spark, m: m.delete(
        [
            r["doc_id"]
            for r in m.storage.read("docs").where("segment_id = 1")
            .select("doc_id").orderBy("doc_id").limit(2).collect()
        ]
    ),
    "seal": lambda spark, m: m.seal(),
    "compact": lambda spark, m: m.compact(max_density=0.05),
    "merge": lambda spark, m: m.concat_merge(m.storage.live_segments()[:2]),
    "gc": lambda spark, m: m.gc(orphan_grace_sec=0),
}


@pytest.mark.parametrize("op", list(OPS))
def test_crash_at_publish_keeps_pre_state_and_replay_converges(
    spark, base, tmp_path, monkeypatch, op
):
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    shutil.copytree(base, crashed)
    shutil.copytree(base, clean)
    pre = _state(spark, crashed)
    pre_rec = IndexStorage(spark, crashed).read_manifest()

    real_replace = os.replace

    def failing(src, dst, *a, **k):
        if os.path.basename(dst) == MANIFEST:
            raise OSError("injected failure at the publish point")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", failing)
    try:
        out = OPS[op](spark, IndexMaintenance(spark, crashed))
    except OSError as err:
        assert "publish point" in str(err)
    else:
        # the driver micro-commit turns any failure into "ineligible"
        assert op == "micro_commit" and out is None
    monkeypatch.undo()

    # the pre-state, read from the same record: files the failed commit
    # wrote are unnamed, so no reader reads them
    assert IndexStorage(spark, crashed).read_manifest() == pre_rec
    assert _state(spark, crashed) == pre
    assert not [f for f in os.listdir(crashed) if f.endswith(".tmp")]

    # rerunning converges to what a clean run publishes
    OPS[op](spark, IndexMaintenance(spark, crashed))
    OPS[op](spark, IndexMaintenance(spark, clean))
    post = _state(spark, clean)
    assert post != pre
    assert _state(spark, crashed) == post


# ── readers beside commits ─────────────────────────────────────────────────


def test_reader_keeps_reading_while_commits_publish(spark, tmp_path_factory):
    """A reader opened before each commit queries in a loop while the
    commit runs on another thread; every answer equals its open-time
    answer (no lock, no retry)."""
    d = str(tmp_path_factory.mktemp("publish_readers"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=120)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    IndexMaintenance(spark, d).upsert(_batch(spark, 20, seed=5), sort_cols=SORT, seal=False)
    ops = [
        ("delete", lambda m: m.delete(
            [r["doc_id"] for r in idx.storage.read("docs").where("segment_id = 0")
             .select("doc_id").limit(30).collect()]
        )),
        ("seal", lambda m: m.seal()),
        ("compact", lambda m: m.compact(max_density=0.05)),
        ("merge", lambda m: m.concat_merge(m.storage.live_segments()[:2])),
        ("gc", lambda m: m.gc()),
    ]
    for name, run in ops:
        reader = LexicalIndex(spark, d)
        expected = {q: _hits(reader, q) for q in QUERIES}
        seq = reader.storage.read_manifest()["seq"]
        failure: list = []

        def commit():
            try:
                run(IndexMaintenance(spark, d))
            except Exception as err:  # surfaced below
                failure.append(err)

        t = threading.Thread(target=commit)
        t.start()
        rounds = 0
        while t.is_alive() or rounds == 0:
            for q in QUERIES:
                reader.engine._query_cache.clear()
                assert _hits(reader, q) == expected[q], (name, q)
            rounds += 1
        t.join()
        assert not failure, (name, failure)
        assert reader.storage.read_manifest()["seq"] == seq + 1, name


# ── writers beside writers ─────────────────────────────────────────────────


def test_publish_requires_the_writer_lock(tmp_path):
    st = IndexStorage(None, str(tmp_path))
    st.clear_tables()
    with pytest.raises(RuntimeError, match="writer"):
        st.publish(st.read_manifest())
    with st.writer():
        with st.writer():  # re-entrant within a thread
            assert st.publish(st.read_manifest())["seq"] == 2


def test_micro_commit_during_compact_lands_after_it(spark, tmp_path_factory, monkeypatch):
    """A stream micro-commit issued while a compact runs its Spark jobs
    waits for the compact's publish and then commits on top of it: both
    commits are in the final record under distinct segment ids, and the
    index equals the one a serial run (compact, then the micro-commit)
    produces."""
    d = str(tmp_path_factory.mktemp("publish_concurrent"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=120)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    idx.delete(
        [r["doc_id"] for r in idx.storage.read("docs").where("segment_id = 0")
         .select("doc_id").limit(30).collect()]
    )
    serial = str(tmp_path_factory.mktemp("publish_serial"))
    shutil.copytree(d, serial, dirs_exist_ok=True)
    batch = _batch(spark, 30, seed=21).toArrow()

    started = threading.Event()
    real_rewrite = IndexMaintenance._rewrite_segments

    def slow_rewrite(self, *a, **k):
        started.set()
        time.sleep(1.0)  # the micro-commit below arrives in this window
        return real_rewrite(self, *a, **k)

    monkeypatch.setattr(IndexMaintenance, "_rewrite_segments", slow_rewrite)
    out: dict = {}

    def compact():
        try:
            out["mapping"] = IndexMaintenance(spark, d).compact(max_density=0.05)
        except Exception as err:  # surfaced below
            out["error"] = err

    t = threading.Thread(target=compact)
    t.start()
    assert started.wait(300)
    segs = IndexMaintenance(spark, d).upsert_arrow_small(batch, sort_cols=SORT)
    t.join()
    monkeypatch.undo()
    assert "error" not in out, out
    mapping = out["mapping"]
    assert mapping and segs  # both ran, the micro-commit on the driver path
    assert not set(segs) & set(mapping.values())

    rows = {r["segment_id"]: r for r in IndexStorage(spark, d).read_manifest()["segments"]}
    assert all(rows[s]["superseded_at"] is not None for s in mapping)
    assert all(rows[s]["superseded_at"] is None for s in segs)
    # the micro-commit published after the compact, on top of its record
    assert min(rows[s]["generation"] for s in segs) > max(
        rows[s]["generation"] for s in mapping.values()
    )

    IndexMaintenance(spark, serial).compact(max_density=0.05)
    IndexMaintenance(spark, serial).upsert_arrow_small(batch, sort_cols=SORT)
    assert _state(spark, d) == _state(spark, serial)
