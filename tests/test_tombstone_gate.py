"""Tombstone broadcast size-gate (VERDICT r2 #1).

The pinned tombstone set is force-broadcast into the per-query anti-join
only while small; past ``tombstone_broadcast_max`` docids the engine (and
compaction) fall back to a plain shuffled left_anti join so a delete-heavy
index cannot OOM executors at cluster scale (reference analogue:
per-segment tombstone bitsets, plan §10.5).  These tests delete ~30% of a
corpus, force the non-broadcast path, and assert rank-identical results.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators.search import SearchEngine
from frankensearch_spark.sources.transcripts import synthetic_transcripts

QUERIES = ["w3", "w3 w47 w200", "w12 AND w47", "w1 -w9"]


def _hits(engine, query, k=20):
    h = engine.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def _build_delete_heavy(spark, d):
    corpus = synthetic_transcripts(spark, 600, vocab_size=300)
    idx = LexicalIndex.build_transcripts(
        spark, corpus, d, num_segments=2, num_buckets=4
    )
    # tombstone ~30% of the corpus, spread across both segments
    victims = (
        idx.storage.read("docs")
        .select("doc_id")
        .where(F.pmod(F.crc32(F.col("doc_id")), F.lit(10)) < 3)
    )
    n = idx.delete_frame(victims)
    assert n > 100
    return idx, n


def test_delete_heavy_gate_rank_identical(spark, tmp_path):
    d = str(tmp_path / "gate_ix")
    idx, n_dead = _build_delete_heavy(spark, d)

    bcast = SearchEngine(spark, d)  # default: forced broadcast
    assert bcast._tombstone_rows == n_dead
    plain = SearchEngine(spark, d)
    plain.tombstone_broadcast_max = 0  # force the shuffled anti-join

    # the gate really changes the plan: no broadcast HINT past the gate
    # (Catalyst/AQE may still pick a broadcast join from size stats —
    # that's allowed; the gate only stops us from forcing one)
    probe = bcast._read_live("docs").select("docid")
    hinted = bcast._filter_tombstones(probe)._jdf.queryExecution().analyzed().toString()
    unhinted = plain._filter_tombstones(probe)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted
    assert "ResolvedHint" not in unhinted

    for q in QUERIES:
        a = _hits(bcast, q)
        b = _hits(plain, q)
        assert a == b, q
        assert a, q  # survivors still match


def test_compaction_gate_rank_identical(spark, tmp_path):
    """Gated (shuffled) compaction ≡ broadcast compaction on an identical
    copy.  (Compaction legitimately CHANGES scores — at-seal stats become
    live stats, keeper.rs:4503 — so the differential is gate-vs-default,
    not before-vs-after.)"""
    import shutil

    d = str(tmp_path / "gate_compact_ix")
    idx, _ = _build_delete_heavy(spark, d)
    d2 = str(tmp_path / "gate_compact_ix_copy")
    shutil.copytree(d, d2)
    idx2 = LexicalIndex(spark, d2)

    m = idx.maintenance
    m.tombstone_broadcast_max = 0  # force the shuffled anti-joins
    assert m.compact(max_density=0.05)  # both segments over 5% density
    assert idx2.maintenance.compact(max_density=0.05)  # default broadcast

    idx.reopen()
    idx2.reopen()
    for q in QUERIES:
        got = _hits(idx.engine, q)
        assert got == _hits(idx2.engine, q), q
        assert got, q
    # compacted segments' tombstones folded away
    assert all(v == 0.0 for v in idx.maintenance.tombstone_density().values())
