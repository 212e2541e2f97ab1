"""Plan-size-safe live-segment pinning.

Small live sets pin per-segment tables with a literal ``isin`` (static
partition pruning); past ``SEGMENT_PIN_ISIN_MAX`` the pin switches to a
broadcast semi-join against a liveness frame so every query plan stays
O(1) in the live-segment count (a 10^5-literal IN bloats analysis and
codegen of EVERY plan).  Results must be rank-identical either way.
"""

from __future__ import annotations

import numpy as np

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts

QUERIES = ["w3", "w3 w7 w11", "w1 AND w3", "w1 -w9", '"w1 w1"']


def _hits(index, query, k=10):
    h = index.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def test_semijoin_pin_is_rank_identical_and_literal_free(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pin_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    baseline = {q: _hits(idx, q) for q in QUERIES}
    assert all(baseline.values())

    joined = LexicalIndex(spark, d)
    eng = joined.engine
    eng.segment_pin_isin_max = 1  # force the big-set path on 3 segments
    for q in QUERIES:
        assert _hits(joined, q) == baseline[q], q

    # the pinned read is a semi-join, with no segment_id literal list
    plan = eng._read_live("postings")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    small = LexicalIndex(spark, d).engine._read_live("postings")
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in small_plan  # default path keeps the static IN

    # exact count and docid-set collectors agree across pin strategies
    a = joined.search("w1 AND w3", exact_count=True)
    b = idx.search("w1 AND w3", exact_count=True)
    assert a.total_count == b.total_count
    assert joined.collect_docids("w3") == idx.collect_docids("w3")


def test_hydration_span_pruning_rank_identical(spark, tmp_path_factory, monkeypatch):
    """Point-reads prune by manifest docid spans (round 4): same hits with
    the span filter on and off, and the spans cover every live segment."""
    d = str(tmp_path_factory.mktemp("span_ix"))
    corpus = synthetic_transcripts(spark, 800, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=4, num_buckets=4)
    eng = idx.engine
    assert eng._span_arrays is not None
    assert set(eng._segment_spans) == set(eng.live_segments)
    pruned = _hits(idx, "w1 w2")
    # the distributed point read prunes by the same spans
    monkeypatch.setattr(eng, "_point_read_docs_driver", lambda *a: None)
    eng._query_cache.clear()
    assert _hits(idx, "w1 w2") == pruned

    # spans survive a mutation + reopen (the record carries them)
    idx.delete([pruned[0][0]])
    reopened = LexicalIndex(spark, d).engine
    assert reopened._span_arrays is not None


def test_maintenance_plans_are_literal_free_past_gate(spark, tmp_path_factory):
    """Round-5: the >SEGMENT_PIN_ISIN_MAX semi-join gate covers the
    maintenance reads too (delete targeting, tier-merge planning,
    tombstone density, segment metrics) — at
    10^4+ live segments none of these plans may embed an O(segments)
    IN-literal, and behavior must be identical either way."""
    from frankensearch_spark.sources.storage import pin_segments

    d = str(tmp_path_factory.mktemp("mpin_ix"))
    corpus = synthetic_transcripts(spark, 600, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)

    # plan shape: past the gate the pin is a semi-join with no literal list
    lens = idx.storage.read("doclens")
    live = idx.storage.live_segments()
    big = pin_segments(lens, live, max_isin=1)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    small_plan = (
        pin_segments(lens, live)._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" not in small_plan
    assert sorted(
        r["segment_id"] for r in big.select("segment_id").distinct().collect()
    ) == sorted(live)

    # behavioral identity: run the maintenance surface with the gate
    # forced on (every read takes the semi-join path) and compare against
    # the literal path's answers
    baseline_plans = idx.maintenance.plan_tier_merge(fanout=2)
    baseline_density = idx.maintenance.tombstone_density()
    baseline_metrics = (
        idx.engine.segment_metrics().orderBy("segment_id").collect()
    )

    forced = LexicalIndex(spark, d)
    # the maintenance property returns a FRESH facade per access — hold
    # one instance so the forced gate actually applies to the reads
    maint = forced.maintenance
    maint.storage.segment_pin_isin_max = 1
    forced.engine.segment_pin_isin_max = 1
    forced.engine.storage.segment_pin_isin_max = 1
    assert maint.plan_tier_merge(fanout=2) == baseline_plans
    assert maint.tombstone_density() == baseline_density
    assert (
        forced.engine.segment_metrics().orderBy("segment_id").collect()
        == baseline_metrics
    )

    # a delete through the forced gate stays correct
    victim = idx.search("w1", limit=1).hits["doc_id"][0]
    assert maint.delete([victim]) == 1
    reread = LexicalIndex(spark, d)
    assert victim not in set(reread.search("w1", limit=50).hits["doc_id"])
