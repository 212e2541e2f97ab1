"""Per-query AQE scoping: no session-wide conf flips.

Exchange-free point plans skip AQE by executing under a per-engine CLONED
session (own SQLConf, shared context/caches) instead of flipping
``spark.sql.adaptive.enabled`` on the shared session — the round-3 flip
could strip AQE from a concurrent query planned inside the window.
"""

from __future__ import annotations

import threading
import zlib

import numpy as np
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts


def test_single_leaf_skips_aqe_without_touching_shared_conf(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("aqe_ix"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    eng = idx.engine

    # record every conf mutation during a single-leaf search
    seen = []
    original_set = spark.conf.set

    def spy(key, value):
        seen.append(key)
        return original_set(key, value)

    spark.conf.set = spy
    try:
        hits = idx.search("w3", limit=10, prune=False).hits
    finally:
        spark.conf.set = original_set
    assert len(hits) > 0
    assert "spark.sql.adaptive.enabled" not in seen  # no shared flip
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # the clone exists, carries AQE-off, and is NOT the shared session
    clone = eng._noaqe_session()
    assert clone is not None and clone is not spark
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"

    # a concurrent thread's plan keeps AdaptiveSparkPlan while single-leaf
    # queries hammer the engine
    stop = threading.Event()
    errors = []

    def hammer():
        try:
            while not stop.is_set():
                eng._query_cache.clear()
                idx.search("w7", limit=5, prune=False)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    t = threading.Thread(target=hammer)
    t.start()
    try:
        for _ in range(5):
            df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "AdaptiveSparkPlan" in plan
            assert df.count() == 7
    finally:
        stop.set()
        t.join(timeout=60)
    assert not errors


def test_rebound_results_identical_across_plan_paths(spark, tmp_path_factory):
    """The no-AQE rebind must not change any result: single-leaf (rebound)
    vs the same query evaluated through the multi-leaf machinery."""
    d = str(tmp_path_factory.mktemp("aqe_eq_ix"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    single = idx.search("w3", limit=10, exact_count=True, prune=False)
    # same leaf through an OR with a vanishing term -> multi-leaf plan
    both = idx.search(
        "w3 OR zzneverinthecorpus", limit=10, exact_count=True, prune=False
    )
    assert list(single.hits["doc_id"]) == list(both.hits["doc_id"])
    assert np.array_equal(
        np.asarray(single.hits["score"], dtype=np.float32),
        np.asarray(both.hits["score"], dtype=np.float32),
    )
    assert single.total_count == both.total_count


def test_small_pivot_gate_rank_identical_both_sides(spark, tmp_path_factory, monkeypatch):
    """The provably-small-pivot rebind (round 4) is an execution-sizing
    decision only: the same multi-leaf query through the small-query
    session and through the AQE default must be hash-identical, and the
    zero-job bound must be conservative (doc_count substituted for every
    unresolved leaf)."""
    from frankensearch_spark.operators import search as search_mod

    d = str(tmp_path_factory.mktemp("pivot_gate_ix"))
    corpus = synthetic_transcripts(spark, 500, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    eng = idx.engine

    from frankensearch_spark.plans import query as q
    from frankensearch_spark.plans.eval import compile_query

    plan = compile_query(q.canonicalize_query(eng.parser.parse_lenient("w1 w2").query))
    bound = eng._pivot_rows_bound(plan)
    assert bound == 2 * eng.doc_count  # no dfs resolved -> conservative
    assert bound <= search_mod.SMALL_PIVOT_MAX_ROWS  # gate opens here

    small = idx.search("w1 w2", limit=10, exact_count=True, prune=False)
    monkeypatch.setattr(search_mod, "SMALL_PIVOT_MAX_ROWS", 0)  # force AQE path
    eng._query_cache.clear()
    aqe = idx.search("w1 w2", limit=10, exact_count=True, prune=False)
    assert list(small.hits["docid"]) == list(aqe.hits["docid"])
    assert np.array_equal(
        np.asarray(small.hits["score"], dtype=np.float32),
        np.asarray(aqe.hits["score"], dtype=np.float32),
    )
    assert small.total_count == aqe.total_count


def test_warm_term_query_is_two_jobs_and_probe_free(spark, tmp_path_factory):
    """Round-5 job-count pin: a steady-state single-term search on the
    Spark plan (``prune=False``) runs at most TWO Spark jobs — the
    scoring action and the two-phase hydration — with no broadcast-build
    or dictionary jobs in between.
    The qterms/weight sides are inlined as literal CASE expressions
    (QTERM_INLINE_MAX) and the dictionary probe is served by the
    snapshot-pinned df cache after the first occurrence.  A regression
    that re-adds a per-query scheduled job (a broadcast build, a
    dictionary re-aggregation, a conf-rebind fallback) fails here."""
    d = str(tmp_path_factory.mktemp("jobpin_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    eng = idx.engine
    sc = spark.sparkContext

    cold_hits = idx.search("w3", limit=10, prune=False).hits  # cold: caches df
    assert ("content", "w3") in eng._doc_freq_cache

    before = dict(eng._doc_freq_cache)
    eng._query_cache.clear()
    sc.setJobGroup("warm-w3", "warm single-term")
    try:
        warm_hits = idx.search("w3", limit=10, prune=False).hits
    finally:
        sc.setJobGroup("warm-w3-done", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("warm-w3"))
    assert n_jobs <= 2, f"warm single-term ran {n_jobs} jobs (want <= 2)"
    assert eng._doc_freq_cache == before  # served from the pinned cache
    assert list(cold_hits["docid"]) == list(warm_hits["docid"])
    assert np.array_equal(
        np.asarray(cold_hits["score"], dtype=np.float32),
        np.asarray(warm_hits["score"], dtype=np.float32),
    )


def test_first_query_of_a_new_term_is_one_job(spark, tmp_path_factory, monkeypatch):
    """Doc frequencies come from the driver-side term dictionary, so the
    first query of a never-seen term on the Spark plan (``prune=False``;
    the default scores these on the driver with no job, see
    ``test_driver_scoring.py``) runs only the scoring action: one Spark
    job for a single term, an AND query and a phrase.  After an
    upsert and reopen(), the dictionary reads only the new segment's
    postings files; the old segments' files come from the process cache.
    A first unrelated query warms the engine's plan caches."""
    from frankensearch_spark.sources import termdict

    d = str(tmp_path_factory.mktemp("newterm_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    sc = spark.sparkContext
    eng = idx.engine
    idx.search("w1", limit=10, prune=False)
    cases = [("w3", ["w3"]), ("w12 AND w47", ["w12", "w47"]), ('"w7 w7"', ["w7"])]
    for i, (query, terms) in enumerate(cases):
        assert not any(("content", t) in eng._doc_freq_cache for t in terms)
        group = f"newterm-{i}"
        sc.setJobGroup(group, query)
        try:
            idx.search(query, limit=10, prune=False)
        finally:
            sc.setJobGroup(group + "-done", "")
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs == 1, f"first {query!r} ran {n_jobs} jobs (want 1)"
        assert all(eng._doc_freq_cache[("content", t)] > 0 for t in terms)

    old = set(eng.live_segments)
    loaded = []
    read = termdict._read_file

    def counting(path, segment):
        loaded.append(segment)
        return read(path, segment)

    monkeypatch.setattr(termdict, "_read_file", counting)
    one = spark.createDataFrame(
        [("zz:0", "w3 w12 zzfresh")], "doc_id string, content string"
    )
    idx.maintenance.upsert(one, sort_cols=("doc_id",))
    idx.reopen()
    new = set(idx.engine.live_segments) - old
    assert len(new) == 1
    # both terms' buckets were read for the old segments above
    idx.search("w3 w12", limit=5, prune=False)
    assert idx.engine._doc_freq_cache[("content", "w3")] == eng._doc_freq_cache[
        ("content", "w3")
    ] + 1
    buckets = {zlib.crc32(t.encode()) % 4 for t in ("w3", "w12")}
    assert sorted(loaded) == sorted(new) * len(buckets)


def test_first_query_after_build_is_one_job(spark, tmp_path_factory):
    """The build seeds the table-schema cache with what it wrote, so the
    very first Spark-plan query after ``build`` runs only its scoring
    action: no postings schema-inference job."""
    d = str(tmp_path_factory.mktemp("afterbuild_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    sc = spark.sparkContext
    sc.setJobGroup("after-build", "first query")
    try:
        hits = idx.search("w3", limit=10, prune=False).hits
    finally:
        sc.setJobGroup("after-build-done", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("after-build"))
    assert n_jobs == 1, f"first query after build ran {n_jobs} jobs (want 1)"
    assert len(hits) == 10


def test_first_query_after_driver_micro_commit_is_one_job(spark, tmp_path_factory):
    """A driver micro-commit seeds the schema cache for the tables it
    wrote, so a reader's first Spark-plan query after ``reopen()`` —
    before any seal — runs as many jobs as the first query after a build:
    only its scoring action, no schema inference of docs or postings."""
    from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

    d = str(tmp_path_factory.mktemp("aftercommit_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    batch = transcript_batch_to_docs(
        synthetic_transcripts(spark, 40, vocab_size=100, seed=7, partitions=1)
    ).dropDuplicates(["doc_id"])
    assert idx.maintenance.upsert_arrow_small(
        batch.toArrow(), sort_cols=("conv_id", "turn_idx"), seal=False
    )
    idx.reopen()
    sc = spark.sparkContext
    sc.setJobGroup("after-commit", "first query")
    try:
        hits = idx.search("w3", limit=10, prune=False).hits
    finally:
        sc.setJobGroup("after-commit-done", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("after-commit"))
    assert n_jobs == 1, f"first query after a micro-commit ran {n_jobs} jobs (want 1)"
    assert len(hits) == 10


def test_build_seeds_the_schemas_spark_infers(spark, tmp_path_factory):
    """The schemas a build seeds equal a fresh Spark inference of each
    table, partition column types included."""
    import os

    from pyspark.sql.types import IntegerType

    from frankensearch_spark.sources import storage as storage_mod

    d = str(tmp_path_factory.mktemp("seeded_ix"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=100)
    LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    for table in ("docs", "doclens", "postings"):
        path = os.path.join(d, table)
        key, seeded = storage_mod._SCHEMA_CACHE[(d, table)]
        assert key == (os.stat(path).st_mtime_ns, len(os.listdir(path))), table
        assert seeded == spark.read.parquet(path).schema, table
    _, postings = storage_mod._SCHEMA_CACHE[(d, "postings")]
    assert postings["segment_id"].dataType == IntegerType()
    assert postings["bucket"].dataType == IntegerType()


def test_qterm_inline_path_equals_broadcast_join(spark, tmp_path_factory, monkeypatch):
    """The literal CASE inline of leaf_id/weight (and the phrase path's
    (ord, off) explode) must be hash-identical to the broadcast-join
    form it replaced — forced by dropping QTERM_INLINE_MAX to 0."""
    from frankensearch_spark.operators import search as search_mod

    d = str(tmp_path_factory.mktemp("qinline_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    queries = ["w1 w2", "w3", '"w3 w3"', "w12 AND w47", "w3 -w47"]
    inlined = {q: idx.search(q, limit=10, prune=False).hits for q in queries}
    monkeypatch.setattr(search_mod, "QTERM_INLINE_MAX", 0)
    fresh = LexicalIndex(spark, d)  # new engine: no cached plan pieces
    for q in queries:
        joined = fresh.search(q, limit=10, prune=False).hits
        assert list(inlined[q]["docid"]) == list(joined["docid"]), q
        assert np.array_equal(
            np.asarray(inlined[q]["score"], dtype=np.float32),
            np.asarray(joined["score"], dtype=np.float32),
        ), q


def test_noaqe_rebind_engages_on_this_spark_version(spark, tmp_path_factory):
    """Round-5: the classic-Dataset rebind (_without_aqe) rides private
    Spark internals guarded by a silent fallback — this test fails LOUDLY
    if a Spark bump kills the rebind, instead of quietly giving back the
    ~0.2 s/query the no-AQE session wins."""
    d = str(tmp_path_factory.mktemp("aqe_pin_ix"))
    corpus = synthetic_transcripts(spark, 300, vocab_size=100)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    eng = idx.engine

    hits = idx.search("w3", limit=10, prune=False).hits
    assert len(hits) > 0
    # the rebind actually engaged: zero fallbacks, and the cloned session
    # is live with AQE off (not the silent keep-the-AQE-plan branch)
    assert eng.noaqe_fallbacks == 0, (
        "classic-Dataset rebind fell back on this Spark version "
        f"({spark.version}) — the no-AQE fast path is dead"
    )
    clone = eng._noaqe_session()
    assert clone is not None
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"

    # a frame rebound through the seam really executes on the clone: a
    # plan WITH an exchange must not be adaptive there, while the same
    # frame on the shared session is (so the rebind is the thing that
    # removed it, not plan shape)
    scored = (
        eng._read_live("doclens")
        .groupBy("segment_id")
        .count()
        .orderBy("segment_id")
    )
    rebound = eng._without_aqe(scored)
    assert eng.noaqe_fallbacks == 0
    plan = rebound._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan
    shared_plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in shared_plan
