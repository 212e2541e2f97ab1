"""Round-6 query fast paths: the prepared-plan frame cache and the
driver-side hydration point-read must be invisible in results.

* driver hydration ≡ the distributed point-read (same rows, same
  dtypes), including stored-field hydration;
* a cached prepared plan of the Spark path (``prune=False``; small
  queries are scored on the driver by default and build no plan)
  returns bit-identical hits to the freshly constructed plan (the result
  cache is cleared between runs, so the scan/score/top-k really
  re-executes);
* reopen() drops the prepared plans with the engine (snapshot pinning).
"""

import os

import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.transcripts import synthetic_transcripts


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("qfast")
    corpus = synthetic_transcripts(spark, 8_000, partitions=16)
    return LexicalIndex.build_transcripts(
        spark, corpus, os.path.join(work, "ix"), num_segments=4, num_buckets=8
    )


QUERIES = ["w3", "w12 AND w47", "w3 -w47", '"w3 w3"', "w3 w47 w200"]


def test_driver_hydration_matches_spark_path(index):
    engine = index.engine
    for q in QUERIES:
        engine._query_cache.clear()
        fast = index.search(q, limit=10, hydrate_fields=["content"]).hits
        engine._query_cache.clear()
        prev = engine.DRIVER_HYDRATION_MAX_BYTES
        engine.DRIVER_HYDRATION_MAX_BYTES = 0  # force the Spark plan
        try:
            slow = index.search(q, limit=10, hydrate_fields=["content"]).hits
        finally:
            engine.DRIVER_HYDRATION_MAX_BYTES = prev
        assert fast.equals(slow), q


def test_prepared_plan_cache_reexecutes_identically(index):
    engine = index.engine
    engine._plan_frame_cache.clear()
    for q in QUERIES:
        engine._query_cache.clear()
        first = index.search(q, limit=10, prune=False).hits
        assert any(k == repr(q) for k in engine._plan_frame_cache), q
        engine._query_cache.clear()
        second = index.search(q, limit=10, prune=False).hits  # prepared-plan hit
        assert first.equals(second), q


def test_reopen_drops_prepared_plans(index):
    engine = index.engine
    index.search("w3", limit=10, prune=False)
    assert engine._plan_frame_cache
    index.reopen()
    assert index.engine._plan_frame_cache == {}
    # and the fresh engine still answers identically
    a = index.search("w3", limit=10, prune=False).hits
    index.reopen()
    b = index.search("w3", limit=10, prune=False).hits
    assert a.equals(b)
