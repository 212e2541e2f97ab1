"""End-to-end: Spark engine must be rank- AND score-identical to the oracle
on the reference corpus and query set."""

from __future__ import annotations

import numpy as np
import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.oracle import OracleIndex


@pytest.fixture(scope="module")
def built(spark, corpus_fixture, tmp_path_factory):
    docs = corpus_fixture if isinstance(corpus_fixture, list) else corpus_fixture["documents"]
    index_dir = str(tmp_path_factory.mktemp("corpus_index"))
    rows = [
        {
            "doc_id": d["doc_id"],
            "content": d["content"],
            "title": d.get("title", ""),
            "created_at": d.get("created_at", ""),
            "doc_type": d.get("doc_type", ""),
        }
        for d in docs
    ]
    df = spark.createDataFrame(rows)
    index = LexicalIndex(spark, index_dir).build(
        df,
        text_fields=("content", "title"),
        keyword_fields=("doc_type",),
        stored_fields=("content", "title"),
        sort_cols=("doc_id",),
        num_segments=4,
        num_buckets=8,
    )
    oracle = OracleIndex(docs)
    return index, oracle


def _compare(index, oracle, query, k=10):
    engine_hits = index.search(query, limit=k).hits
    oracle_hits = oracle.search(query, limit=k)
    got = [(h.docid if hasattr(h, "docid") else None) for h in oracle_hits]
    assert list(engine_hits["docid"]) == [h.docid for h in oracle_hits], (
        f"rank mismatch for {query!r}:\n"
        f"  engine={list(zip(engine_hits['doc_id'], engine_hits['score']))}\n"
        f"  oracle={[(h.doc_id, h.score) for h in oracle_hits]}"
    )
    eng_scores = np.asarray(engine_hits["score"], dtype=np.float32)
    ora_scores = np.asarray([h.score for h in oracle_hits], dtype=np.float32)
    assert np.array_equal(eng_scores, ora_scores), (
        f"score mismatch for {query!r}: {eng_scores} vs {ora_scores}"
    )


def test_reference_query_set_rank_identical(built, queries_fixture):
    index, oracle = built
    for case in queries_fixture:
        _compare(index, oracle, case["query"])


def test_phrase_query(built):
    index, oracle = built
    _compare(index, oracle, '"error handling"')


def test_boolean_queries(built):
    index, oracle = built
    for query in [
        "rust AND ownership",
        "rust OR cooking",
        "rust -ownership",
        "rust AND NOT borrowing",
        "+rust +async",
        "rust OR ownership AND borrowing",
        "(rust OR ownership)^2 cooking",
        "title:rust^3 content:async",
    ]:
        _compare(index, oracle, query)


def test_exact_count(built):
    index, oracle = built
    res = index.search("rust ownership borrowing", limit=5, exact_count=True)
    assert res.total_count == oracle.count("rust ownership borrowing")


def test_offset_pagination(built):
    index, oracle = built
    full = index.search("rust ownership borrowing", limit=10).hits
    page2 = index.search("rust ownership borrowing", limit=5, offset=5).hits
    assert list(page2["docid"]) == list(full["docid"][5:10])


def test_collect_docids(built):
    index, oracle = built
    got = index.collect_docids("rust")
    arrays = None
    # oracle equivalent: matched docids sorted
    hits = oracle.search("rust", limit=10_000)
    exp = sorted(h.docid for h in hits)
    assert got == exp


def test_glob_queries(built):
    index, oracle = built
    for query in [
        "rust*",
        "*ing",
        "*own*",
        "bor*ing",
        "title:rust*",
        "rust* AND ownership",
        "own* -cooking",
    ]:
        _compare(index, oracle, query)


def test_glob_const_score_semantics(built):
    """Glob hits carry constant (non-BM25) scores: 1.0 per matching field."""
    index, _ = built
    hits = index.search("zzznomatch* OR rust*", limit=5).hits
    assert not hits.empty
    assert all(s in (1.0, 2.0) for s in hits["score"])


def test_snippets_on_corpus(built):
    index, _ = built
    res = index.search_with_snippets("rust ownership", limit=5)
    assert "snippet" in res.hits.columns
    assert len(res.hits) == 5
    # every winner matched content or title; content matches must highlight
    snips = list(res.hits["snippet"])
    assert any(s is not None for s in snips)
    for snip in snips:
        assert snip is None or "<b>" in snip


def test_known_miss_control(built):
    index, oracle = built
    res = index.search("zzzznonexistenttermzzzz", limit=10)
    assert res.hits.empty


def test_hydrate_stored_fields(built, corpus_fixture):
    """hydrate_fields joins stored columns onto the k winners, snapshot-
    pinned (reference traits.rs:965-1016 stored-field hydration)."""
    index, _ = built
    docs = corpus_fixture["documents"] if isinstance(corpus_fixture, dict) else corpus_fixture
    by_id = {d["doc_id"]: d for d in docs}
    hits = index.search(
        "rust ownership", limit=5, hydrate_fields=["title", "content"]
    ).hits
    assert list(hits.columns) == ["docid", "doc_id", "score", "rank", "title", "content"]
    assert len(hits) == 5
    for _, row in hits.iterrows():
        assert row["title"] == by_id[row["doc_id"]]["title"]
        assert row["content"] == by_id[row["doc_id"]]["content"]
    with pytest.raises(ValueError, match="not stored"):
        index.search("rust", limit=2, hydrate_fields=["no_such_column"])


def test_exact_count_adds_no_job(built, spark):
    """Counted top-k fuses count into the collection pass (reference counts
    while collecting, argus.rs:5344): exact_count=True must launch no more
    Spark jobs than the same uncounted search — not the old
    persist/count/orderBy plan that paid an extra action.  (Absolute job
    counts are AQE-stage dependent, so the assertion is relative.)"""
    index, _ = built
    sc = spark.sparkContext
    # warm the dictionary probe cache so the probe job doesn't count
    index.search("rust ownership", limit=3, prune=False)

    def jobs_for(tag, **kw):
        sc.setJobGroup(tag, tag)
        try:
            index.search("rust ownership", prune=False, **kw)
        finally:
            sc.setJobGroup(tag + "_done", "")
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    plain = jobs_for("uncounted", limit=4)
    counted = jobs_for("counted", limit=5, exact_count=True)
    assert counted <= plain, f"exact_count added jobs: {counted} > {plain}"


def test_glob_semijoin_path_equals_isin(built, monkeypatch):
    """Wide glob expansions switch from literal InSet to a broadcast
    semi-join; the two plans must return identical hits."""
    from frankensearch_spark.operators import search as search_mod

    index, oracle = built
    baseline = {}
    for query in ["rust*", "*ing", "own* -cooking"]:
        h = index.search(query, limit=50).hits
        baseline[query] = list(zip(h["docid"], h["score"]))
    monkeypatch.setattr(search_mod, "GLOB_ISIN_MAX", 0)  # force semi-join
    index.engine._query_cache.clear()
    for query, exp in baseline.items():
        h = index.search(query, limit=50).hits
        assert list(zip(h["docid"], h["score"])) == exp, query
        _compare(index, oracle, query)
