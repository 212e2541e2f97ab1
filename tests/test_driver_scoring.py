"""Driver scoring: small term and phrase queries, scored from the pinned
postings files with pyarrow + numpy, run no Spark job and are
hash-identical to the exhaustive Spark plan (``prune=False``).

Pins: 0 jobs for the first and a warm query of each kind on a fresh
engine, also after a driver micro-commit + ``reopen()`` and after a seal
with visible tombstones; identity on the entry oracle's BM25 rows, on
seeded random query strings, and on the default, tombstoned, dirty and
time-travel views with ``offset`` and ``exact_count``; one decline per
gate, each landing on the Spark plan with its reason in ``last_path``; a
posting list that repeats a docid raises instead of being absorbed.
"""

from __future__ import annotations

import glob
import os
import random
import shutil

import numpy as np
import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators import search as search_mod
from frankensearch_spark.sources.transcripts import synthetic_transcripts

#: one query per kind the driver path serves
KINDS = {
    "term": "w3",
    "and": "w12 AND w47",
    "or": "w1 OR w2 w5",
    "not": "w3 -w47",
    "phrase": '"w7 w7"',
}


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-done", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same(a, b, what):
    assert list(a.hits.columns) == list(b.hits.columns), what
    assert list(a.hits["docid"]) == list(b.hits["docid"]), what
    assert list(a.hits["doc_id"]) == list(b.hits["doc_id"]), what
    assert list(a.hits["rank"]) == list(b.hits["rank"]), what
    assert np.array_equal(
        np.asarray(a.hits["score"], dtype=np.float32).view(np.int32),
        np.asarray(b.hits["score"], dtype=np.float32).view(np.int32),
    ), what
    assert a.total_count == b.total_count, what
    for col in a.hits.columns[4:]:
        assert list(a.hits[col]) == list(b.hits[col]), (what, col)


def _driver_equals_spark(idx, query, **kw):
    """Search ``query`` under ``prune="auto"`` (must take the driver
    path) and with ``prune=False``; assert the two are identical."""
    auto = idx.search(query, **kw)
    assert idx.engine.last_path == ("driver", None), (query, idx.engine.last_path)
    spark_side = idx.search(query, prune=False, **kw)
    _assert_same(auto, spark_side, (query, kw))
    return auto


def _build(spark, d, n=500, segments=3):
    corpus = synthetic_transcripts(spark, n, vocab_size=100)
    return LexicalIndex.build_transcripts(
        spark, corpus, d, num_segments=segments, num_buckets=4
    )


def _micro_commit(spark, idx, seal, seed=7):
    """A driver micro-commit that re-indexes existing doc_ids (staging
    tombstones for the versions it replaces)."""
    from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

    batch = transcript_batch_to_docs(
        synthetic_transcripts(spark, 40, vocab_size=100, seed=seed, partitions=1)
    ).dropDuplicates(["doc_id"])
    assert idx.maintenance.upsert_arrow_small(
        batch.toArrow(), sort_cols=("conv_id", "turn_idx"), seal=seal
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("driver_ix"))
    _build(spark, d)
    return d


def test_fresh_engine_runs_no_spark_job(spark, built):
    for kind, query in KINDS.items():
        idx = LexicalIndex(spark, built)  # fresh engine: nothing listed yet
        first, n_first = _jobs(spark, f"drv-first-{kind}", lambda: idx.search(query))
        assert n_first == 0, f"first {kind} query ran {n_first} jobs"
        assert idx.engine.last_path == ("driver", None)
        assert len(first.hits) > 0, kind
        idx.engine._query_cache.clear()
        warm, n_warm = _jobs(spark, f"drv-warm-{kind}", lambda: idx.search(query))
        assert n_warm == 0, f"warm {kind} query ran {n_warm} jobs"
        _assert_same(first, warm, kind)


def _zero_job_kinds(spark, reader, tag):
    """Every kind's first query on a reopened engine, and the same query
    warm, runs 0 jobs and equals the Spark plan."""
    for kind, query in KINDS.items():
        reader.reopen()
        res, n = _jobs(spark, f"drv-{tag}-{kind}", lambda: reader.search(query))
        assert n == 0, f"{kind} query ({tag}) ran {n} jobs"
        assert reader.engine.last_path == ("driver", None)
        reader.engine._query_cache.clear()
        _, n = _jobs(spark, f"drv-{tag}-warm-{kind}", lambda: reader.search(query))
        assert n == 0, f"warm {kind} query ({tag}) ran {n} jobs"
        _assert_same(res, reader.search(query, prune=False), (tag, kind))


def test_no_job_after_micro_commit_and_seal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("driver_commit_ix"))
    idx = _build(spark, d, n=400)
    _micro_commit(spark, idx, seal=False)
    _zero_job_kinds(spark, idx, "micro-commit")
    dirty = LexicalIndex(spark, d, include_unsealed=True)
    assert dirty.engine._tombstone_rows > 0
    _zero_job_kinds(spark, dirty, "dirty")
    idx.maintenance.seal()
    idx.reopen()
    assert idx.engine._tombstone_rows > 0  # the seal made the deletes visible
    _zero_job_kinds(spark, idx, "sealed")


def test_entry_oracle_bm25_rows_identical(spark):
    """The BM25 rows the entry oracle checks against DuckDB (sf0.001)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("sf0.001 test data not present")
    idx = entry._index(spark, sf)
    idx.reopen()
    for query, kw in [
        ("spark", {}),
        (entry.FLAGSHIP_QUERY, {}),
        ("spark AND merge", {}),
        ("spark -merge", {}),
        ('"value table"', {}),
        (entry.FLAGSHIP_QUERY, {"offset": 10}),
        ("spark", {"hydrate_fields": ["content"]}),
        ("spark merge", {"limit": 1, "exact_count": True}),
    ]:
        _driver_equals_spark(idx, query, **kw)


def _random_query(rng: random.Random, depth: int = 0) -> str:
    """A seeded random term/phrase/boolean/boost query string."""

    def word():
        # mostly corpus terms, now and then one the corpus never saw
        return rng.choice([f"w{rng.randrange(60)}"] * 9 + ["zzabsent"])

    kinds = ["term", "phrase", "bool", "boost"] if depth < 2 else ["term", "phrase"]
    kind = rng.choice(kinds)
    if kind == "term":
        return word()
    if kind == "phrase":
        return '"' + " ".join(word() for _ in range(rng.randint(1, 3))) + '"'
    if kind == "boost":
        return f"({_random_query(rng, depth + 1)})^{rng.choice(['0.5', '2', '3.7'])}"
    parts = [_random_query(rng, depth + 1) for _ in range(rng.randint(2, 4))]
    out = parts[0]
    for p in parts[1:]:
        out += rng.choice([" ", " AND ", " OR ", " -", " +", " AND NOT "]) + p
    return f"({out})" if depth else out


def test_random_queries_identical(spark, built):
    rng = random.Random(20261020)
    idx = LexicalIndex(spark, built)
    for _ in range(40):
        query = _random_query(rng)
        kw = rng.choice(
            [
                {},
                {"limit": 5, "offset": 3},
                {"exact_count": True},
                {"limit": 50, "exact_count": True},
            ]
        )
        _driver_equals_spark(idx, query, **kw)


def test_views_identical(spark, tmp_path_factory):
    """Default (tombstoned), dirty and time-travel views."""
    d = str(tmp_path_factory.mktemp("driver_views_ix"))
    idx = _build(spark, d, n=400)
    victims = list(idx.search("w3", limit=30).hits["doc_id"])[::3]
    assert idx.delete(victims) == len(victims)
    past = idx.storage.current_generation()
    _micro_commit(spark, idx, seal=True)
    _micro_commit(spark, idx, seal=False, seed=8)
    views = {
        "tombstoned": LexicalIndex(spark, d),
        "dirty": LexicalIndex(spark, d, include_unsealed=True),
        "past": LexicalIndex(spark, d, at_generation=past),
    }
    live = {name: set(v.engine.live_segments) for name, v in views.items()}
    assert live["past"] < live["tombstoned"] < live["dirty"]
    rows = {name: v.engine._tombstone_rows for name, v in views.items()}
    assert rows["dirty"] > rows["tombstoned"] > len(victims)
    for view in views.values():
        for query in [*KINDS.values(), "w3 w5 w9", '"w3 w5" OR w9^2']:
            for kw in ({"limit": 10}, {"limit": 7, "offset": 4, "exact_count": True}):
                _driver_equals_spark(view, query, **kw)
    # the micro-commits may re-add a victim; the past view predates them
    hits = views["past"].search("w3", limit=400).hits
    assert not set(victims) & set(hits["doc_id"])


def _declines(idx, query, reason, **kw):
    res = idx.search(query, **kw)
    assert idx.engine.last_path == ("spark", reason), (query, idx.engine.last_path)
    _assert_same(res, idx.search(query, prune=False, **kw), query)


def test_each_gate_declines_to_spark(spark, built, tmp_path_factory, monkeypatch):
    idx = LexicalIndex(spark, built)
    _declines(idx, "w1*", "leaf_kind")  # glob
    _declines(idx, "w3 AND turn_idx:[0 TO 3]", "leaf_kind")  # range
    _declines(idx, "w3 role:user", "leaf_kind")  # keyword leaf
    _declines(idx, '"w1 w2"~2', "slop")
    df = idx.engine._doc_freqs([("content", "w3")])[("content", "w3")]
    monkeypatch.setattr(search_mod, "DRIVER_SCORE_MAX_POSTINGS", df - 1)
    _declines(idx, "w3", "postings_bound")
    monkeypatch.setattr(search_mod, "DRIVER_SCORE_MAX_POSTINGS", df)
    idx.engine._query_cache.clear()
    _driver_equals_spark(idx, "w3")  # at the bound: still the driver

    d = str(tmp_path_factory.mktemp("driver_tomb_gate_ix"))
    shutil.copytree(built, d, dirs_exist_ok=True)
    tomb = LexicalIndex(spark, d)
    tomb.delete(list(tomb.search("w3", limit=3).hits["doc_id"]))
    rows = tomb.engine._tombstone_rows
    monkeypatch.setattr(search_mod, "DRIVER_SCORE_MAX_POSTINGS", rows - 1)
    _declines(tomb, "zzabsent", "tombstone_bound")
    monkeypatch.setattr(search_mod, "DRIVER_SCORE_MAX_POSTINGS", 1 << 20)

    # a non-parquet table format: the Spark plan's frames are built
    # first (with parquet) so the relabelled engine can still read them
    fmt = LexicalIndex(spark, built)
    fmt.search("w5", prune=False)
    fmt.engine._read_live("docs")
    monkeypatch.setattr(fmt.engine.storage, "format", "not-parquet")
    _declines(fmt, "w5", "format")


def test_repeated_posting_raises(spark, built, tmp_path_factory):
    """Two posting entries for one (doc, term) break an index invariant:
    the Spark pivot's first() would absorb the duplicate, the driver path
    raises."""
    d = str(tmp_path_factory.mktemp("driver_dup_ix"))
    shutil.copytree(built, d, dirs_exist_ok=True)
    bucket = search_mod._bucket("w3", 4)
    part = os.path.join(d, "postings", "segment_id=0", f"bucket={bucket}")
    src = sorted(glob.glob(os.path.join(part, "*.parquet")))[0]
    shutil.copy(src, src.replace(".parquet", "-copy.parquet"))
    with pytest.raises(RuntimeError, match="repeats a docid"):
        LexicalIndex(spark, d).search("w3")
