"""Driver-side term dictionary (sources/termdict.py) against Spark.

The engine resolves doc frequencies by reading the live segments'
postings files with pyarrow instead of running a Spark group-by.  These
tests hold the two equal: for every (field, term) the driver df must be
the Spark group-sum of ``IndexStorage.derive_terms`` over the engine's
live segments, through every mutation that changes the live set, and
under time travel and dirty reads.  A pinned reader whose postings files
are gone must raise, never score with df = 0.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators.search import _bucket
from frankensearch_spark.sources import termdict
from frankensearch_spark.sources.storage import pin_segments


def _rows(n, tag="original"):
    return [
        {
            "doc_id": f"d{i:03d}",
            "content": f"alpha w{i % 7} w{i % 11} {tag}{i}",
            "title": f"title{i % 3} w{i % 5}",
        }
        for i in range(n)
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, content string, title string")


def _spark_dfs(eng) -> dict:
    """Group-sum of the derived dictionary over the engine's live set,
    from a fresh (unpinned-cache) read of the index directory."""
    terms = pin_segments(eng.storage.read("terms"), eng.live_segments)
    return {
        (r["field"], r["term"]): int(r["df"])
        for r in terms.groupBy("field", "term").agg(F.sum("df").alias("df")).collect()
    }


def assert_driver_dfs_match(eng) -> int:
    """Compare every (field, term) plus two absent pairs; return Σ df."""
    want = _spark_dfs(eng)
    assert want  # non-vacuous
    absent = [("content", "zzabsent"), ("title", "alpha")]
    got = eng._doc_freqs(sorted(want) + absent)
    assert got == {**want, **{p: want.get(p, 0) for p in absent}}
    return sum(want.values())


@pytest.fixture(scope="module")
def mutated(spark, tmp_path_factory):
    """A 3-segment build, then an upsert, a delete and a compaction; the
    directory keeps every generation's history for time travel."""
    d = str(tmp_path_factory.mktemp("termdict_ix"))
    idx = LexicalIndex(spark, d).build(
        _frame(spark, _rows(60)),
        text_fields=("content", "title"),
        sort_cols=("doc_id",),
        num_segments=3,
        num_buckets=4,
    )
    assert len(idx.engine.live_segments) == 3
    totals = {"build": assert_driver_dfs_match(idx.engine)}
    gens = {idx.engine.generation}
    idx.upsert(_frame(spark, _rows(5, tag="replaced")))
    totals["upsert"] = assert_driver_dfs_match(idx.engine)
    idx.delete([f"d{i:03d}" for i in range(20, 45)])
    totals["delete"] = assert_driver_dfs_match(idx.engine)
    gens.add(idx.engine.generation)
    assert idx.maintenance.compact(max_density=0.10)
    idx.reopen()
    totals["compact"] = assert_driver_dfs_match(idx.engine)
    gens.add(idx.engine.generation)
    return idx, d, totals, sorted(gens)


def test_driver_dfs_follow_each_mutation(mutated):
    _, _, totals, _ = mutated
    # superseded versions still count after the upsert, tombstones do not
    # change df, and the compaction drops the deleted docs' postings
    assert totals["upsert"] > totals["build"]
    assert totals["delete"] == totals["upsert"]
    assert totals["compact"] < totals["delete"]


def test_driver_dfs_match_spark_at_past_generations(spark, mutated):
    _, d, _, gens = mutated
    assert len(gens) == 3
    for gen in gens:
        eng = LexicalIndex(spark, d, at_generation=gen).engine
        assert_driver_dfs_match(eng)


def test_driver_dfs_match_spark_with_unsealed_segments(spark, mutated):
    idx, d, _, _ = mutated
    idx.maintenance.upsert(
        _frame(spark, _rows(3, tag="pending")), sort_cols=("doc_id",), seal=False
    )
    dirty = LexicalIndex(spark, d, include_unsealed=True).engine
    clean = LexicalIndex(spark, d).engine
    assert set(dirty.live_segments) > set(clean.live_segments)
    assert_driver_dfs_match(dirty)
    assert dirty._doc_freqs([("content", "pending0")]) == {("content", "pending0"): 1}
    assert clean._doc_freqs([("content", "pending0")]) == {("content", "pending0"): 0}


def test_pinned_reader_raises_when_its_postings_files_are_gone(
    spark, tmp_path_factory
):
    d = str(tmp_path_factory.mktemp("termdict_gone_ix"))
    idx = LexicalIndex(spark, d).build(
        _frame(spark, _rows(40)),
        text_fields=("content", "title"),
        sort_cols=("doc_id",),
        num_segments=2,
        num_buckets=4,
    )
    # two terms in different buckets: one pins the reader, one is probed
    # only after its files vanish
    pinned, later = "alpha", next(
        f"w{k}" for k in range(7) if _bucket(f"w{k}", 4) != _bucket("alpha", 4)
    )
    idx.search(later, limit=5)  # the process-wide cache now holds `later`'s files
    reader = LexicalIndex(spark, d)
    assert len(reader.search(pinned, limit=5).hits) > 0
    bucket_dir = os.path.join(
        d, "postings", f"segment_id={reader.engine.live_segments[0]}",
        f"bucket={_bucket(later, 4)}",
    )
    gone = [os.path.join(bucket_dir, f) for f in os.listdir(bucket_dir)]
    for f in gone:
        if f.endswith(".parquet"):
            os.remove(f)
    with pytest.raises(FileNotFoundError):
        reader.search(later, limit=5)
    assert ("content", later) not in reader.engine._doc_freq_cache


def test_file_cache_is_bounded(monkeypatch, mutated):
    _, d, _, _ = mutated
    monkeypatch.setattr(termdict, "TERMDICT_CACHE_MAX_TERMS", 1)
    monkeypatch.setattr(termdict, "_CACHE", termdict._Lru())
    files = sorted(glob.glob(os.path.join(d, "postings", "*", "*", "*.parquet")))[:3]
    for f in files:
        assert termdict.file_doc_freqs(f)
    # over the bound, only the most recent file stays
    assert list(termdict._CACHE.entries) == files[-1:]


def test_file_cache_accounting_holds_under_threads(monkeypatch):
    """Concurrent puts and gets keep the LRU's term count equal to the sum
    over its entries and within the bound (a lost update breaks both)."""
    import sys
    import threading

    monkeypatch.setattr(termdict, "TERMDICT_CACHE_MAX_TERMS", 50)
    lru = termdict._Lru()
    errors = []

    def worker(w):
        try:
            for i in range(400):
                uri = f"f{(w * 7 + i) % 23}"
                lru.put(uri, (i,), {(0, "content"): dict.fromkeys(range(i % 9), 1)})
                lru.get(uri, (i,))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert lru.terms == sum(e[2] for e in lru.entries.values())
    assert lru.terms <= 50 or len(lru.entries) == 1
