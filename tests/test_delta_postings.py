"""Gap-encoded posting entries (functions/codec.py).

The posting blocks' entry docids are stored as int32 per-entry gaps
(``d[0] = 0``; absolute base = the block's ``first_doc``), decoded
JVM-side by a staged Hillis-Steele scan.  These tests pin:

* the physical layout (schema + gap invariants),
* decode == an independent numpy cumsum reconstruction,
* compaction preserving the layout.

Indexes with absolute entry docids are refused at open
(``test_format_version.py``).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.functions.codec import with_decoded_docids
from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.storage import IndexStorage
from frankensearch_spark.sources.transcripts import synthetic_transcripts

QUERIES = ["w3", "w3 w47 w200", "w12 AND w47", '"w12 w47"']


def _hits(idx, query, k=10):
    h = idx.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


@pytest.fixture(scope="module")
def gap_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("gap_ix"))
    corpus = synthetic_transcripts(spark, 600, vocab_size=300)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=3, num_buckets=4)
    return d, idx, corpus


def test_gap_layout_schema_and_invariants(spark, gap_index):
    d, _, _ = gap_index
    p = spark.read.parquet(IndexStorage(spark, d).path("postings"))
    element = p.schema["entries"].dataType.elementType
    assert element.fieldNames() == ["d", "freq", "fnid"]
    assert [f.dataType.simpleString() for f in element.fields] == ["int", "int", "int"]
    bad = p.where(
        (F.expr("entries[0].d") != 0)  # first gap is always 0
        | (F.expr("exists(entries, e -> e.d < 0)"))  # sorted => nonneg gaps
    ).count()
    assert bad == 0


def test_scan_decode_matches_numpy_cumsum(spark, gap_index):
    d, _, _ = gap_index
    p = spark.read.parquet(IndexStorage(spark, d).path("postings"))
    rows = (
        with_decoded_docids(p)
        .select("first_doc", F.expr("entries.d").alias("gaps"), "dec")
        .limit(500)
        .collect()
    )
    assert rows
    for r in rows:
        expect = int(r["first_doc"]) + np.cumsum(np.asarray(r["gaps"], dtype=np.int64))
        assert list(expect) == list(r["dec"])


def test_compaction_preserves_gap_layout(spark, gap_index, tmp_path):
    import shutil

    d, _, corpus = gap_index
    d2 = str(tmp_path / "gap_compact")
    shutil.copytree(d, d2)
    idx = LexicalIndex(spark, d2)
    victims = [r["doc_id"] for r in corpus.limit(200).select(
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string")).alias("doc_id")
    ).collect()]
    idx.maintenance.delete(victims)
    mapping = idx.maintenance.compact(max_density=0.01)
    assert mapping  # something rewrote
    p = spark.read.parquet(idx.storage.path("postings"))
    assert p.schema["entries"].dataType.elementType.fieldNames() == ["d", "freq", "fnid"]
    idx.reopen()
    # rewritten index still answers; deleted docs are gone (full
    # compacted == rebuilt differentials live in test_maintenance.py).
    # Only the common-term queries are guaranteed survivors; the phrase
    # query's sole match may legitimately be among the 200 deleted docs.
    gone = set(victims)
    for q in QUERIES:
        hits = _hits(idx, q)
        assert all(doc not in gone for doc, _ in hits)
        if q in ("w3", "w3 w47 w200"):
            assert hits


def test_compact_decode_identical_to_staged(spark, gap_index):
    """The one-expression compact scan (with_decoded_docids compact=True,
    the interactive-query construction fast path) must be bit-identical
    to the staged 7-pass zip_with scan on EVERY block of a real index."""
    d, _, _ = gap_index
    p = spark.read.parquet(IndexStorage(spark, d).path("postings"))
    key = ["field", "term", "segment_id", "block_id"]
    staged = with_decoded_docids(p).select(*key, "dec").orderBy(*key).collect()
    compact = (
        with_decoded_docids(p, compact=True)
        .select(*key, "dec")
        .orderBy(*key)
        .collect()
    )
    assert len(staged) == len(compact) > 0
    for a, b in zip(staged, compact):
        assert tuple(a[k] for k in key) == tuple(b[k] for k in key)
        assert list(a["dec"]) == list(b["dec"])


def test_compact_decode_gate_and_rank_identity(spark, gap_index, monkeypatch):
    """Warm queries (cached dfs under the postings bound) take the
    compact decode; forcing the gate shut must give hash-identical
    hits through the staged form."""
    from frankensearch_spark.operators import search as search_mod

    d, _, _ = gap_index
    idx = LexicalIndex(spark, d)
    queries = ["w1", "w2 w7", '"w1 w1"']
    fast = {q: _hits(idx, q) for q in queries}
    assert idx.engine._compact_decode_ok(
        [("content", "w1")]
    )  # df cached by the searches above, under the bound
    monkeypatch.setattr(search_mod, "COMPACT_DECODE_MAX_POSTINGS", -1)
    staged_idx = LexicalIndex(spark, d)  # fresh engine: no cached plans
    for q in queries:
        assert _hits(staged_idx, q) == fast[q], q
