"""Gap-encoded posting entries (functions/codec.py).

The posting blocks' entry docids are stored as int32 per-entry gaps
(``d[0] = 0``; absolute base = the block's ``first_doc``), decoded
JVM-side by a staged Hillis-Steele scan.  These tests pin:

* the physical layout (schema + gap invariants),
* decode == an independent numpy cumsum reconstruction,
* the query engine's driver-side decode == the staged Spark scan,
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


def test_driver_decode_identical_to_staged(spark, gap_index):
    """The driver scoring path's vectorized decode
    (``search._decode_blocks``: one cumsum over all blocks) must give the
    staged Spark scan's docids, freqs and fnids for every (field, term)
    of every postings file of a real index."""
    import glob
    import os

    import pyarrow.parquet as pq

    from frankensearch_spark.operators.search import _decode_blocks
    from frankensearch_spark.sources.termdict import partition_values

    d, _, _ = gap_index
    p = spark.read.parquet(IndexStorage(spark, d).path("postings"))
    staged = {}
    rows = (
        with_decoded_docids(p)
        .select(
            "field",
            "term",
            "segment_id",
            F.explode(F.arrays_zip("dec", "entries")).alias("e"),
        )
        .select(
            "field", "term", "segment_id", "e.dec", "e.entries.freq", "e.entries.fnid"
        )
        .collect()
    )
    for r in rows:
        staged.setdefault((r[0], r[1], r[2]), []).append((r[3], r[4], r[5]))
    got = {}
    for path in glob.glob(os.path.join(d, "postings", "*", "*", "*.parquet")):
        seg = partition_values(path)["segment_id"]
        tbl = pq.read_table(path, columns=["field", "term", "first_doc", "entries"])
        pairs = set(zip(tbl["field"].to_pylist(), tbl["term"].to_pylist()))
        for (field, term), pl in _decode_blocks(tbl, pairs, False).items():
            got.setdefault((field, term, seg), []).extend(
                zip(pl.docid.tolist(), pl.freq.tolist(), pl.fnid.tolist())
            )
    assert len(staged) == len(got) > 0
    assert {k: sorted(v) for k, v in staged.items()} == {
        k: sorted(v) for k, v in got.items()
    }


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
