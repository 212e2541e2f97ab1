"""Legacy (pre-embedded-dictionary) index handling (ADVICE r2, medium).

A mixed postings directory — some files with the embedded ``term_df``/
``term_cf`` dictionary columns, some without — yields silently-wrong BM25
stats (parquet samples one footer).  The contract: appends onto a legacy
index are REFUSED, and ``backfill_embedded_terms()`` is the one-time
rewrite that embeds the dictionary, deletes the physical ``terms/``
directory, and re-admits appends.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.storage import IndexStorage, pin_segments
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import transcript_batch_to_docs

QUERIES = ["w3", "w3 w47 w200", "w12 AND w47"]


def _hits(idx, query, k=10):
    h = idx.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


@pytest.fixture(scope="module")
def legacy(spark, tmp_path_factory):
    """A legacy-shaped index: physical terms/ dir, postings without the
    embedded dictionary columns — plus the modern index's expected hits."""
    d = str(tmp_path_factory.mktemp("legacy_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=300)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    expected = {q: _hits(idx, q) for q in QUERIES}
    storage = IndexStorage(spark, d)
    postings = spark.read.parquet(storage.path("postings"))
    # materialize the physical dictionary the legacy layout carried
    terms = IndexStorage.derive_terms(postings).select(
        "segment_id", "field", "term", "bucket", "df", "cf"
    )
    terms.write.mode("overwrite").partitionBy("bucket").parquet(storage.path("terms"))
    # strip the embedded columns AND re-expand the gap-encoded entry
    # docids to the absolute int64 layout legacy indexes carried
    # (write-temp + swap; same-path overwrite is illegal)
    from frankensearch_spark.functions.codec import with_decoded_docids

    legacy_postings = (
        with_decoded_docids(postings.drop("term_df", "term_cf"), True)
        .withColumn(
            "entries",
            F.expr(
                "zip_with(dec, entries, (id, e) -> "
                "struct(id as docid, e.freq as freq, e.fnid as fnid))"
            ),
        )
        .drop("dec")
    )
    storage.atomic_rewrite(
        "postings", legacy_postings, partition_by=("segment_id", "bucket")
    )
    return d, expected, corpus


def test_legacy_fallback_reads_physical_terms(spark, legacy):
    d, expected, _ = legacy
    idx = LexicalIndex(spark, d)
    assert IndexStorage.derive_terms(spark.read.parquet(idx.storage.path("postings"))) is None
    for q in QUERIES:
        assert _hits(idx, q) == expected[q], q


def test_legacy_dictionary_is_read_on_the_driver(spark, legacy):
    """The driver-side dictionary reads the physical terms/ files and
    matches the Spark group-sum over the live segments' rows."""
    d, _, _ = legacy
    eng = LexicalIndex(spark, d).engine
    terms = pin_segments(spark.read.parquet(eng.storage.path("terms")), eng.live_segments)
    want = {
        (r["field"], r["term"]): int(r["df"])
        for r in terms.groupBy("field", "term").agg(F.sum("df").alias("df")).collect()
    }
    assert want
    assert eng._doc_freqs(sorted(want)) == want
    files = [f for fs in eng._dictionary_files().values() for f in fs]
    assert files and all(f.startswith(eng.storage.path("terms")) for f in files)


def test_append_to_legacy_index_refused(spark, legacy):
    d, _, corpus = legacy
    idx = LexicalIndex(spark, d)
    one = transcript_batch_to_docs(corpus.limit(1)).withColumn(
        "content", F.lit("zzfresh appended doc")
    ).withColumn("doc_id", F.lit("zz:0"))
    with pytest.raises(RuntimeError, match="legacy index"):
        idx.maintenance.upsert(one, sort_cols=("doc_id",))


def test_backfill_then_append(spark, legacy, tmp_path):
    d, expected, corpus = legacy
    import shutil

    d2 = str(tmp_path / "bf_ix")
    shutil.copytree(d, d2)
    idx = LexicalIndex(spark, d2)
    n = idx.maintenance.backfill_embedded_terms()
    assert n > 0
    assert not idx.storage.table_exists("terms")  # physical dir deleted
    # the one-pass backfill also migrated the entries to the delta layout
    from frankensearch_spark.functions.codec import is_delta_layout

    assert is_delta_layout(spark.read.parquet(idx.storage.path("postings")))
    idx.reopen()
    for q in QUERIES:
        assert _hits(idx, q) == expected[q], q
    # appends are admitted again and visible
    one = transcript_batch_to_docs(corpus.limit(1)).withColumn(
        "content", F.lit("zzfresh appended doc")
    ).withColumn("doc_id", F.lit("zz:0"))
    idx.maintenance.upsert(one, sort_cols=("doc_id",))
    idx.reopen()
    assert list(idx.search("zzfresh", limit=5).hits["doc_id"]) == ["zz:0"]
    # idempotent: second backfill is a no-op
    assert idx.maintenance.backfill_embedded_terms() == 0
