"""Driver-side micro-commit (operators/microcommit.py) — the watch-mode
fast path must be indistinguishable from the distributed upsert.

Three pins:

* the numpy XXH64 is bit-identical to Spark's ``xxhash64`` (the stored
  content witness must agree across commit paths);
* a driver commit and a distributed commit of the SAME batch produce
  logically identical tables (docs/doclens/tombstones/manifest/stats and
  the full postings rows incl. gap-encoded entries) and identical search
  results;
* the stream sink actually engages the driver path for watch-mode-sized
  batches (counter discipline, like ``noaqe_fallbacks``).
"""

import os
import random
import shutil
import string

import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators import microcommit as MC
from frankensearch_spark.sources.storage import IndexStorage
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.streaming.ingest import transcript_batch_to_docs


def test_xxh64_matches_spark(spark):
    import pyarrow as pa

    from frankensearch_spark.functions.xxh64 import spark_xxhash64_columns

    rng = random.Random(11)
    cases = ["", "a", "abcdefg", "abcdefgh", "x" * 31, "y" * 32, "z" * 33,
             "hello world" * 9, "日本語テキストéü" * 4]
    for _ in range(120):
        n = rng.randint(0, 150)
        cases.append(
            "".join(rng.choice(string.printable + "héß日") for _ in range(n))
        )
    other = [rng.choice(cases) for _ in cases]
    df = spark.createDataFrame(
        [(a, b) for a, b in zip(cases, other)], "a string, b string"
    )
    exp1 = [r[0] for r in df.select(F.xxhash64("a")).collect()]
    exp2 = [r[0] for r in df.select(F.xxhash64("a", "b")).collect()]
    import numpy as np

    got1 = spark_xxhash64_columns([pa.array(cases)]).astype(np.int64)
    got2 = spark_xxhash64_columns(
        [pa.array(cases), pa.array(other)]
    ).astype(np.int64)
    assert [int(v) for v in got1] == exp1
    assert [int(v) for v in got2] == exp2


@pytest.fixture(scope="module")
def equiv_pair(spark, tmp_path_factory):
    """(distributed-upserted index, driver-upserted index) over the same
    base corpus and the same replacement batch."""
    work = tmp_path_factory.mktemp("microcommit")
    corpus = synthetic_transcripts(spark, 8_000, partitions=16)
    base = os.path.join(work, "base")
    LexicalIndex.build_transcripts(spark, corpus, base, num_segments=4, num_buckets=8)
    batch = transcript_batch_to_docs(
        synthetic_transcripts(spark, 2_500, partitions=1, seed=77)
    ).dropDuplicates(["doc_id"])
    a_dir, b_dir = os.path.join(work, "a"), os.path.join(work, "b")
    shutil.copytree(base, a_dir)
    shutil.copytree(base, b_dir)
    ia = LexicalIndex(spark, a_dir)
    ia.maintenance.upsert(batch, sort_cols=("conv_id", "turn_idx"), seal=False)
    ia.maintenance.seal()
    ia.reopen()
    ib = LexicalIndex(spark, b_dir)
    segs = ib.maintenance.upsert_arrow_small(
        batch.toArrow(), sort_cols=("conv_id", "turn_idx"), seal=False
    )
    assert segs, "driver path must engage on a watch-mode-sized batch"
    ib.maintenance.seal()
    ib.reopen()
    return ia, ib


def _rows(spark, index, table, cols=None):
    st = IndexStorage(spark, index.index_dir)
    if table == "manifest":  # the record's segment rows
        return sorted(tuple(r[c] for c in cols) for r in st.read_manifest()["segments"])
    if table == "field_stats":  # the record rows' per-field stats
        return sorted(
            (r["segment_id"], f, d, t, r["docid_lo"], r["docid_hi"])
            for r in st.read_manifest()["segments"]
            for f, (d, t) in r["stats"].items()
        )
    df = st.read(table)
    if cols:
        df = df.select(*cols)
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize(
    "table,cols",
    [
        ("docs", None),
        ("doclens", None),
        ("tombstones", None),
        ("field_stats", ["segment_id", "field", "doc_count", "total_tokens",
                         "docid_lo", "docid_hi"]),
        ("manifest", ["generation", "segment_id", "docid_lo", "docid_hi",
                      "doc_count", "status"]),
    ],
)
def test_driver_commit_tables_match_distributed(spark, equiv_pair, table, cols):
    ia, ib = equiv_pair
    assert _rows(spark, ia, table, cols) == _rows(spark, ib, table, cols)


def test_driver_commit_postings_match_distributed(spark, equiv_pair):
    ia, ib = equiv_pair

    def postings(index):
        df = IndexStorage(spark, index.index_dir).read("postings").select(
            "segment_id", "bucket", "field", "term", "block_id", "term_df",
            "term_cf", "first_doc", "count", "max_freq_code", "min_fnid",
            "block_cf", F.to_json("entries").alias("e"),
            F.to_json("positions").alias("p"),
        )
        return sorted(map(tuple, df.collect()))

    assert postings(ia) == postings(ib)


def test_driver_commit_search_matches_distributed(spark, equiv_pair):
    ia, ib = equiv_pair
    for q in ["w3", "w12 AND w47", "w3 -w47", '"w3 w3"', "w9100"]:
        assert ia.search(q, limit=10).hits.equals(ib.search(q, limit=10).hits)


def test_stream_sink_engages_driver_path(spark, tmp_path):
    corpus = synthetic_transcripts(spark, 8_000, partitions=16)
    src = os.path.join(tmp_path, "src")
    corpus.write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)
    index = LexicalIndex.build_transcripts(
        spark, transcripts, os.path.join(tmp_path, "ix"),
        num_segments=4, num_buckets=8,
    )
    upd = os.path.join(tmp_path, "upd")
    synthetic_transcripts(spark, 4_000, partitions=2, seed=5).write.mode(
        "overwrite"
    ).parquet(upd)
    from frankensearch_spark.streaming.ingest import stream_ingest

    before = MC.driver_commits
    stream = (
        spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(upd)
    )
    q = stream_ingest(index, stream, os.path.join(tmp_path, "ckpt"))
    q.awaitTermination(300)
    assert MC.driver_commits >= before + 2, (
        "both micro-batches should commit driver-side"
    )
    # the staged window sealed and the replacements are searchable
    res = index.search("w3", limit=10)
    assert len(res.hits) == 10


def test_stream_file_route_skips_the_collect_for_raw_sources(spark, tmp_path, monkeypatch):
    """A bare file-source stream resolves its batches from the
    checkpoint's offset log (zero Spark jobs); the route must report the
    batch's exact file set."""
    import frankensearch_spark.streaming.ingest as I

    consulted = []
    orig = I._batch_files_from_checkpoint

    def probe(ck, bid):
        out = orig(ck, bid)
        consulted.append(out)
        return out

    monkeypatch.setattr(I, "_batch_files_from_checkpoint", probe)
    corpus = synthetic_transcripts(spark, 6_000, partitions=8)
    src = os.path.join(tmp_path, "src")
    corpus.write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)
    index = LexicalIndex.build_transcripts(
        spark, corpus, os.path.join(tmp_path, "ix"), num_segments=2, num_buckets=8
    )
    upd = os.path.join(tmp_path, "upd")
    synthetic_transcripts(spark, 2_000, partitions=2, seed=5).write.mode(
        "overwrite"
    ).parquet(upd)
    stream = (
        spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(upd)
    )
    q = I.stream_ingest(index, stream, os.path.join(tmp_path, "ckpt"))
    q.awaitTermination(300)
    assert len(consulted) == 2 and all(
        fl is not None and len(fl) == 1 for fl in consulted
    ), consulted


def test_stream_file_route_distrusts_transformed_sources(spark, tmp_path, monkeypatch):
    """An upstream Filter is invisible at batch time (opaque LogicalRDD),
    so the offset-log file route must be DISABLED for any transformed
    stream — else rows the user filtered out would be ingested from the
    raw files.  The guard inspects the un-started streaming plan."""
    import frankensearch_spark.streaming.ingest as I

    consulted = []
    orig = I._batch_files_from_checkpoint

    def probe(ck, bid):
        consulted.append(bid)
        return orig(ck, bid)

    monkeypatch.setattr(I, "_batch_files_from_checkpoint", probe)
    corpus = synthetic_transcripts(spark, 6_000, partitions=8)
    src = os.path.join(tmp_path, "src")
    corpus.write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)
    index = LexicalIndex.build_transcripts(
        spark, corpus, os.path.join(tmp_path, "ix"), num_segments=2, num_buckets=8
    )
    upd = os.path.join(tmp_path, "upd")
    synthetic_transcripts(spark, 2_000, partitions=2, seed=5).write.mode(
        "overwrite"
    ).parquet(upd)
    stream = (
        spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(upd)
        .where("turn_idx % 2 = 0")
    )
    q = I.stream_ingest(index, stream, os.path.join(tmp_path, "ckpt"))
    q.awaitTermination(300)
    assert consulted == [], "transformed streams must never trust the offset log"
    # and the filter really was respected by whatever route ran
    st = IndexStorage(spark, index.index_dir)
    new_odd = (
        st.read("docs").where("turn_idx % 2 = 1 and docid >= 6000").count()
    )
    assert new_odd == 0


def test_identity_cache_invalidated_by_distributed_writer(spark, tmp_path):
    """A distributed mutation between driver commits publishes a new
    record; the mirror must rebuild, not serve stale rows."""
    corpus = synthetic_transcripts(spark, 6_000, partitions=8)
    index = LexicalIndex.build_transcripts(
        spark, corpus, os.path.join(tmp_path, "ix"),
        num_segments=2, num_buckets=8,
    )
    maint = index.maintenance
    b1 = transcript_batch_to_docs(
        synthetic_transcripts(spark, 1_000, partitions=1, seed=9)
    ).dropDuplicates(["doc_id"])
    assert maint.upsert_arrow_small(
        b1.toArrow(), sort_cols=("conv_id", "turn_idx")
    )
    # distributed upsert of the SAME identities with different content →
    # a publish the mirror did not make
    b2 = b1.withColumn("content", F.concat(F.col("content"), F.lit(" changed")))
    maint2 = index.maintenance
    maint2.upsert(b2, sort_cols=("conv_id", "turn_idx"))
    index.reopen()
    # a driver re-commit of the distributed content must SKIP everything
    # (content-hash identical) — only possible if the mirror rebuilt
    maint3 = index.maintenance
    segs = maint3.upsert_arrow_small(
        b2.toArrow(), sort_cols=("conv_id", "turn_idx")
    )
    assert segs == [], "unchanged re-upsert must be an empty commit"
