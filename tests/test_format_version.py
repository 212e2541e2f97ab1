"""On-disk format check at open (``IndexStorage.check_format``).

``index_meta.json`` carries ``format_version``; engines and maintenance
facades check it once when they open the index, with no Spark job, and
commits never re-check the layout.  An index whose meta predates the
field is classified from one postings footer and one tombstone footer.
These tests pin:

* each legacy layout (postings without the embedded dictionary, absolute
  entry docids, a physical ``terms/`` table, tombstones without
  ``generation``) is refused at open, naming what is missing;
* an index written without ``format_version`` opens, scores
  hash-identical to the index as built, and the next commit persists the
  version;
* opening and checking launch no Spark job, and a steady micro-batch of
  the stream sink schedules none of its own.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.functions.codec import with_decoded_docids
from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.operators.maintenance import IndexMaintenance
from frankensearch_spark.sources.storage import FORMAT_VERSION, INDEX_META, IndexStorage
from frankensearch_spark.sources.transcripts import synthetic_transcripts

QUERIES = ["w3", "w3 w47 w200", "w12 AND w47", '"w12 w47"']


def _hits(idx, query, k=10):
    h = idx.search(query, limit=k).hits
    return list(zip(h["doc_id"], np.asarray(h["score"], dtype=np.float32)))


def _digest(idx) -> str:
    """Hash of every query's (doc_id, float32 score bytes) hit list."""
    m = hashlib.sha256()
    for q in QUERIES:
        for doc, score in _hits(idx, q):
            m.update(doc.encode())
            m.update(np.float32(score).tobytes())
    return m.hexdigest()


def _meta(d) -> dict:
    with open(os.path.join(d, INDEX_META)) as fh:
        return json.load(fh)


def _strip_version(d) -> None:
    meta = _meta(d)
    meta.pop("format_version")
    with open(os.path.join(d, INDEX_META), "w") as fh:
        json.dump(meta, fh)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fmt_ix"))
    corpus = synthetic_transcripts(spark, 400, vocab_size=300)
    idx = LexicalIndex.build_transcripts(spark, corpus, d, num_segments=2, num_buckets=4)
    return d, _digest(idx)


def _copy(built, tmp_path, name="copy") -> str:
    d2 = str(tmp_path / name)
    shutil.copytree(built[0], d2)
    return d2


def test_build_records_format_version(built):
    assert _meta(built[0])["format_version"] == FORMAT_VERSION


def test_meta_without_format_version_opens_hash_identical(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    _strip_version(d)
    idx = LexicalIndex(spark, d)
    assert idx.engine.meta.format_version == FORMAT_VERSION  # classified
    assert _digest(idx) == built[1]
    assert "format_version" not in _meta(d)  # opening wrote nothing
    # the next commit's meta write persists the classification
    one = spark.createDataFrame([("zz:0", "w3 w12 zzfresh")], "doc_id string, content string")
    idx.upsert(one)
    assert _meta(d)["format_version"] == FORMAT_VERSION


def _postings_without_dictionary(spark, storage):
    p = spark.read.parquet(storage.path("postings"))
    return p.drop("term_df", "term_cf")


def _postings_with_absolute_entries(spark, storage):
    p = spark.read.parquet(storage.path("postings"))
    return (
        with_decoded_docids(p)
        .withColumn(
            "entries",
            F.expr(
                "zip_with(dec, entries, (id, e) -> "
                "struct(id as docid, e.freq as freq, e.fnid as fnid))"
            ),
        )
        .drop("dec")
    )


def _make_legacy(spark, d, layout):
    storage = IndexStorage(spark, d)
    if layout in ("no_term_df", "absolute_entries"):
        make = (
            _postings_without_dictionary
            if layout == "no_term_df"
            else _postings_with_absolute_entries
        )
        storage.atomic_rewrite(
            "postings", make(spark, storage), partition_by=("segment_id", "bucket")
        )
    elif layout == "terms_dir":
        terms = IndexStorage.derive_terms(spark.read.parquet(storage.path("postings")))
        terms.write.partitionBy("bucket").parquet(storage.path("terms"))
    else:  # tombstones written before they carried their generation
        os.makedirs(storage.path("tombstones"), exist_ok=True)
        pq.write_table(
            pa.table({"docid": pa.array([0], pa.int64()), "segment_id": pa.array([0], pa.int32())}),
            os.path.join(storage.path("tombstones"), "part-00000.parquet"),
        )


#: what the refusal names for each legacy layout
LEGACY_MESSAGES = {
    "no_term_df": r"postings lack the embedded term dictionary \(term_df/term_cf\)",
    "absolute_entries": "posting entries store absolute docids",
    "terms_dir": "physical terms/ table",
    "tombstones_no_generation": "tombstones lack the generation column",
}


@pytest.mark.parametrize("layout", list(LEGACY_MESSAGES))
def test_legacy_layout_refused_at_open(spark, built, tmp_path, layout):
    message = LEGACY_MESSAGES[layout]
    d = _copy(built, tmp_path, layout)
    _make_legacy(spark, d, layout)
    _strip_version(d)
    with pytest.raises(RuntimeError, match=message) as err:
        LexicalIndex(spark, d).engine
    assert "refusing to open legacy index" in str(err.value)
    with pytest.raises(RuntimeError, match=message):
        IndexMaintenance(spark, d)


def test_unknown_format_version_refused(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    meta = _meta(d)
    meta["format_version"] = FORMAT_VERSION + 1
    with open(os.path.join(d, INDEX_META), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(RuntimeError, match="format_version"):
        LexicalIndex(spark, d).engine


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
    return len(jobs)


def test_open_and_format_check_run_no_spark_job(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    assert LexicalIndex(spark, d).delete(["conv-00000000:1"]) == 1  # a tombstone footer to classify
    for stripped in (False, True):
        if stripped:
            _strip_version(d)
        storage = IndexStorage(spark, d)
        n = _jobs_in_group(
            spark,
            f"fmt-open-{stripped}",
            lambda: (
                LexicalIndex(spark, d).engine,
                IndexMaintenance(spark, d),
                storage.check_format(storage.read_meta()),
            ),
        )
        assert n == 0, (stripped, n)


# ── steady stream batch: no Spark job of the sink's own ────────────────────

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
SPARK_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _transcripts(start: int, n: int) -> pa.Table:
    rng = np.random.default_rng(start)
    ids = np.arange(start, start + n)
    return pa.table(
        [
            pa.array([f"conv-{i // 10:06d}" for i in ids.tolist()], pa.string()),
            pa.array(ids % 10, pa.int32()),
            pa.array(["user"] * n, pa.string()),
            pa.array(
                [" ".join(f"w{w}" for w in rng.integers(0, 60, 12)) for _ in range(n)],
                pa.string(),
            ),
            pa.array([None] * n, pa.string()),
            pa.array((1_700_000_000 + ids * 7) * 1_000_000, pa.timestamp("us", tz="UTC")),
        ],
        schema=TRANSCRIPT_SCHEMA,
    )


def _stream_jobs_per_batch(spark, tmp, start_stream, n_warm=2, n_steady=3):
    """Jobs in the stream's own job group per steady micro-batch (the
    count the benchmark's job pin takes)."""
    watched, stage = tmp / "in", tmp / "stage"
    watched.mkdir(parents=True)
    stage.mkdir()
    df = (
        spark.readStream.schema(SPARK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watched))
    )
    query = start_stream(df, str(tmp / "ckpt"))
    commits = tmp / "ckpt" / "commits"
    tracker = spark.sparkContext.statusTracker()
    counts = []
    try:
        for k in range(n_warm + n_steady):
            before = len(tracker.getJobIdsForGroup(str(query.runId)))
            pq.write_table(_transcripts(10_000 + 50 * k, 50), str(stage / f"f{k}.parquet"))
            os.replace(stage / f"f{k}.parquet", watched / f"f{k}.parquet")
            deadline = time.time() + 60
            while not (
                commits.exists()
                and len([c for c in os.listdir(commits) if c.isdigit()]) > k
            ):
                assert query.exception() is None and time.time() < deadline
                time.sleep(0.02)
            counts.append(len(tracker.getJobIdsForGroup(str(query.runId))) - before)
    finally:
        query.stop()
    return counts[n_warm:]


def test_steady_stream_batch_runs_no_spark_job(spark, tmp_path):
    from frankensearch_spark.streaming.ingest import stream_ingest

    base = tmp_path / "base"
    base.mkdir()
    pq.write_table(_transcripts(0, 300), str(base / "part-0.parquet"))
    index = LexicalIndex.build_transcripts(
        spark, spark.read.parquet(str(base)), str(tmp_path / "ix"),
        num_segments=2, num_buckets=4,
    )

    def noop(df, ckpt):
        return (
            df.withWatermark("ts", "10 minutes").writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda b, i: None)
            .start()
        )

    def engine(df, ckpt):
        return stream_ingest(index, df, ckpt, trigger_available_now=False)

    baseline = _stream_jobs_per_batch(spark, tmp_path / "a", noop)
    steady = _stream_jobs_per_batch(spark, tmp_path / "b", engine)
    assert steady == baseline, (steady, baseline)
    assert index.reopen().search("w3", limit=5).hits.shape[0] == 5
