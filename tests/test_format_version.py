"""On-disk format check at open (``IndexStorage.check_format``).

``index_meta.json`` and ``manifest.json`` carry ``format_version``;
engines and maintenance facades check it once when they open the index,
with no Spark job, and commits never re-check the layout.  These tests
pin:

* the build records version 2 in both files;
* an index without the version (every layout written before the field
  existed: postings without the embedded dictionary or with absolute
  entry docids, a physical ``terms/`` table, tombstones without
  ``generation``), a version-1 index and an unknown version are refused
  at open, by engine and maintenance alike, with a message naming the
  version and asking for a rebuild — and refusing runs no Spark job;
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
from frankensearch_spark.sources.storage import (
    FORMAT_VERSION,
    INDEX_META,
    MANIFEST,
    IndexStorage,
)
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
    with open(os.path.join(built[0], MANIFEST)) as fh:
        assert json.load(fh)["format_version"] == FORMAT_VERSION


def _as_older_index(d, version) -> None:
    """Rewrite a copy into what an older writer left: its meta carries
    ``version`` (None: no field) and there is no manifest record."""
    meta = _meta(d)
    meta.pop("format_version")
    if version is not None:
        meta["format_version"] = version
    with open(os.path.join(d, INDEX_META), "w") as fh:
        json.dump(meta, fh)
    os.remove(os.path.join(d, MANIFEST))


def _assert_refused_at_open(spark, d, found, group) -> None:
    """Engine and maintenance both refuse ``d`` naming ``found`` and the
    version this package reads, asking for a rebuild, with no Spark job."""

    def refuse(open_fn):
        with pytest.raises(RuntimeError) as err:
            open_fn()
        text = str(err.value)
        assert found in text and "Rebuild" in text, text
        assert f"format_version {FORMAT_VERSION}" in text, text

    n = _jobs_in_group(
        spark,
        group,
        lambda: (
            refuse(lambda: LexicalIndex(spark, d).engine),
            refuse(lambda: IndexMaintenance(spark, d)),
        ),
    )
    assert n == 0


@pytest.mark.parametrize(
    "version, found",
    [(None, "no format_version"), (1, "format_version 1")],
    ids=["unversioned", "v1"],
)
def test_unversioned_and_v1_refused_at_open(spark, built, tmp_path, version, found):
    d = _copy(built, tmp_path)
    _as_older_index(d, version)
    _assert_refused_at_open(spark, d, found, f"fmt-refuse-{version}")


def _replace_postings(storage, postings) -> None:
    """Rewrite the postings table as ``postings`` (written beside it
    first: the frame reads the table it replaces)."""
    target = storage.path("postings")
    postings.write.partitionBy("segment_id", "bucket").parquet(target + ".legacy")
    shutil.rmtree(target)
    os.replace(target + ".legacy", target)


def _make_legacy(spark, d, layout) -> None:
    """Rewrite a copy into one of the layouts written before
    ``format_version`` existed."""
    storage = IndexStorage(spark, d)
    postings = spark.read.parquet(storage.path("postings"))
    if layout == "no_term_df":  # postings without the embedded dictionary
        _replace_postings(storage, postings.drop("term_df", "term_cf"))
    elif layout == "absolute_entries":  # entries carry absolute docids
        absolute = (
            with_decoded_docids(postings)
            .withColumn(
                "entries",
                F.expr(
                    "zip_with(dec, entries, (id, e) -> "
                    "struct(id as docid, e.freq as freq, e.fnid as fnid))"
                ),
            )
            .drop("dec")
        )
        _replace_postings(storage, absolute)
    elif layout == "terms_dir":  # a physical terms/ table
        IndexStorage.derive_terms(postings).write.partitionBy("bucket").parquet(
            storage.path("terms")
        )
    else:  # tombstones written before they carried their generation
        os.makedirs(storage.path("tombstones"), exist_ok=True)
        pq.write_table(
            pa.table({"docid": pa.array([0], pa.int64()), "segment_id": pa.array([0], pa.int32())}),
            os.path.join(storage.path("tombstones"), "part-00000.parquet"),
        )
    _as_older_index(d, None)


@pytest.mark.parametrize(
    "layout", ["absolute_entries", "no_term_df", "terms_dir", "tombstones_no_generation"]
)
def test_legacy_layout_refused_at_open(spark, built, tmp_path, layout):
    """Every legacy layout predates the version, so the version gate
    refuses it before anything reads a postings or tombstone file."""
    d = _copy(built, tmp_path, layout)
    _make_legacy(spark, d, layout)
    _assert_refused_at_open(spark, d, "no format_version", f"fmt-legacy-{layout}")


def test_unknown_format_version_refused(spark, built, tmp_path):
    d = _copy(built, tmp_path)
    for name in (INDEX_META, MANIFEST):
        with open(os.path.join(d, name)) as fh:
            doc = json.load(fh)
        doc["format_version"] = FORMAT_VERSION + 1
        with open(os.path.join(d, name), "w") as fh:
            json.dump(doc, fh)
        with pytest.raises(RuntimeError, match="format_version"):
            LexicalIndex(spark, d).engine
        with pytest.raises(RuntimeError, match="format_version"):
            IndexMaintenance(spark, d).seal()
        doc["format_version"] = FORMAT_VERSION
        with open(os.path.join(d, name), "w") as fh:
            json.dump(doc, fh)


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
    assert LexicalIndex(spark, d).delete(["conv-00000000:1"]) == 1
    storage = IndexStorage(spark, d)
    n = _jobs_in_group(
        spark,
        "fmt-open",
        lambda: (
            LexicalIndex(spark, d).engine,
            IndexMaintenance(spark, d),
            storage.check_format(storage.read_meta()),
        ),
    )
    assert n == 0


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
