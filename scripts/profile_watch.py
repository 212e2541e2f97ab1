#!/usr/bin/env python3
"""Profile the watch-mode micro-batch loop phase by phase (dev tool).

Builds the bench-shaped 100k-turn index, then applies 8 x 6,250-row
micro-batches two ways:

1. DIRECT: calls the foreachBatch body (`upsert_batch`) on static
   DataFrames, with wall timers around each internal phase of
   `IndexMaintenance.upsert(seal=False)` (monkeypatched), plus reopen
   and the cadence seal.  This is the engine cost.
2. STREAMED: the real `stream_ingest` run on the same rows.  The delta
   vs DIRECT is Structured Streaming framework overhead (offset log,
   checkpoint commits, trigger latency).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.session import get_spark
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.operators import maintenance as M
from frankensearch_spark.operators import build as B
from frankensearch_spark.streaming.ingest import (
    SealCadence,
    stream_ingest,
    transcript_batch_to_docs,
    upsert_batch,
)

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
BATCHES = 8
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

spark = get_spark(app_name="profile-watch", cores=CORES, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
work = tempfile.mkdtemp(prefix="fs_watch_", dir=shm)

phase: dict[str, float] = {}


def bump(name: str, dt: float) -> None:
    phase[name] = phase.get(name, 0.0) + dt


_orig_delete_frame = M.IndexMaintenance._stage_tombstones
_orig_append = B.append_segment_batch


def _timed_fn(name, fn):
    def wrapper(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            bump(name, time.time() - t0)

    return wrapper


INNER = [
    "_assign_docids_and_tokenize",
    "_write_docs",
    "_write_doclens",
    "_write_postings",
    "_segment_stats",
    "write_segment_tables",
]
_orig_inner = {n: getattr(B, n) for n in INNER}


def timed_delete_frame(self, *a, **k):
    t0 = time.time()
    try:
        return _orig_delete_frame(self, *a, **k)
    finally:
        bump("_stage_tombstones", time.time() - t0)


def timed_append(*a, **k):
    t0 = time.time()
    try:
        return _orig_append(*a, **k)
    finally:
        bump("append_segment_batch(total, incl. pre_publish)", time.time() - t0)


try:
    warm = synthetic_transcripts(spark, 20_000, partitions=64)
    LexicalIndex.build_transcripts(
        spark, warm, os.path.join(work, "warm"), num_segments=16, num_buckets=16
    )
    src = os.path.join(work, "transcripts")
    synthetic_transcripts(spark, N, partitions=64).write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)
    t0 = time.time()
    index = LexicalIndex.build_transcripts(
        spark, transcripts, os.path.join(work, "idx"),
        num_segments=16, num_buckets=16,
    )
    print(f"base build: {time.time()-t0:.2f}s ({N} turns)")

    upd_rows = max(8_000, N // 2)
    upd_src = os.path.join(work, "upd_src")
    synthetic_transcripts(
        spark, upd_rows, partitions=BATCHES, seed=77
    ).write.mode("overwrite").parquet(upd_src)

    # ── DIRECT: foreachBatch body on static frames ─────────────────────
    direct_dir = os.path.join(work, "idx_direct")
    shutil.copytree(index.index_dir, direct_dir)
    didx = LexicalIndex(spark, direct_dir)
    files = sorted(
        os.path.join(upd_src, f)
        for f in os.listdir(upd_src)
        if f.endswith(".parquet")
    )
    M.IndexMaintenance._stage_tombstones = timed_delete_frame
    M.append_segment_batch = timed_append  # the name upsert actually calls
    for n in INNER:
        setattr(B, n, _timed_fn(n, _orig_inner[n]))
    cadence = SealCadence(didx, every_batches=4, every_sec=1e9)
    batch_secs = []
    seal_secs = []
    t_direct0 = time.time()
    for i, f in enumerate(files):
        batch = spark.read.parquet(f)
        t0 = time.time()
        s0 = time.time()
        _pend_before = cadence.pending
        upsert_batch(didx, batch, i, cadence)
        dt = time.time() - t0
        batch_secs.append(dt)
        if cadence.pending < _pend_before + 1:
            seal_secs.append(dt)  # a seal fired inside this batch
    t_direct = time.time() - t_direct0
    M.IndexMaintenance._stage_tombstones = _orig_delete_frame
    M.append_segment_batch = _orig_append
    for n in INNER:
        setattr(B, n, _orig_inner[n])
    print(f"\nDIRECT total: {t_direct:.2f}s  -> {upd_rows/t_direct:.0f} updates/s")
    print("per-batch:", " ".join(f"{s:.2f}" for s in batch_secs))
    for k in sorted(phase):
        print(f"  {k:48s} {phase[k]:7.2f}s  ({100*phase[k]/t_direct:4.1f}%)")
    other = t_direct - sum(phase.values())
    print(f"  {'other (dedup anti-join, reopen, driver)':48s} {other:7.2f}s")

    # ── STREAMED: the real sink ────────────────────────────────────────
    stream_dir = os.path.join(work, "idx_stream")
    shutil.copytree(index.index_dir, stream_dir)
    sidx = LexicalIndex(spark, stream_dir)
    stream = (
        spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(upd_src)
    )
    import frankensearch_spark.streaming.ingest as I

    _orig_body = I.upsert_batch
    stamps: list[tuple[float, float]] = []

    def timed_body(idx_, batch_, bid_, cadence_=None, **kw):
        s = time.time()
        out = _orig_body(idx_, batch_, bid_, cadence_, **kw)
        stamps.append((s, time.time()))
        return out

    I.upsert_batch = timed_body
    t0 = time.time()
    q = stream_ingest(sidx, stream, os.path.join(work, "ckpt"))
    q.awaitTermination(600)
    t_stream = time.time() - t0
    I.upsert_batch = _orig_body
    print("stream body secs:", " ".join(f"{e-s:.2f}" for s, e in stamps))
    gaps = [stamps[i + 1][0] - stamps[i][1] for i in range(len(stamps) - 1)]
    print("inter-batch gaps:", " ".join(f"{g:.2f}" for g in gaps))
    print(f"\nSTREAMED total: {t_stream:.2f}s -> {upd_rows/t_stream:.0f} updates/s")
    print(f"framework overhead vs DIRECT: {t_stream - t_direct:.2f}s "
          f"({(t_stream-t_direct)/BATCHES:.2f}s/batch)")
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
