#!/usr/bin/env python3
"""Time the build's materialization phases individually (dev tool).

Replays LexicalIndex.build's internals step by step with wall timers:
ranged persist+count, analyzed tokenize+persist (count), then each table
write from the cache.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.session import get_spark
from frankensearch_spark.sources.transcripts import synthetic_transcripts
from frankensearch_spark.operators import build as B

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

spark = get_spark(app_name="profile-phases", cores=CORES, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
work = tempfile.mkdtemp(prefix="fs_phase_", dir=shm)
try:
    warm = synthetic_transcripts(spark, 20_000, partitions=64)
    LexicalIndex.build_transcripts(spark, warm, os.path.join(work, "warm"),
                                   num_segments=16, num_buckets=16)

    src = os.path.join(work, "transcripts")
    synthetic_transcripts(spark, N, partitions=64).write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)

    # replicate build_transcripts' select
    from pyspark.sql import functions as F
    df = transcripts.select(
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string")).alias("doc_id"),
        F.col("conv_id"), F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("role"), F.col("tool"), F.col("ts").cast("timestamp").alias("ts"),
        F.col("text").alias("content"),
    )

    index_dir = os.path.join(work, "tindex")
    idx = LexicalIndex(spark, index_dir)
    from frankensearch_spark.sources.storage import IndexStorage, IndexMeta

    t_all = time.time()
    meta = IndexMeta(
        text_fields=["content"], keyword_fields=["conv_id", "role", "tool"],
        i64_fields=["turn_idx"], stored_fields=["ts", "content"],
        num_buckets=16, positions=True,
    )
    storage = IndexStorage(spark, index_dir)
    storage.write_meta(meta)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

    t0 = time.time()
    ranged, docs_frame, slim, _n, _ns = B._assign_docids_and_tokenize(
        spark, df, meta, sort_cols=["conv_id", "turn_idx"],
        num_segments=16, docid_base=0, segment_base=0,
    )
    print(f"assign (ranged count inside): {time.time()-t0:.2f}s")

    t0 = time.time()
    slim.persist(StorageLevel.DISK_ONLY)
    slim.count()
    print(f"tokenize+combine+persist+count: {time.time()-t0:.2f}s")

    t0 = time.time(); B._write_docs(docs_frame, storage, meta, "overwrite")
    print(f"write docs: {time.time()-t0:.2f}s")
    t0 = time.time(); B._write_doclens(slim, storage, meta, "overwrite")
    print(f"write doclens: {time.time()-t0:.2f}s")
    t0 = time.time()
    sub = {}
    B._write_postings(slim, storage, meta, "overwrite",
                                new_segments=list(range(16)), timings=sub)
    print(f"write postings (dictionary embedded): {time.time()-t0:.2f}s")
    t0 = time.time()
    B._segment_stats(storage, meta, list(range(16)))
    print(f"stats: {time.time()-t0:.2f}s")
    slim.unpersist(); B.release_checkpoint(ranged)
    print(f"TOTAL: {time.time()-t_all:.2f}s")
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
