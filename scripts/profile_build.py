#!/usr/bin/env python3
"""Profile the index build stage-by-stage at a given turn count.

Wraps the build's internal steps with wall timers (monkeypatching the
write helpers) to show where build time goes. Dev tool only.
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
from frankensearch_spark.operators import build as B

N = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

timings: dict[str, float] = {}


def timed(name, fn):
    def wrapper(*a, **k):
        t0 = time.time()
        out = fn(*a, **k)
        timings[name] = timings.get(name, 0.0) + (time.time() - t0)
        return out
    return wrapper


B._write_docs = timed("write_docs", B._write_docs)
B._write_doclens = timed("write_doclens", B._write_doclens)
B._write_postings = timed("write_postings", B._write_postings)
B._segment_stats = timed("segment_stats", B._segment_stats)
_orig_assign = B._assign_docids_and_tokenize


def assign_timed(*a, **k):
    t0 = time.time()
    out = _orig_assign(*a, **k)
    timings["assign_plan"] = time.time() - t0
    return out


B._assign_docids_and_tokenize = assign_timed

from frankensearch_spark.sources.storage import IndexStorage  # noqa: E402

_orig_write_table = IndexStorage.write_table


def write_table_timed(self, df, table, mode, partition_by=(), **kw):
    t0 = time.time()
    out = _orig_write_table(self, df, table, mode, partition_by=partition_by, **kw)
    timings[f"  table:{table}"] = timings.get(f"  table:{table}", 0.0) + (time.time() - t0)
    return out


IndexStorage.write_table = write_table_timed

spark = get_spark(app_name="profile-build", cores=CORES, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
work = tempfile.mkdtemp(prefix="fs_prof_", dir=shm)
try:
    # warm-up
    warm = synthetic_transcripts(spark, 20_000, partitions=64)
    LexicalIndex.build_transcripts(spark, warm, os.path.join(work, "warm"),
                                   num_segments=16, num_buckets=16)
    timings.clear()

    src = os.path.join(work, "transcripts")
    synthetic_transcripts(spark, N, partitions=64).write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)

    t0 = time.time()
    LexicalIndex.build_transcripts(spark, transcripts,
                                   os.path.join(work, "tindex"),
                                   num_segments=16, num_buckets=16)
    total = time.time() - t0
    print(f"\nTOTAL build {N} turns: {total:.2f}s  ({N/total:.0f} turns/s)")
    accounted = sum(timings.values())
    for k, v in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"  {k:24s} {v:7.2f}s  {100*v/total:5.1f}%")
    print(f"  {'(unaccounted: persist/count)':24s} {total-accounted:7.2f}s")
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
