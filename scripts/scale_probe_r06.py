"""10x scale check for the round-6 late query-plan changes (dev tool).

Builds a 1M-turn transcript index (10x the bench's sf0.1) and, for each
query class whose plan the phrase-aggregation (#2b) and hand-rolled
pivot (#2c) rewrites touched, verifies the engine's exact_count against
an INDEPENDENT duckdb regex count over the raw corpus text (words are
single-space-joined "wN" tokens, so whole-token adjacency in the token
stream equals string adjacency), and records warm top-10 latency, the
path each query took (``SearchEngine.last_path``: ``driver`` or
``spark:<reason>``) and the driver's Python RSS after each class.

Before the query cases it records the driver-side term dictionary's
costs on a fresh engine: the load time and bytes of the first query of
a bucket (one file per live segment), a warm lookup of another term in
that bucket, and the driver's Python RSS once every bucket is cached.
Exits 1 when any engine count disagrees with duckdb.

Usage: python scripts/scale_probe_r06.py [n_turns]
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from frankensearch_spark.index import LexicalIndex  # noqa: E402
from frankensearch_spark.operators.search import _bucket  # noqa: E402
from frankensearch_spark.session import get_spark  # noqa: E402
from frankensearch_spark.sources import termdict  # noqa: E402
from frankensearch_spark.sources.transcripts import synthetic_transcripts  # noqa: E402

# (name, engine query, duckdb predicate over text)
T = "(^| ){}( |$)"
CASES = [
    ("single_term", "w3", f"regexp_matches(text, '{T.format('w3')}')"),
    ("phrase", '"w3 w3"', f"regexp_matches(text, '{T.format('w3 w3')}')"),
    (
        "multi_term_or",
        "w3 w47 w200 w1150",
        f"regexp_matches(text, '{T.format('(w3|w47|w200|w1150)')}')",
    ),
    (
        "boolean_and",
        "w12 AND w47",
        f"regexp_matches(text, '{T.format('w12')}') and "
        f"regexp_matches(text, '{T.format('w47')}')",
    ),
    (
        "boolean_not",
        "w3 -w47",
        f"regexp_matches(text, '{T.format('w3')}') and not "
        f"regexp_matches(text, '{T.format('w47')}')",
    ),
]


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _path(engine) -> str:
    """The last uncached search's path: ``driver`` or ``spark:<reason>``."""
    where, reason = engine.last_path
    return where if reason is None else f"{where}:{reason}"


def _read_bytes(uri: str) -> tuple[int, int]:
    """(file bytes, compressed bytes of the column chunks the loader reads)."""
    path = termdict._local_path(uri)
    md = pq.ParquetFile(path).metadata
    cols = {"field", "term", "block_id", "term_df"}
    chunks = sum(
        md.row_group(g).column(c).total_compressed_size
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
        if md.row_group(g).column(c).path_in_schema in cols
    )
    return os.path.getsize(path), chunks


def dictionary_costs(engine, out: dict) -> None:
    """Driver dictionary: cold bucket load, warm lookup, RSS when full."""
    nb = engine.meta.num_buckets
    out["dict_rss_before_mb"] = round(_rss_mb(), 1)
    first = ("content", "w3")
    t0 = time.perf_counter()
    files = engine._dictionary_files()[_bucket(first[1], nb)]
    out["dict_file_list_s"] = round(time.perf_counter() - t0, 4)
    t0 = time.perf_counter()
    engine._doc_freqs([first])
    out["dict_cold_bucket_s"] = round(time.perf_counter() - t0, 4)
    out["dict_cold_bucket_files"] = len(files)
    sizes = [_read_bytes(f) for f in files]
    out["dict_cold_bucket_file_bytes"] = sum(a for a, _ in sizes)
    out["dict_cold_bucket_read_bytes"] = sum(b for _, b in sizes)
    same = next(
        f"w{k}" for k in range(4, 10_000) if _bucket(f"w{k}", nb) == _bucket(first[1], nb)
    )
    t0 = time.perf_counter()
    engine._doc_freqs([("content", same)])
    out["dict_warm_lookup_s"] = round(time.perf_counter() - t0, 6)
    for b in range(nb):  # one term per bucket: every file cached
        term = next(f"w{k}" for k in range(10_000) if _bucket(f"w{k}", nb) == b)
        engine._doc_freqs([("content", term)])
    out["dict_cache_terms"] = termdict._CACHE.terms
    out["dict_rss_full_mb"] = round(_rss_mb(), 1)


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="scale-probe-r06", cores=cpus, shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    work = "/tmp/scale_probe_r06"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out: dict = {"n_turns": n_turns}
    try:
        corpus = synthetic_transcripts(spark, n_turns, partitions=64)
        corpus.select("conv_id", "turn_idx", "text").write.parquet(
            os.path.join(work, "corpus")
        )
        t0 = time.time()
        idx = LexicalIndex.build_transcripts(
            spark, corpus, os.path.join(work, "ix"), num_segments=16, num_buckets=16
        )
        out["build_sec"] = round(time.time() - t0, 1)
        dictionary_costs(LexicalIndex(spark, os.path.join(work, "ix")).engine, out)
        con = duckdb.connect()
        glob_path = os.path.join(work, "corpus", "*.parquet")
        for name, qstr, pred in CASES:
            t0 = time.time()
            got = idx.search(qstr, exact_count=True).total_count
            out[f"{name}_count_sec"] = round(time.time() - t0, 2)
            out[f"{name}_count_path"] = _path(idx.engine)
            exp = con.execute(
                f"select count(*) from '{glob_path}' where {pred}"
            ).fetchone()[0]
            out[f"{name}_count"] = int(got)
            out[f"{name}_match"] = bool(got == exp)
            idx.search(qstr, limit=10)  # warm
            t0 = time.time()
            idx.engine._query_cache.clear()
            idx.search(qstr, limit=10)
            out[f"{name}_top10_sec"] = round(time.time() - t0, 3)
            out[f"{name}_path"] = _path(idx.engine)
            out[f"{name}_rss_mb"] = round(_rss_mb(), 1)
        out["ok"] = all(out[f"{n}_match"] for n, _, _ in CASES)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    if not out.get("ok"):
        sys.exit(1)


if __name__ == "__main__":
    main()
