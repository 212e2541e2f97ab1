"""Distributed inverted-index build.

Spark-first rebuild of the reference ingest pipeline
(reference: ``quill/src/scribe.rs`` — shard-leased docids, columnar
accumulate, radix flush; ``index.rs:4882`` index_documents):

1. **Deterministic global docids** — the input is range-partitioned and
   sorted on the stable total order (default ``(conv_id, turn_idx)``); per-
   partition row counts prefix-sum into disjoint docid bases (the Q1 lease
   discipline, ``scribe.rs:82``).  The docid of a row is its rank in the
   total order, so results are invariant to the partition count
   (merge=concat law, reference plan Q1-OB3).
2. **Tokenize + map-side combine** — one Arrow-batched ``mapInPandas``
   pass assigns docids and emits per-field, per-doc posting structs
   (term, sorted positions): the per-(doc, term) aggregation happens
   inside the tokenize stage, BEFORE any shuffle (the partial-agg Catalyst
   can't plan across an explicit repartition).
3. **Radix flush** — explode to the long posting frame (one row per
   (doc, term), positions packed), then ONE shuffle on
   ``(segment_id, bucket)`` builds docid-sorted posting blocks of 128 with
   BLOCKMAX metadata (``max_freq_code``, ``min_fnid``, ``first_doc`` —
   reference ``quiver.rs:1719``) entirely JVM-side (the window and the
   block aggregation share the same hash partitioning, so Catalyst plans
   a single exchange).
4. **Denormalized fieldnorms** — each posting block carries the per-doc
   fieldnorm ids inline, so query-time scoring needs NO doclen join.
5. **Commit** — the manifest record naming the new segments is
   published last (``IndexStorage.publish``); a re-run overwrites the
   unpublished segments' partitions (idempotent per-segment overwrite =
   crash-resumable bulk load, reference ``config.rs:26-27``).

Skew: block rows bound per-group state by segment size (64Ki-doc leases in
the reference; partition-sized segments here), so a pathological high-DF
term costs many *rows*, never one giant in-memory group.  The bucket
partition column additionally spreads high-DF terms across files for the
query side, and AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

import time
from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.analyze import tokenize_batch
from ..functions.codec import encode_entries_expr
from ..functions.contract import POSTINGS_PER_BLOCK, fieldnorm_to_id
from ..sources.storage import IndexMeta, IndexStorage, segment_row

#: Auto-sizing target: one segment ≈ one docid lease span (bounded
#: per-(segment, term) shuffle-group state — the Q1 skew discipline).
TARGET_DOCS_PER_SEGMENT = 1 << 18


def release_checkpoint(df: DataFrame) -> None:
    """Eagerly free a ``localCheckpoint``'s storage blocks.

    ``DataFrame.unpersist`` is a no-op for checkpointed frames: their
    blocks hang off the internal ``LogicalRDD`` and are otherwise
    reclaimed only when the driver's ContextCleaner notices the RDD is
    unreachable (periodic GC — far too lazy for a long-running stream
    that stages one checkpoint per micro-batch on RAM-backed local
    dirs).  Rides the classic-mode plan internals, same seam discipline
    as ``search.py::_without_aqe``; on any surprise the blocks simply
    revert to the ContextCleaner path (a leak-until-GC, never an error).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass

#: Below this many docs the per-segment stats rollup aggregates the slim
#: cache directly (posting arrays are tiny; doclens write + stats rollup
#: parallelize); above it, re-reading the doclens parquet prunes to the
#: scalar columns and avoids re-deserializing every posting array.
STATS_FROM_SLIM_MAX_DOCS = 32_768

#: Parquet row-group byte cap for the postings table.  Rows are sorted by
#: (field, term, block_id) inside each (segment, bucket) file, so each
#: row group's term min/max range is tight; a smaller cap = finer-grained
#: scan pruning for the literal term predicates every term query pushes
#: (at Parquet's 128 MB default a whole sandbox-scale file is one row
#: group and nothing prunes).  2 MB ≈ a few hundred blocks per group —
#: footer metadata stays negligible at any scale (bytes per group, not
#: per block), and at real scale page-level column indexes prune even
#: finer within a group.
POSTINGS_ROW_GROUP_BYTES = 2 * 1024 * 1024


def content_hash_expr(meta: "IndexMeta", df: DataFrame):
    """The per-doc content witness: xxhash64 over the text source columns.

    Analogue of the reference's xxh3 content hash (``index.rs:10231``,
    ``storage/src/content_hash.rs``): a cheap identity that lets upsert
    skip re-indexing docs whose content is unchanged.  Columns are taken
    in sorted name order; missing/null columns hash as '' so the build
    side and an upsert batch (which may omit derived sources) agree.
    """
    sources = sorted({meta.derived_prefix_fields.get(f, f) for f in meta.text_fields})
    cols = [
        F.coalesce(F.col(s).cast("string"), F.lit(""))
        if s in df.columns
        else F.lit("")
        for s in sources
    ]
    return F.xxhash64(*cols)


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    text_fields: Sequence[str] = ("content", "title"),
    keyword_fields: Sequence[str] = (),
    i64_fields: Sequence[str] = (),
    stored_fields: Sequence[str] = (),
    sort_cols: Sequence[str] = ("doc_id",),
    num_segments: Optional[int] = None,
    num_buckets: int = 16,
    positions: bool = True,
    analyzers: Optional[dict] = None,
    derived_prefix_fields: Optional[dict] = None,
) -> IndexStorage:
    """Build a full index from ``df`` into ``index_dir``.

    ``df`` must contain a unique ``doc_id`` string column, the text field
    columns, and any keyword/i64/stored passthrough columns.  ``sort_cols``
    defines the stable total order that assigns global docids.

    ``analyzers`` maps text fields to "default" (the frankensearch
    analyzer) or "cass_hyphen"/"cass_prefix" (the CASS family, which emits
    same-position compound/part/bigram alternatives).
    ``derived_prefix_fields`` maps a text field to the source column whose
    edge-n-gram expansion it indexes (the CASS ``*_prefix`` fields).
    """
    storage = IndexStorage(spark, index_dir)
    meta = IndexMeta(
        text_fields=list(text_fields),
        keyword_fields=list(keyword_fields),
        i64_fields=list(i64_fields),
        stored_fields=list(stored_fields),
        num_buckets=num_buckets,
        positions=positions,
        analyzers=dict(analyzers or {}),
        derived_prefix_fields=dict(derived_prefix_fields or {}),
    )

    if num_segments is None:
        # Segment sizing IS the skew bound (the reference's 64Ki-doc lease
        # discipline, scribe.rs:82): a term's postings per (segment, term)
        # group are capped by the segment's doc count, so no single shuffle
        # group can exceed target_docs_per_segment postings regardless of
        # how skewed the term distribution is.  One cheap count() sizes the
        # build; at 10^12 turns this yields ~10^7 record rows, which is
        # Iceberg-manifest scale, not a bottleneck.
        n_docs = df.count()
        num_segments = max(
            4,
            min(
                -(-n_docs // TARGET_DOCS_PER_SEGMENT),
                spark.sparkContext.defaultParallelism * 4,
            ),
        )
        num_segments = max(num_segments, min(spark.sparkContext.defaultParallelism, 64))

    with storage.writer():
        # Fresh build: clear any prior generation so dynamic partition
        # overwrite cannot leave stale segment directories behind.
        storage.clear_tables()
        append_segment_batch(
            spark,
            df,
            storage,
            meta,
            sort_cols=list(sort_cols),
            num_segments=num_segments,
            docid_base=0,
            segment_base=0,
            generation=1,
        )
        storage.write_meta(meta)
    # the first query after a build reads these with no inference job
    storage.seed_schema_cache(("docs", "doclens", "postings"))
    return storage


def append_segment_batch(
    spark: SparkSession,
    df: DataFrame,
    storage: IndexStorage,
    meta: IndexMeta,
    sort_cols: list[str],
    num_segments: Optional[int],
    docid_base: int,
    segment_base: int,
    generation: int,
    pre_publish=None,
    manifest_status: str = "sealed",
    num_segments_fn=None,
) -> list[int]:
    """Tokenize + index one batch of documents as ``num_segments`` new
    segments starting at ``segment_base`` with docids from ``docid_base``.

    Every table write lands under this batch's own new segment ids;
    visibility is controlled by the record published last —
    the analogue of the reference's seal-then-publish commit protocol
    (``index.rs:6054``).  Returns the new segment ids — ``[]`` when the
    input was empty (nothing written, nothing published).

    ``num_segments=None`` + ``num_segments_fn`` sizes the segment count
    from the measured row count without a dedicated count job (upsert's
    watch-mode path; see _assign_docids_and_tokenize).
    """
    # AQE's partition coalescing optimizes for task-size, which throttles
    # the build's CPU-bound aggregation stages on small-ish inputs; keep
    # the build at full parallelism (AQE skew handling stays on for reads).
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    ranged, docs_frame, slim, n_docs, num_segments = _assign_docids_and_tokenize(
        spark,
        df,
        meta,
        sort_cols=sort_cols,
        num_segments=num_segments,
        docid_base=docid_base,
        segment_base=segment_base,
        num_segments_fn=num_segments_fn,
    )
    from pyspark import StorageLevel

    if n_docs == 0:
        release_checkpoint(ranged)
        spark.conf.set(coalesce_key, prev_coalesce)
        return []
    # DISK_ONLY: the slim tokenized frame (ids + postings, NO text or
    # stored columns) is read by three downstream stages but must not
    # occupy unified heap memory (it starves the posting build's
    # sort/write execution memory); spark.local.dir points at RAM-backed
    # storage locally, and real clusters get NVMe-speed re-reads.
    # Excluding the text/stored columns roughly halves both the serialize
    # cost and every downstream deserialize.
    slim.persist(StorageLevel.DISK_ONLY)
    try:
        write_segment_tables(
            docs_frame,
            slim,
            storage,
            meta,
            pre_publish=pre_publish,
            new_segments=list(range(segment_base, segment_base + num_segments)),
            generation=generation,
            manifest_status=manifest_status,
            # Small batches skip write_segment_tables' slim.count()
            # barrier (saves ~0.5 s per watch-mode micro-batch by letting
            # the table writers first-materialize the slim cache
            # concurrently).  Safe ONLY because `ranged` is a
            # materialized localCheckpoint: a racing writer's recompute
            # of a slim partition re-reads checkpoint blocks
            # bit-identically — it can no longer re-execute the range
            # exchange, whose nondeterministic boundary sample once let
            # the docs and postings passes assign DIFFERENT docids to
            # the same row (~40% repro in tests/test_behavior before the
            # checkpoint; a plain persist's cache lookup does not close
            # that recompute path).  Big batches keep the count barrier:
            # there a duplicated tokenize pass is real work.
            n_docs=n_docs if n_docs <= STATS_FROM_SLIM_MAX_DOCS else None,
        )
    finally:
        slim.unpersist()
        release_checkpoint(ranged)
        spark.conf.set(coalesce_key, prev_coalesce)
    return list(range(segment_base, segment_base + num_segments))


def write_segment_tables(
    docs_frame: DataFrame,
    slim: DataFrame,
    storage: IndexStorage,
    meta: IndexMeta,
    pre_publish=None,
    new_segments: Optional[list[int]] = None,
    n_docs: Optional[int] = None,
    generation: int = 1,
    manifest_status: str = "sealed",
) -> None:
    """Write docs/doclens/postings, then publish the record
    naming the new segments under ``generation`` (the term dictionary is
    embedded in the posting blocks).

    ``docs_frame`` carries (docid, doc_id, content_hash, stored/keyword
    columns) — an assign-only pass over the pinned ranged cache with NO
    tokenization.  ``slim`` carries (docid, segment_id, post/len/fnid per
    text field) — the single tokenize pass, persisted, consumed by the
    doclens/postings/stats writers without ever deserializing text.

    The segment-partitioned tables ALWAYS write mode="overwrite" under
    dynamic partition overwrite: only this batch's own segment_id
    partitions are replaced, which makes a crashed batch's re-run
    idempotent (replay replaces its partial files instead of appending
    duplicates).  Per-segment stats live only in the record rows.

    ``pre_publish`` (if given) runs concurrently with the data-table
    writes but strictly BEFORE the record publish.
    Upsert stages its tombstones there so delete-of-old and add-of-new
    become visible in the same generation (atomic for readers).
    Concurrency is safe because the staging writes touch only the
    tombstones table and its reads scope to the PRIOR live segments —
    partition pruning never lets it see this batch's half-committed
    segment directories — and the rows it stages are tagged with the
    not-yet-published generation, in files the record names only at
    the publish.  It returns ``(newly staged distinct docids, file
    names)``.
    """
    if new_segments is None:
        new_segments = [
            r["segment_id"] for r in slim.select("segment_id").distinct().collect()
        ]
    # The data-table writers are independent jobs over already-
    # materialized caches writing to DIFFERENT tables (docs <- ranged
    # cache; doclens and postings <- slim cache), so they run on driver
    # threads: each job's driver-side planning + commit-protocol renames
    # overlap another job's executor work instead of serializing with it,
    # and the cluster never idles between jobs.  The tombstone staging
    # (pre_publish) rides a fourth thread for the same reason.
    # Dependencies stay explicit: stats follows doclens when it reads the
    # doclens table (same thread), and the record publish — the commit
    # point — happens strictly after every data table is durable AND the
    # staging completed, exactly as before.  Crash semantics are
    # unchanged: an interrupted batch left unpublished is replaced
    # wholesale by its replay's dynamic partition overwrite.
    from concurrent.futures import ThreadPoolExecutor

    def _doclens_then_stats() -> list:
        _write_doclens(slim, storage, meta, "overwrite")
        return _segment_stats(storage, meta, new_segments)

    with ThreadPoolExecutor(max_workers=5) as pool:
        f_pre = pool.submit(pre_publish) if pre_publish is not None else None
        f_docs = pool.submit(_write_docs, docs_frame, storage, meta, "overwrite")
        if n_docs is None:
            # Materialize the one tokenize pass (the slim cache) on the
            # main thread WHILE the docs write runs.  Both jobs read the
            # pinned ranged cache concurrently — fine under read locks;
            # what they do NOT share is the slim cache being built here,
            # so the overlap hides the tokenize pass behind the docs IO.
            n_docs = slim.count()
        f_postings = pool.submit(
            _write_postings,
            slim,
            storage,
            meta,
            "overwrite",
            new_segments,
            None,
            n_docs,
        )
        # Small batches compute the stats rollup straight from the slim
        # cache (no doclens-table dependency -> doclens and stats
        # parallelize); big batches read the just-written doclens parquet,
        # which prunes to the scalar len columns instead of
        # re-deserializing every posting array.
        if n_docs <= STATS_FROM_SLIM_MAX_DOCS:
            f_doclens = pool.submit(_write_doclens, slim, storage, meta, "overwrite")
            f_stats = pool.submit(_segment_stats, storage, meta, new_segments, slim)
            f_doclens.result()
        else:
            f_stats = pool.submit(_doclens_then_stats)
        f_docs.result()
        f_postings.result()
        seg_rows = f_stats.result()
        staged_tombstones = f_pre.result() if f_pre is not None else None
    # The publish point: one record naming the new segments (and the
    # tombstone files the staging wrote), written after every data table
    # is durable.  A crash before it leaves the batch's files unnamed; the
    # replay overwrites them.
    rows = [
        segment_row(
            r["segment_id"],
            generation,
            manifest_status,
            r["docid_lo"],
            int(r["docid_hi"]) + 1,  # half-open [lo, hi)
            r["doc_count"],
            {
                f: (r["doc_count"], r[f"tokens_{f}"] or 0)
                for f in meta.text_fields
            },
        )
        for r in seg_rows
    ]
    rec = storage.with_segments(storage.read_manifest(), rows)
    if staged_tombstones is not None:
        n, files = staged_tombstones
        rec = (
            storage.with_tombstones(rec, files, n)
            if manifest_status == "sealed"
            else storage.with_tombstones(rec, files, 0, n)
        )
    storage.publish(rec)


# ── step 1+2: docid assignment + tokenization ──────────────────────────────


def _assign_docids_and_tokenize(
    spark: SparkSession,
    df: DataFrame,
    meta: IndexMeta,
    sort_cols: list[str],
    num_segments: Optional[int],
    docid_base: int = 0,
    segment_base: int = 0,
    num_segments_fn=None,
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Returns ``(ranged, docs_frame, slim, n_docs, num_segments)``.

    ``ranged`` is the pinned range-partitioned input (caller unpersists
    after the docs write and the slim materialization).  ``docs_frame``
    is an assign-only Arrow pass (docid + segment + stored columns, NO
    tokenization).  ``slim`` is the single tokenize pass emitting ONLY
    (docid, segment_id, post/len/fnid per text field) — no text, so its
    persist and every downstream read stay posting-sized.  Both passes
    read the SAME pinned partitions with the same prefix-sum bases, so
    they assign identical docids.

    ``num_segments=None`` + ``num_segments_fn`` defers segment sizing to
    the measured row count (see the deferred-sizing comment below).
    """
    passthrough = _passthrough_columns(df, meta)
    text_sources = [
        meta.derived_prefix_fields.get(f, f) for f in meta.text_fields
    ]
    select_cols = [
        "doc_id",
        *passthrough,
        *[s for s in text_sources if s in df.columns],
    ]
    # Sub-partition each segment k ways: the tokenize pass parallelism is
    # otherwise capped at num_segments.  Docids stay the rank in the total
    # order (range partitions are ordered, prefix-sum bases span them) and
    # each segment owns a run of consecutive partitions = one contiguous
    # docid range, so segment layout invariants are unchanged.
    #
    # Deferred sizing (``num_segments_fn``): upsert batches size their
    # segment count from the CHANGED row count, which used to cost a
    # dedicated count job over the content-hash anti-join before this
    # function even ran.  Instead, partition at full parallelism, let the
    # partition-count job below (which must run anyway for the docid
    # prefix sums) produce the row count as a by-product, and derive the
    # segment count from it — one serial job instead of two.
    parallelism = spark.sparkContext.defaultParallelism
    if num_segments is None:
        # honor a caller-scoped shuffle.partitions (the stream sink dials
        # it down for micro-batches) so tiny batches don't pin a
        # 32-partition cache that every downstream job re-schedules
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
        num_parts = max(1, min(parallelism, conf_parts))
    else:
        k = max(1, min(8, parallelism // max(1, num_segments)))
        num_parts = num_segments * k
    ranged = (
        df.select(*dict.fromkeys(select_cols))
        .withColumn("content_hash", content_hash_expr(meta, df))
        .repartitionByRange(num_parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
    )
    # Local-checkpoint (NOT plain persist) so every docid-bearing pass
    # sees identical partitions: range boundaries are SAMPLED per
    # exchange execution, so any recompute path through the exchange can
    # place the same row in a different partition — two passes would
    # then assign different docids to one row (observed: a cache race
    # let the docs and postings passes diverge, ~40% repro).  The
    # checkpoint truncates lineage after the count job below
    # materializes it: downstream plans scan the materialized RDD
    # directly (no cache lookup, no exchange), so a recompute is either
    # a bit-identical block read or a loud block-lost failure — never a
    # silent re-sample.  DISK_ONLY, like the slim cache: the columnar
    # in-memory cache holds text as heap objects whose GC churn starves
    # the posting build's execution memory (measured 1.5x slower
    # end-to-end with a heap big enough to keep it resident);
    # serialized batches on local disk (tmpfs here, NVMe on a cluster)
    # re-read faster than they GC.
    from pyspark import StorageLevel as _SL

    ranged = ranged.localCheckpoint(eager=False, storageLevel=_SL.DISK_ONLY)
    counts = (
        ranged.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    count_map = {r["pid"]: r["count"] for r in counts}
    n_total = sum(count_map.values())
    if num_segments is None:
        num_segments = max(1, int(num_segments_fn(n_total))) if n_total else 1
        if num_segments > num_parts:
            # a catch-up batch so large it wants more segments than the
            # partitioning can host: re-range with the resolved count
            # (rare — pays the classic extra pass only where it's cheap
            # relative to the batch itself)
            release_checkpoint(ranged)
            return _assign_docids_and_tokenize(
                spark, df, meta, sort_cols, num_segments,
                docid_base=docid_base, segment_base=segment_base,
            )
    bases: dict[int, int] = {}
    running = docid_base
    for pid in range(num_parts):
        bases[pid] = running
        running += count_map.get(pid, 0)
    # contiguous partition->segment grouping; for the classic path
    # (num_parts = num_segments * k) this is exactly pid // k
    seg_count = num_segments

    docs_fields = [
        StructField("docid", LongType(), False),
        StructField("segment_id", IntegerType(), False),
        StructField("doc_id", StringType(), False),
        StructField("content_hash", LongType(), False),
    ]
    for name in passthrough:
        docs_fields.append(df.schema[name])
    docs_schema = StructType(docs_fields)
    # Per-doc postings, combined MAP-SIDE inside the tokenize stage: one
    # struct per distinct term of the doc, positions already collected and
    # sorted.  This is the partial aggregation Catalyst cannot plan itself
    # (an explicit repartition before groupBy suppresses map-side combine),
    # so the posting shuffle moves one row per (doc, term) with a packed
    # positions array instead of one row per token occurrence — and the
    # per-(doc, term) collect_list aggregation disappears downstream.
    post_type = ArrayType(
        StructType(
            [
                StructField("term", StringType(), False),
                StructField("positions", ArrayType(IntegerType(), False), False),
            ]
        )
    )
    slim_fields = [
        StructField("docid", LongType(), False),
        StructField("segment_id", IntegerType(), False),
    ]
    for f in meta.text_fields:
        slim_fields.append(StructField(f"post_{f}", post_type, True))
        slim_fields.append(StructField(f"len_{f}", IntegerType(), False))
        slim_fields.append(StructField(f"fnid_{f}", IntegerType(), False))
    slim_schema = StructType(slim_fields)
    analyzers = {f: meta.analyzer_of(f) for f in meta.text_fields}
    derived = dict(meta.derived_prefix_fields)

    def _ids(pid: int, offset: int, n: int):
        import pyarrow as pa

        return (
            pa.array(np.arange(offset, offset + n, dtype=np.int64)),
            pa.array(
                np.full(
                    n,
                    segment_base + (pid * seg_count) // num_parts,
                    dtype=np.int32,
                )
            ),
        )

    def assign_docs(batches):
        """Assign-only Arrow pass: docid/segment prepended, every other
        column forwarded as raw Arrow buffers — no tokenization, no
        object conversion."""
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        offset = bases.get(pid, docid_base)
        for batch in batches:
            n = batch.num_rows
            in_cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            docid, segment = _ids(pid, offset, n)
            arrays = [docid, segment, in_cols["doc_id"], in_cols["content_hash"]]
            names = ["docid", "segment_id", "doc_id", "content_hash"]
            for name in passthrough:
                arrays.append(in_cols[name])
                names.append(name)
            offset += n
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    def assign_tokens(batches):
        """The tokenize pass: python analyzer per text field, vectorized
        per-doc posting combine, output buffers built directly (C
        kernels) — and ONLY posting-sized columns leave this stage."""
        import pyarrow as pa

        from ..functions.cass_analyze import cass_tokenize_batch

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        offset = bases.get(pid, docid_base)
        for batch in batches:
            n = batch.num_rows
            in_cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            docid, segment = _ids(pid, offset, n)
            arrays = [docid, segment]
            names = ["docid", "segment_id"]
            texts_cache: dict[str, list] = {}
            for f in meta.text_fields:
                source = derived.get(f, f)
                if source in in_cols:
                    if source not in texts_cache:
                        texts_cache[source] = [
                            t if t is not None else "" for t in in_cols[source].to_pylist()
                        ]
                    texts = texts_cache[source]
                else:
                    texts = [""] * n
                if analyzers[f] == "default":
                    tokens = tokenize_batch(texts)
                    lens = np.fromiter((len(t) for t in tokens), dtype=np.int32, count=n)
                    post = _post_array_from_docs(tokens)
                else:
                    pairs, lens = cass_tokenize_batch(
                        texts,
                        hyphen_decompose=(analyzers[f] == "cass_hyphen"),
                        edge_ngrams=(f in derived),
                    )
                    lens = np.asarray(lens, dtype=np.int32)
                    # cass_tokenize_batch emits {"pos", "term"} structs
                    post = _post_array_from_docs(
                        [[d["term"] for d in p] for p in pairs],
                        [[d["pos"] for d in p] for p in pairs],
                    )
                arrays.append(post)
                names.append(f"post_{f}")
                arrays.append(pa.array(lens))
                names.append(f"len_{f}")
                arrays.append(pa.array(fieldnorm_to_id(lens).astype(np.int32)))
                names.append(f"fnid_{f}")
            offset += n
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return (
        ranged,
        ranged.mapInArrow(assign_docs, schema=docs_schema),
        ranged.mapInArrow(assign_tokens, schema=slim_schema),
        n_total,
        num_segments,
    )


def _doc_postings_from_tokens(tokens: list) -> list[tuple[str, list[int]]]:
    """Default analyzer: positions ARE the array indices (rejected tokens
    are None placeholders that consume a position but emit no posting).

    Pure-python reference implementation — the build uses the vectorized
    :func:`_post_array_from_docs`; a unit test pins their equivalence.
    """
    posts: dict[str, list[int]] = {}
    for i, tok in enumerate(tokens):
        if tok is not None:
            posts.setdefault(tok, []).append(i)
    return list(posts.items())


def _doc_postings_from_pairs(pairs: list) -> list[tuple[str, list[int]]]:
    """CASS analyzers emit (pos, term) pairs; same-position alternatives
    (hyphen parts, edge n-grams) share a position, and duplicate
    (term, pos) occurrences are preserved — exactly what the old
    sort_array(collect_list(pos)) per (doc, term) produced.

    Pure-python reference implementation — the build uses the vectorized
    :func:`_post_array_from_docs`; a unit test pins their equivalence.
    """
    posts: dict[str, list[int]] = {}
    for pos, term in pairs:
        posts.setdefault(term, []).append(pos)
    return [(t, sorted(p)) for t, p in posts.items()]


def _post_array_from_docs(terms_per_doc: list, pos_per_doc: Optional[list] = None):
    """Vectorized per-doc posting combine -> one Arrow ``list<struct<term,
    positions>>`` array for a batch of documents.

    ``terms_per_doc``: per doc, a list of term strings (None = rejected
    token placeholder).  ``pos_per_doc``: matching per-token positions;
    None means positions are the list indices (default analyzer).

    Semantics pinned against :func:`_doc_postings_from_tokens` /
    :func:`_doc_postings_from_pairs`: one struct per distinct term of the
    doc, positions ascending, duplicate (term, pos) occurrences preserved.
    The whole batch is combined with C-speed kernels (factorize + lexsort
    + group-boundary scan) and the Arrow buffers are built directly — no
    per-object conversion on the hot path.

    Precondition: terms are NUL-free.  pandas' factorize hashes object
    strings as NUL-terminated C strings, so ``"a"`` and ``"a\x00"`` would
    conflate; every shipped analyzer guarantees this (tokens are
    Unicode-alnum runs — NUL is a separator), and custom analyzers must
    uphold it rather than this kernel paying a per-token scan.
    """
    import pyarrow as pa

    n_docs = len(terms_per_doc)
    counts = np.fromiter((len(t) for t in terms_per_doc), dtype=np.int64, count=n_docs)
    total = int(counts.sum())
    struct_t = pa.struct([("term", pa.string()), ("positions", pa.list_(pa.int32()))])
    if total == 0:
        empty = pa.array([], type=struct_t)
        offsets = pa.array(np.zeros(n_docs + 1, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, empty)

    flat = np.empty(total, dtype=object)
    i = 0
    for t in terms_per_doc:
        flat[i : i + len(t)] = t
        i += len(t)
    starts = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    if pos_per_doc is None:
        gpos = np.arange(total, dtype=np.int64) - np.repeat(starts[:-1], counts)
    else:
        gpos = np.empty(total, dtype=np.int64)
        i = 0
        for p in pos_per_doc:
            gpos[i : i + len(p)] = p
            i += len(p)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), counts)

    # factorize maps None placeholders (rejected tokens) to code -1 — the
    # admission mask falls out as an int comparison, no object-array scan.
    codes, uniques = pd.factorize(flat)
    mask = codes >= 0
    codes_m, gpos_m, doc_m = codes[mask], gpos[mask], doc_idx[mask]
    if len(codes_m) == 0:
        empty = pa.array([], type=struct_t)
        offsets = pa.array(np.zeros(n_docs + 1, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, empty)
    if pos_per_doc is None:
        # default analyzer: gpos is ascending within each doc already, so a
        # STABLE sort on the (doc, code) composite keeps positions sorted —
        # ~14x cheaper than a 3-key lexsort at 5M tokens.
        order = np.argsort((doc_m << np.int64(32)) | codes_m.astype(np.int64), kind="stable")
    else:
        order = np.lexsort((gpos_m, codes_m, doc_m))
    d_s, c_s, p_s = doc_m[order], codes_m[order], gpos_m[order]

    new_group = np.empty(len(d_s), dtype=bool)
    new_group[0] = True
    np.not_equal(d_s[1:], d_s[:-1], out=new_group[1:])
    new_group[1:] |= c_s[1:] != c_s[:-1]
    g_start = np.flatnonzero(new_group)

    pos_child = pa.ListArray.from_arrays(
        pa.array(np.append(g_start, len(p_s)).astype(np.int32)),
        pa.array(p_s.astype(np.int32)),
    )
    # vocab-sized object conversion once, then a C-speed take per group
    vocab = pa.array(uniques, type=pa.string())
    term_child = vocab.take(pa.array(c_s[g_start].astype(np.int32)))
    posting = pa.StructArray.from_arrays([term_child, pos_child], fields=list(struct_t))
    per_doc_groups = np.bincount(d_s[g_start], minlength=n_docs)
    outer = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(per_doc_groups, out=outer[1:])
    return pa.ListArray.from_arrays(pa.array(outer.astype(np.int32)), posting)


def _passthrough_columns(df: DataFrame, meta: IndexMeta) -> list[str]:
    wanted = [*meta.keyword_fields, *meta.i64_fields, *meta.stored_fields]
    return [c for c in dict.fromkeys(wanted) if c in df.columns and c != "doc_id"]


# ── step 3: tables ──────────────────────────────────────────────────────────


def _write_docs(
    analyzed: DataFrame, storage: IndexStorage, meta: IndexMeta, mode: str
) -> None:
    passthrough = [
        c
        for c in analyzed.columns
        if not c.startswith(("post_", "len_", "fnid_"))
    ]
    # stored text fields ride along for snippet/hydration parity
    stored_text = [f for f in meta.text_fields if f in meta.stored_fields]
    cols = [*passthrough, *[f for f in stored_text if f in analyzed.columns]]
    # analyzed partitions ARE disjoint docid ranges (one per segment), so an
    # in-partition sort yields a globally range-partitioned docs table;
    # segment_id directory partitioning gives segment-granular GC + pruning.
    storage.write_table(
        analyzed.select(*dict.fromkeys(cols)).sortWithinPartitions("docid"),
        "docs",
        mode,
        partition_by=("segment_id",),
    )


def _write_doclens(
    analyzed: DataFrame, storage: IndexStorage, meta: IndexMeta, mode: str
) -> None:
    cols = [F.col("docid"), F.col("segment_id")]
    for f in meta.text_fields:
        cols.append(F.col(f"len_{f}"))
        cols.append(F.col(f"fnid_{f}"))
    storage.write_table(
        analyzed.select(*cols).sortWithinPartitions("docid"),
        "doclens",
        mode,
        partition_by=("segment_id",),
    )


def _posting_frame(analyzed: DataFrame, meta: IndexMeta) -> DataFrame:
    """Long-format (segment_id, field, term, docid, freq, positions, fnid).

    The per-(doc, term) aggregation already happened MAP-SIDE inside the
    tokenize stage (``_doc_postings_from_tokens``), so this explode emits
    exactly one row per (doc, term) with its packed sorted positions —
    the posting shuffle moves pre-combined postings, not raw token
    occurrences, and no per-doc collect_list aggregation runs after it.
    """
    frames = []
    for f in meta.text_fields:
        frames.append(
            analyzed.select(
                "segment_id",
                F.lit(f).alias("field"),
                "docid",
                F.col(f"fnid_{f}").alias("fnid"),
                F.explode(f"post_{f}").alias("e"),
            ).select(
                "segment_id",
                "field",
                "docid",
                "fnid",
                F.col("e.term").alias("term"),
                F.col("e.positions").alias("positions"),
                F.size("e.positions").cast("int").alias("freq"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _write_postings(
    analyzed: DataFrame,
    storage: IndexStorage,
    meta: IndexMeta,
    mode: str,
    new_segments: Optional[list[int]] = None,
    timings: Optional[dict] = None,
    n_docs: Optional[int] = None,
) -> None:
    # ONE posting-scale shuffle: hash-partition on (segment, bucket) up
    # front.  bucket = pmod(crc32(term), B) is a pure function of the term,
    # so every row of one (segment, field, term) lands in one partition;
    # the per-term posting aggregation clusters on a superset of
    # (segment_id, bucket), which this partitioning satisfies
    # -- Catalyst plans NO further exchange, and the write is already
    # aligned with its (segment, bucket) directory partitioning (exactly
    # one file per directory).  Rows entering the exchange are ALREADY
    # per-(doc, term) postings (freq + sorted positions), combined
    # map-side in the tokenize stage: the shuffle payload and the
    # downstream aggregation work shrink by the average term frequency.
    if new_segments is None:
        new_segments = [
            r["segment_id"] for r in analyzed.select("segment_id").distinct().collect()
        ]
    # Shuffle partition count sized to the DATA, bounded by the output
    # topology: ~4k docs' postings per task (≈5 MB compressed — measured
    # sweet spot: small enough that the per-task aggregation state stays
    # cache-resident and never spills, which at 64 coarse partitions cost
    # ~400 MB of spill and ~38% extra CPU under 4 concurrent tasks), never
    # below the session's shuffle parallelism, never above one partition
    # per (segment, bucket) group.  The cap keeps every group wholly in
    # one task, so the write stays exactly one file per directory; the
    # floor keeps small batches from paying 256 task launches for toy
    # inputs.  Scale-invariant: group size is bounded by segment sizing,
    # so partition count grows with data while per-task work is constant.
    n_groups = len(new_segments) * meta.num_buckets
    conf_parts = int(
        analyzed.sparkSession.conf.get("spark.sql.shuffle.partitions", "64")
    )
    if n_docs is None:
        n_parts = max(conf_parts, n_groups)
    elif n_docs <= STATS_FROM_SLIM_MAX_DOCS:
        # Watch-mode delta batches: size the exchange to the DATA alone.
        # The conf floor exists so big builds never under-parallelize, but
        # a 6k-row micro-batch under it schedules n_groups near-empty
        # reduce tasks and commits one parquet file per (segment, bucket)
        # dir — pure fixed cost.  Fewer reducers still write one file per
        # directory (a task writes every group it owns).
        n_parts = max(1, min(n_groups, -(-n_docs // 2000)))
    else:
        n_parts = min(n_groups, max(conf_parts, -(-n_docs // 4000)))
    per_doc = (
        _posting_frame(analyzed, meta)
        .withColumn(
            "bucket",
            F.pmod(F.crc32(F.col("term").cast("binary")), F.lit(meta.num_buckets)).cast("int"),
        )
        .repartition(n_parts, "segment_id", "bucket")
    )
    entry = F.struct(
        F.col("docid"),
        F.col("freq"),
        F.col("fnid"),
        *([F.col("positions")] if meta.positions else []),
    )
    # ONE hash aggregation builds each term's complete per-segment posting
    # list (struct comparison sorts by its first field, docid), then a
    # transform/slice/posexplode carves the sorted list into 128-entry
    # blocks (block_id = slice ordinal).  This replaces the previous
    # row_number window + per-block groupBy: the window's partition-wide
    # sort over every posting row cost more than the per-term array sorts
    # it replaced (paired same-window rounds: 9.8s vs 5.7s for the 100k-
    # turn posting phase) and needed a second aggregation pass.  Output is
    # bit-identical (verified by full-table hash).  Memory per aggregation
    # row is one term's postings within one segment — bounded by segment
    # sizing (the 64Ki-lease analogue), the same bound the reference's
    # in-memory posting builder relies on (index.rs radix accumulator).
    # Everything still clusters on the ONE (segment, bucket) exchange.
    per_term = per_doc.groupBy("segment_id", "bucket", "field", "term").agg(
        F.sort_array(F.collect_list(entry)).alias("plist")
    )
    _bpb = POSTINGS_PER_BLOCK
    # The term dictionary is EMBEDDED in the block rows: every block of a
    # term carries the term's full per-segment df/cf (constant per term →
    # RLE-compressed to nothing in Parquet).  storage.read("terms")
    # derives the dictionary as a scalar projection of block_id=0 rows, so
    # there is no separate terms table to write here, to copy at merge,
    # or to rebuild at compaction (reference analogue: the term dictionary
    # is sealed into the same segment artifact as its postings,
    # quiver.rs TERMS/POSTING regions of one segment file).
    sliced = per_term.select(
        "segment_id",
        "field",
        "term",
        "bucket",
        F.size("plist").cast("long").alias("term_df"),
        F.expr("aggregate(plist.freq, 0L, (a, x) -> a + x)").alias("term_cf"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(plist)/{_bpb}.0)) - 1),"
                f" i -> slice(plist, i*{_bpb}+1, {_bpb}))"
            )
        ).alias("block_id", "packed"),
    )
    # Posting blocks persist (d, freq, fnid) as one struct array and the
    # (large) position lists as a PARALLEL column: Parquet columnarizes
    # both, and keeping positions outside the scoring struct lets column
    # pruning skip position bytes entirely on non-phrase queries (nested
    # pruning cannot reach through the explode otherwise).  Docids are
    # GAP-encoded int32 (functions/codec.py, −29% on the column that was
    # ~40% of compressed postings bytes); positions stay absolute — see
    # codec.py for the measurement showing gaps buy nothing there.
    postings = sliced.select(
        "segment_id",
        "field",
        "term",
        F.col("block_id").cast("int").alias("block_id"),
        "bucket",
        "term_df",
        "term_cf",
        F.element_at("packed", 1)["docid"].alias("first_doc"),
        F.size("packed").cast("int").alias("count"),
        F.least(F.expr("array_max(packed.freq)"), F.lit(255)).cast("int").alias("max_freq_code"),
        F.expr("array_min(packed.fnid)").cast("int").alias("min_fnid"),
        # block_cf: per-block collection frequency, aggregated at build so
        # the dictionary pass never has to decode the entries arrays
        F.expr("aggregate(packed.freq, 0L, (a, x) -> a + x)").alias("block_cf"),
        encode_entries_expr("packed").alias("entries"),
        *([F.expr("transform(packed, e -> e.positions)").alias("positions")] if meta.positions else []),
    )
    t0 = time.time()
    # Term-clustered layout: rows sorted by (field, term, block_id) inside
    # each (segment, bucket) file, with bounded row groups, give Parquet
    # row-group min/max statistics TIGHT term ranges — a literal
    # ``term IN (...)`` predicate (which every term-leaf scan now pushes,
    # search.py::_exploded_postings) then prunes the scan to just the
    # query terms' row groups instead of reading every term in the
    # bucket.  This is the reference's "read only the query terms'
    # posting lists" IO contract (quiver.rs posting-region seeks)
    # expressed in Parquet: without it a term query over a 100 TB index
    # would scan every matched bucket end to end.  Sorting costs one
    # in-task sort of block rows (no added exchange); unsorted legacy
    # files remain readable — they just don't prune.
    storage.write_table(
        postings,
        "postings",
        mode,
        partition_by=("segment_id", "bucket"),
        sort_within=("segment_id", "bucket", "field", "term", "block_id"),
        options={"parquet.block.size": str(POSTINGS_ROW_GROUP_BYTES)},
    )
    if timings is not None:
        timings["postings_sec"] = time.time() - t0


def _segment_stats(
    storage: IndexStorage,
    meta: IndexMeta,
    new_segments: list[int],
    slim: Optional[DataFrame] = None,
) -> list:
    """Per-segment rollup (doc_count, docid span, per-field token totals)
    for the record's new segment rows, collected as O(new segments)
    driver rows.  Read from the just-written doclens TABLE (not the slim
    cache): the parquet read prunes to exactly the scalar len columns,
    while a slim-cache scan would deserialize every posting array again.
    Small batches pass ``slim`` to aggregate the cached frame directly
    instead — the posting arrays are tiny there, and dropping the
    doclens-table dependency lets the doclens write and the rollup run
    in parallel (one less serialized job on the upsert commit path)."""
    aggs = [
        F.count("*").alias("doc_count"),
        F.min("docid").alias("docid_lo"),
        F.max("docid").alias("docid_hi"),
    ]
    for f in meta.text_fields:
        aggs.append(F.sum(f"len_{f}").cast("long").alias(f"tokens_{f}"))
    src = (
        slim
        if slim is not None
        else storage.read("doclens").where(F.col("segment_id").isin(new_segments))
    )
    return src.groupBy("segment_id").agg(*aggs).collect()
