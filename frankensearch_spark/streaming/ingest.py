"""Structured Streaming incremental ingest (the watch-mode analogue).

The reference's live-ingest loop (reference: ``fsfs/src/runtime.rs``
LiveIngestPipeline, plan §2.4) performs per-batch upsert/delete and
debounces the expensive lexical publish behind an adaptive window
(``lexical_debounce_window_ms``): writes become durable+visible to the
live tier immediately, while the sealed commit runs on a cadence.  The
Structured Streaming mapping is ``writeStream.foreachBatch`` staging each
micro-batch as UNSEALED delta segments (``upsert(seal=False)`` — durable,
replayable, visible to ``include_unsealed=True`` readers immediately) and
sealing on a cadence (every N batches or T seconds): one manifest record
publish commits the whole window's generation to default readers, the
debounce-window analogue.

Late/duplicate data: ``dropDuplicates`` on the identity inside the batch +
upsert-by-id across batches (delete old docid + add under a new docid) —
the same semantics as the reference's content-identity upsert path
(``storage/src/content_hash.rs`` per plan §2.4).  Crash between staging
and seal: the checkpoint replays the window's batches; re-upserting the
same identities tombstones the pending copies, so replay converges
(duplicate-then-delete idempotence, reference plan §15.3) and the next
cadence seal publishes everything exactly once.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index import LexicalIndex

#: serializes clone creation: two streams sinking into the same index
#: must not both cloneSession() on their first batch (the loser's clone —
#: JVM session state included — would be retained but never used)
_COMMIT_SESSION_LOCK = threading.Lock()


def _commit_session(index: LexicalIndex) -> Optional[SparkSession]:
    """Cached clone of the index's session sized for micro-batch commits.

    ``cloneSession()`` shares the SparkContext and caches but copies the
    session state, so the watch-mode conf (AQE off, small shuffle
    parallelism) cannot leak into concurrent queries planning on the
    primary session — the same isolation discipline as the engine's
    no-AQE query session (search.py::_noaqe_session; the round-3
    session-wide conf flip leaked into other threads' planning windows).
    Returns None when the classic internals are unavailable; the caller
    falls back to scoped save/restore on the primary session.
    """
    cached = getattr(index, "_stream_commit_session", None)
    if cached is not None:
        return cached or None
    with _COMMIT_SESSION_LOCK:
        cached = getattr(index, "_stream_commit_session", None)
        if cached is not None:
            return cached or None
        try:
            jclone = index.spark._jsparkSession.cloneSession()
            sess = SparkSession(index.spark.sparkContext, jclone)
            sess.conf.set("spark.sql.adaptive.enabled", "false")
            sess.conf.set("spark.sql.shuffle.partitions", "8")
            index._stream_commit_session = sess
            return sess
        except Exception:
            index._stream_commit_session = False
            return None


def _commit_maintenance(index: LexicalIndex):
    """Maintenance facade planning under the commit clone (primary-session
    fallback when the clone seam is unavailable).

    Used by both the per-batch upsert and the cadence seal, so a
    distributed (fallback) commit plans under the clone instead of the
    index's primary session with AQE on and corpus-sized shuffle
    partitions — the exact per-batch fixed cost the clone exists to
    remove.  Fresh instance per call, same contract as
    ``LexicalIndex.maintenance`` (always sees the current manifest
    record).
    """
    sess = _commit_session(index)
    if sess is None:
        return index.maintenance
    from ..operators.maintenance import IndexMaintenance

    return IndexMaintenance(sess, index.index_dir)


def transcript_batch_to_docs(batch: DataFrame) -> DataFrame:
    """Canonical transcript micro-batch -> document frame for the index."""
    return batch.select(
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string")).alias(
            "doc_id"
        ),
        F.col("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("role"),
        F.col("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("text").alias("content"),
    )


_TRANSCRIPT_COLS = ("conv_id", "turn_idx", "role", "tool", "ts", "text")


def _batch_files_from_checkpoint(
    checkpoint_dir: str, batch_id: int
) -> list[str] | None:
    """The micro-batch's source files from the stream's own offset log.

    A file-source micro-batch IS a file list, but Structured Streaming
    hides it from the batch DataFrame (``inputFiles()`` is empty under
    IncrementalExecution).  The authoritative record exists anyway: the
    file-source log at ``<checkpoint>/sources/0/<batchId>`` is committed
    BEFORE foreachBatch runs and lists exactly this batch's files (a
    ``.compact`` entry carries every file seen so far, each tagged with
    its batchId — filter to ours).  Single-source streams only; any
    surprise returns None and the caller collects through Spark.
    """
    import json

    src_root = os.path.join(checkpoint_dir, "sources")
    try:
        sources = os.listdir(src_root)
    except OSError:
        return None
    if sources != ["0"]:
        return None
    base = os.path.join(src_root, "0")
    path = os.path.join(base, str(batch_id))
    if not os.path.exists(path):
        path = os.path.join(base, f"{batch_id}.compact")
        if not os.path.exists(path):
            return None
    out: list[str] = []
    try:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line or not line.startswith("{"):
                    continue  # version header
                entry = json.loads(line)
                if int(entry.get("batchId", batch_id)) != int(batch_id):
                    continue
                p = entry["path"]
                if p.startswith("file://"):
                    p = p[7:]
                elif p.startswith("file:"):
                    p = p[5:]
                out.append(p)
    except (OSError, ValueError, KeyError):
        return None
    return out or None


def _file_schema_canonical(schema) -> bool:
    """True when a source file's column types match the canonical
    transcript schema closely enough that the Arrow projection below is
    value-identical to :func:`transcript_batch_to_docs`'s Spark casts.
    Anything looser (a long epoch ``ts``, a double ``turn_idx``) would
    cast DIFFERENTLY driver-side (e.g. int64→timestamp reinterprets
    seconds as microseconds; ``5.0`` stringifies as "5.0" in Spark but
    "5" after an int cast) — those fall back to the Spark collect."""
    import pyarrow as pa

    by_name = {f.name: f.type for f in schema}
    return (
        pa.types.is_string(by_name["conv_id"])
        and pa.types.is_integer(by_name["turn_idx"])
        and pa.types.is_timestamp(by_name["ts"])
        and pa.types.is_string(by_name["role"])
        and pa.types.is_string(by_name["tool"])
        and pa.types.is_string(by_name["text"])
    )


def _batch_docs_arrow(batch: DataFrame, max_rows: int, files: list | None = None):
    """The micro-batch's document rows as a deduplicated pyarrow Table,
    WITHOUT a Spark job when possible.

    ``files`` is the batch's authoritative source-file list from the
    stream's offset log (:func:`_batch_files_from_checkpoint`) — ONLY
    provided when the streaming plan was verified transform-free, since
    raw files bypass any Filter/Project an upstream frame carries.
    (``batch.inputFiles()`` is deliberately NOT consulted: on a static
    direct-call frame it is non-empty even when the frame has transforms,
    which would silently ignore them.)  Any surprise — no file list,
    columns missing, non-canonical column types, nulls in the identity
    columns, over the row gate — falls back to ONE bounded ``toArrow``
    collect; returning None means "stay on the distributed path".  Dedup
    is keep-first on ``doc_id`` (``dropDuplicates`` keeps an arbitrary
    copy; first-in-batch is a deterministic refinement of the same
    contract).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = None
    if files and all(os.path.exists(f) for f in files):
        try:
            import pyarrow.parquet as pq

            metas = [pq.ParquetFile(f) for f in files]
            if sum(m.metadata.num_rows for m in metas) > max_rows:
                # the footers already prove the batch is over the driver
                # gate: skip the bounded collect, go straight distributed
                return None
            if all(
                set(_TRANSCRIPT_COLS) <= set(m.schema_arrow.names)
                and _file_schema_canonical(m.schema_arrow)
                for m in metas
            ):
                parts = [
                    pq.read_table(f, columns=list(_TRANSCRIPT_COLS)) for f in files
                ]
                raw = pa.concat_tables(parts) if len(parts) > 1 else parts[0]
                conv = raw["conv_id"].combine_chunks()
                turn = raw["turn_idx"].combine_chunks().cast(pa.int64())
                if conv.null_count == 0 and turn.null_count == 0:
                    doc_id = pc.binary_join_element_wise(
                        conv.cast(pa.string()), turn.cast(pa.string()), ":"
                    )
                    tbl = pa.table(
                        {
                            "doc_id": doc_id,
                            "conv_id": conv,
                            "turn_idx": turn,
                            "role": raw["role"].combine_chunks(),
                            "tool": raw["tool"].combine_chunks(),
                            "ts": raw["ts"].combine_chunks(),
                            "content": raw["text"].combine_chunks(),
                        }
                    )
        except Exception:
            tbl = None
    if tbl is None:
        # One bounded collect; tokenization stays on the DRIVER.  Fusing
        # it into this job as a repartition + mapInArrow pass was built
        # and measured: 0.47-0.53 s/batch vs 0.10 s collect + 0.37 s
        # driver tokenize — the Python-worker round trip inside the job
        # (guide §4's boundary cost) exceeds the serial tokenize at
        # watch-mode sizes, so it was reverted.
        try:
            tbl = (
                transcript_batch_to_docs(batch).limit(max_rows + 1).toArrow()
            )
        except Exception:
            return None
        if tbl.num_rows > max_rows:
            return None
    ids = tbl["doc_id"].to_pylist()
    if len(set(ids)) != len(ids):
        seen: set = set()
        keep = []
        for i, d in enumerate(ids):
            if d not in seen:
                seen.add(d)
                keep.append(i)
        tbl = tbl.take(pa.array(keep, pa.int64()))
    return tbl


class SealCadence:
    """Driver-side debounce state: when to flip staged batches sealed.

    Lives on the driver (foreachBatch bodies run there) and is only ever
    touched from the micro-batch thread plus the post-termination final
    seal — never concurrently, so no locking.  ``every_batches <= 1``
    degenerates to the old seal-per-batch behavior.
    """

    def __init__(
        self,
        index: LexicalIndex,
        every_batches: int = 4,
        every_sec: float = 30.0,
    ) -> None:
        self.index = index
        self.every_batches = max(1, int(every_batches))
        self.every_sec = float(every_sec)
        self.pending = 0
        self.last_seal = time.time()

    def note_batch(self) -> None:
        self.pending += 1
        if (
            self.pending >= self.every_batches
            or (time.time() - self.last_seal) >= self.every_sec
        ):
            self.seal()

    def note_empty_batch(self) -> None:
        """Evaluate the TIME trigger even when a batch staged nothing.

        A continuous stream can deliver an arbitrarily long run of
        no-change batches (at-least-once redelivery, unchanged re-saves
        skipped by the content-hash witness); without this check the
        debounce window would never elapse and an earlier staged batch
        would stay invisible to default readers indefinitely.
        """
        if self.pending and (time.time() - self.last_seal) >= self.every_sec:
            self.seal()

    def seal(self) -> None:
        if self.pending:
            _commit_maintenance(self.index).seal()
            self.index.reopen()
            self.pending = 0
        self.last_seal = time.time()


def upsert_batch(
    index: LexicalIndex,
    batch: DataFrame,
    batch_id: int,
    cadence: Optional[SealCadence] = None,
    checkpoint_dir: Optional[str] = None,
) -> None:
    """foreachBatch body: dedup on identity, stage as new segment(s).

    Watch-mode micro-batches (< 8,192 changed rows) mint exactly ONE
    segment; a catch-up batch past that is auto-sized like the cold
    build (maintenance._auto_upsert_segments) so its posting exchange
    reaches every core — the tier merge planner absorbs the extra rows.

    With a ``cadence``, the batch is staged unsealed (immediately visible
    to ``include_unsealed=True`` readers) and the cadence decides when the
    window seals for default readers; without one, the batch commits
    sealed (the old per-batch publish).

    Idempotent enough for at-least-once delivery: re-upserting the same
    identity tombstones the previous docid and republishes, so replayed
    batches converge to the same visible corpus (duplicate-then-delete
    idempotence — reference plan §15.3).
    """
    # Driver fast path first: a watch-mode-sized batch commits with zero
    # scheduled Spark jobs (microcommit.py — the per-batch fixed job
    # latency was the entire watch-mode cost at 6k-row sizes).  ``None``
    # means ineligible; fall through to the distributed body unchanged.
    from ..operators.microcommit import DRIVER_UPSERT_MAX_ROWS

    max_rows = int(
        index.spark.conf.get(
            "frankensearch.upsert.driverMaxRows", str(DRIVER_UPSERT_MAX_ROWS)
        )
    )
    if max_rows > 0:
        maint = index.maintenance
        files = (
            _batch_files_from_checkpoint(checkpoint_dir, batch_id)
            if checkpoint_dir is not None
            else None
        )
        arrow_tbl = _batch_docs_arrow(batch, max_rows, files=files)
        if arrow_tbl is not None:
            segs = maint.upsert_arrow_small(
                arrow_tbl,
                sort_cols=("conv_id", "turn_idx"),
                seal=(cadence is None),
            )
            if segs is not None:
                if segs:
                    index.reopen()
                    if cadence is not None:
                        cadence.note_batch()
                elif cadence is not None:
                    cadence.note_empty_batch()
                return
    # no isEmpty() precheck: that is a whole Spark job per micro-batch,
    # and upsert's own changed-count early-returns on empty input anyway
    docs = transcript_batch_to_docs(batch).dropDuplicates(["doc_id"])
    # Scope AQE OFF and shuffle parallelism DOWN for the micro-batch
    # commit: on a 6k-row batch AQE splits every action into
    # stage-materialization sub-jobs (measured 38-45 jobs/batch vs 20-27
    # without), and a session-level shuffle.partitions sized for corpus
    # builds schedules 64 near-empty tasks per join/agg — job-launch and
    # task-launch latency, not data, are the entire cost at watch-mode
    # sizes (measured 3.2s/batch at 16 shuffle partitions vs 5.0s at 64,
    # same host).  Catch-up-sized commits (direct upsert calls) keep the
    # session settings for AQE's skew handling and full parallelism.
    # TWO sessions plan this commit: `batch.sparkSession` is the
    # stream-scoped CLONE (frames derived from the batch plan AND action
    # under it), while maintenance-side frames (docs/tombstone reads, the
    # posting exchange) plan under whichever session the maintenance
    # facade holds — overriding only the stream clone left the commit's
    # heavy stages at corpus-sized parallelism with AQE sub-jobs
    # (measured +0.4 s/batch vs the same body on a static frame).
    # The maintenance side gets a dedicated cached clone so the watch
    # conf never touches the index's primary session (concurrent queries
    # keep AQE + full parallelism); the stream clone is scoped to this
    # stream's micro-batches, so mutating it (with restore) is safe.
    maint = _commit_maintenance(index)
    sessions = {batch.sparkSession}
    if maint.spark is index.spark:
        # clone seam unavailable: fall back to scoped save/restore on the
        # primary session (the round-4 behavior)
        sessions.add(index.spark)
    aqe_key = "spark.sql.adaptive.enabled"
    shuf_key = "spark.sql.shuffle.partitions"
    prev = [
        (s, s.conf.get(aqe_key, "true"), s.conf.get(shuf_key, "200"))
        for s in sessions
    ]
    for s in sessions:
        s.conf.set(aqe_key, "false")
        s.conf.set(shuf_key, "8")
    try:
        if cadence is None:
            if maint.upsert(docs, sort_cols=("conv_id", "turn_idx")):
                index.reopen()
            return
        if maint.upsert(docs, sort_cols=("conv_id", "turn_idx"), seal=False):
            index.reopen()
            cadence.note_batch()
        else:
            cadence.note_empty_batch()
    finally:
        for s, p_aqe, p_shuf in prev:
            s.conf.set(aqe_key, p_aqe)
            s.conf.set(shuf_key, p_shuf)


class IngestQuery:
    """StreamingQuery wrapper that seals the staged tail on drain.

    foreachBatch has no end-of-stream hook, so the final cadence window
    would stay unsealed when an ``availableNow`` stream stops; this proxy
    runs the final seal after the wrapped query terminates.  The seal
    only fires when the query is no longer active, so it follows the
    last batch rather than landing between two of them; while the stream
    runs, seals happen only on the micro-batch thread itself.  (Commits
    from other threads cannot drop a batch either way: every writer holds
    the index's writer lock from its record read to its publish.)
    """

    def __init__(self, query, cadence: SealCadence) -> None:
        self._query = query
        self._cadence = cadence

    def _seal_if_drained(self) -> None:
        if not self._query.isActive:
            self._cadence.seal()

    def awaitTermination(self, timeout: Optional[int] = None):
        out = self._query.awaitTermination(timeout)
        self._seal_if_drained()
        return out

    def processAllAvailable(self) -> None:
        self._query.processAllAvailable()
        self._seal_if_drained()

    def stop(self) -> None:
        self._query.stop()
        self._query.awaitTermination(60)
        self._seal_if_drained()

    def __getattr__(self, name):
        return getattr(self._query, name)


def stream_ingest(
    index: LexicalIndex,
    transcripts: DataFrame,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    watermark: Optional[str] = "10 minutes",
    seal_every_batches: int = 4,
    seal_every_sec: float = 30.0,
):
    """Attach the incremental-ingest sink to a streaming transcript frame.

    Returns the started query (an :class:`IngestQuery` proxy — drop-in
    for ``StreamingQuery``).  ``availableNow`` drains the backlog and
    stops (the batch-catchup mode); pass False for a continuous
    micro-batch loop.  The watermark bounds state for upstream event-time
    operators; the sink itself is stateless (identity upsert).

    ``seal_every_batches`` / ``seal_every_sec`` set the debounce window:
    batches stage unsealed and the window publishes to default readers at
    whichever threshold trips first (``seal_every_batches=1`` restores
    the old seal-per-batch commit).  ``awaitTermination`` / ``stop`` on
    the returned proxy seal whatever tail is still staged.
    """
    # The zero-collect file route (offset-log file discovery) is only
    # sound when the batch IS the raw source files: any upstream
    # transform (a Filter dropping rows, a Project rewriting text) is
    # invisible at batch time — foreachBatch hands the sink an opaque
    # LogicalRDD — but IS visible here on the un-started streaming plan.
    # Trust the checkpoint's file lists only for a bare StreamingRelation
    # input; everything else keeps the bounded per-batch collect.
    raw_source = False
    try:
        plan = str(transcripts._jdf.queryExecution().analyzed()).strip()
        # a bare file source analyzes to the single node
        # ``FileSource[<path>]`` (``StreamingRelation ...`` on older
        # layouts); ANY second plan line is a transform — distrust
        raw_source = "\n" not in plan and (
            plan.startswith("FileSource[")
            or plan.lstrip("~'").startswith("StreamingRelation")
        )
    except Exception:
        raw_source = False
    if watermark:
        transcripts = transcripts.withWatermark("ts", watermark)
    cadence = SealCadence(index, seal_every_batches, seal_every_sec)
    ckpt_for_files = checkpoint_dir if raw_source else None
    writer = (
        transcripts.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda batch, bid: upsert_batch(
                index, batch, bid, cadence, checkpoint_dir=ckpt_for_files
            )
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return IngestQuery(writer.start(), cadence)
