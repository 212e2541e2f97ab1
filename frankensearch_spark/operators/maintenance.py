"""Index maintenance: upsert / delete / compaction / merge / GC.

Spark-first rebuild of the reference's keeper maintenance surface
(reference: ``quill/src/keeper.rs`` — tombstones in the manifest, segments
immutable; ``index.rs:5489`` index_documents_with_replacements;
``keeper.rs:3261`` concat_merge; ``keeper.rs:204`` CompactionPolicy;
``keeper.rs:1347`` TierMergePolicy; GC per plan §11.4):

* **Everything is append-only**: segment data lands under fresh segment
  ids and tombstones in fresh files, and each mutation ends by publishing
  one new manifest record (``IndexStorage.publish``, one ``os.replace``).
  Mutations hold the index's writer lock from the record read they start
  from to that publish, so they run one at a time.  Readers take no lock
  and pin the record they opened, so concurrent queries keep seeing the
  previous generation until they reopen (snapshot isolation,
  Iceberg-style).
* **Delete** appends ``(segment_id, docid, generation)`` tombstones;
  segment files are untouched and BM25 stats stay at-seal (reference
  ``quiver.rs:11877``).  The generation tag gates visibility: readers
  honor only tombstones whose generation <= their pinned manifest
  generation, which is what makes upsert atomic for readers.
* **Upsert** = tombstone the previous docids of matching doc_ids + index
  the batch as NEW segments under NEW docids from the high-watermark
  (docids are monotone, never reused — ``argus.rs:32``).
* **Compaction** rewrites a tombstone-heavy segment into a fresh segment id
  with dead docs dropped but surviving docids PRESERVED (gaps legal — plan
  Q1-OB4); its at-seal stats are replaced by live stats (reference
  ``keeper.rs:4503`` adjust_compaction_field_stats); its tombstones fold.
* **Concat-merge** unifies bound-consecutive segments into one: because
  docids are global and ranges disjoint, posting blocks concatenate with
  no rebase (the Q1 theorem, plan §7) — here block rows are re-keyed to
  the output segment and renumbered in first_doc order; stats are summed.
* **GC** deletes segment partition directories and tombstone files no
  longer named by the record, after maintenance has superseded them.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codec import encode_entries_expr, with_decoded_docids
from ..functions.contract import POSTINGS_PER_BLOCK
from ..sources.storage import (
    TOMBSTONE_BROADCAST_MAX,
    GenerationState,
    IndexMeta,
    IndexStorage,
    hidden_generations,
    pin_segments,
    segment_row,
)
from .build import TARGET_DOCS_PER_SEGMENT, append_segment_batch

#: Rewrite a segment when tombstoned docs reach this share (config.rs:29).
DEFAULT_TOMBSTONE_DENSITY = 0.20

#: Don't mint an upsert segment for fewer rows than this: below it the
#: extra (segment, bucket) exchange partitions buy no wall-clock (the
#: per-task work is already tiny) while every segment adds a record row
#: and tier-merge pressure.  One eighth of the reference's 64Ki lease.
UPSERT_MIN_ROWS_PER_SEGMENT = 1 << 13


def _auto_upsert_segments(n_rows: int, parallelism: int, num_buckets: int) -> int:
    """Segments for an upsert batch of ``n_rows``.

    Three forces, mirrorring build_index's auto-sizing at batch scale:

    * the posting exchange partitions by (segment, bucket) — a big batch
      needs ``2 × parallelism / num_buckets`` segments so every core gets
      ~2 tasks and stragglers amortize (num_segments=1 throttled a
      100k-row commit to B tasks; 2 tasks/core A/B-measured ~20% faster
      than 1 — BENCH.md);
    * tiny (watch-mode) batches must stay at ONE segment — extra segments
      are pure record/merge pressure (:data:`UPSERT_MIN_ROWS_PER_SEGMENT`);
    * the per-(segment, term) shuffle-group skew bound caps segment size
      at :data:`TARGET_DOCS_PER_SEGMENT` (the 64Ki-lease discipline),
      exactly as in the cold build.
    """
    by_parallelism = min(
        -(-int(n_rows) // UPSERT_MIN_ROWS_PER_SEGMENT),
        -(-2 * max(1, int(parallelism)) // max(1, int(num_buckets))),
    )
    by_skew = -(-int(n_rows) // TARGET_DOCS_PER_SEGMENT)
    return max(1, by_parallelism, by_skew)

#: Tombstone batches at or under this many rows are written as ONE
#: pyarrow file on the driver (storage.write_tombstone_rows) instead of a
#: scheduled Spark write — the interactive-delete / watch-mode shape.
#: Collecting this many (docid, segment_id, generation) rows is ~1.5 MB;
#: the Spark write it replaces is a fixed ~0.3-0.5 s job per micro-batch.
DRIVER_TOMBSTONE_APPEND_MAX = 1 << 16

#: Merge when a tier holds at least this many consecutive runs (config.rs:21).
DEFAULT_MERGE_FANOUT = 8

#: Docid-range width of a "small" tier segment (one lease, scribe.rs:82).
SMALL_TIER_WIDTH = 1 << 16


def _writes(method):
    """Run a mutation under the index's writer lock
    (:meth:`IndexStorage.writer`): no other commit lands between the
    record it reads and the record it publishes."""

    @functools.wraps(method)
    def locked(self, *args, **kwargs):
        with self.storage.writer():
            return method(self, *args, **kwargs)

    return locked


class IndexMaintenance:
    """Maintenance operations over one index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.storage = IndexStorage(spark, index_dir)
        self.meta: IndexMeta = self.storage.read_meta()
        self.storage.check_format(self.meta)
        #: Force-broadcast the dead-docid anti-joins in compaction only up
        #: to this many tombstones; larger sets use plain shuffled joins
        #: (same gate as SearchEngine — see storage.TOMBSTONE_BROADCAST_MAX).
        self.tombstone_broadcast_max = TOMBSTONE_BROADCAST_MAX

    # ── delete / upsert ───────────────────────────────────────────────────

    def delete(self, doc_ids: Sequence[str]) -> int:
        """Tombstone every live doc whose ``doc_id`` is in ``doc_ids``.

        Returns the number of newly tombstoned docids.  The list form is
        for small interactive deletes; bulk deletes should pass a frame
        to :meth:`delete_frame` (nothing is collected to the driver).
        """
        if not doc_ids:
            return 0
        ids = self.spark.createDataFrame(
            [(str(i),) for i in doc_ids], "doc_id string"
        )
        return self.delete_frame(ids)

    @_writes
    def delete_frame(self, ids: DataFrame) -> int:
        """Tombstone live docs matching ``ids`` (a doc_id frame) — fully
        distributed: identity resolution is a join against the docs table
        (the IDHASH analogue), never a driver-side list.  The new rows
        are tagged with the CURRENT generation and become visible at this
        call's publish.
        """
        rec = self.storage.read_manifest()
        n, files = self._stage_tombstones(rec, ids)
        if n:
            self.storage.publish(self.storage.with_tombstones(rec, files, n))
        return n

    def _stage_tombstones(
        self,
        rec: dict,
        ids: DataFrame,
        generation: Optional[int] = None,
        include_unsealed: bool = False,
        resolved: Optional[DataFrame] = None,
        dedup_against_pending: bool = True,
    ) -> tuple[int, list[str]]:
        """Write tombstone files for the live docs of ``ids`` in the view
        of ``rec``; return ``(newly tombstoned docids, file names)``.
        Nothing is visible until a record names the files.

        ``generation`` tags the rows with the generation at which they
        become visible; default = the record's current one.  Upsert
        passes the NEXT generation and ``include_unsealed=True`` so copies
        in still-pending unsealed segments are tombstoned too (an
        upsert-over-pending-upsert must not leave two live copies after
        seal).

        ``resolved`` (optional) short-circuits the docs-table scan: a
        (doc_id, segment_id, docid) frame the CALLER already resolved
        against the same live view and that covers every doc_id in
        ``ids``.  Upsert passes its content-hash ``matched`` cache here so
        a commit scans the docs table ONCE.
        """
        rows = rec["segments"]
        state = self.storage.state_from_snapshot(rows)
        if generation is None:
            generation = state.current()
        if resolved is not None:
            # batch-sized caller cache, broadcast-joined: no corpus scan
            docs = resolved.join(
                F.broadcast(ids.select("doc_id").distinct()),
                on="doc_id",
                how="leftsemi",
            ).select("segment_id", "docid")
        else:
            live = self.storage.live_from_snapshot(
                rows, include_unsealed=include_unsealed
            )
            if not live:
                return 0, []
            docs = (
                pin_segments(
                    self.storage.read("docs"), live,
                    self.storage.segment_pin_isin_max,
                )
                .join(ids.select("doc_id").distinct(), on="doc_id", how="leftsemi")
                .select("segment_id", "docid")
            )
        prior = self.storage.read_tombstones(rec)
        if prior is not None:
            # dedup against rows ACTIVE at (or before) the target
            # generation only: a tombstone staged by a PENDING unsealed
            # batch must not suppress an immediately-visible delete of the
            # same docid, and neither must a row whose batch sealed at a
            # later activation.  An UNSEALED upsert staging its own
            # tombstones keeps deduping against pending rows: both
            # batches' docids die at seal regardless.  A SEALED upsert
            # over a still-pending copy must NOT rely on a pending row
            # (dedup_against_pending=False): its delete has to be active
            # the moment it publishes.  Duplicate docids across
            # generations are fine — readers take distinct.
            prior = prior.where(F.col("generation") <= int(generation))
            if not include_unsealed:
                inactive = hidden_generations(int(generation), state, False)
                if inactive:
                    prior = prior.where(~F.col("generation").isin(inactive))
            elif not dedup_against_pending and state.unsealed:
                prior = prior.where(~F.col("generation").isin(sorted(state.unsealed)))
            docs = docs.join(prior.select("docid"), on="docid", how="left_anti")
        docs = docs.select(
            F.col("docid").cast("long"),
            F.col("segment_id").cast("int"),
            F.lit(int(generation)).cast("long").alias("generation"),
        ).persist()
        try:
            # ONE job for the watch-mode shape: limit(MAX+1).collect()
            # either returns the complete set (≤ MAX rows — limit can
            # only truncate, so a result under the cap IS the whole
            # frame) ready for the zero-job driver-side write, or proves
            # the set is big and the count + distributed write runs
            # instead.  The cap bounds the collect at ~1.5 MB.
            head = docs.limit(DRIVER_TOMBSTONE_APPEND_MAX + 1).collect()
            n = len(head) if len(head) <= DRIVER_TOMBSTONE_APPEND_MAX else docs.count()
            if n == 0:
                return 0, []
            if len(head) == n and self.storage.tombstone_file_count(n) == 1:
                return n, self.storage.write_tombstone_rows(
                    [r["docid"] for r in head],
                    [r["segment_id"] for r in head],
                    generation,
                )
            return n, self.storage.write_tombstone_frame(docs, n)
        finally:
            docs.unpersist()

    @_writes
    def delete_all(self) -> int:
        """Tombstone every live doc (reference writer ``delete_all``)."""
        live = self.storage.live_segments()
        ids = pin_segments(
            self.storage.read("docs"), live, self.storage.segment_pin_isin_max
        ).select("doc_id")
        return self.delete_frame(ids)

    @_writes
    def upsert(
        self,
        df: DataFrame,
        sort_cols: Sequence[str] = ("doc_id",),
        num_segments: Optional[int] = None,
        seal: bool = True,
    ) -> list[int]:
        """Replace-or-add a batch: tombstone old docids, index under new.

        Mirrors ``index_documents_with_replacements`` (index.rs:5489) with
        two Spark-scale refinements:

        * **Content-hash skip** (reference xxh3 witness, index.rs:10231):
          docs whose (doc_id, content_hash) already exists live are NOT
          re-indexed — watch-mode re-saves of unchanged files cost one
          anti-join, zero writes.
        * **Atomic replace**: tombstones are staged tagged with the NEXT
          generation in files that only the batch's own record publish
          names, so a reader opening mid-upsert sees either the complete
          old generation or the complete new one, never deletes without
          replacements.  Crash before the publish = replay the batch
          (same crash-only contract as bulk load).

        Everything is joins; no doc_id list ever lands on the driver.

        Contract: upsert is the INCREMENTAL path — batches up to catch-up
        size (~10^5-10^6 rows), where broadcasting the batch's doc_id set
        against the corpus (the one-scan identity resolution below) costs
        MBs.  Corpus-scale loads belong to the bulk path
        (``operators/bulk.py``), which never broadcasts the input side.

        Scale shape of the identity probe: ONE column-pruned scan of the
        docs table per commit (doc_id, content_hash, docid, segment_id —
        no text bytes), shuffle-free via the broadcast semi-join.  That
        is the honest Spark analogue of the reference's per-segment
        IDHASH probe (index.rs:10231): at 10^9+ docs the scan is the
        per-commit floor, and a deployment that needs sub-scan identity
        lookups should bucket the docs table by doc_id so the semi-join
        prunes to matching buckets — a layout choice, not an engine
        change.

        ``seal=False`` publishes the batch's segment rows with
        ``status='unsealed'`` and does NOT advance the committed
        generation: default readers keep seeing the previous generation
        intact, while readers opened with ``include_unsealed=True`` see
        the batch immediately (pre-commit delta visibility, reference
        ``quill/src/delta.rs:1-37``).  :meth:`seal` later flips the rows
        and commits the generation for everyone.  Crash before seal:
        replay the upsert or call :meth:`seal` — both converge (the data
        tables are already durable; duplicate-then-delete idempotence).
        """
        from .build import content_hash_expr

        rec = self.storage.read_manifest()
        batch = df.withColumn("_chash", content_hash_expr(self.meta, df))
        # pending unsealed copies count as live for dedup/replacement: an
        # upsert over a not-yet-sealed upsert of the same doc_id must
        # tombstone the pending copy too, or seal() publishes duplicates
        live_segs = self.storage.live_from_snapshot(
            rec["segments"], include_unsealed=True
        )
        changed = batch
        matched: Optional[DataFrame] = None
        if live_segs:
            docs = pin_segments(
                self.storage.read("docs"), live_segs,
                self.storage.segment_pin_isin_max,
            )
            if "content_hash" in docs.columns:
                # ONE corpus scan per commit: the live copies of THIS
                # batch's doc_ids (a batch-sized frame, persisted) feed
                # both the content-hash skip below and the tombstone
                # staging (resolved=...).  Broadcasting the batch-ids
                # side keeps the corpus side shuffle-free (upsert is the
                # incremental path: batches are bounded, the corpus is
                # not).
                matched = (
                    docs.select(
                        "doc_id",
                        F.col("content_hash").alias("_chash"),
                        "docid",
                        "segment_id",
                    )
                    .join(
                        F.broadcast(batch.select("doc_id").distinct()),
                        on="doc_id",
                        how="leftsemi",
                    )
                    .persist()
                )
                identical = matched
                tombs = self.storage.read_tombstones(rec)
                if tombs is not None:
                    identical = identical.join(
                        tombs.select("docid"), on="docid", how="left_anti"
                    )
                changed = batch.join(
                    F.broadcast(identical.select("doc_id", "_chash").distinct()),
                    on=["doc_id", "_chash"],
                    how="left_anti",
                )
        # persist WITHOUT counting: the docid range partitioner's sample
        # pass materializes the cache as a side effect, and the partition
        # count job inside append_segment_batch (needed anyway for the
        # docid prefix sums) reports the changed-row count.
        changed = changed.drop("_chash").persist()
        try:
            # Size the batch build like build_index does: the posting
            # exchange partitions by (segment, bucket), so a fixed
            # num_segments=1 throttled a 100k-row commit to B tasks on
            # any cluster (measured 2.4x slower than 4 segments at
            # local[32]); micro-batches stay at 1 segment.  Deferred via
            # num_segments_fn so it keys on the measured changed count.
            parallelism = self.spark.sparkContext.defaultParallelism
            num_buckets = self.meta.num_buckets

            def auto_segments(n_changed: int) -> int:
                return _auto_upsert_segments(n_changed, parallelism, num_buckets)

            # UNIQUE across sealed AND pending-unsealed commits: if a
            # sealed commit reused a pending batch's generation, a reader
            # pinning the sealed generation would activate the pending
            # batch's staged tombstones without its segments
            gen_next = self.storage.state_from_snapshot(rec["segments"]).any_gen + 1

            def stage_tombstones():
                # `matched` was resolved against the SAME include_unsealed
                # live view and covers every batch doc_id, so the staging
                # join never rescans the docs table (resolved contract).
                return self._stage_tombstones(
                    rec,
                    changed.select("doc_id"),
                    generation=gen_next,
                    include_unsealed=True,
                    resolved=(
                        None
                        if matched is None
                        else matched.select("doc_id", "segment_id", "docid")
                    ),
                    # a sealed commit's deletes activate with its own
                    # publish; relying on a pending batch's row would
                    # leave the old committed copy visible until seal()
                    dedup_against_pending=not seal,
                )

            return append_segment_batch(
                self.spark,
                changed,
                self.storage,
                self.meta,
                sort_cols=list(sort_cols),
                num_segments=num_segments,
                docid_base=rec["next_docid"],
                segment_base=rec["next_segment"],
                generation=gen_next,
                pre_publish=stage_tombstones,
                manifest_status="sealed" if seal else "unsealed",
                num_segments_fn=auto_segments if num_segments is None else None,
            )
        finally:
            changed.unpersist()
            if matched is not None:
                matched.unpersist()

    @_writes
    def upsert_arrow_small(
        self,
        table,
        sort_cols: Sequence[str] = ("doc_id",),
        seal: bool = True,
    ) -> Optional[list[int]]:
        """Driver-side micro-commit of a small pyarrow document batch.

        The watch-mode fast path (``operators/microcommit.py``): at or
        under the driver-commit row gate the whole upsert protocol runs
        on the driver with zero Spark jobs (same tokenizer kernels, same
        posting codec, same commit protocol), which removes the ~8
        fixed-latency jobs a micro-batch otherwise pays.  Returns the
        new segment ids, ``[]`` for a no-change commit, or ``None`` when
        ineligible — callers fall back to :meth:`upsert` with the
        original DataFrame.  ``table`` must already be deduplicated on
        ``doc_id``.
        """
        from .microcommit import upsert_arrow_driver

        return upsert_arrow_driver(self, table, list(sort_cols), seal)

    @_writes
    def seal(self) -> list[int]:
        """Commit previously unsealed segments for all readers.

        Publishes a record whose ``unsealed`` rows are flipped to
        ``sealed`` at a fresh generation, activating the tombstones those
        upserts staged — delete-of-old and add-of-new appear together,
        same as a sealed upsert.  Pure driver work: no Spark job.
        Returns the segment ids that were sealed (empty when nothing was
        pending).
        """
        from .microcommit import carry_identity_cache

        rec = self.storage.read_manifest()
        rows = rec["segments"]
        pending = sorted(r["segment_id"] for r in rows if r["status"] == "unsealed")
        if not pending:
            return []
        # Activation happens at a FRESH generation (snapshot immutability:
        # VERSION AS OF g means the same thing before and after this
        # seal).  The staged generation stays on the rows as the batch
        # identity — ``sealed_at`` is the generation at which the batch
        # (segments AND its staged tombstones) becomes visible.
        gen_next = self.storage.state_from_snapshot(rows).any_gen + 1
        published = self.storage.publish(
            dict(
                rec,
                segments=[
                    dict(r, status="sealed", sealed_at=gen_next)
                    if r["status"] == "unsealed"
                    else r
                    for r in rows
                ],
                # the staged deletes activate with their batches
                tombstone_rows=rec["tombstone_rows"] + rec["pending_tombstone_rows"],
                pending_tombstone_rows=0,
            )
        )
        # a seal changes neither the docs nor the tombstone files
        carry_identity_cache(self.storage.index_dir, rec["seq"], published["seq"])
        return pending

    # ── compaction ────────────────────────────────────────────────────────

    def _reader_active_tombstones(
        self, tombs: DataFrame, state: GenerationState
    ) -> DataFrame:
        """Restrict ``tombs`` to rows a default (committed-view) reader
        applies: ``generation <= committed watermark`` and not staged by a
        still-pending unsealed batch.

        This is the fold-safety predicate: compaction must never
        physically drop a docid no reader sees as deleted.
        """
        tombs = tombs.where(F.col("generation") <= int(state.current()))
        pending = sorted(state.unsealed)
        if pending:
            tombs = tombs.where(~F.col("generation").isin(pending))
        return tombs

    def tombstone_density(self, rec: Optional[dict] = None) -> dict[int, float]:
        """Per-live-segment tombstone share (0.0 when no tombstones)."""
        rec = rec or self.storage.read_manifest()
        rows = rec["segments"]
        live = self.storage.live_from_snapshot(rows)
        tombs = self.storage.read_tombstones(rec)
        if tombs is None:
            return {s: 0.0 for s in live}
        # pending rows are not reclaimable space — the fold excludes
        # them, so counting them would trigger rewrites that reclaim
        # nothing
        tombs = self._reader_active_tombstones(
            tombs, self.storage.state_from_snapshot(rows)
        )
        counts = {
            r["segment_id"]: r["n"]
            for r in pin_segments(tombs, live, self.storage.segment_pin_isin_max)
            .groupBy("segment_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        docs = {r["segment_id"]: r["doc_count"] for r in rows}
        return {
            s: (counts.get(s, 0) / docs[s] if docs.get(s) else 0.0) for s in live
        }

    @_writes
    def compact(
        self, max_density: float = DEFAULT_TOMBSTONE_DENSITY
    ) -> dict[int, int]:
        """Rewrite segments whose tombstone density reaches ``max_density``.

        Each source segment becomes a fresh output segment id with dead
        docs dropped, docids preserved, posting blocks re-packed to 128,
        and live at-seal stats.  Returns {source_segment: output_segment}.
        """
        rec = self.storage.read_manifest()
        density = self.tombstone_density(rec)
        victims = sorted(s for s, d in density.items() if d >= max_density and d > 0)
        if not victims:
            return {}
        mapping = {src: rec["next_segment"] + i for i, src in enumerate(victims)}
        out = self._rewrite_segments(rec, mapping)
        self._publish_supersede(rec, mapping, out, fold_tombstones=True)
        return mapping

    # ── concat merge ──────────────────────────────────────────────────────

    def plan_tier_merge(self, fanout: int = DEFAULT_MERGE_FANOUT) -> list[list[int]]:
        """Runs of >=``fanout`` docid-consecutive same-tier segments.

        Tier = size class of the docid-range width (small <= one 64Ki
        lease, then doubling classes) — reference ``keeper.rs:1459``
        plan_tier_merge simplified to the consecutive-run rule.  Planned
        from the record's rows: no Spark job.
        """
        rec = self.storage.read_manifest()
        live = set(self.storage.live_from_snapshot(rec["segments"]))
        rows = sorted(
            (r for r in rec["segments"] if r["segment_id"] in live),
            key=lambda r: r["docid_lo"],
        )

        def tier(width: int) -> int:
            t = 0
            w = SMALL_TIER_WIDTH
            while width > w:
                w *= 8
                t += 1
            return t

        plans: list[list[int]] = []
        run: list = []
        prev_hi = None
        prev_tier = None
        for r in rows:
            t = tier(r["docid_hi"] - r["docid_lo"])
            consecutive = prev_hi is None or r["docid_lo"] >= prev_hi
            if run and (t != prev_tier or not consecutive):
                if len(run) >= fanout:
                    plans.append([x["segment_id"] for x in run])
                run = []
            run.append(r)
            prev_hi = r["docid_hi"]
            prev_tier = t
        if len(run) >= fanout:
            plans.append([x["segment_id"] for x in run])
        return plans

    @_writes
    def concat_merge(self, segment_ids: Sequence[int]) -> int:
        """Merge ordered, docid-disjoint segments into one output segment.

        The Q1 concat law: global docids need no rebase, so per-term
        posting blocks are copied with only their segment key and block
        ordinal rewritten (ordered by first_doc); stats rows sum.
        Query results are invariant (merged ≡ unmerged — plan Q1-OB3).
        """
        segment_ids = sorted(segment_ids)
        rec = self.storage.read_manifest()
        out_seg = rec["next_segment"]
        mapping = {s: out_seg for s in segment_ids}
        # docs / doclens / postings: re-key to the output segment (the
        # dictionary rides inside the posting blocks).
        # mode("overwrite") + dynamic partition overwrite replaces exactly
        # the output segment's partitions, so a merge that crashed after
        # some writes re-runs idempotently (the unpublished record still
        # holds the old watermark, so the replay re-mints the SAME
        # out_seg — append would double every row on replay).
        for table in ("docs", "doclens"):
            df = (
                self.storage.read(table)
                .where(F.col("segment_id").isin(segment_ids))
                .withColumn("segment_id", F.lit(out_seg))
            )
            self.storage.write_table(df, table, "overwrite", partition_by=("segment_id",))
        # Blocks are copied as-is (Q1: no docid rebase) with the block
        # ordinal recomputed across the concatenated inputs; the embedded
        # dictionary (term_df/term_cf = the term's full per-segment
        # totals) is recomputed as window sums over the SAME (field, term)
        # partitioning the block reorder already shuffles on, so the merge
        # stays one exchange and no separate dictionary copy exists.
        w = Window.partitionBy("field", "term").orderBy("first_doc")
        w_all = Window.partitionBy("field", "term")
        postings = (
            self.storage.read("postings")
            .where(F.col("segment_id").isin(segment_ids))
            .withColumn("segment_id", F.lit(out_seg))
            .withColumn("block_id", (F.row_number().over(w) - F.lit(1)).cast("int"))
            .withColumn("term_df", F.sum("count").over(w_all).cast("long"))
            .withColumn("term_cf", F.sum("block_cf").over(w_all).cast("long"))
        )
        self.storage.write_table(
            postings, "postings", "overwrite", partition_by=("segment_id", "bucket")
        )
        # the output's stats are the sums of its sources' record rows
        srcs = [r for r in rec["segments"] if r["segment_id"] in mapping]
        stats = {
            f: (
                sum(r["stats"][f][0] for r in srcs),
                sum(r["stats"][f][1] for r in srcs),
            )
            for f in self.meta.text_fields
        }
        out = {
            "doc_count": sum(r["doc_count"] for r in srcs),
            "docid_lo": min(r["docid_lo"] for r in srcs),
            "docid_hi": max(r["docid_hi"] for r in srcs),
            "stats": stats,
        }
        self._publish_supersede(rec, mapping, {out_seg: out}, remap_tombstones=True)
        return out_seg

    # ── GC ────────────────────────────────────────────────────────────────

    @_writes
    def gc(
        self,
        expire_history: bool = True,
        orphan_grace_sec: float | None = None,
    ) -> list[str]:
        """Delete segment directories no current/pending reader can reach
        (the writer-admitted GC of plan §11.4) and, by default, expire the
        superseded history with them (the Iceberg expire-snapshots
        analogue — ``at_generation`` readers below the recorded
        ``history_floor`` are refused afterwards, instead of silently
        reading vanished files).  Returns removed paths.

        ``expire_history=False`` keeps time travel intact — superseded
        segments stay on disk precisely because history rows still
        reference them — but still sweeps crash orphans: segment
        directories whose id appears in NO record row at all (live,
        superseded, or unsealed) are unreachable by every reader
        including time travel (e.g. a ``_rewrite_segments`` output whose
        publish never ran; a replay re-mints the same ids and rewrites
        via dynamic partition overwrite).

        Every write protocol lands DATA files first and publishes the
        record after, so an in-flight writer's segments and tombstone
        files look exactly like crash orphans until their publish.  The
        writer lock keeps this package's writers on one host out of a
        gc's way, but not a writer on another host sharing the
        directory, so the sweep still skips anything written within
        ``orphan_grace_sec`` (default :attr:`orphan_grace_sec`, 1h);
        pass ``0`` only when no concurrent writer can exist.

        Tombstone files are never rewritten in place: expiry writes the
        reduced set as NEW files (only when some row was superseded —
        otherwise the named set is already reduced and stays as it is),
        and a file is deleted only when
        neither the record this gc read nor the one it publishes names
        it (and it is past the grace), so a reader opened before this gc
        keeps its files until a second gc.  Superseded SEGMENT
        directories, by contrast, are reclaimed immediately: a reader
        pinned to segments superseded before this gc loses them — the
        "no reader pinned to superseded history" contract.
        """
        if orphan_grace_sec is not None:
            self.orphan_grace_sec = float(orphan_grace_sec)
        rec = self.storage.read_manifest()
        rows = rec["segments"]
        if not expire_history:
            referenced = {r["segment_id"] for r in rows}
            return self._sweep_segment_dirs(
                keep=referenced
            ) + self.storage.sweep_tombstone_files(
                set(rec["tombstone_files"]), self.orphan_grace_sec
            )
        # unsealed segments are pending, not garbage: their seal() must
        # still find the data dirs
        keep = set(self.storage.live_from_snapshot(rows, include_unsealed=True))
        # Segments with a superseded row are PROVABLY published (an
        # in-flight writer's dirs have no row at all), so the orphan grace
        # window does not apply to them.
        expired = {r["segment_id"] for r in rows if r["superseded_at"] is not None} - keep
        new = dict(
            rec,
            segments=[r for r in rows if r["superseded_at"] is None],
            history_floor=max(
                rec["history_floor"], self.storage.state_from_snapshot(rows).current()
            ),
        )
        tombs = self.storage.read_tombstones(rec) if expired else None
        if tombs is not None:
            kept = pin_segments(
                tombs, sorted(keep), self.storage.segment_pin_isin_max
            ).persist()
            active, pending = self.storage.split_pending(
                kept, self.storage.state_from_snapshot(rows).unsealed
            )
            n = active + pending
            new = self.storage.with_tombstones(
                dict(
                    new, tombstone_files=[], tombstone_rows=0, pending_tombstone_rows=0
                ),
                self.storage.write_tombstone_frame(kept, n) if n else [],
                active,
                pending,
            )
            kept.unpersist()
        # publish BEFORE touching files: a crash mid-gc then leaves only
        # unnamed files (the next gc sweeps them), never a record naming
        # vanished ones
        self.storage.publish(new)
        return self._sweep_segment_dirs(
            keep=keep, force=expired
        ) + self.storage.sweep_tombstone_files(
            set(rec["tombstone_files"]) | set(new["tombstone_files"]),
            self.orphan_grace_sec,
        )

    #: Leave an unreferenced segment directory or tombstone file alone
    #: unless it is at least this old.  Every write protocol lands data
    #: FIRST and the record after, so a concurrent in-flight
    #: build/upsert/compaction looks exactly like a crash orphan in the
    #: window before its publish — but its files are fresh, while a real
    #: crash orphan only ages.  Instance attribute so tests (and
    #: deployments with slower commit pipelines) can tune it.
    orphan_grace_sec: float = 3600.0

    def _sweep_segment_dirs(
        self, keep: set, force: set | None = None
    ) -> list[str]:
        """Remove segment partition directories not in ``keep``.

        Grace-gated: see :attr:`orphan_grace_sec` — a dir written within
        the grace window is presumed to be an in-flight writer's and is
        kept for a later gc pass.  ``force`` segments bypass the gate:
        the caller proved they are published garbage (a superseded
        record row), which an in-flight write can never have.
        """
        import time as _time

        now = _time.time()
        removed = []
        for table in ("docs", "doclens", "postings"):
            root = self.storage.path(table)
            if not os.path.isdir(root):
                continue
            for entry in os.listdir(root):
                if not entry.startswith("segment_id="):
                    continue
                seg = int(entry.split("=", 1)[1])
                if seg in keep:
                    continue
                path = os.path.join(root, entry)
                try:
                    newest = max(
                        (e.stat().st_mtime for e in os.scandir(path)),
                        default=os.stat(path).st_mtime,
                    )
                except OSError:
                    continue  # vanished under us (concurrent gc)
                if (force is None or seg not in force) and (
                    now - newest < self.orphan_grace_sec
                ):
                    continue
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
        return removed

    # ── internals ─────────────────────────────────────────────────────────

    def _rewrite_segments(self, rec: dict, mapping: dict[int, int]) -> dict:
        """Write compacted copies of ``mapping`` keys under their new ids;
        return the outputs' record fields (doc_count, docid_lo, docid_hi,
        stats) for those with surviving docs."""
        srcs = sorted(mapping)
        seg_map = F.create_map(
            *[F.lit(x) for pair in mapping.items() for x in pair]
        )
        # Docids are globally unique, so only the victim segments' own
        # tombstones can match their rows — restricting the dead set first
        # keeps it proportional to the segments being rewritten, not the
        # whole index's delete history.
        tombs = self.storage.read_tombstones(rec).where(
            F.col("segment_id").isin(srcs)
        )
        # fold only ACTIVE tombstones: rows staged by a still-unsealed
        # batch activate at seal() together with their replacement
        # segments — folding them here would drop the old copy while the
        # new one is still invisible (the read-path race, re-entered
        # through compaction).  _publish_supersede remaps the excluded
        # pending rows onto the output segment so the delete still lands
        # at seal().
        tombs = self._reader_active_tombstones(
            tombs, self.storage.state_from_snapshot(rec["segments"])
        )
        dead = tombs.select("docid").persist()
        n_dead = dead.count()
        dead_side = (
            F.broadcast(dead) if n_dead <= self.tombstone_broadcast_max else dead
        )
        for table in ("docs", "doclens"):
            df = (
                self.storage.read(table)
                .where(F.col("segment_id").isin(srcs))
                .join(dead_side, on="docid", how="left_anti")
                .withColumn("segment_id", seg_map[F.col("segment_id")])
            )
            # dynamic partition overwrite: crash-replay idempotence (the
            # retry re-mints the same output ids and replaces, not appends)
            self.storage.write_table(df, table, "overwrite", partition_by=("segment_id",))
        # postings: explode entries, drop dead docids, re-pack 128-blocks
        postings = self.storage.read("postings").where(F.col("segment_id").isin(srcs))
        has_positions = "positions" in postings.columns
        decoded = with_decoded_docids(postings)
        zip_cols = ("dec", "entries", "positions") if has_positions else ("dec", "entries")
        exploded = decoded.select(
            "segment_id",
            "field",
            "term",
            "bucket",
            F.explode_outer(F.arrays_zip(*zip_cols)).alias("e"),
        ).select(
            "segment_id",
            "field",
            "term",
            "bucket",
            F.col("e.dec").alias("docid"),
            F.col("e.entries.freq").alias("freq"),
            F.col("e.entries.fnid").alias("fnid"),
            *([F.col("e.positions").alias("positions")] if has_positions else []),
        )
        survivors = exploded.join(dead_side, on="docid", how="left_anti")
        w = Window.partitionBy("segment_id", "field", "term").orderBy("docid")
        blocked = survivors.withColumn(
            "block_id",
            F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(POSTINGS_PER_BLOCK)).cast(
                "int"
            ),
        )
        entry = F.struct(
            F.col("docid"),
            F.col("freq"),
            F.col("fnid"),
            *([F.col("positions")] if has_positions else []),
        )
        agg = blocked.groupBy("segment_id", "field", "term", "bucket", "block_id").agg(
            F.sort_array(F.collect_list(entry)).alias("packed")
        )
        # Embedded dictionary: the survivors' per-segment df/cf are window
        # sums over the same (segment, field, term) partitioning the
        # grouping already clustered on — no extra exchange, and no
        # physical terms table to rebuild afterwards.
        w_term = Window.partitionBy("segment_id", "field", "term")
        agg = agg.withColumn(
            "term_df", F.sum(F.size("packed")).over(w_term).cast("long")
        ).withColumn(
            "term_cf",
            F.sum(F.expr("aggregate(packed.freq, 0L, (a, x) -> a + x)"))
            .over(w_term)
            .cast("long"),
        )
        new_postings = agg.select(
            seg_map[F.col("segment_id")].alias("segment_id"),
            "field",
            "term",
            "block_id",
            "bucket",
            "term_df",
            "term_cf",
            F.element_at("packed", 1)["docid"].alias("first_doc"),
            F.size("packed").cast("int").alias("count"),
            F.least(F.expr("array_max(packed.freq)"), F.lit(255)).cast("int").alias(
                "max_freq_code"
            ),
            F.expr("array_min(packed.fnid)").cast("int").alias("min_fnid"),
            F.expr("aggregate(packed.freq, 0L, (a, x) -> a + x)").alias("block_cf"),
            encode_entries_expr("packed").alias("entries"),
            *(
                [F.expr("transform(packed, e -> e.positions)").alias("positions")]
                if has_positions
                else []
            ),
        )
        self.storage.write_table(
            new_postings, "postings", "overwrite", partition_by=("segment_id", "bucket")
        )
        # fresh live stats for the output segments (dictionary is
        # embedded): one aggregation, collected as O(outputs) rows
        aggs = [
            F.count("*").alias("doc_count"),
            F.min("docid").alias("lo"),
            F.max("docid").alias("hi"),
        ] + [
            F.sum(f"len_{f}").cast("long").alias(f"tokens_{f}")
            for f in self.meta.text_fields
        ]
        out = {
            r["segment_id"]: {
                "doc_count": r["doc_count"],
                "docid_lo": r["lo"],
                "docid_hi": r["hi"] + 1,
                "stats": {
                    f: (r["doc_count"], r[f"tokens_{f}"] or 0)
                    for f in self.meta.text_fields
                },
            }
            for r in self.storage.read("doclens")
            .where(F.col("segment_id").isin(sorted(mapping.values())))
            .groupBy("segment_id")
            .agg(*aggs)
            .collect()
        }
        dead.unpersist()
        return out

    def _publish_supersede(
        self,
        rec: dict,
        mapping: dict[int, int],
        out: dict,
        fold_tombstones: bool = False,
        remap_tombstones: bool = False,
    ) -> None:
        """Publish the record that supersedes ``mapping``'s sources with
        its outputs (``out``: the outputs' doc_count and stats).

        This is the visibility point — readers opening after it see the
        new generation; readers opened before keep the old one (their
        segment dirs survive until :meth:`gc`).
        """
        rows = rec["segments"]
        state = self.storage.state_from_snapshot(rows)
        # unique across pending unsealed batches too — reusing a pending
        # generation would activate its staged tombstones without its
        # segments for readers pinning this commit (see upsert)
        gen_next = state.any_gen + 1
        zero = {"doc_count": 0, "stats": {f: (0, 0) for f in self.meta.text_fields}}
        new_rows = []
        for seg in sorted(set(mapping.values())):
            src = [r for r in rows if mapping.get(r["segment_id"]) == seg]
            o = out.get(seg, zero)
            # The output keeps the full docid span its sources owned,
            # tombstoned docs included: spans drive hydration pruning,
            # and an output whose every doc died still publishes a
            # doc_count=0 row.
            new_rows.append(
                segment_row(
                    seg,
                    gen_next,
                    "sealed",
                    min(r["docid_lo"] for r in src),
                    max(r["docid_hi"] for r in src),
                    o["doc_count"],
                    o["stats"],
                )
            )
        # History retention (the Iceberg snapshot-log analogue): source
        # rows are STAMPED with the superseding generation, not dropped —
        # readers pinned to an older generation (at_generation) keep
        # resolving their exact segment set until gc() expires the
        # history.
        new = self.storage.with_segments(
            dict(
                rec,
                segments=[
                    dict(r, superseded_at=gen_next)
                    if r["segment_id"] in mapping and r["superseded_at"] is None
                    else r
                    for r in rows
                ],
            ),
            new_rows,
        )
        # Tombstone carry-over, as NEW files named by this publish.
        # Folded (active) tombstones need none: a row whose segment is no
        # longer live is definitionally folded (compaction removed its
        # docids physically), and readers scope the pinned set to their
        # live segments.  PENDING rows (staged by a still-unsealed batch)
        # were excluded from the fold, so they must follow their docids to
        # the output segment — stranded on the superseded source id they
        # would be liveness-scoped out after seal() and the delete lost.
        # A merge carries ALL its sources' rows over; each reader's
        # liveness scoping picks exactly one copy.  Copies, not moves:
        # readers pinned before this supersede keep the source rows.
        tombs = self.storage.read_tombstones(rec)
        moved = None
        if tombs is not None:
            in_srcs = F.col("segment_id").isin(sorted(mapping))
            if remap_tombstones:
                moved = tombs.where(in_srcs)
            elif fold_tombstones and state.unsealed:
                moved = tombs.where(
                    in_srcs & F.col("generation").isin(sorted(state.unsealed))
                )
        if moved is not None:
            seg_map = F.create_map(
                *[F.lit(x) for pair in mapping.items() for x in pair]
            )
            moved = moved.withColumn(
                "segment_id", seg_map[F.col("segment_id")]
            ).persist()
            active, pending = self.storage.split_pending(moved, state.unsealed)
            if active + pending:
                new = self.storage.with_tombstones(
                    new,
                    self.storage.write_tombstone_frame(moved, active + pending),
                    active,
                    pending,
                )
            moved.unpersist()
        self.storage.publish(new)
