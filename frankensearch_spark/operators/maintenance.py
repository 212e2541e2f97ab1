"""Index maintenance: upsert / delete / compaction / merge / GC.

Spark-first rebuild of the reference's keeper maintenance surface
(reference: ``quill/src/keeper.rs`` — tombstones in the manifest, segments
immutable; ``index.rs:5489`` index_documents_with_replacements;
``keeper.rs:3261`` concat_merge; ``keeper.rs:204`` CompactionPolicy;
``keeper.rs:1347`` TierMergePolicy; GC per plan §11.4):

* **Everything is append-only** except the (tiny) manifest and tombstone
  tables, which are atomically rewritten — the two-slot MANIFEST publish.
  Readers pin the manifest's live segment set, so concurrent queries keep
  seeing the previous generation until the manifest swap (snapshot
  isolation, Iceberg-style).
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
* **GC** deletes segment partition directories no longer referenced by the
  manifest, after maintenance has superseded them.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codec import encode_entries_expr, with_decoded_docids
from ..functions.contract import POSTINGS_PER_BLOCK
from ..sources.storage import (
    TOMBSTONE_BROADCAST_MAX,
    IndexMeta,
    IndexStorage,
    pin_segments,
)
from .build import TARGET_DOCS_PER_SEGMENT, append_segment_batch

#: Rewrite a segment when tombstoned docs reach this share (config.rs:29).
DEFAULT_TOMBSTONE_DENSITY = 0.20

#: Don't mint an upsert segment for fewer rows than this: below it the
#: extra (segment, bucket) exchange partitions buy no wall-clock (the
#: per-task work is already tiny) while every segment adds a manifest row
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
      are pure manifest/merge pressure (:data:`UPSERT_MIN_ROWS_PER_SEGMENT`);
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

#: Tombstone batches at or under this many rows append as ONE pyarrow
#: file written on the driver (storage.append_driver_side) instead of a
#: scheduled Spark write — the interactive-delete / watch-mode shape.
#: Collecting this many (docid, segment_id, generation) rows is ~1.5 MB;
#: the Spark write it replaces is a fixed ~0.3-0.5 s job per micro-batch.
DRIVER_TOMBSTONE_APPEND_MAX = 1 << 16

#: Merge when a tier holds at least this many consecutive runs (config.rs:21).
DEFAULT_MERGE_FANOUT = 8

#: Docid-range width of a "small" tier segment (one lease, scribe.rs:82).
SMALL_TIER_WIDTH = 1 << 16


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

    def delete_frame(
        self,
        ids: DataFrame,
        generation: Optional[int] = None,
        include_unsealed: bool = False,
        refresh_open_state: bool = True,
        resolved: Optional[DataFrame] = None,
        dedup_against_pending: bool = True,
    ) -> int:
        """Tombstone live docs matching ``ids`` (a doc_id frame) — fully
        distributed: identity resolution is a join against the docs table
        (the IDHASH analogue), never a driver-side list.

        ``generation`` tags the rows with the manifest generation at which
        they become visible; default = the CURRENT generation (immediately
        visible to newly-opened readers).  Upsert passes the NEXT
        generation so its deletes stay invisible until its own manifest
        append (atomic replace), and ``include_unsealed=True`` so copies
        in still-pending unsealed segments are tombstoned too (an
        upsert-over-pending-upsert must not leave two live copies after
        seal).

        ``resolved`` (optional) short-circuits the docs-table scan: a
        (doc_id, segment_id, docid) frame the CALLER already resolved
        against the same live view (``include_unsealed`` must match how it
        was built) and that covers every doc_id in ``ids``.  Upsert passes
        its content-hash ``matched`` cache here so a watch-mode micro-batch
        scans the docs table ONCE per commit instead of twice — at 10^9
        docs that is the difference between a per-batch corpus scan and a
        join against a batch-sized cached frame.
        """
        state = self.storage.generation_state()
        # Rollup fast path: an interactive delete (default generation,
        # committed view) appends only tombstones, and `n` below is
        # EXACTLY the growth of the default view's visible docid set — so
        # a fingerprint-valid pre-mutation rollup updates incrementally
        # (prior + n) with zero extra Spark jobs, instead of re-running a
        # distinct-count over the whole tombstone table per delete.
        # Capture the prior state BEFORE any write so its fingerprint
        # still proves "describes the pre-append tables".
        prior_raw = (
            self.storage.open_state_raw()
            if refresh_open_state
            and generation is None
            and not include_unsealed
            else None
        )
        if generation is None:
            generation = state.current()
        if resolved is not None:
            # batch-sized caller cache, broadcast-joined: no corpus scan
            docs = (
                resolved.join(
                    F.broadcast(ids.select("doc_id").distinct()),
                    on="doc_id",
                    how="leftsemi",
                ).select("segment_id", "docid")
            )
        else:
            live = self.storage.live_segments(include_unsealed=include_unsealed)
            if not live or not self.storage.table_exists("docs"):
                # empty-build index (meta exists, no tables yet) or a
                # concurrent first build mid-flight: nothing to delete
                return 0
            docs = (
                pin_segments(
                    self.storage.read("docs"), live,
                    self.storage.segment_pin_isin_max,
                )
                .join(ids.select("doc_id").distinct(), on="doc_id", how="leftsemi")
                .select("segment_id", "docid")
            )
        if self.storage.table_exists("tombstones"):
            # dedup against rows ACTIVE at (or before) the target
            # generation only: a tombstone staged by a PENDING unsealed
            # batch must not suppress an immediately-visible delete of the
            # same docid (its staged generation may sit BELOW the current
            # sealed one — generations are allocated across pending
            # batches too), and neither must a row whose batch sealed at a
            # later activation.  An UNSEALED upsert staging its own
            # tombstones (include_unsealed=True, dedup_against_pending
            # left True) keeps deduping against pending rows: both
            # batches' docids die at seal regardless.  A SEALED upsert
            # over a still-pending copy must NOT rely on a pending row
            # (dedup_against_pending=False): its delete has to be active
            # the moment its own manifest lands, or default readers —
            # who suppress pending-generation tombstones — see the old
            # committed copy AND the new one until some later seal().
            # Duplicate docids across generations are fine — readers
            # take distinct.
            prior = self.storage.read("tombstones").where(
                F.col("generation") <= int(generation)
            )
            if not include_unsealed:
                inactive = list(state.unsealed) + [
                    g
                    for g, act in state.overrides.items()
                    if act > int(generation)
                ]
                if inactive:
                    prior = prior.where(
                        ~F.col("generation").isin(sorted(set(inactive)))
                    )
            elif not dedup_against_pending:
                pending = sorted(state.unsealed)
                if pending:
                    prior = prior.where(
                        ~F.col("generation").isin(pending)
                    )
            docs = docs.join(
                prior.select("docid"),
                on="docid",
                how="left_anti",
            )
        docs = docs.select(
            F.col("docid").cast("long"),
            F.col("segment_id").cast("int"),
            F.lit(int(generation)).cast("long").alias("generation"),
        ).persist()
        try:
            # ONE job for the watch-mode shape: limit(MAX+1).collect()
            # either returns the complete set (≤ MAX rows — limit can
            # only truncate, so a result under the cap IS the whole
            # frame) ready for the zero-job driver-side append, or
            # proves the set is big and the classic count + distributed
            # write runs instead.  Nothing data-sized ever lands on the
            # driver: the cap bounds the collect at ~1.5 MB.
            head = docs.limit(DRIVER_TOMBSTONE_APPEND_MAX + 1).collect()
            rows = head if len(head) <= DRIVER_TOMBSTONE_APPEND_MAX else None
            n = len(head) if rows is not None else docs.count()
            if n:
                written = rows is not None and self.storage.append_driver_side(
                    "tombstones",
                    {
                        "docid": [r["docid"] for r in rows],
                        "segment_id": [r["segment_id"] for r in rows],
                        "generation": [r["generation"] for r in rows],
                    },
                )
                if not written:
                    # file count sized to the batch: interactive deletes
                    # stay single-file, bulk deletes write in parallel
                    # (the single-writer task was the round-3 scale
                    # bottleneck)
                    out = self.storage.sized_tombstone_frame(docs, n)
                    self.storage.write_table(out, "tombstones", "append")
                # upsert stages its tombstones mid-protocol (pre_publish):
                # its own manifest append refreshes the open state right
                # after, so skip the redundant rollup there
                if refresh_open_state:
                    self.storage.write_open_state(
                        tombstones_appended=int(n), prior_raw=prior_raw
                    )
            return int(n)
        finally:
            docs.unpersist()

    def delete_all(self) -> int:
        """Tombstone every live doc (reference writer ``delete_all``)."""
        live = self.storage.live_segments()
        ids = pin_segments(
            self.storage.read("docs"), live, self.storage.segment_pin_isin_max
        ).select("doc_id")
        return self.delete_frame(ids)

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
          generation and written just before the new segments' manifest
          append, so a reader opening mid-upsert sees either the complete
          old generation or the complete new one, never deletes without
          replacements.  Crash between the two writes = replay the batch
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

        ``seal=False`` publishes the batch's manifest rows with
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

        batch = df.withColumn("_chash", content_hash_expr(self.meta, df))
        # pending unsealed copies count as live for dedup/replacement: an
        # upsert over a not-yet-sealed upsert of the same doc_id must
        # tombstone the pending copy too, or seal() publishes duplicates
        live_segs = self.storage.live_segments(include_unsealed=True)
        changed = batch
        matched: Optional[DataFrame] = None
        if live_segs and self.storage.table_exists("docs"):
            docs = pin_segments(
                self.storage.read("docs"), live_segs,
                self.storage.segment_pin_isin_max,
            )
            if "content_hash" in docs.columns:
                # ONE corpus scan per commit: the live copies of THIS
                # batch's doc_ids (a batch-sized frame, persisted) feed
                # both the content-hash skip below and the tombstone
                # staging (delete_frame resolved=...).  Before the fuse a
                # watch-mode micro-batch scanned the docs table twice —
                # the per-batch fixed cost that capped watch-mode
                # updates/s.  Broadcasting the batch-ids side keeps the
                # corpus side shuffle-free (upsert is the incremental
                # path: batches are bounded, the corpus is not).
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
                if self.storage.table_exists("tombstones"):
                    identical = identical.join(
                        self.storage.read("tombstones").select("docid"),
                        on="docid",
                        how="left_anti",
                    )
                changed = batch.join(
                    F.broadcast(identical.select("doc_id", "_chash").distinct()),
                    on=["doc_id", "_chash"],
                    how="left_anti",
                )
        # persist WITHOUT counting: the docid range partitioner's sample
        # pass materializes the cache as a side effect, and the partition
        # count job inside append_segment_batch (needed anyway for the
        # docid prefix sums) reports the changed-row count — the dedicated
        # count job this path used to pay per micro-batch is gone.
        changed = changed.drop("_chash").persist()
        prior_generation = self.meta.generation
        try:
            # Size the batch build like build_index does: the posting
            # exchange partitions by (segment, bucket), so a fixed
            # num_segments=1 throttled a 100k-row commit to B tasks on
            # any cluster (measured 2.4x slower than 4 segments at
            # local[32]); micro-batches stay at 1 segment — no
            # manifest/merge pressure for watch-mode.  Deferred via
            # num_segments_fn so it keys on the measured changed count.
            parallelism = self.spark.sparkContext.defaultParallelism
            num_buckets = self.meta.num_buckets

            def auto_segments(n_changed: int) -> int:
                return _auto_upsert_segments(n_changed, parallelism, num_buckets)

            # UNIQUE across sealed AND pending-unsealed commits: if a
            # sealed commit reused a pending batch's generation, a reader
            # pinning the sealed generation would activate the pending
            # batch's staged tombstones without its segments (docs vanish
            # until seal) — see storage.unsealed_generations
            gen_next = self.storage.current_generation(include_unsealed=True) + 1
            docid_base, segment_base = self.storage.next_bases()
            self.meta.generation = gen_next

            def stage_tombstones():
                # count (newly staged distinct docids) feeds the commit's
                # incremental open-state publish (write_segment_tables).
                # `matched` was resolved against the SAME include_unsealed
                # live view and covers every batch doc_id, so the staging
                # join never rescans the docs table (resolved contract).
                return self.delete_frame(
                    changed.select("doc_id"),
                    generation=gen_next,
                    include_unsealed=True,
                    refresh_open_state=False,
                    resolved=(
                        None
                        if matched is None
                        else matched.select("doc_id", "segment_id", "docid")
                    ),
                    # a sealed commit's deletes activate with its own
                    # manifest; relying on a pending batch's row would
                    # leave the old committed copy visible until seal()
                    dedup_against_pending=not seal,
                )

            segments = append_segment_batch(
                self.spark,
                changed,
                self.storage,
                self.meta,
                sort_cols=list(sort_cols),
                num_segments=num_segments,
                docid_base=docid_base,
                segment_base=segment_base,
                pre_publish=stage_tombstones,
                manifest_status="sealed" if seal else "unsealed",
                num_segments_fn=auto_segments if num_segments is None else None,
            )
            if not segments:
                # nothing changed: nothing was written or published
                self.meta.generation = prior_generation
                return []
            if seal:
                self.storage.write_meta(self.meta)
            else:
                # the committed generation stays put: the staged
                # gen_next tombstones and the unsealed rows become
                # meaningful together at seal().  NOT gen_next - 1: with
                # unique generations across pending batches, gen_next - 1
                # may itself be another pending unsealed generation
                self.meta.generation = self.storage.current_generation()
            return segments
        finally:
            changed.unpersist()
            if matched is not None:
                matched.unpersist()

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

    def seal(self) -> list[int]:
        """Commit previously unsealed segments for all readers.

        Atomically rewrites the manifest flipping ``unsealed`` rows to
        ``sealed`` and advances the committed generation, activating the
        tombstones those upserts staged — delete-of-old and add-of-new
        appear together, same as a sealed upsert.  Returns the segment
        ids that were sealed (empty when nothing was pending).
        """
        if not self.storage.table_exists("manifest"):
            return []
        # Zero-job fast path: when the stored open_state rollup is
        # fingerprint-valid and every pending batch recorded its delta,
        # the flip is pure driver work (pyarrow manifest rewrite +
        # incremental rollup) — the ~1.5 s of Spark fixed cost this
        # removes was the dominant term of the stream sink's cadence
        # seal at watch-mode batch sizes.
        fast = self.storage.seal_driver_side()
        if fast is not None:
            sealed, gen = fast
            if sealed:
                self.meta.generation = gen
                self.storage.write_meta(self.meta)
            return sealed
        man = self.storage.read("manifest")
        pending = [
            r["segment_id"]
            for r in man.where("status = 'unsealed'")
            .select("segment_id")
            .distinct()
            .collect()
        ]
        if not pending:
            return []
        # Activation happens at a FRESH generation (snapshot immutability:
        # VERSION AS OF g means the same thing before and after this
        # seal).  The staged generation stays on the rows as the batch
        # identity — ``sealed_at`` is the generation at which the batch
        # (segments AND its staged tombstones) becomes visible; readers
        # use coalesce(sealed_at, generation) as the effective generation.
        gen_next = self.storage.current_generation(include_unsealed=True) + 1
        if "sealed_at" not in man.columns:
            man = man.withColumn("sealed_at", F.lit(None).cast("long"))
        flipped = man.withColumn(
            "sealed_at",
            F.when(
                F.col("status") == "unsealed", F.lit(gen_next).cast("long")
            ).otherwise(F.col("sealed_at")),
        ).withColumn(
            "status",
            F.when(F.col("status") == "unsealed", F.lit("sealed")).otherwise(
                F.col("status")
            ),
        )
        self.storage.atomic_rewrite("manifest", flipped)
        self.meta.generation = self.storage.current_generation()
        self.storage.write_meta(self.meta)
        self.storage.write_open_state()
        return sorted(pending)

    # ── compaction ────────────────────────────────────────────────────────

    def _reader_active_tombstones(self, tombs: DataFrame) -> DataFrame:
        """Restrict ``tombs`` to rows a default (committed-view) reader
        applies: ``generation <= committed watermark`` and not staged by a
        still-pending unsealed batch.

        This is the fold-safety predicate: compaction must never
        physically drop a docid no reader sees as deleted.  Beyond the
        pending exclusion, the watermark bound shields ORPHAN rows — a
        crashed upsert that staged its tombstones (pre_publish) but never
        appended its manifest rows leaves rows at a generation above the
        committed watermark that belongs to NO batch; readers exclude
        them (``generation <= pinned``), so folding them would silently
        delete visible docs until the batch's replay republishes.
        """
        state = self.storage.generation_state()
        tombs = tombs.where(F.col("generation") <= int(state.current()))
        pending = sorted(state.unsealed)
        if pending:
            tombs = tombs.where(~F.col("generation").isin(pending))
        return tombs

    def tombstone_density(self) -> dict[int, float]:
        """Per-live-segment tombstone share (0.0 when no tombstones)."""
        live = self.storage.live_segments()
        if not self.storage.table_exists("tombstones"):
            return {s: 0.0 for s in live}
        tombs = self.storage.read("tombstones")
        # pending/orphan rows are not reclaimable space — the fold
        # excludes them, so counting them would trigger rewrites that
        # reclaim nothing (or, for orphans, drop live docs)
        tombs = self._reader_active_tombstones(tombs)
        counts = {
            r["segment_id"]: r["n"]
            for r in tombs.groupBy("segment_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        docs = {
            r["segment_id"]: r["doc_count"]
            for r in pin_segments(
                self.storage.read("manifest"), live,
                self.storage.segment_pin_isin_max,
            )
            .select("segment_id", "doc_count")
            .dropDuplicates(["segment_id"])
            .collect()
        }
        return {
            s: (counts.get(s, 0) / docs[s] if docs.get(s) else 0.0) for s in live
        }

    def compact(
        self, max_density: float = DEFAULT_TOMBSTONE_DENSITY
    ) -> dict[int, int]:
        """Rewrite segments whose tombstone density reaches ``max_density``.

        Each source segment becomes a fresh output segment id with dead
        docs dropped, docids preserved, posting blocks re-packed to 128,
        and live at-seal stats.  Returns {source_segment: output_segment}.
        """
        density = self.tombstone_density()
        victims = sorted(s for s, d in density.items() if d >= max_density and d > 0)
        if not victims:
            return {}
        _, next_segment = self.storage.next_bases()
        mapping = {}
        for src in victims:
            mapping[src] = next_segment
            next_segment += 1
        self._rewrite_segments(mapping)
        self._publish_supersede(mapping, fold_tombstones=True)
        return mapping

    # ── concat merge ──────────────────────────────────────────────────────

    def plan_tier_merge(self, fanout: int = DEFAULT_MERGE_FANOUT) -> list[list[int]]:
        """Runs of >=``fanout`` docid-consecutive same-tier segments.

        Tier = size class of the docid-range width (small <= one 64Ki
        lease, then doubling classes) — reference ``keeper.rs:1459``
        plan_tier_merge simplified to the consecutive-run rule.
        """
        rows = (
            pin_segments(
                self.storage.read("manifest"),
                self.storage.live_segments(),
                self.storage.segment_pin_isin_max,
            )
            .select("segment_id", "docid_lo", "docid_hi")
            .dropDuplicates(["segment_id"])
            .orderBy("docid_lo")
            .collect()
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
            t = tier(int(r["docid_hi"]) - int(r["docid_lo"]))
            consecutive = prev_hi is None or int(r["docid_lo"]) >= prev_hi
            if run and (t != prev_tier or not consecutive):
                if len(run) >= fanout:
                    plans.append([x["segment_id"] for x in run])
                run = []
            run.append(r)
            prev_hi = int(r["docid_hi"])
            prev_tier = t
        if len(run) >= fanout:
            plans.append([x["segment_id"] for x in run])
        return plans

    def concat_merge(self, segment_ids: Sequence[int]) -> int:
        """Merge ordered, docid-disjoint segments into one output segment.

        The Q1 concat law: global docids need no rebase, so per-term
        posting blocks are copied with only their segment key and block
        ordinal rewritten (ordered by first_doc); stats/manifest rows sum.
        Query results are invariant (merged ≡ unmerged — plan Q1-OB3).
        """
        segment_ids = sorted(segment_ids)
        _, out_seg = self.storage.next_bases()
        mapping = {s: out_seg for s in segment_ids}
        # docs / doclens / postings: re-key to the output segment (the
        # dictionary rides inside the posting blocks).
        # mode("overwrite") + dynamic partition overwrite replaces exactly
        # the output segment's partitions, so a merge that crashed after
        # some writes re-runs idempotently (next_bases reads the unswapped
        # manifest and re-mints the SAME out_seg — append would double
        # every row on replay).
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
        stats = (
            self.storage.read("field_stats")
            .where(F.col("segment_id").isin(segment_ids))
            .dropDuplicates(["segment_id", "field"])
            .groupBy("field")
            .agg(
                F.sum("doc_count").cast("long").alias("doc_count"),
                F.sum("total_tokens").cast("long").alias("total_tokens"),
                F.min("docid_lo").alias("docid_lo"),
                F.max("docid_hi").alias("docid_hi"),
            )
            .withColumn("segment_id", F.lit(out_seg))
            .select(
                "segment_id", "field", "doc_count", "total_tokens", "docid_lo", "docid_hi"
            )
        )
        self.storage.write_table(stats, "field_stats", "append", coalesce=1)
        self._publish_supersede(mapping, fold_tombstones=False, remap_tombstones=True)
        return out_seg

    # ── GC ────────────────────────────────────────────────────────────────

    def gc(
        self,
        expire_history: bool = True,
        orphan_grace_sec: float | None = None,
    ) -> list[str]:
        """Delete segment directories no current/pending reader can reach
        (the writer-admitted GC of plan §11.4) and, by default, expire the
        superseded manifest/tombstone history with them (the Iceberg
        expire-snapshots analogue — ``at_generation`` readers below the
        recorded ``history_floor`` are refused afterwards, instead of
        silently reading vanished files).  Returns removed paths.  Safe
        only when no reader is pinned to an older manifest.

        ``expire_history=False`` keeps time travel intact — superseded
        segments stay on disk precisely because history rows still
        reference them — but still sweeps crash orphans: segment
        directories whose id appears in NO manifest row at all (live,
        superseded, or unsealed) are unreachable by every reader
        including time travel (e.g. a ``_rewrite_segments`` output whose
        ``_publish_supersede`` never ran; a replay re-mints the same ids
        and rewrites via dynamic partition overwrite).

        Every write protocol lands segment DATA dirs first and publishes
        the manifest row after, so an in-flight writer's segments look
        exactly like crash orphans until their publish — the sweep
        therefore skips any directory written within
        ``orphan_grace_sec`` (default :attr:`orphan_grace_sec`, 1h);
        pass ``0`` only when no concurrent writer can exist.

        Note: the grace window protects UNPUBLISHED in-flight writes
        only.  Superseded segments (a manifest row stamped with
        ``superseded_at``) are provably published and are reclaimed
        IMMEDIATELY, however recently they were superseded — a reader
        opened before the supersede loses their data dirs mid-query,
        which is exactly the "no pinned readers" contract above.  Do not
        rely on the 1h window as a reader-safety margin.
        """
        if orphan_grace_sec is not None:
            self.orphan_grace_sec = float(orphan_grace_sec)
        if not self.storage.table_exists("manifest"):
            return []  # first build may be mid-flight: nothing is garbage yet
        if not expire_history:
            referenced = {
                int(r["segment_id"]) for r in self.storage.manifest_snapshot()
            }
            return self._sweep_segment_dirs(keep=referenced)
        # unsealed segments are pending, not garbage: their seal() must
        # still find the data dirs
        keep = set(self.storage.live_segments(include_unsealed=True))
        # Segments with a superseded manifest row are PROVABLY published
        # (an in-flight writer's dirs have no manifest row at all), so the
        # orphan grace window — which exists only to protect unpublished
        # in-flight writes — does not apply to them: gc right after a
        # compaction/merge must actually reclaim the superseded dirs, not
        # return [] until they age an hour.  Snapshot BEFORE the history
        # rewrite below erases the evidence.
        expired = {
            int(r["segment_id"])
            for r in self.storage.manifest_snapshot()
            if r["superseded_at"] is not None
        } - keep
        # Expire the history rows BEFORE touching directories: a crash
        # mid-gc then leaves only orphan dirs (harmless; the next gc
        # sweeps them), never history rows pointing at vanished files.
        man = self.storage.read("manifest")
        if "superseded_at" in man.columns:
            self.storage.atomic_rewrite(
                "manifest", man.where(F.col("superseded_at").isNull())
            )
        if self.storage.table_exists("tombstones"):
            tombs = self.storage.read("tombstones")
            kept = pin_segments(
                tombs, sorted(keep), self.storage.segment_pin_isin_max
            )
            self.storage.rewrite_tombstones(kept)
        floor = self.storage.current_generation()
        # Re-read meta immediately before the floor write: this instance's
        # construction-time snapshot may be stale (another maintenance
        # instance/process can have advanced generation since), and
        # write_meta persists the WHOLE dataclass — writing the stale copy
        # would regress on-disk fields to the old snapshot.
        self.meta = self.storage.read_meta()
        if floor > self.meta.history_floor:
            self.meta.history_floor = floor
            self.storage.write_meta(self.meta)
        removed = self._sweep_segment_dirs(keep=keep, force=expired)
        # the manifest/tombstone rewrites above changed the fingerprint
        self.storage.write_open_state()
        return removed

    #: Leave an unreferenced segment directory alone unless its newest
    #: file is at least this old.  Every write protocol lands data dirs
    #: FIRST and the manifest row after, so a concurrent in-flight
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
        the caller proved they are published garbage (e.g. a superseded
        manifest row), which an in-flight write can never have.
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

    def _rewrite_segments(self, mapping: dict[int, int]) -> None:
        """Write compacted copies of ``mapping`` keys under their new ids."""
        srcs = sorted(mapping)
        seg_map = F.create_map(
            *[F.lit(x) for pair in mapping.items() for x in pair]
        )
        # Docids are globally unique, so only the victim segments' own
        # tombstones can match their rows — restricting the dead set first
        # keeps it proportional to the segments being rewritten, not the
        # whole index's delete history.
        tombs = self.storage.read("tombstones").where(
            F.col("segment_id").isin(srcs)
        )
        # fold only ACTIVE tombstones: rows staged by a still-unsealed
        # batch activate at seal() together with their replacement
        # segments — folding them here would drop the old copy while the
        # new one is still invisible (the read-path race, re-entered
        # through compaction).  _publish_supersede remaps the excluded
        # pending rows onto the output segment so the delete still lands
        # at seal().
        tombs = self._reader_active_tombstones(tombs)
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
        # fresh stats for the output segments (dictionary is embedded)
        out_segs = sorted(mapping.values())
        doclens = self.storage.read("doclens").where(F.col("segment_id").isin(out_segs))
        stat_rows = []
        for field in self.meta.text_fields:
            stat_rows.append(
                doclens.groupBy("segment_id").agg(
                    F.count("*").cast("long").alias("doc_count"),
                    F.sum(f"len_{field}").cast("long").alias("total_tokens"),
                    F.min("docid").alias("docid_lo"),
                    F.max("docid").alias("docid_hi"),
                ).select(
                    "segment_id",
                    F.lit(field).alias("field"),
                    "doc_count",
                    "total_tokens",
                    "docid_lo",
                    "docid_hi",
                )
            )
        stats = stat_rows[0]
        for s in stat_rows[1:]:
            stats = stats.unionByName(s)
        self.storage.write_table(stats, "field_stats", "append", coalesce=1)
        dead.unpersist()

    def _publish_supersede(
        self,
        mapping: dict[int, int],
        fold_tombstones: bool,
        remap_tombstones: bool = False,
    ) -> None:
        """Atomically swap the manifest: drop source segments, add outputs.

        This is the visibility point — readers opening after the swap see
        the new generation; readers opened before keep the old one (their
        segment dirs survive until :meth:`gc`).
        """
        srcs = sorted(mapping)
        out_segs = sorted(set(mapping.values()))
        # unique across pending unsealed batches too — reusing a pending
        # generation would activate its staged tombstones without its
        # segments for readers pinning this commit (see upsert)
        gen_state = self.storage.generation_state()
        gen_next = gen_state.any_gen + 1
        # Docid watermark preservation: if the tombstoned docs held a
        # segment's min/max docid, recomputing the range from survivors
        # would SHRINK docid_hi — and next_bases() would re-mint
        # previously-assigned docids, violating the monotone/never-reused
        # invariant (argus.rs:32).  The output segment keeps the full
        # docid span its sources owned.
        # no dropDuplicates: replay remnants may carry differing spans for
        # one segment; the min/max fold below covers the union of them all
        src_spans = (
            self.storage.read("manifest")
            .where(F.col("segment_id").isin(srcs))
            .select("segment_id", "docid_lo", "docid_hi")
            .collect()
        )
        span_lo: dict[int, int] = {}
        span_hi: dict[int, int] = {}
        for r in src_spans:
            out = mapping[r["segment_id"]]
            span_lo[out] = min(span_lo.get(out, r["docid_lo"]), r["docid_lo"])
            span_hi[out] = max(span_hi.get(out, r["docid_hi"]), r["docid_hi"])
        # Span rows drive the join (not the doclens agg): an output whose
        # every doc was tombstoned has NO doclens rows, and skipping its
        # manifest row would leave its docid span recorded only on the
        # superseded sources — one gc(expire_history=True) later,
        # next_bases() would re-mint previously-assigned docids.  A
        # doc_count=0 row keeps the span alive (readers scan an empty
        # partition set; density treats 0-doc segments as 0.0).
        spans_rows = self.spark.createDataFrame(
            [
                (int(s), int(span_lo[s]), int(span_hi[s]))
                for s in out_segs
                if s in span_lo
            ],
            "segment_id int, span_lo long, span_hi long",
        )
        doclens = self.storage.read("doclens").where(F.col("segment_id").isin(out_segs))
        agg = doclens.groupBy("segment_id").agg(
            F.min("docid").alias("live_lo"),
            (F.max("docid") + F.lit(1)).alias("live_hi"),
            F.count("*").alias("doc_count"),
        )
        # full outer: span-only side keeps zero-survivor outputs alive,
        # agg-only side keeps outputs whose src manifest rows vanished
        # (replay remnant) publishing from live data alone, as before
        new_rows = spans_rows.join(agg, on="segment_id", how="full").select(
            F.lit(gen_next).alias("generation"),
            "segment_id",
            F.coalesce(F.least("live_lo", "span_lo"), F.col("span_lo")).alias(
                "docid_lo"
            ),
            F.coalesce(F.greatest("live_hi", "span_hi"), F.col("span_hi")).alias(
                "docid_hi"
            ),
            F.coalesce("doc_count", F.lit(0)).alias("doc_count"),
            F.lit("sealed").alias("status"),
            F.lit(time.time()).alias("built_at"),
        )
        # History retention (the Iceberg snapshot-log analogue): source
        # segments' rows are STAMPED with the superseding generation, not
        # dropped — readers pinned to an older generation (at_generation)
        # keep resolving their exact segment set until gc() expires the
        # history.  Default readers filter superseded_at IS NULL, so the
        # visible state is byte-identical to the old drop.
        man = self.storage.read("manifest")
        if "superseded_at" not in man.columns:
            man = man.withColumn("superseded_at", F.lit(None).cast("long"))
        manifest = man.withColumn(
            "superseded_at",
            F.when(
                F.col("segment_id").isin(srcs) & F.col("superseded_at").isNull(),
                F.lit(gen_next).cast("long"),
            ).otherwise(F.col("superseded_at")),
        )
        # Deterministic dedup: crash-replay appends can leave two rows for
        # one (segment, superseded_at) differing in generation/docid span;
        # dropDuplicates would keep an ARBITRARY one, which could shift the
        # segment's effective generation for at_generation readers and the
        # watermarks next_bases() derives.  Keep the max-generation row
        # (ties broken by the widest docid span — the replay that saw the
        # most data).
        w_dedup = Window.partitionBy("segment_id", "superseded_at").orderBy(
            F.desc("generation"), F.desc("docid_hi"), F.asc("docid_lo")
        )
        manifest = (
            manifest.withColumn("_rn", F.row_number().over(w_dedup))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_rows = new_rows.withColumn(
            "superseded_at", F.lit(None).cast("long")
        )
        # Tombstone carry-over runs BEFORE the manifest swap: copies keyed
        # to the not-yet-live output ids are invisible until the swap (the
        # crash-safe order — swapping first would open a window where a
        # crash strands the rows on the superseded source ids, losing the
        # deletes).  A replay after a pre-swap crash re-mints the same
        # output ids, so dropDuplicates keeps the rewrite idempotent.
        #
        # Folded (active) tombstones need NO rewrite: a row whose segment
        # is no longer live is definitionally folded (compaction removed
        # its docids physically), and readers scope the pinned set to
        # their live segments — the row lingers only for time-travel
        # readers pinned before this supersede, and gc() expires it with
        # the history.  PENDING rows (staged by a still-unsealed batch)
        # were excluded from the fold, so they must follow their docids to
        # the output segment — stranded on the superseded source id they
        # would be liveness-scoped out after seal() and the delete lost
        # (two live copies).  Copies, not moves: dirty readers pinned
        # before this supersede still resolve the source ids.
        if self.storage.table_exists("tombstones"):
            seg_map = F.create_map(
                *[F.lit(x) for pair in mapping.items() for x in pair]
            )
            tombs = self.storage.read("tombstones")
            moved = None
            if remap_tombstones:
                # merge carries ALL unfolded tombstones over to the output
                # segment ids; each reader's liveness scoping picks
                # exactly one copy
                moved = tombs.where(F.col("segment_id").isin(srcs)).withColumn(
                    "segment_id", seg_map[F.col("segment_id")]
                )
            elif fold_tombstones:
                pending = sorted(gen_state.unsealed)
                if pending:
                    moved = tombs.where(
                        F.col("segment_id").isin(srcs)
                        & F.col("generation").isin(pending)
                    ).withColumn("segment_id", seg_map[F.col("segment_id")])
            if moved is not None and not moved.isEmpty():
                self.storage.rewrite_tombstones(
                    tombs.unionByName(moved).dropDuplicates()
                )
        # allowMissingColumns: the manifest may carry sealed_at (added by
        # seal()); supersede outputs are sealed directly, so theirs is null
        self.storage.atomic_rewrite(
            "manifest",
            manifest.unionByName(new_rows, allowMissingColumns=True),
        )
        self.meta.generation = gen_next
        self.storage.write_meta(self.meta)
        self.storage.write_open_state()
