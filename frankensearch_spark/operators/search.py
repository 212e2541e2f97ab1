"""Distributed BM25 query execution (exhaustive, rank-exact path).

Query lifecycle (reference: ``index.rs:7249`` search_paginated — §3.1 of the
survey), re-expressed as one declarative DataFrame plan:

1. **Driver**: parse (lenient) -> canonicalize -> compile to an
   :class:`~frankensearch_spark.plans.eval.EvalPlan` (leaf specs + f32 eval
   tree).  Per-leaf BM25 weights are computed driver-side in numpy float32
   from snapshot stats (N, avgdl, df) — the analogue of TermScorer::new
   (``argus.rs:1521``).
2. **Leaf frames**: one broadcast-hash-join of the (tiny) query-term frame
   against the bucket-pruned postings table; blocks explode to
   ``(docid, leaf_id, freq, fnid)``; an Arrow-batched pandas UDF computes
   the exact f32 ``weight * f / (f + tf_cache[fnid])`` per posting.  The
   denormalized per-posting fieldnorm ids make this join-free beyond the
   postings themselves.
3. **Combine**: candidates pivot to one row per docid with one score column
   per leaf (single shuffle), then the shared f32 tree evaluator
   (plans/eval.py — the same code the oracle runs) computes matched/score
   per doc in fixed accumulation order.
4. **Top-k**: ``ORDER BY score DESC, docid ASC LIMIT k+offset`` — Spark's
   TakeOrderedAndProject is the distributed analogue of the reference's
   packed-key collector (``argus.rs:5266``: total order = score desc,
   docid asc).
5. **Materialize**: only the k winners join back to the docs table
   (two-phase materialization, ``argus.rs:5587``).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass
from typing import Iterator, Optional, Sequence

import json
import os
import threading
import time
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..functions.codec import is_delta_layout, with_decoded_docids
from ..functions.contract import (
    BM25_K1,
    POSTINGS_PER_BLOCK,
    compute_tf_cache,
    term_weight,
)
from ..functions.snippet import SnippetGenerator
from ..plans import fuel, glob
from ..plans import query as q
from ..plans.localrel import values_frame
from ..plans.eval import (
    EvalPlan,
    LeafSpec,
    compile_query,
    compile_tree_columns,
    phrase_weight,
)
from ..sources.storage import (
    TOMBSTONE_BROADCAST_MAX,
    IndexStorage,
    pin_segments,
)
from ..sources.storage import SEGMENT_PIN_ISIN_MAX as _STORAGE_PIN_MAX
from ..sources import termdict


#: Glob expansions up to this many terms match postings via a literal
#: InSet (scan-pushed); wider ones switch to a broadcast semi-join so the
#: plan stays O(1) in expansion size.
GLOB_ISIN_MAX = 256

#: Pin the live-segment set with a literal ``isin`` only up to this many
#: segments (static partition pruning, the common case: compaction/merge
#: keep live counts low).  Past it, EVERY query plan would embed an
#: O(segments) literal list — at 10^5 live segments that bloats plan
#: construction, analysis, and codegen.  The big-set form is a broadcast
#: semi-join against a liveness frame: O(1) plan size, hash probe per
#: row, and dynamic partition pruning still prunes the scan's
#: segment_id=K directories at runtime.
SEGMENT_PIN_ISIN_MAX = _STORAGE_PIN_MAX  # single source: sources/storage.py

#: Execute a multi-leaf query on the small-query session (AQE off, small
#: fixed shuffle-partition count) only when the zero-job pivot-row bound
#: (Σ leaf df, doc_count substituted for unknowns) proves the shuffle
#: tiny.  1M rows / 8 partitions = 125k rows per task — far below any
#: memory concern — while at cluster scale the bound exceeds this
#: immediately and AQE keeps sizing the exchange.
SMALL_PIVOT_MAX_ROWS = 1_000_000

#: Inline query-term leaf_id/weight as a literal CASE chain (zero joins,
#: zero broadcast-build jobs) only up to this many term rows: the chain's
#: CONSTRUCTION is ~6 py4j round-trips per term (~0.5 ms each), so past
#: ~20 terms it costs more than the one ~40-90 ms broadcast-build job it
#: saves — wide expansions keep the join form (globs route through their
#: own InSet/semi-join gates before reaching here anyway).
QTERM_INLINE_MAX = 20

#: Use the ONE-expression compact gap decode (codec.with_decoded_docids
#: compact=True) when the query's driver-known summed doc frequency is at
#: most this many postings.  The compact scan trades ~1.2× decode CPU
#: (quadratic per-block concat) for 8 fewer plan nodes and py4j round
#: trips per decode site (~70 ms of per-query construction); at 4M
#: postings the extra decode work is ~100 ms spread across the cluster,
#: past it the staged zip_with form wins back.
COMPACT_DECODE_MAX_POSTINGS = 4_000_000


@dataclass
class SearchResult:
    """Top-k hits as a small pandas frame (docid, doc_id, score, rank)."""

    hits: pd.DataFrame
    total_count: Optional[int] = None
    #: coarse work units this query was admitted at (the reference's
    #: profile-receipt fuel counter, index.rs:2026); None on cache hits
    #: constructed before admission ran
    fuel_units: Optional[int] = None


class SearchEngine:
    """Query executor bound to one index directory (snapshot-pinned stats)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        schema: Optional[q.Schema] = None,
        include_unsealed: bool = False,
        query_fuel_budget: int = fuel.DEFAULT_QUERY_FUEL_BUDGET,
        at_generation: Optional[int] = None,
    ):
        if at_generation is not None and include_unsealed:
            # a past snapshot is sealed-only by definition; combining it
            # with dirty reads would activate pending tombstones WITHOUT
            # their replacement segments (the at-generation liveness
            # branch never admits unsealed rows) — refuse loudly instead
            # of returning a state no commit ever published
            raise ValueError(
                "at_generation cannot be combined with include_unsealed: "
                "a time-travel snapshot reads committed state only"
            )
        #: coarse work admission budget (reference config.rs query_fuel_budget);
        #: validated like the reference config (zero budgets are rejected)
        self.query_fuel_budget = fuel.validate_budget(query_fuel_budget)
        #: units the most recent admitted query was charged (observability,
        #: the analogue of the reference's profile-receipt fuel counter)
        self.last_fuel_units: Optional[int] = None
        self.spark = spark
        self.storage = IndexStorage(spark, index_dir)
        self.meta = self.storage.read_meta()
        self.schema = schema or _schema_from_meta(self.meta)
        self.parser = q.DefaultQueryParser(self.schema)

        # Snapshot pin: the manifest's live segment set at open time.  Every
        # per-segment table read filters to it (partition pruning), so one
        # engine instance always queries one generation (the Arc-swap /
        # VERSION AS OF analogue, reference index.rs:7374).
        # ``include_unsealed`` opts into pre-commit delta segments AND the
        # generation they were staged for, so an unsealed upsert's deletes
        # and adds appear together (reference delta.rs pre-commit reads);
        # it trades the committed-snapshot guarantee for freshness.
        # ``at_generation`` time-travels the pin to a PAST committed
        # generation (VERSION AS OF): the manifest's history rows resolve
        # the segment set as of that generation, until gc() expires the
        # history (meta.history_floor records the expiry point so stale
        # opens fail loudly instead of reading vanished files).
        # Cold open (QG-9 analogue, reference keeper open ≤50 ms): the
        # commit-time open_state rollup answers every open-time question
        # from ONE driver-side JSON read — manifest snapshot rows, the
        # default-view stats rollup, the tombstone count — so opening an
        # index with a valid (fingerprint-matching) open_state issues
        # ZERO Spark actions.  Legacy/stale indexes fall back to the same
        # one-collect manifest snapshot + Spark rollups as before.
        open_state = self.storage.read_open_state()
        if open_state is not None:
            snapshot = open_state["manifest_rows"]
        else:
            snapshot = self.storage.manifest_snapshot()
        gen_state = self.storage.state_from_snapshot(snapshot)
        # the persisted rollup describes exactly the DEFAULT committed
        # view; dirty (include_unsealed) and time-travel opens re-derive
        # their view's stats/tombstones with the usual Spark jobs
        default_view = at_generation is None and not include_unsealed
        if at_generation is not None:
            at_generation = int(at_generation)
            current = gen_state.current()
            if at_generation > current:
                raise ValueError(
                    f"at_generation={at_generation} is in the future "
                    f"(current generation {current})"
                )
            if at_generation < self.meta.history_floor:
                raise ValueError(
                    f"at_generation={at_generation} was expired by gc() "
                    f"(history floor {self.meta.history_floor})"
                )
        self.live_segments = self.storage.live_from_snapshot(
            snapshot,
            include_unsealed=include_unsealed,
            at_generation=at_generation,
        )
        # per-live-segment docid spans (manifest lineage): lets O(k)
        # point-reads (winner hydration) prune to the segment PARTITIONS
        # containing their docids instead of scheduling a task per live
        # file — docid is not a partition column, so without this the
        # hydration scan is O(live files) tasks at any corpus size
        live_set = set(self.live_segments)
        self._segment_spans = {}
        for r in snapshot:
            seg = int(r["segment_id"])
            if seg in live_set and r["docid_lo"] is not None:
                lo, hi = int(r["docid_lo"]), int(r["docid_hi"])
                cur = self._segment_spans.get(seg)
                if cur is not None:  # replay remnant rows: keep the UNION
                    lo, hi = min(cur[0], lo), max(cur[1], hi)
                self._segment_spans[seg] = (lo, hi)
        if len(self._segment_spans) != len(live_set):
            self._segment_spans = None  # legacy rows without spans
            self._span_arrays = None
        else:
            items = sorted(self._segment_spans.items())
            self._span_arrays = (
                np.array([s for s, _ in items], dtype=np.int64),
                np.array([v[0] for _, v in items], dtype=np.int64),
                np.array([v[1] for _, v in items], dtype=np.int64),
            )
        # Tombstones are pinned alongside the segment set: the engine
        # captures (a) the manifest generation and (b) the tombstone files
        # present at open, so deletes issued after open are invisible until
        # reopen() — no mixed-generation reads (reference Arc-swap
        # isolation), and tombstones staged by an in-flight upsert for the
        # NEXT generation are gated out until its manifest append.
        self.generation = (
            at_generation
            if at_generation is not None
            else gen_state.current(include_unsealed=include_unsealed)
        )
        self._gen_state = gen_state
        self._include_unsealed = include_unsealed
        known_tombstones = (
            int(open_state["tombstone_count"])
            if open_state is not None and default_view
            else None
        )
        if known_tombstones is not None:
            # fully lazy: the count is authoritative (fingerprint-matched
            # rollup for this exact view); the docid frame — including its
            # parquet footer/schema read — is built on first use, so the
            # open itself performs NO Spark work even on a delete-heavy
            # index
            self._tombstone_count = known_tombstones
            self._tombstones_df = None
            self._tombstones_pending = known_tombstones > 0
            # pin the FILE SET from the validated fingerprint itself (no
            # re-listing — a delete landing between the fingerprint check
            # and a listdir here would leak into the pinned view and
            # desync the rollup count from the frame): the lazy frame must
            # see exactly the open-time tombstones the count describes
            tomb_root = self.storage.path("tombstones")
            self._tombstone_files = (
                [
                    os.path.join(tomb_root, f)
                    for f in open_state["fingerprint"]["tombstones"]
                ]
                if self._tombstones_pending
                else []
            )
        else:
            self._tombstones_df, self._tombstone_count = (
                self.storage.pinned_tombstones(
                    self.generation,
                    live_segments=self.live_segments,
                    include_unsealed=include_unsealed,
                    gen_state=gen_state,
                )
            )
            self._tombstones_pending = False
        #: Force-broadcast the tombstone anti-join only up to this many
        #: tombstoned docids (sources.storage.TOMBSTONE_BROADCAST_MAX);
        #: larger sets use a plain left_anti join so a delete-heavy index
        #: can't OOM the executors at cluster scale.
        self.tombstone_broadcast_max = TOMBSTONE_BROADCAST_MAX
        #: per-table base DataFrames, created once at open: re-creating
        #: spark.read per query re-runs the file-listing job (hundreds of
        #: (segment, bucket) directories), and a FROZEN file index is what
        #: snapshot pinning wants anyway — files appearing after open
        #: must not be visible until reopen()
        self._table_cache: dict[str, DataFrame] = {}
        #: isin-vs-semi-join switchover for the live-segment pin (see
        #: SEGMENT_PIN_ISIN_MAX); instance-level so deployments/tests tune it
        self.segment_pin_isin_max = SEGMENT_PIN_ISIN_MAX
        self._liveness_frame: Optional[DataFrame] = None
        #: lazily cloned no-AQE session (False = not yet attempted;
        #: None = unavailable, plans keep AQE)
        self._noaqe = False
        #: rebinds to the no-AQE session that fell back to the plain AQE
        #: plan (0 on a healthy Spark version; >0 means the classic
        #: Dataset internals this fast path rides died — a version bump
        #: silently costing ~0.2 s/query unless something watches this)
        self.noaqe_fallbacks = 0
        #: pure Column expression trees reused across queries (the tf-cache
        #: array literal alone is 256 py4j calls to rebuild) and per-table
        #: snapshot-pinned frames — all fixed for this engine's snapshot,
        #: so constructing them per query only taxed the latency path
        self._expr_cache: dict = {}
        self._live_frame_cache: dict[str, DataFrame] = {}

        # snapshot stats: N (total docs) and avgdl per field, from the live
        # segments' at-seal rows (tombstones do NOT adjust stats until
        # compaction — reference quiver.rs:11877).  Every segment writes
        # one stats row per text field (build.py _write_stats), so each
        # field's doc_count sum is the total.
        if open_state is not None and default_view:
            rollup = {
                f: (int(d), int(t)) for f, (d, t) in open_state["stats"].items()
            }
        else:
            # the ONE stats kernel (storage.stats_rollup) — shared with the
            # commit-time rollup writer so the fingerprint-valid open and
            # this from-scratch open cannot drift
            rollup = self.storage.stats_rollup(self._read_live("field_stats"))
        tokens: dict[str, int] = {f: t for f, (_, t) in rollup.items()}
        self.doc_count = int(max((d for d, _ in rollup.values()), default=0))
        #: per-field snapshot token totals; an upper bound on the field's
        #: Σ_t df_t (each (doc, term) posting pair consumes ≥1 token),
        #: used to tighten the fuel estimator's pessimistic glob bound
        self.field_tokens = dict(tokens)
        self.avgdl = {
            f: (tokens.get(f, 0) / self.doc_count if self.doc_count else 0.0)
            for f in self.meta.text_fields
        }
        self.tf_cache = {
            f: (compute_tf_cache(a) if a > 0 else None) for f, a in self.avgdl.items()
        }
        #: (field, term) -> snapshot doc_freq resolved this session
        self._doc_freq_cache: dict[tuple[str, str], int] = {}
        #: bucket -> this snapshot's dictionary files (_dictionary_files)
        self._dict_files: Optional[dict[int, list[str]]] = None
        #: (field, pattern) -> [(term, df), ...] expansion; valid for the
        #: engine's lifetime because the dictionary is snapshot-pinned
        self._glob_cache: dict[tuple[str, str], list[tuple[str, int]]] = {}
        #: ranked query cache keyed by (query, limit, offset, exact_count);
        #: valid for this engine's lifetime because the engine is pinned to
        #: one snapshot (reference index.rs:7407 keys by snapshot epoch —
        #: here reopen() discards the engine and the cache with it)
        self._query_cache: "OrderedDict[tuple, SearchResult]" = OrderedDict()
        self.query_cache_capacity = 128
        #: prepared-plan cache: query -> (scored DataFrame, pivot bound).
        #: The scored frame is an UNEXECUTED Catalyst plan — every search
        #: still computes from the parquet snapshot — but constructing it
        #: (leaf frames, literal CASE chains, f32 score columns) is
        #: 120-185 ms of driver-side py4j per query class, fixed for this
        #: engine's snapshot.  The prepared-statement analogue; dropped
        #: with the engine at reopen() like every snapshot-pinned cache.
        self._plan_frame_cache: "OrderedDict[str, tuple]" = OrderedDict()
        self.plan_frame_cache_capacity = 64
        #: Cost floor for auto-engaging the pruned plan (see
        #: pruned.AUTO_PRUNE_MIN_COST for the rationale); tunable per
        #: deployment to the cluster's job-scheduling overhead.
        from .pruned import AUTO_PRUNE_MIN_COST, PRUNE_BAIL_FRACTION

        self.auto_prune_min_cost = AUTO_PRUNE_MIN_COST
        #: surviving-block fraction above which an auto-engaged pruned
        #: plan bails back to exhaustive mid-flight (pruned.py rationale)
        self.prune_bail_fraction = PRUNE_BAIL_FRACTION
        #: candidate-count bound below which the pruned rescore prunes
        #: the posting scan to the candidates' covering blocks (see
        #: _score_leaf_rows_for_docids); above it the bound's
        #: candidate×terms metadata rows stop being obviously small and
        #: the plain explode+semi-join is the safer plan
        self.span_rescore_max_candidates = 16_384

    @property
    def _tombstones(self) -> Optional[DataFrame]:
        """Pinned tombstone docid frame (None when the snapshot has none).

        Lazily constructed when the open came from a commit-time
        ``open_state`` rollup — the count is known without a job, and the
        frame's footer read is deferred to the first query that needs the
        anti-join.
        """
        if self._tombstones_pending:
            df = None
            try:
                df, _ = self.storage.pinned_tombstones(
                    self.generation,
                    live_segments=self.live_segments,
                    include_unsealed=self._include_unsealed,
                    gen_state=self._gen_state,
                    known_count=self._tombstone_count,
                    files=self._tombstone_files,  # the OPEN-time file set
                )
                # Materialize into the Spark cache NOW: a concurrent
                # gc()/compaction rewrite swaps the tombstone directory
                # (the pinned part files vanish), so an un-materialized
                # frame would crash the first query that touches it.
                df.count()
            except Exception:
                try:  # drop the broken frame's cache registration
                    if df is not None:
                        df.unpersist()
                except Exception:
                    pass
                # Fall back ONLY for the condition the fallback exists
                # for — a concurrent rewrite swapped the tombstone
                # directory and the pinned part files vanished.  Any
                # other failure (executor loss, transient FS errors, a
                # later bug) must surface, not silently change which
                # tombstone set the reader scores against.
                if all(os.path.exists(f) for f in self._tombstone_files):
                    raise
                df = self._rederive_pinned_tombstones()
            self._tombstones_df = df
            self._tombstones_pending = False
        return self._tombstones_df

    def _rederive_pinned_tombstones(self) -> Optional[DataFrame]:
        """Rebuild the pinned tombstone frame after a rewrite killed the
        open-time part files.

        Re-derives from the CURRENT table with the pinned filters
        (generation ≤ pin, segment ∈ pinned live set): rewrites preserve
        every row live readers need (gc keeps live segments' rows;
        carry-over keeps generation-gated rows), so nothing is ever
        resurrected.  Two guarantees make that claim hold:

        * **Lower-bound check.**  Deletes only append and rewrites keep
          live-segment rows, so any valid re-derivation must see at
          LEAST the open-time count.  A smaller count means we read a
          torn state — e.g. ``atomic_rewrite``'s momentary no-directory
          window between its two renames — so retry briefly, then raise
          rather than cache a short (doc-resurrecting) set.
        * **Monotone-forward drift only.**  A delete committed AFTER
          open at the SAME pinned generation is indistinguishable from
          an open-time row once the files merged, so it may become
          visible early — never the reverse.  The count is refreshed
          with the frame, so the two never desync.

        The count check alone has a blind spot: ``gc(expire_history=
        True)`` under a pinned reader drops tombstone rows of segments
        it expired, and deletes appended elsewhere since open could
        inflate the re-derived count back over the open-time count,
        masking the loss (resurrecting docs).  gc also removes the
        expired segments' manifest rows entirely, so the blind spot is
        detectable set-wise: any pinned live segment with NO row left in
        the current manifest means history was expired under this pin —
        raise instead of trusting the count.  (A segment merely
        *superseded* by compaction keeps its row and its tombstone rows
        until gc, so normal compaction under a pin does not trip this.)
        """
        last_n = -1
        missing: list[int] = []
        for attempt in range(5):
            if attempt:
                time.sleep(0.2 * attempt)
            # set-based guard first (see docstring); recomputed per
            # attempt so a torn manifest rewrite window retries rather
            # than false-positives
            present = {
                int(r["segment_id"]) for r in self.storage.manifest_snapshot()
            }
            missing = sorted(set(self.live_segments) - present)
            if missing:
                continue
            df, n = self.storage.pinned_tombstones(
                self.generation,
                live_segments=self.live_segments,
                include_unsealed=self._include_unsealed,
                gen_state=self._gen_state,
            )
            last_n = int(n)
            if last_n >= self._tombstone_count:
                self._tombstone_count = last_n
                return df
            if df is not None:
                df.unpersist()
        if missing:
            raise RuntimeError(
                f"pinned live segments {missing} have no manifest row left "
                "— gc(expire_history=True) ran under this pinned reader "
                "and expired its snapshot's history (tombstone rows for "
                "those segments are gone too, so re-derivation would "
                "silently resurrect their deleted docs); reopen the engine"
            )
        raise RuntimeError(
            "pinned tombstone re-derivation saw only "
            f"{last_n} of the {self._tombstone_count} open-time tombstones "
            "— the table was rewritten to a state that no longer covers "
            "this reader's snapshot (e.g. gc after a compaction that "
            "superseded its segments); reopen the engine"
        )

    # ── public API ────────────────────────────────────────────────────────

    def search(
        self,
        query: q.Query | str,
        limit: int = 10,
        offset: int = 0,
        exact_count: bool = False,
        prune: bool | str = "auto",
        hydrate_fields: Optional[Sequence[str]] = None,
    ) -> SearchResult:
        """Ranked top-k search.

        ``prune`` selects the execution plan: ``"auto"`` (default) engages
        the rank-safe pruned plan exactly when the reference's strategy
        gates would pick MaxScore or Block-Max WAND for the query
        (``argus.rs:4464-4529``; see :func:`pruned.select_strategy`);
        ``True`` forces it whenever the shape applies (the differential
        suite's lever); ``False`` forces the exhaustive plan.  All three
        are rank-identical by the pruning contract.

        ``hydrate_fields`` optionally joins stored columns onto the k
        winners, pinned to the scoring snapshot (reference
        ``traits.rs:965-1016`` stored-field hydration) — only the winners
        are materialized, so hydration cost is O(k) regardless of corpus
        size.
        """
        hydrate = tuple(hydrate_fields or ())
        # prune is part of the key so the pruned-vs-exhaustive differential
        # suite really exercises both plans (their results are identical by
        # the rank-exact contract, but the cache must not mask a regression)
        cache_key = (repr(query), limit, offset, exact_count, prune, hydrate)
        cached = self._query_cache.get(cache_key)
        if cached is not None:
            self._query_cache.move_to_end(cache_key)
            return SearchResult(
                hits=cached.hits.copy(),
                total_count=cached.total_count,
                fuel_units=cached.fuel_units,
            )
        result = self._search_uncached(query, limit, offset, exact_count, prune, hydrate)
        self._query_cache[cache_key] = SearchResult(
            hits=result.hits.copy(),
            total_count=result.total_count,
            fuel_units=result.fuel_units,
        )
        if len(self._query_cache) > self.query_cache_capacity:
            self._query_cache.popitem(last=False)
        return result

    def _search_uncached(
        self,
        query: q.Query | str,
        limit: int,
        offset: int,
        exact_count: bool,
        prune: bool | str,
        hydrate: tuple = (),
    ) -> SearchResult:
        tree = self._parse(query)
        plan = compile_query(q.canonicalize_query(tree))
        if plan.is_empty:
            return SearchResult(hits=_empty_hits(), total_count=0 if exact_count else None)
        charged = self._charge_fuel(plan)
        scored = None
        # exact_count needs every match counted, so pruning never applies
        if prune and not exact_count:
            from .pruned import PrunedExecutor, pruned_applicable, select_strategy

            engage = (
                select_strategy(self, plan) is not None
                if prune == "auto"
                else pruned_applicable(plan, is_text=self._is_text)
            )
            if engage:
                # prune=True skips the executor's mid-flight selectivity
                # bail (the differential suite's lever); auto keeps it
                scored = PrunedExecutor(self).execute(
                    plan, limit + offset, forced=(prune != "auto")
                )
        pruned_pivot_bound = None
        if scored is not None:
            # A committed pruned plan's pivot input is bounded by the
            # surviving blocks' capacity × leaves — usually far below the
            # pessimistic Σ-df bound, so the final action can take the
            # small-query no-AQE session (the whole point of pruning is
            # that the candidate set is tiny).
            m = getattr(self, "last_prune_metrics", None) or {}
            sb = m.get("surviving_blocks")
            if sb is not None:
                pruned_pivot_bound = sb * POSTINGS_PER_BLOCK * len(plan.leaves)
        cached_bound = None
        frame_key = None
        if scored is None:
            frame_key = repr(query)
            hit = self._plan_frame_cache.get(frame_key)
            if hit is not None:
                self._plan_frame_cache.move_to_end(frame_key)
                scored, cached_bound = hit
            else:
                scored = self._evaluate(plan)
        if scored is None:
            return SearchResult(
                hits=_empty_hits(),
                total_count=0 if exact_count else None,
                fuel_units=charged,
            )
        total = None
        # The single-leaf plan (hottest query class) contains no shuffle
        # exchange: scan -> broadcast join -> score -> TakeOrdered.  AQE
        # can't improve such a plan but bills it one extra scheduled job
        # per query-stage materialization, so plan the action without it.
        # Multi-leaf plans DO shuffle (the pivot); when a zero-job bound
        # proves the pivot input small (Σ df, substituting doc_count for
        # every unresolved leaf, ≤ SMALL_PIVOT_MAX_ROWS), the same
        # small-query session executes them with a small FIXED partition
        # count instead of AQE coalescing 64 empties — measured 27-45%
        # faster at sf0.1 (scripts/ab_pivot_shuffle.py; round-3's AQE-on
        # win was against 64 fixed, not against a right-sized count).
        # At cluster scale the pessimistic bound is huge and AQE keeps
        # owning the plan, so this can never mis-size a real shuffle.
        single_leaf = (
            plan.spec is not None
            and plan.spec.get("t") == "leaf"
            and len(plan.leaves) == 1
        )
        if pruned_pivot_bound is not None:
            pivot_bound = pruned_pivot_bound
        elif cached_bound is not None:
            # the bound computed when the frame was BUILT (leaf dfs were
            # resolved then; recomputing now would substitute doc_count
            # for every leaf and mis-size the execution session)
            pivot_bound = cached_bound
        else:
            pivot_bound = self._pivot_rows_bound(plan)
        if frame_key is not None and cached_bound is None:
            self._plan_frame_cache[frame_key] = (scored, pivot_bound)
            if len(self._plan_frame_cache) > self.plan_frame_cache_capacity:
                self._plan_frame_cache.popitem(last=False)
        if single_leaf or pivot_bound <= SMALL_PIVOT_MAX_ROWS:
            scored = self._without_aqe(scored)
        try:
            if exact_count:
                winners, total = self._topk_with_count(scored, limit + offset)
            else:
                winners = (
                    scored.orderBy(F.desc("score"), F.asc("docid"))
                    .limit(limit + offset)
                    .toPandas()
                )
        finally:
            # a committed pruned plan parks its block-metadata cache here
            # (keyed by thread — pruned.py::execute runs synchronously on
            # this search's thread, so popping our OWN key can never
            # steal a cache a concurrent search on the same engine is
            # still counting on) so it survives until the action above
            cache = self.__dict__.get("_pruned_block_cache", {}).pop(
                threading.get_ident(), None
            )
            if cache is not None:
                try:
                    cache.unpersist()
                except Exception:
                    # never let cache cleanup mask the action's real
                    # exception (e.g. a dead SparkContext fails both)
                    pass
        winners = winners.iloc[offset:].reset_index(drop=True)
        hits = self._materialize(winners, hydrate)
        return SearchResult(hits=hits, total_count=total, fuel_units=charged)

    def _pivot_rows_bound(self, plan: EvalPlan) -> int:
        """Zero-job upper bound on the combine pivot's input rows.

        Each leaf contributes at most its doc frequency; an unresolved df
        substitutes ``doc_count``, and non-term leaves (range/set/all/glob)
        match at most every doc.
        The bound is used to decide execution-session sizing only — an
        overestimate costs nothing but AQE's per-stage job.
        """
        total = 0
        for leaf in plan.leaves:
            if leaf.kind == "term" and self._is_text(leaf.field):
                total += self._doc_freq_cache.get(
                    (leaf.field, leaf.term), self.doc_count
                )
            else:
                total += self.doc_count
        return total

    def _noaqe_session(self) -> Optional[SparkSession]:
        """Lazily cloned SparkSession whose own SQLConf has AQE disabled.

        ``cloneSession()`` shares the SparkContext, shared state, and
        caches but copies the session state, so flipping AQE here cannot
        affect concurrent queries on the primary session (the round-3
        session-wide conf flip leaked into other threads' planning
        windows).  Returns None when the classic internals are
        unavailable (the caller then keeps the plain AQE plan — an
        optimization loss only, never a correctness one).
        """
        if self._noaqe is False:
            try:
                jclone = self.spark._jsparkSession.cloneSession()
                sess = SparkSession(self.spark.sparkContext, jclone)
                sess.conf.set("spark.sql.adaptive.enabled", "false")
                # small-query sizing: plans routed here either have no
                # exchange at all (single-leaf, point reads) or carry a
                # pivot whose input the zero-job bound proved tiny
                cores = self.spark.sparkContext.defaultParallelism
                sess.conf.set(
                    "spark.sql.shuffle.partitions", str(max(8, cores // 4))
                )
                # Small-query scans are row-group-pruned by the pushed
                # term literals, so most file splits do no IO — pack many
                # files per task so the task COUNT stops scaling with the
                # live file count (the splits' bytes are metadata to a
                # pruned scan, not work)
                sess.conf.set("spark.sql.files.maxPartitionBytes", "512m")
                sess.conf.set("spark.sql.files.openCostInBytes", "16m")
                self._noaqe = sess
            except Exception:
                self._noaqe = None
        return self._noaqe

    def _without_aqe(self, df: DataFrame) -> DataFrame:
        """Rebind a final-plan DataFrame to the engine's no-AQE session.

        Exchange-free point plans (single-leaf scan → broadcast join →
        TakeOrdered; the O(k) winner materialization) gain nothing from
        adaptive re-planning but pay one extra scheduled job per
        query-stage materialization; executing them under the cloned
        session skips that per-query without touching the primary
        session's conf.
        """
        sess = self._noaqe_session()
        if sess is None:
            self.noaqe_fallbacks += 1
            return df
        try:
            # Spark 4 moved the classic Dataset to sql.classic; on other
            # versions the rebind is unavailable — keep the AQE plan (an
            # optimization loss only, never a correctness one)
            jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                sess._jsparkSession, df._jdf.queryExecution().logical()
            )
        except Exception:
            self._noaqe = None  # stop re-attempting per query
            self.noaqe_fallbacks += 1
            return df
        return DataFrame(jdf, sess)

    def search_with_snippets(
        self,
        query: q.Query | str,
        limit: int = 10,
        offset: int = 0,
        snippet_field: str = "content",
        max_chars: int = 200,
    ) -> SearchResult:
        """Ranked search plus a highlighted snippet per winner.

        Snippet semantics follow the reference kernel (snippet.rs): query
        terms for ``snippet_field`` weighted ``1/(1+df)``, best ≤200-byte
        token-aligned window, HTML-escaped with ``<b>`` tags.  Snippets are
        generated driver-side over the k winners only (reference
        ``index.rs:8414`` search_with_snippets does the same post-collection).
        """
        tree = self._parse(query)
        canonical = q.canonicalize_query(tree)
        result = self.search(canonical, limit=limit, offset=offset)
        hits = result.hits
        if hits.empty:
            hits = hits.assign(snippet=pd.Series(dtype=object))
            return SearchResult(hits=hits, total_count=result.total_count)
        # collect the analyzed query terms targeting the snippet field
        plan = compile_query(canonical)
        terms: set[str] = set()
        for leaf in plan.leaves:
            if leaf.field != snippet_field:
                continue
            if leaf.kind == "term":
                terms.add(leaf.term)
            elif leaf.kind == "phrase":
                terms.update(t for _, t in leaf.terms)
            elif leaf.kind == "glob":
                terms.update(self.expand_glob(leaf.field, leaf.pattern))
        dfs = self._doc_freqs([(snippet_field, t) for t in sorted(terms)])
        generator = SnippetGenerator(
            {t: dfs.get((snippet_field, t), 0) for t in terms}, max_chars=max_chars
        )
        docs = self._read_live("docs")
        if snippet_field not in docs.columns:
            hits = hits.assign(snippet=None)
            return SearchResult(hits=hits, total_count=result.total_count)
        docids = [int(d) for d in hits["docid"]]
        stored = self._point_read_docs(docs, docids, ["docid", snippet_field])
        text_of = dict(zip(stored["docid"], stored[snippet_field]))
        hits = hits.assign(
            snippet=[generator.snippet(str(text_of.get(d) or "")) for d in docids]
        )
        return SearchResult(hits=hits, total_count=result.total_count)

    def segment_metrics(self) -> DataFrame:
        """Per-partition lineage + metrics rollup for this snapshot.

        One row per live segment joining the manifest's lineage (docid
        range, status, publish time — what bulk resume keys on) with
        metrics derived from the segment's own tables: token totals,
        posting entries/blocks, distinct terms, and tombstoned docs.
        Everything is computed at report time from data the build already
        wrote — the build hot path pays nothing — and the frame stays
        distributed (O(segments) rows), so the report works unchanged at
        10^7 segments.  Reference analogue: the MANIFEST's per-segment
        stats block (``keeper.rs`` segment records); Iceberg analogue:
        per-partition manifests + ``files`` metadata table.
        """
        man = (
            pin_segments(
                self.storage.read("manifest"),
                self.live_segments,
                self.segment_pin_isin_max,
            )
            .select(
                "generation",
                "segment_id",
                "status",
                "docid_lo",
                "docid_hi",
                "doc_count",
                "built_at",
            )
            .dropDuplicates(["segment_id"])
        )
        stats = (
            self._read_live("field_stats")
            .dropDuplicates(["segment_id", "field"])
            .groupBy("segment_id")
            .agg(F.sum("total_tokens").alias("total_tokens"))
        )
        postings = self._read_live("postings")
        post = postings.groupBy("segment_id").agg(
            F.count(F.lit(1)).alias("posting_blocks"),
            F.sum(F.size("entries")).alias("posting_entries"),
            F.sum(F.when(F.col("block_id") == 0, 1).otherwise(0)).alias("terms"),
        )
        out = (
            man.join(stats, on="segment_id", how="left")
            .join(post, on="segment_id", how="left")
        )
        if self._tombstones is not None:
            dead = (
                self._read_live("docs")
                .join(self._tombstones, on="docid", how="leftsemi")
                .groupBy("segment_id")
                .agg(F.count(F.lit(1)).alias("tombstoned_docs"))
            )
            out = out.join(dead, on="segment_id", how="left")
        else:
            out = out.withColumn("tombstoned_docs", F.lit(0).cast("long"))
        fill = {
            "total_tokens": 0,
            "posting_blocks": 0,
            "posting_entries": 0,
            "terms": 0,
            "tombstoned_docs": 0,
        }
        return out.fillna(fill).orderBy("segment_id")

    def docid_frame(self, query: q.Query | str) -> Optional[DataFrame]:
        """Scoreless unique docid set as a DataFrame (reference DocSet
        collector, argus.rs:5510).  This is the scale path: callers join
        or write the frame; nothing is materialized on the driver.  A
        broad query over 10^12 turns stays distributed end-to-end."""
        tree = self._parse(query)
        plan = compile_query(q.canonicalize_query(tree))
        if plan.is_empty:
            return None
        self._charge_fuel(plan)
        scored = self._evaluate(plan)
        if scored is None:
            return None
        return scored.select("docid").distinct()

    def collect_docids(
        self, query: q.Query | str, max_rows: int = 1_000_000
    ) -> list[int]:
        """Sorted docid list for SMALL result sets (parity tests, CLI).

        Guarded: raises when the set exceeds ``max_rows`` instead of
        silently OOMing the driver — use :meth:`docid_frame` for
        unbounded results.
        """
        frame = self.docid_frame(query)
        if frame is None:
            return []
        rows = frame.orderBy("docid").limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"docid set exceeds max_rows={max_rows}; "
                "use docid_frame() for large results"
            )
        return [r["docid"] for r in rows]

    # ── internals ─────────────────────────────────────────────────────────

    def _topk_with_count(self, scored: DataFrame, k: int) -> tuple[pd.DataFrame, int]:
        """Top-k (score desc, docid asc) AND exact match count in ONE job.

        The reference counts while collecting (``argus.rs:5344-5350``);
        the Spark analogue is a partition-local pass that keeps a running
        top-k and a row count per partition (memory O(k + batch), never
        the whole partition), then a driver-side merge of the
        P × (k + 1)-row partials.  This replaces the persist + count +
        orderBy two-action plan — one fewer job per counted query, and no
        cache pressure from persisting the full scored frame.
        """
        out_schema = StructType(
            [
                StructField("docid", LongType(), True),
                StructField("score", FloatType(), True),
                StructField("cnt", LongType(), True),
            ]
        )

        def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            top: Optional[pd.DataFrame] = None
            cnt = 0
            for pdf in batches:
                if pdf.empty:
                    continue
                cnt += len(pdf)
                merged = pdf if top is None else pd.concat((top, pdf))
                top = (
                    merged.sort_values(
                        ["score", "docid"], ascending=[False, True], kind="mergesort"
                    )
                    .head(k)
                    .reset_index(drop=True)
                )
            if top is not None:
                top = top.assign(cnt=pd.Series([pd.NA] * len(top), dtype="Int64"))
                top["docid"] = top["docid"].astype("Int64")
                yield top
            yield pd.DataFrame(
                {
                    "docid": pd.Series([pd.NA], dtype="Int64"),
                    "score": pd.Series([None], dtype="float32"),
                    "cnt": pd.Series([cnt], dtype="Int64"),
                }
            )

        partials = scored.select(
            F.col("docid").cast("long"), F.col("score").cast("float")
        ).mapInPandas(partial, schema=out_schema).toPandas()
        total = int(partials["cnt"].dropna().sum())
        winners = (
            partials[partials["cnt"].isna()]
            .drop(columns=["cnt"])
            .astype({"docid": "int64", "score": "float32"})
            .sort_values(["score", "docid"], ascending=[False, True], kind="mergesort")
            .head(k)
            .reset_index(drop=True)
        )
        return winners, total

    def _parse(self, query: q.Query | str):
        if isinstance(query, str):
            return self.parser.parse_lenient(query).query
        return query

    def _base_table(self, table: str) -> DataFrame:
        df = self._table_cache.get(table)
        if df is None:
            if table == "terms":
                # derive the dictionary from the CACHED postings frame so
                # both views share one file index (one listing at open)
                derived = IndexStorage.derive_terms(self._base_table("postings"))
                if derived is None:
                    # legacy fallback: load the physical terms directory
                    # DIRECTLY — storage.read("terms") would re-list and
                    # re-derive from a fresh, unpinned postings load first
                    df = self.spark.read.format(self.storage.format).load(
                        self.storage.path("terms")
                    )
                else:
                    df = derived
            else:
                df = self.storage.read(table)
            self._table_cache[table] = df
        return df

    def _read_live(self, table: str) -> DataFrame:
        """Read a per-segment table pinned to this engine's snapshot.

        Small live sets pin via a literal ``isin`` (static partition
        pruning); sets past :data:`SEGMENT_PIN_ISIN_MAX` switch to a
        broadcast semi-join against a liveness frame so plan size stays
        O(1) in the segment count (runtime pruning via DPP).
        """
        pinned = self._live_frame_cache.get(table)
        if pinned is not None:
            return pinned
        base = self._base_table(table)
        if len(self.live_segments) <= self.segment_pin_isin_max:
            pinned = base.where(F.col("segment_id").isin(self.live_segments))
        else:
            if self._liveness_frame is None:
                self._liveness_frame = self.spark.createDataFrame(
                    [(int(s),) for s in self.live_segments], "segment_id int"
                )
            pinned = base.join(
                F.broadcast(self._liveness_frame), on="segment_id", how="leftsemi"
            )
        self._live_frame_cache[table] = pinned
        return pinned

    def _filter_tombstones(self, frame: DataFrame) -> DataFrame:
        """Drop tombstoned docids from a (docid, ...) frame.

        Tombstones live outside the immutable segments (reference plan
        §10.5) and are folded at compaction; until then every query
        anti-joins the tombstone set pinned at open — broadcast while it
        is small, plain (shuffled) left_anti past the size gate.
        """
        if self._tombstones is None:
            return frame
        tombs = self._tombstones
        if self._tombstone_count <= self.tombstone_broadcast_max:
            tombs = F.broadcast(tombs)
        return frame.join(tombs, on="docid", how="left_anti")

    def _charge_fuel(self, plan: EvalPlan) -> int:
        """Admit or reject one compiled plan against the fuel budget.

        Two-level check (see :mod:`..plans.fuel`): a pessimistic bound
        admits every ordinary query without touching the dictionary, and
        only a query whose worst case overflows the budget resolves its
        term dfs (driver-side dictionary reads) and glob expansions (one
        Spark job each) for an exact decision — work its execution would
        do anyway.  Raises
        :class:`~frankensearch_spark.plans.fuel.QueryFuelExhausted` when
        the exact estimate still exceeds the budget.
        """

        def df_of(leaf) -> Optional[int]:
            if not self._is_text(leaf.field):
                return 0  # docs-table scan: no posting blocks to charge
            return self._doc_freq_cache.get((leaf.field, leaf.term))

        def glob_expansion(leaf) -> Optional[list]:
            if not self._is_text(leaf.field):
                return []  # keyword glob scans the docs table
            return self._glob_cache.get((leaf.field, leaf.pattern))

        def field_postings(field: str) -> Optional[int]:
            return self.field_tokens.get(field)

        args = (len(self.live_segments), self.doc_count, df_of, glob_expansion)
        kw = dict(field_postings_of=field_postings)
        units, exact = fuel.estimate_fuel(plan, *args, **kw)
        if units <= self.query_fuel_budget:
            self.last_fuel_units = units
            return units
        if not exact:
            # resolve the pessimistic unknowns: the unresolved term/phrase
            # dfs from the dictionary, plus the glob expansions
            pairs = set()
            for leaf in plan.leaves:
                if leaf.kind == "term" and self._is_text(leaf.field):
                    pairs.add((leaf.field, leaf.term))
                elif leaf.kind == "phrase" and self._is_text(leaf.field):
                    pairs.update((leaf.field, t) for _, t in leaf.terms)
                elif leaf.kind == "glob" and self._is_text(leaf.field):
                    self._expand_glob_with_df(leaf.field, leaf.pattern)
            pairs -= set(self._doc_freq_cache)
            if pairs:
                self._doc_freqs(sorted(pairs))
            units, _ = fuel.estimate_fuel(plan, *args, **kw)
            if units <= self.query_fuel_budget:
                self.last_fuel_units = units
                return units
        raise fuel.QueryFuelExhausted(units, self.query_fuel_budget)

    def _evaluate(self, plan: EvalPlan) -> Optional[DataFrame]:
        """Return DataFrame (docid long, score float32) of matching docs."""
        frames = []
        term_leaves = [l for l in plan.leaves if l.kind == "term" and self._is_text(l.field)]
        if term_leaves:
            frames.append(self._term_leaf_frame(term_leaves))
        for leaf in plan.leaves:
            if leaf.kind == "phrase":
                f = self._phrase_leaf_frame(leaf)
                if f is not None:
                    frames.append(f)
            elif leaf.kind == "glob":
                f = self._glob_leaf_frame(leaf)
                if f is not None:
                    frames.append(f)
            elif leaf.kind in ("range", "set", "all") or (
                leaf.kind == "term" and not self._is_text(leaf.field)
            ):
                frames.append(self._docs_leaf_frame(leaf))
        frames = [f for f in frames if f is not None]
        if not frames:
            return None
        cand = frames[0]
        for f in frames[1:]:
            cand = cand.unionByName(f)
        return self._combine(plan, cand)

    def _combine(self, plan: EvalPlan, cand: DataFrame) -> DataFrame:
        """Pivot (docid, leaf_id, score) rows and run the f32 eval tree
        (compiled to JVM expressions; bit-identical to the oracle's numpy
        evaluator by construction and by differential test)."""
        cand = self._filter_tombstones(cand)
        # Single-leaf fast path (the hottest query class: one term over one
        # text field): every leaf frame already emits at most one row per
        # docid, and the eval tree for {"t":"leaf"} is the identity — so
        # the pivot shuffle and the Python eval stage are pure overhead.
        # The plan becomes scan -> broadcast join -> score, zero exchanges.
        if (
            plan.spec is not None
            and plan.spec.get("t") == "leaf"
            and len(plan.leaves) == 1
        ):
            return cand.select(
                F.col("docid").cast("long").alias("docid"),
                F.col("score").cast("float").alias("score"),
            )
        # General path: one pivot shuffle to a row per docid with one score
        # column per leaf, then the eval tree compiled to JVM expressions
        # (plans/eval.py::compile_tree_columns — the bit-exact mirror of
        # evaluate_tree, which remains the oracle's evaluator).  The whole
        # combine stays inside whole-stage codegen; no Python workers.
        #
        # Hand-rolled pivot: DataFrame.pivot() plans TWO aggregations —
        # a pre-agg keyed (docid, leaf_id) with its own Exchange, then
        # the pivotfirst agg keyed docid with a SECOND Exchange
        # (plans/r06/bm25_scored_multi_term_{before,after}.txt).  Every
        # leaf frame emits at most one row per docid (the invariant
        # first() already leans on), so the pre-agg deduplicates nothing;
        # first(when(leaf_id == lid, score)) per leaf produces the same
        # columns — null for a leaf the doc didn't match, the leaf's one
        # score otherwise — in ONE aggregation with ONE Exchange.
        leaf_ids = [l.leaf_id for l in plan.leaves]
        pivoted = cand.groupBy("docid").agg(
            *[
                F.first(
                    F.when(F.col("leaf_id") == lid, F.col("score")),
                    ignorenulls=True,
                ).alias(str(lid))
                for lid in leaf_ids
            ]
        )
        # the compiled tree depends only on the spec SHAPE (leaf ids +
        # boost factors), which repeats across queries with different
        # terms — cache the Column pair per canonical spec
        tree_key = ("tree", json.dumps(plan.spec, sort_keys=True))
        compiled = self._expr_cache.get(tree_key)
        if compiled is None:
            zero = F.lit(0.0).cast("float")
            matched, score = compile_tree_columns(
                plan.spec,
                lambda i: F.col(str(i)).isNotNull(),
                lambda i: F.coalesce(F.col(str(i)).cast("float"), zero),
            )
            compiled = (
                matched,
                F.col("docid").cast("long").alias("docid"),
                score.cast("float").alias("score"),
            )
            self._expr_cache[tree_key] = compiled
        return pivoted.where(compiled[0]).select(compiled[1], compiled[2])

    def _is_text(self, field: str) -> bool:
        return field in self.meta.text_fields

    def _doc_freqs(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """Snapshot doc frequencies from the driver-side term dictionary.

        Each missing pair's bucket maps to one dictionary file per live
        segment (:mod:`..sources.termdict`); their per-segment dfs sum to
        the snapshot df.  No Spark job runs: the files are read with
        pyarrow once per process and the sums are cached for this engine,
        so a pair resolved once (by any query) is a dict lookup after.
        """
        if not pairs:
            return {}
        missing = [p for p in pairs if p not in self._doc_freq_cache]
        if missing:
            files = self._dictionary_files()
            live = set(self.live_segments)
            by_bucket: dict[int, list[tuple[str, str]]] = {}
            for pair in missing:
                by_bucket.setdefault(
                    _bucket(pair[1], self.meta.num_buckets), []
                ).append(pair)
            for bucket, group in by_bucket.items():
                totals = dict.fromkeys(group, 0)
                for uri in files.get(bucket, []):
                    for (seg, field), dfs in termdict.file_doc_freqs(uri).items():
                        if seg not in live:
                            continue
                        for pair in group:
                            if pair[0] == field:
                                totals[pair] += dfs.get(pair[1], 0)
                self._doc_freq_cache.update(totals)
        return {p: self._doc_freq_cache[p] for p in pairs}

    def _dictionary_files(self) -> dict[int, list[str]]:
        """This snapshot's dictionary files by bucket, listed once.

        The file list is ``inputFiles()`` of the pinned postings relation
        the scoring scan reads, so the dictionary and the scan see the
        same files; non-live segments' files are dropped by their
        ``segment_id=K`` directory.  Legacy indexes keep the dictionary in
        a physical ``terms/`` directory, listed on the driver; its files
        hold several segments each, so their rows are filtered by
        segment in :meth:`_doc_freqs` instead.
        """
        if self._dict_files is None:
            postings = self._base_table("postings")
            if "term_df" in postings.columns:
                uris = postings.inputFiles()
            else:
                uris = termdict.list_files(self.storage.path("terms"))
            live = set(self.live_segments)
            by_bucket: dict[int, list[str]] = {}
            for uri in uris:
                part = termdict.partition_values(uri)
                seg = part.get("segment_id")
                if seg is not None and seg not in live:
                    continue
                # both layouts are bucket-partitioned (storage.py)
                by_bucket.setdefault(part["bucket"], []).append(uri)
            self._dict_files = by_bucket
        return self._dict_files

    def _resolve_doc_freqs(self, leaves: list[LeafSpec]) -> None:
        """Ensure the df cache covers every text-term leaf."""
        self._doc_freqs(
            sorted(
                {
                    (l.field, l.term)
                    for l in leaves
                    if l.kind == "term" and self._is_text(l.field)
                }
            )
        )

    def _term_weight_rows(self, leaves: list[LeafSpec]) -> list[tuple]:
        """(leaf_id, field, term, weight, bucket) for leaves with df > 0."""
        self._resolve_doc_freqs(leaves)
        rows = []
        for leaf in leaves:
            df_ = self._doc_freq_cache.get((leaf.field, leaf.term), 0)
            if df_ == 0:
                continue
            weight = float(term_weight(df_, self.doc_count, leaf.boost))
            rows.append(
                (
                    leaf.leaf_id,
                    leaf.field,
                    leaf.term,
                    weight,
                    _bucket(leaf.term, self.meta.num_buckets),
                )
            )
        return rows

    def _compact_decode_ok(self, pairs) -> bool:
        """True when every (field, term) df is cached and their sum stays
        under :data:`COMPACT_DECODE_MAX_POSTINGS` — the gate for the
        one-expression compact gap decode.  Unknown dfs fail safe to the
        staged decode (an unresolved pair usually means a scan-heavy path
        resolved its weights elsewhere)."""
        total = 0
        for pair in pairs:
            df_ = self._doc_freq_cache.get(pair)
            if df_ is None:
                return False
            total += df_
        return total <= COMPACT_DECODE_MAX_POSTINGS

    def _exploded_postings(self, rows: list[tuple], postings: DataFrame) -> DataFrame:
        """Join query-term rows against postings and explode to per-doc rows.

        The literal ``term IN (...)`` is semantically redundant with the
        join but PUSHES to the Parquet scan: postings files are
        term-clustered with bounded row groups (build.py), so the scan
        reads only the query terms' row groups instead of every term in
        the bucket — the difference between O(query postings) and
        O(bucket bytes) IO per query.

        Small queries (unique (field, term) pairs, ≤ :data:`QTERM_INLINE_MAX`
        rows — every interactive query) inline ``leaf_id``/``weight`` as a
        literal CASE chain on (field, term) instead of broadcast-joining a
        qterms frame: the broadcast build is a separately SCHEDULED job per
        query (~40–90 ms of pure overhead at sf0.1), while the CASE chain is
        free — the plan becomes scan → project, zero joins.  Semantics are
        identical: the CASE chain assigns a row's leaf only on an exact
        (field, term) match and the isNotNull filter drops the cross terms
        the isin superset admits.  Duplicate (field, term) pairs across
        leaves need one output row PER leaf, which only the join form
        produces — they (and glob-scale row lists) keep the join."""
        postings = postings.where(F.col("term").isin(sorted({r[2] for r in rows})))
        compact = self._compact_decode_ok(
            (r[1], r[2]) for r in rows
        )
        if (
            len(rows) <= QTERM_INLINE_MAX
            and len({(r[1], r[2]) for r in rows}) == len(rows)
        ):
            leaf_expr = F.lit(None).cast("int")
            weight_expr = F.lit(None).cast("float")
            for lid, fld, term, w, _b in rows:
                cond = (F.col("field") == fld) & (F.col("term") == term)
                leaf_expr = F.when(cond, F.lit(int(lid))).otherwise(leaf_expr)
                weight_expr = F.when(cond, F.lit(float(w)).cast("float")).otherwise(
                    weight_expr
                )
            joined = (
                postings.where(F.col("field").isin(sorted({r[1] for r in rows})))
                .withColumn("leaf_id", leaf_expr)
                .withColumn("weight", weight_expr)
                .where(F.col("leaf_id").isNotNull())
            )
            joined = with_decoded_docids(
                joined, is_delta_layout(postings), compact=compact
            )
            return joined.select(
                "leaf_id",
                "field",
                "weight",
                F.explode_outer(F.arrays_zip("dec", "entries")).alias("e"),
            ).select(
                "leaf_id",
                "field",
                "weight",
                F.col("e.dec").alias("docid"),
                F.col("e.entries.freq").alias("freq"),
                F.col("e.entries.fnid").alias("fnid"),
            )
        qterms = values_frame(
            self.spark,
            rows,
            "leaf_id int, field string, term string, weight float, bucket int",
        )
        joined = postings.join(
            F.broadcast(qterms), on=["field", "term", "bucket"], how="inner"
        )
        joined = with_decoded_docids(
            joined, is_delta_layout(postings), compact=compact
        )
        return joined.select(
            "leaf_id",
            "field",
            "weight",
            F.explode_outer(F.arrays_zip("dec", "entries")).alias("e"),
        ).select(
            "leaf_id",
            "field",
            "weight",
            F.col("e.dec").alias("docid"),
            F.col("e.entries.freq").alias("freq"),
            F.col("e.entries.fnid").alias("fnid"),
        )

    def _score_block_subset(
        self,
        leaves: list[LeafSpec],
        block_keys: DataFrame,
        partition_keys: Optional[list[tuple[int, int]]] = None,
    ) -> Optional[DataFrame]:
        """Exact f32 scores for only the posting blocks named in
        ``block_keys (leaf_id, field, term, segment_id, block_id)``.

        ``partition_keys`` — the driver-known (segment_id, bucket) pairs
        the named blocks live in — adds literal partition predicates (a
        covering rectangle), so the scan's FILE INDEX prunes to those
        directories instead of listing/splitting every live file; the
        semi join keeps exactness.  A handful of named blocks then costs
        a handful of scan tasks, not O(live files).
        """
        rows = self._term_weight_rows(leaves)
        if not rows:
            return None
        buckets = sorted({r[4] for r in rows})
        postings = self._read_live("postings").where(F.col("bucket").isin(buckets))
        if partition_keys:
            segs = sorted({s for s, _ in partition_keys})
            bks = sorted({b for _, b in partition_keys})
            postings = postings.where(
                F.col("segment_id").isin(segs) & F.col("bucket").isin(bks)
            )
        subset = postings.join(
            block_keys, on=["field", "term", "segment_id", "block_id"], how="leftsemi"
        )
        return self._score_rows(self._exploded_postings(rows, subset))

    def _score_leaf_rows_for_docids(
        self,
        leaves: list[LeafSpec],
        candidates: DataFrame,
        cand_bound: Optional[int] = None,
        block_meta: Optional[DataFrame] = None,
    ) -> Optional[DataFrame]:
        """Exact f32 scores for the given leaves restricted to candidate
        docids (the rescore lane of the pruned plan).

        ``cand_bound`` is an upper bound on the candidate count (the
        pruned executor knows ``surviving_blocks × 128``).  When it is
        small, the posting scan itself is pruned to each candidate's
        COVERING block per (field, term): blocks are docid-sorted with
        ``first_doc`` metadata and segments own disjoint docid ranges, so
        the one block that can contain docid ``d`` is the last block with
        ``first_doc ≤ d`` — found with a running ``last(...ignorenulls)``
        window over the union of block-metadata rows and candidate rows
        (all JVM-side, metadata-scale shuffle).  This turns the rescore's
        decode from O(summed df) to O(candidates × leaves) — the
        reference's "only touch blocks the heap still needs" BMW economy
        (``quiver.rs:1719-1790``), which the plain docid semi-join cannot
        give because the semi-join runs AFTER the explode.  A block from a
        foreign segment can be selected when a candidate precedes all of
        its home segment's blocks — a safe over-decode, removed by the
        docid semi-join below.
        """
        rows = self._term_weight_rows(leaves)
        if not rows:
            return None
        buckets = sorted({r[4] for r in rows})
        postings = self._read_live("postings").where(
            F.col("bucket").isin(buckets)
            # literal pushdown → term-clustered row-group pruning (both
            # the covering-metadata pass and the decode pass below)
            & F.col("term").isin(sorted({r[2] for r in rows}))
        )
        if cand_bound is not None and cand_bound <= self.span_rescore_max_candidates:
            pairs = values_frame(
                self.spark,
                [(r[1], r[2]) for r in rows],
                "field string, term string",
            )
            # block_meta (e.g. the pruned executor's persisted blocks
            # frame) carries (field, term, segment_id, block_id,
            # first_doc) for every block of these leaves — using it skips
            # a second postings file scan for the covering metadata
            meta_src = block_meta if block_meta is not None else postings
            meta = meta_src.select(
                "field",
                "term",
                F.col("first_doc").cast("long").alias("pos"),
                "segment_id",
                "block_id",
                F.lit(1).alias("is_block"),
            )
            cand_rows = candidates.crossJoin(F.broadcast(pairs)).select(
                "field",
                "term",
                F.col("docid").cast("long").alias("pos"),
                F.lit(None).cast(meta.schema["segment_id"].dataType).alias(
                    "segment_id"
                ),
                F.lit(None).cast(meta.schema["block_id"].dataType).alias("block_id"),
                F.lit(0).alias("is_block"),
            )
            w = (
                Window.partitionBy("field", "term")
                .orderBy(F.asc("pos"), F.desc("is_block"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            covering = (
                meta.unionByName(cand_rows)
                .select(
                    "field",
                    "term",
                    "is_block",
                    F.last("segment_id", ignorenulls=True).over(w).alias("segment_id"),
                    F.last("block_id", ignorenulls=True).over(w).alias("block_id"),
                )
                .where((F.col("is_block") == 0) & F.col("segment_id").isNotNull())
                .select("field", "term", "segment_id", "block_id")
                .distinct()
            )
            # covering ≤ candidates × terms rows by construction (and the
            # span path only engages under the cand_bound cap), so the
            # explicit broadcast holds even when the final action runs on
            # the no-AQE session where runtime-stats conversion can't fire
            postings = postings.join(
                F.broadcast(covering),
                on=["field", "term", "segment_id", "block_id"],
                how="leftsemi",
            )
            candidates = F.broadcast(candidates)
        exploded = self._exploded_postings(rows, postings).join(
            candidates, on="docid", how="leftsemi"
        )
        return self._score_rows(exploded)

    def _term_leaf_frame(self, leaves: list[LeafSpec]) -> Optional[DataFrame]:
        """Score term leaves from driver-resolved BM25 weights.

        Doc frequencies come from the driver-side term dictionary
        (:meth:`_doc_freqs`: pyarrow reads of the live segments'
        dictionary files, no Spark job), mirroring the reference's
        TermScorer, which resolves weights from the in-memory term
        dictionary at scorer construction (``argus.rs:1521``).  The
        query's only Spark action is therefore the scoring scan itself.
        Dead leaves (df = 0) drop here.  Weights are float32-exact
        (pinned by test_contract.py)."""
        rows = self._term_weight_rows(leaves)
        if not rows:
            return None
        buckets = sorted({r[4] for r in rows})
        postings = self._read_live("postings").where(F.col("bucket").isin(buckets))
        return self._score_rows(self._exploded_postings(rows, postings))

    def _score_rows(self, rows: DataFrame) -> DataFrame:
        """(leaf_id, field, weight, docid, freq, fnid) -> (docid, leaf_id, score).

        The per-posting BM25 component ``w * (f / (f + tf_cache[fnid]))``
        runs entirely JVM-side (whole-stage codegen, no Python workers in
        the hot path): the 256-entry per-field tf cache becomes a float
        array literal indexed by fnid, and each float32 operation of the
        pinned contract (contract.py::term_scores) is written as one Spark
        arithmetic op CAST back to float.  Spark evaluates float arithmetic
        in double, but one binary32 operation evaluated in binary64 and
        rounded once to binary32 is exactly the binary32 result (double
        rounding is innocuous when p2 >= 2*p1 + 2; 53 >= 50), so the chain
        is bit-identical to the numpy float32 path it replaces — pinned by
        ``test_contract.py::test_jvm_scoring_matches_numpy``.
        """
        cols = self._expr_cache.get("score_cols")
        if cols is None:
            f32 = lambda c: c.cast("float")  # noqa: E731
            norm = None
            for name, cache in self.tf_cache.items():
                if cache is None:
                    continue
                arr = F.lit([float(x) for x in cache]).cast("array<float>")
                e = F.element_at(arr, F.col("fnid") + F.lit(1))
                norm = (
                    e if norm is None
                    else F.when(F.col("field") == name, e).otherwise(norm)
                )
            if norm is None:  # no scored text field has any tokens
                cols = ["docid", "leaf_id", F.lit(0.0).cast("float").alias("score")]
            else:
                ff = f32(F.col("freq"))
                tf_factor = f32(ff / f32(ff + norm))
                score = f32(f32(F.col("weight")) * tf_factor)
                cols = ["docid", "leaf_id", score.alias("score")]
            self._expr_cache["score_cols"] = cols
        return rows.select(*cols)

    def _phrase_leaf_frame(self, leaf: LeafSpec) -> Optional[DataFrame]:
        if not self._is_text(leaf.field) or not self.meta.positions:
            return None
        terms = [t for _, t in leaf.terms]
        offsets = [p for p, _ in leaf.terms]
        pairs = [(leaf.field, t) for t in terms]
        dfs = self._doc_freqs(sorted(set(pairs)))
        if any(dfs.get(p, 0) == 0 for p in pairs):
            return None  # a missing term can never phrase-match
        weight = float(
            phrase_weight([dfs[p] for p in pairs], self.doc_count, leaf.boost)
        )
        n_terms = len(terms)
        qrows = [
            (i, leaf.field, t, int(off), _bucket(t, self.meta.num_buckets))
            for i, (t, off) in enumerate(zip(terms, offsets))
        ]
        buckets = sorted({r[4] for r in qrows})
        postings = self._read_live("postings").where(
            F.col("bucket").isin(buckets)
            # literal pushdown → term-clustered row-group pruning
            & F.col("term").isin(sorted({r[2] for r in qrows}))
        )
        if len(qrows) <= QTERM_INLINE_MAX:
            # Inline the member terms' (ord, off) rows as a literal CASE
            # chain + explode instead of broadcast-joining a qterms frame
            # (the broadcast build is a separately scheduled job per
            # query; see _exploded_postings).  A phrase may REPEAT a term
            # ("w3 w3") and the join emitted one row per occurrence — the
            # explode over a per-term literal array<struct<ord, off>>
            # reproduces exactly that, and explode(NULL) drops unmatched
            # rows just as the inner join did.
            by_pair: dict[tuple, list] = {}
            for i, fld, t, off, _b in qrows:
                by_pair.setdefault((fld, t), []).append((i, off))
            oo_expr = F.lit(None).cast("array<struct<ord:int,off:int>>")
            for (fld, t), occ in by_pair.items():
                arr = F.array(
                    *[
                        F.struct(
                            F.lit(int(i)).alias("ord"), F.lit(int(off)).alias("off")
                        )
                        for i, off in occ
                    ]
                )
                cond = (F.col("field") == fld) & (F.col("term") == t)
                oo_expr = F.when(cond, arr).otherwise(oo_expr)
            matched = (
                postings.where(
                    F.col("field").isin(sorted({r[1] for r in qrows}))
                )
                .withColumn("oo", F.explode(oo_expr))
                .withColumn("ord", F.col("oo.ord"))
                .withColumn("off", F.col("oo.off"))
            )
        else:
            qterms = values_frame(
                self.spark,
                qrows,
                "ord int, field string, term string, off int, bucket int",
            )
            matched = postings.join(
                F.broadcast(qterms), on=["field", "term", "bucket"], how="inner"
            )
        rows = (
            with_decoded_docids(
                matched,
                is_delta_layout(postings),
                compact=self._compact_decode_ok(set(pairs)),
            )
            .select(
                "ord",
                "off",
                F.explode_outer(F.arrays_zip("dec", "entries", "positions")).alias("e"),
            )
            .select(
                "ord",
                "off",
                F.col("e.dec").alias("docid"),
                F.col("e.entries.fnid").alias("fnid"),
                F.col("e.positions").alias("positions"),
            )
        )
        if leaf.slop == 0:
            # Slop-0 adjacency entirely JVM-side: docid-conjunction of the
            # member terms' postings, start positions = chained
            # array_intersect over offset-shifted position sets (duplicate
            # positions within a doc collapse via array_distinct, matching
            # the reference's set semantics).  The surviving candidate set
            # (docs containing ALL terms) is tiny, and the exact f32 score
            # reuses the shared per-posting scorer with f = occurrences.
            #
            # The conjunction is a single-pass pivot-style aggregation —
            # first(when(ord == i, shifted_positions)) per member — NOT a
            # per-ord self-join: the join plan scanned + FOR-decoded the
            # postings once PER SIDE and paid a BroadcastExchange build
            # (one extra scheduled job per query); the aggregation scans
            # once and shuffles only the (docid, shifted-positions) rows
            # (plans/r06/bm25_scored_phrase_{before,after}.txt).  (docid,
            # ord) is unique by construction — a docid appears in exactly
            # one posting entry per (field, term) — so first() is
            # deterministic, exactly as the pivot in _combine relies on.
            def shifted_by(off: int):
                return lambda p: p - F.lit(int(off))

            grouped = rows.groupBy("docid").agg(
                F.first(
                    F.when(F.col("ord") == 0, F.col("fnid")), ignorenulls=True
                ).alias("fnid"),
                *[
                    F.first(
                        F.when(
                            F.col("ord") == i,
                            F.array_distinct(
                                F.transform("positions", shifted_by(offsets[i]))
                            ),
                        ),
                        ignorenulls=True,
                    ).alias(f"shift_{i}")
                    for i in range(n_terms)
                ],
            )
            # docs missing any member term (or any member's positions)
            # can never phrase-match — the inner join dropped them via
            # the join itself; here the null shift column marks them
            present = F.col("shift_0").isNotNull()
            inter = F.col("shift_0")
            for i in range(1, n_terms):
                present = present & F.col(f"shift_{i}").isNotNull()
                inter = F.array_intersect(inter, F.col(f"shift_{i}"))
            cand = (
                grouped.where(present)
                .select("docid", "fnid", F.size(inter).alias("freq"))
                .where(F.col("freq") > 0)
                .select(
                    F.lit(leaf.leaf_id).alias("leaf_id"),
                    F.lit(leaf.field).alias("field"),
                    F.lit(weight).cast("float").alias("weight"),
                    "docid",
                    "freq",
                    "fnid",
                )
            )
            return self._score_rows(cand)

        # slop > 0 (not used by any shipped parser path): per-doc fallback
        cache = self.tf_cache[leaf.field]
        leaf_id = leaf.leaf_id
        slop = leaf.slop
        out_schema = StructType(
            [
                StructField("docid", LongType(), False),
                StructField("leaf_id", IntegerType(), False),
                StructField("score", FloatType(), False),
            ]
        )

        def check_group(pdf: pd.DataFrame) -> pd.DataFrame:
            results = []
            for docid, grp in pdf.groupby("docid"):
                # duplicate ords are possible when one term repeats in the
                # phrase; all ords 0..n_terms-1 must be present
                if grp["ord"].nunique() != n_terms:
                    continue
                sets = []
                for ord_i in range(n_terms):
                    sub = grp[grp["ord"] == ord_i].iloc[0]
                    base = np.asarray(sub["positions"], dtype=np.int64) - int(sub["off"])
                    sets.append(set(base.tolist()))
                starts = _slop_starts(sets, slop)
                occurrences = len(starts)
                if occurrences == 0:
                    continue
                fnid = int(grp["fnid"].iloc[0])
                f32 = np.float32(occurrences)
                norm = cache[fnid]
                score = np.float32(np.float32(weight) * (f32 / (f32 + norm)))
                results.append((int(docid), leaf_id, float(score)))
            return pd.DataFrame(results, columns=["docid", "leaf_id", "score"])

        return rows.groupBy("docid").applyInPandas(check_group, schema=out_schema)

    def expand_glob(self, field: str, pattern: str) -> list[str]:
        """Deterministic dictionary expansion of one glob pattern.

        Mirrors the reference's per-field dictionary scan
        (``index.rs`` snapshot_glob_terms): prefix patterns prune to a
        dictionary range scan (here: a pushed-down ``startswith`` filter over
        the terms table), other classes scan the field's dictionary; the
        result is the first :data:`~frankensearch_spark.plans.glob.
        DEFAULT_GLOB_EXPANSION_LIMIT` matches in ascending term order.
        """
        return [t for t, _ in self._expand_glob_with_df(field, pattern)]

    def _expand_glob_with_df(self, field: str, pattern: str) -> list[tuple[str, int]]:
        """Expansion terms plus their snapshot doc frequencies.

        One dictionary job serves both the glob leaf (term set) and the
        fuel estimator (per-term df — the posting-block charge), cached
        for the engine's lifetime like the expansion itself.
        """
        cached = self._glob_cache.get((field, pattern))
        if cached is not None:
            return cached
        kind, core = glob.classify(pattern)
        if kind == glob.EXACT:
            cond = F.col("term") == core
        elif kind == glob.PREFIX:
            cond = F.col("term").startswith(core)
        elif kind == glob.SUFFIX:
            cond = F.col("term").endswith(core)
        elif kind == glob.SUBSTRING:
            cond = F.col("term").contains(core)
        else:
            cond = F.col("term").rlike(glob.to_regex(core))
        rows = (
            self._read_live("terms")
            .where((F.col("field") == field) & cond)
            # per-segment dictionary rows -> snapshot term set; the sum is
            # the snapshot df (same rollup as _doc_freqs)
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
            .orderBy("term")
            .limit(glob.DEFAULT_GLOB_EXPANSION_LIMIT)
            .collect()
        )
        terms = [(r["term"], int(r["df"] or 0)) for r in rows]
        self._glob_cache[(field, pattern)] = terms
        return terms

    def _glob_leaf_frame(self, leaf: LeafSpec) -> Optional[DataFrame]:
        """Const-score doc set for one (field, pattern) glob leaf."""
        if not self._is_text(leaf.field):
            # keyword-field glob: match the stored column values directly
            docs = self._read_live("docs")
            name = "doc_id" if leaf.field == "id" else leaf.field
            if name not in docs.columns:
                return None
            kind, core = glob.classify(leaf.pattern)
            if kind == glob.EXACT:
                cond = F.col(name) == core
            elif kind == glob.PREFIX:
                cond = F.col(name).startswith(core)
            elif kind == glob.SUFFIX:
                cond = F.col(name).endswith(core)
            elif kind == glob.SUBSTRING:
                cond = F.col(name).contains(core)
            else:
                cond = F.col(name).rlike(glob.to_regex(core))
            return docs.where(cond).select(
                "docid",
                F.lit(leaf.leaf_id).alias("leaf_id"),
                F.lit(1.0).cast("float").alias("score"),
            )
        terms = self.expand_glob(leaf.field, leaf.pattern)
        if not terms:
            return None
        buckets = sorted({_bucket(t, self.meta.num_buckets) for t in terms})
        postings = self._read_live("postings").where(F.col("bucket").isin(buckets))
        if len(terms) <= GLOB_ISIN_MAX:
            # small expansions stay literal: the InSet pushes to the scan
            hit = postings.where(
                (F.col("field") == leaf.field) & F.col("term").isin(terms)
            )
        else:
            # wide expansions (cap 16,384) would bloat the plan as
            # literals and defeat row-group pruning anyway; a broadcast
            # semi-join keeps the plan O(1) and the probe hash-based
            tf = self.spark.createDataFrame(
                [(leaf.field, t) for t in terms], "field string, term string"
            )
            hit = postings.join(
                F.broadcast(tf), on=["field", "term"], how="leftsemi"
            )
        matched = (
            with_decoded_docids(hit, is_delta_layout(postings))
            .select(F.explode_outer("dec").alias("docid"))
            .distinct()
        )
        return matched.select(
            "docid",
            F.lit(leaf.leaf_id).alias("leaf_id"),
            F.lit(1.0).cast("float").alias("score"),
        )

    def _docs_leaf_frame(self, leaf: LeafSpec) -> Optional[DataFrame]:
        docs = self._read_live("docs")
        if leaf.kind == "all":
            cond = F.lit(True)
        elif leaf.kind == "term":
            if leaf.field not in docs.columns and leaf.field != "id":
                return None
            col = F.col("doc_id" if leaf.field == "id" else leaf.field)
            cond = col == F.lit(leaf.term)
        elif leaf.kind == "set":
            if leaf.field not in docs.columns and leaf.field != "id":
                return None
            col = F.col("doc_id" if leaf.field == "id" else leaf.field)
            cond = col.isin(list(leaf.values))
        else:  # range
            name = "doc_id" if leaf.field == "id" else leaf.field
            if name not in docs.columns:
                return None
            col = F.col(name)
            cond = F.lit(True)
            if leaf.lower is not None:
                cond = cond & (
                    (col >= leaf.lower) if leaf.lower_inclusive else (col > leaf.lower)
                )
            if leaf.upper is not None:
                cond = cond & (
                    (col <= leaf.upper) if leaf.upper_inclusive else (col < leaf.upper)
                )
        return docs.where(cond).select(
            "docid",
            F.lit(leaf.leaf_id).alias("leaf_id"),
            F.lit(1.0).cast("float").alias("score"),
        )

    #: budget for the driver-side hydration read: the matched row groups'
    #: compressed bytes for the requested columns must fit under this or
    #: the distributed point-read runs instead (a 100 TB index with fat
    #: row groups must not funnel megabytes through the driver per query)
    DRIVER_HYDRATION_MAX_BYTES = 32 << 20

    def _point_read_docs_driver(
        self, docids: list, cols: list
    ) -> Optional[pd.DataFrame]:
        """Zero-job point-read of ``cols`` for k docids via pyarrow.

        The winners' docids land in ≤k live segment directories (manifest
        spans); within each file the docs table is docid-sorted, so row
        group min/max statistics isolate the ≤k groups that can contain
        them.  Reading those groups' requested columns on the driver is
        O(k × row-group) work bounded by
        :data:`DRIVER_HYDRATION_MAX_BYTES` — at bench scale ~1 ms of IO
        replacing a ~100 ms scheduled Spark job.  Returns None (caller
        runs the distributed read) on any surprise: no spans, non-local
        format, non-primitive column types, or over-budget row groups.
        """
        if self._span_arrays is None or self.storage.format != "parquet":
            return None
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        seg_a, lo_a, hi_a = self._span_arrays
        targets: dict[int, list[int]] = {}
        for d in docids:
            in_span = (lo_a <= d) & (d <= hi_a)
            if not in_span.any():
                # same guard as the distributed body: a docid outside
                # every manifest span means the span metadata cannot be
                # trusted to locate rows — fall back to the full scan
                # rather than silently dropping the winner
                return None
            for s in seg_a[in_span]:
                targets.setdefault(int(s), []).append(int(d))
        file_cache = self.__dict__.setdefault("_docs_file_cache", {})
        budget = self.DRIVER_HYDRATION_MAX_BYTES
        frames = []
        want = set(docids)
        try:
            for seg, ids in targets.items():
                files = file_cache.get(seg)
                if files is None:
                    part = os.path.join(
                        self.storage.path("docs"), f"segment_id={seg}"
                    )
                    if not os.path.isdir(part):
                        return None
                    files = sorted(
                        os.path.join(part, f)
                        for f in os.listdir(part)
                        if f.endswith(".parquet")
                    )
                    file_cache[seg] = files
                for path in files:
                    pf = pq.ParquetFile(path)
                    names = pf.schema_arrow.names
                    if not set(cols) <= set(names):
                        return None
                    for c in cols:
                        t = pf.schema_arrow.field(c).type
                        if not (
                            pa.types.is_integer(t)
                            or pa.types.is_floating(t)
                            or pa.types.is_string(t)
                            or pa.types.is_large_string(t)
                            or pa.types.is_boolean(t)
                        ):
                            return None
                    md = pf.metadata
                    if md.num_row_groups == 0:
                        continue
                    col_idx = {
                        md.row_group(0).column(i).path_in_schema: i
                        for i in range(md.num_columns)
                    }
                    if "docid" not in col_idx:
                        return None
                    groups = []
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(col_idx["docid"]).statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or any(st.min <= d <= st.max for d in ids)
                        ):
                            groups.append(g)
                    if not groups:
                        continue
                    budget -= sum(
                        md.row_group(g).column(col_idx[c]).total_compressed_size
                        for g in groups
                        for c in cols
                        if c in col_idx
                    )
                    if budget < 0:
                        return None
                    t = pf.read_row_groups(groups, columns=list(cols))
                    mask = pc.is_in(
                        t["docid"], value_set=pa.array(ids, pa.int64())
                    )
                    # normalize column order per file: different writers
                    # (build, compaction, driver micro-commit) may order
                    # or type file schemas differently
                    t = t.filter(mask).select(list(cols))
                    if t.num_rows:
                        frames.append(t)
        except (OSError, pa.ArrowInvalid):
            return None
        if not frames:
            # typed like the non-empty path so _materialize's merge on
            # docid never dtype-mismatches the int64 winners
            empty = {
                c: pd.Series(dtype="int64" if c == "docid" else object)
                for c in cols
            }
            return pd.DataFrame(empty)
        out = pa.concat_tables(frames, promote_options="permissive").to_pandas()
        # docids are globally unique; belt-and-braces against replay
        # remnants feeding overlapping spans
        out = out.drop_duplicates(subset=["docid"])
        return out[[c for c in cols]][out["docid"].isin(want)].reset_index(drop=True)

    def _point_read_docs(
        self, docs: DataFrame, docids: list, cols: list
    ) -> pd.DataFrame:
        """O(k) point-read of stored columns for k docids.

        Served driver-side (zero Spark jobs) when the row-group-pruned
        pyarrow read fits the budget — see :meth:`_point_read_docs_driver`
        — else by the distributed plan below.

        Manifest docid spans -> partition pruning: only the <=k segment
        directories that can contain a requested docid are scanned (a
        ``docid`` predicate alone prunes row groups, not files/tasks, so
        without the span filter the scan schedules one task per live file
        at ANY corpus size).  AQE is pure overhead on this exchange-free
        plan, so the action runs on the no-AQE session.
        """
        driver = self._point_read_docs_driver(docids, cols)
        if driver is not None:
            return driver
        if len(docids) <= self.segment_pin_isin_max:
            hydra = docs.where(F.col("docid").isin(docids))
        else:
            # deep pagination / bulk hydration: a 10^4-literal IN bloats
            # every plan; broadcast semi-join keeps plan size O(1)
            ids = values_frame(
                self.spark, [(int(d),) for d in docids], "docid long"
            )
            hydra = docs.join(F.broadcast(ids), on="docid", how="leftsemi")
        if self._span_arrays is not None:
            seg_a, lo_a, hi_a = self._span_arrays
            mask = np.zeros(len(seg_a), dtype=bool)
            covered = True
            for d in docids:
                in_span = (lo_a <= d) & (d <= hi_a)
                covered &= bool(in_span.any())
                mask |= in_span
            if covered:  # a docid outside every span would be dropped
                hydra = hydra.where(
                    F.col("segment_id").isin([int(s) for s in seg_a[mask]])
                )
        return self._without_aqe(hydra.select(*cols)).toPandas()

    def _materialize(self, winners: pd.DataFrame, hydrate: tuple = ()) -> pd.DataFrame:
        """Join the k winners back to docs (two-phase materialization).

        ``hydrate`` names extra stored columns to return alongside
        (docid, doc_id, score, rank) — snapshot-pinned (the docs read is
        restricted to the engine's live segments), and the ``isin`` on the
        range-partitioned docid column prunes the scan to the winners'
        row groups.
        """
        if winners.empty:
            hits = _empty_hits()
            for name in hydrate:
                hits[name] = pd.Series(dtype=object)
            return hits
        docids = [int(d) for d in winners["docid"]]
        docs = self._read_live("docs")
        if hydrate:
            missing = [c for c in hydrate if c not in docs.columns]
            if missing:
                raise ValueError(
                    f"hydrate_fields not stored in this index: {missing}; "
                    f"available: {sorted(set(docs.columns) - {'docid', 'segment_id'})}"
                )
        cols = ["docid", "doc_id", *[c for c in hydrate if c != "doc_id"]]
        stored = self._point_read_docs(docs, docids, cols)
        merged = winners.merge(stored, on="docid", how="left")
        merged["rank"] = range(1, len(merged) + 1)
        return merged[["docid", "doc_id", "score", "rank", *[c for c in hydrate if c != "doc_id"]]]


def _slop_starts(sets: list[set], slop: int) -> set:
    """Naive slop>0 phrase match (rarely used; slop 0 is the shipped path)."""
    starts = set()
    for s in sets[0]:
        ok = True
        prev = s
        for other in sets[1:]:
            cands = [p for p in other if prev <= p <= prev + slop + 1]
            if not cands:
                ok = False
                break
            prev = min(cands)
        if ok:
            starts.add(s)
    return starts


def _bucket(term: str, num_buckets: int) -> int:
    """Driver-side mirror of the build's pmod(crc32(term), B) bucketing.

    zlib.crc32 over UTF-8 bytes is bit-identical to Spark's ``crc32``
    builtin, so the driver can compute which postings/terms partition
    directories a query term lives in and prune the scan to them.
    """
    return zlib.crc32(term.encode("utf-8")) % num_buckets


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame(columns=["docid", "doc_id", "score", "rank"])


def _schema_from_meta(meta) -> q.Schema:
    fields = [q.SchemaField("id", q.FieldType.KEYWORD)]
    for f in meta.text_fields:
        fields.append(q.SchemaField(f, q.FieldType.TEXT))
    for f in meta.keyword_fields:
        fields.append(q.SchemaField(f, q.FieldType.KEYWORD))
    for f in meta.i64_fields:
        fields.append(q.SchemaField(f, q.FieldType.I64))
    return q.Schema(name="index", fields=tuple(fields))
