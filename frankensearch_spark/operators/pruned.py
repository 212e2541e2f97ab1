"""Rank-safe block-max pruned top-k execution (two-pass DataFrame plan).

Distributed analogue of the reference's MaxScore / Block-Max-WAND pruning
(reference: ``argus.rs:4464-4800`` strategy selection,
``quiver.rs:1719-1790`` BlockMaxEntry::score_upper_bound,
``contract.rs:306-367`` conservative block codes).  The reference skips
posting blocks whose score upper bound cannot beat the running k-th score;
Catalyst cannot derive this domain pruning, so it is expressed structurally
as a two-pass plan (SURVEY §4.1):

Pass 1 (threshold seed): the few highest-upper-bound blocks per term are
decoded and scored exactly; the k-th best observed doc total is a valid
**lower bound** τ on the true k-th best score (every sampled doc's sampled
sum ≤ its true score).

Pass 2 (pruned evaluation):

* per-leaf ceiling ``σ_t = max block ub`` (MaxScore's term bound);
* **non-essential leaves**: the maximal σ-ascending prefix with
  ``Σ σ < τ`` — docs matching only those leaves cannot reach τ, so those
  leaves never *generate* candidates (their postings are decoded only for
  docs that already are candidates);
* **essential block filter**: an essential leaf's block survives only when
  ``ub_block + Σ_{other leaves} σ ≥ τ`` (the BMW block skip);
* surviving blocks explode into a candidate docid set; all leaves'
  postings join that set; exact float32 scoring + the shared eval tree +
  global top-k run as in the exhaustive path.

Rank-exactness: pruning decisions use conservative float64 bounds inflated
by ``BOUND_SLACK`` and strict comparisons, and every surviving candidate is
re-scored with the exact float32 contract — so the result is identical
(scores AND tie-breaks) to the exhaustive plan.  The exhaustive path stays
the conformance anchor; the differential test asserts equality.

At cluster scale this is the path that matters: a 1000-executor top-10
query over a 10^12-turn index decodes a handful of blocks per term instead
of the full posting lists, and the candidate set entering the score
shuffle is O(k + essential postings) instead of O(total postings).
"""

from __future__ import annotations

import threading
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.contract import POSTINGS_PER_BLOCK
from ..plans.eval import EvalPlan
from ..plans.localrel import values_frame

#: Multiplicative slack applied to f64 upper bounds / thresholds so that
#: float32-vs-float64 rounding can never turn a safe prune into a rank
#: change (bounds go up, the threshold goes down).
BOUND_SLACK = 1e-5

#: Strategy-selection constants, mirrored from the reference
#: (``argus.rs:29-31``): MaxScore for 2..=8 direct term clauses, Block-Max
#: WAND for >=9 clauses whose summed cost (doc freq) reaches 16,384.
MAX_SCORE_MAX_CLAUSES = 8
BMW_MIN_CLAUSES = MAX_SCORE_MAX_CLAUSES + 1
BMW_MIN_TOTAL_COST = 16_384

#: Cost floor for auto-engaging EITHER pruned shape, on top of the
#: reference's structural gates.  The reference applies pruning adaptively
#: per 4,096-doc union window against a live cutoff (``argus.rs:4491-4497``)
#: at nanosecond overhead, so its absolute cost gate (16,384) is tiny; the
#: Spark analogue is a per-QUERY decision with a two-pass plan whose
#: scheduling + bound-filter cost SCALES WITH BLOCK COUNT, not just a
#: constant.  Round-4 measurement (BENCH.md, fixed 16-segment config,
#: frequent 4-term disjunction, rank-identical both ways):
#:
#:   summed df   659k    2.2M    6.6M    13.2M (old floor engaged here)
#:   pruned/exh  5.24x   3.23x   2.71x   2.33x
#:
#: Round 5 changed the economics twice over (BENCH.md round 5):
#: term-clustered posting row groups + covering-block rescore cut the
#: pruned plan's IO from O(bucket bytes) per pass to O(query/candidate
#: postings), and the MID-FLIGHT BAIL below means a wrong admission now
#: costs only the seed pass (three metadata jobs), not a committed
#: 2-5× slower plan.  On the skewed selective corpus
#: (scripts/bench_prune.py --selective: τ eliminates >99.9% of blocks)
#: the pruned plan crosses the exhaustive plan at ~7M summed df and wins
#: beyond it; on the uniform zipf corpus it still always loses but the
#: bail returns those queries to the exhaustive plan after the seed.
#: The floor therefore sits just above the measured selective-corpus
#: crossover: below it even a perfectly selective query can't win by
#: enough to cover the seed, so admission is pointless; above it the
#: seed gamble is bounded (≈1 s sandbox, pure metadata jobs at cluster
#: scale) and the selective win is unbounded in corpus size.  Engines
#: expose it as ``auto_prune_min_cost``; ``prune=True`` forces the
#: pruned plan unconditionally (rank-safety is identical either way).
AUTO_PRUNE_MIN_COST = 10_000_000

#: Mid-flight commitment gate: after the seed pass, auto dispatch bails
#: back to the exhaustive plan when more than this fraction of the query
#: terms' posting blocks survives the τ/block-bound filter.  Summed df
#: (the admission floor above) cannot see selectivity; the surviving
#: fraction — computed from quantities the seed pass already produced
#: (τ, per-block upper bounds) — is the reference's "does BMW earn its
#: keep" signal (``argus.rs:4700+`` pivot skipping wins exactly when few
#: blocks can beat the heap threshold).  Measured on this machine
#: (scripts/bench_prune.py --selective vs uniform, BENCH.md round 5):
#: the uniform zipf corpus keeps ~60% of blocks and pruned loses 2-5×;
#: the skewed corpus keeps <10% and pruned wins.  The default sits
#: between the two regimes with margin on the losing side.
PRUNE_BAIL_FRACTION = 0.2


def select_strategy(engine, plan: EvalPlan) -> Optional[str]:
    """Auto dispatch: pick the pruning strategy the reference would.

    Mirror of ``argus.rs:4464-4529``: 2..=8 direct term clauses ->
    ``"maxscore"``; >=9 clauses with summed doc-freq cost >=
    ``BMW_MIN_TOTAL_COST`` -> ``"bmw"``; anything else -> ``None``
    (exhaustive).  Clause counts use LIVE leaves (df > 0) — a vanished
    term contributes neither a cursor nor cost in the reference either.
    Both strategies execute the same rank-safe two-pass plan here
    (:class:`PrunedExecutor` fuses the MaxScore essential-list split with
    the BMW block filter); the dispatch decides *whether* the pruned plan
    runs, which is the reference's actual selection semantics.
    """
    if not pruned_applicable(plan, is_text=engine._is_text):
        return None
    if len(plan.leaves) < 2:
        return None  # one cursor never prunes (both gates need >=2 clauses)
    engine._resolve_doc_freqs(plan.leaves)
    costs = [
        engine._doc_freq_cache.get((l.field, l.term), 0) for l in plan.leaves
    ]
    live = [c for c in costs if c > 0]
    n = len(live)
    total_cost = sum(live)
    floor = engine.auto_prune_min_cost
    if 2 <= n <= MAX_SCORE_MAX_CLAUSES:
        if total_cost >= floor:
            return "maxscore"
        return None
    if n >= BMW_MIN_CLAUSES and total_cost >= max(BMW_MIN_TOTAL_COST, floor):
        return "bmw"
    return None


def pruned_applicable(plan: EvalPlan, is_text=None) -> bool:
    """True when the eval spec is a pure term-disjunction the pruner covers.

    Required shape: every leaf is a text-field term; the spec is a single
    leaf, a union of leaves, or a Boolean with Should-only children that
    are leaves/unions (score == sum of matched leaf scores).

    ``is_text`` is the engine's field-type predicate.  Keyword/i64 term
    leaves score as exact-match constants via the docs table, which the
    pruned executor does not cover — admitting them would silently drop
    their contribution from the top-k (rank-safety violation), so any
    non-text leaf disqualifies the plan.  ``None`` (shape-only callers,
    e.g. unit tests over the all-text default schema) skips the check.
    """
    if plan.spec is None:
        return False
    if not plan.leaves or any(l.kind != "term" for l in plan.leaves):
        return False
    if is_text is not None and not all(is_text(l.field) for l in plan.leaves):
        return False

    def pure_sum(node: dict) -> bool:
        t = node.get("t")
        if t == "leaf":
            return True
        if t == "union":
            return all(pure_sum(c) for c in node["ch"])
        if t == "bool":
            return (
                not node["must"]
                and not node["not"]
                and all(pure_sum(c) for c in node["should"])
            )
        return False

    return pure_sum(plan.spec)


class PrunedExecutor:
    """Bound to one SearchEngine; executes the two-pass pruned plan.

    Observability: when the engine sets ``collect_prune_metrics = True``,
    :meth:`execute` records ``engine.last_prune_metrics`` with the block
    accounting (total query-term blocks vs blocks surviving the BMW
    filter, the non-essential split, τ) — the evidence that the pruned
    plan decodes strictly less than the exhaustive one.  Off by default:
    the extra counts are two small jobs the latency path must not pay.
    """

    def __init__(self, engine):
        self.engine = engine

    # ── block metadata with upper bounds ─────────────────────────────────

    def _block_frame(self, leaves) -> Optional[DataFrame]:
        """(leaf_id, field, term, segment_id, block_id, ub) for all blocks
        of the query terms, with conservative f64 upper bounds computed
        JVM-side from the inline BLOCKMAX columns."""
        engine = self.engine
        rows = []
        for leaf in leaves:
            df_ = engine._doc_freq_cache.get((leaf.field, leaf.term))
            if not df_:
                continue
            from ..functions.contract import term_weight

            weight = float(term_weight(df_, engine.doc_count, leaf.boost))
            rows.append((leaf.leaf_id, leaf.field, leaf.term, weight))
        if not rows:
            return None
        qterms = values_frame(
            engine.spark, rows, "leaf_id int, field string, term string, weight double"
        )
        buckets = sorted(
            {engine_bucket(t, engine.meta.num_buckets) for _, _, t, _ in rows}
        )
        postings = engine._read_live("postings").where(
            F.col("bucket").isin(buckets)
            # literal pushdown → term-clustered row-group pruning
            & F.col("term").isin(sorted({t for _, _, t, _ in rows}))
        )
        joined = postings.join(
            F.broadcast(qterms), on=["field", "term"], how="inner"
        )
        # norm(min_fnid) per field via a 256-literal decode array (JVM-side)
        norm_expr = None
        for field, cache in engine.tf_cache.items():
            if cache is None:
                continue
            arr = F.array(*[F.lit(float(v)) for v in cache])
            e = F.element_at(arr, F.col("min_fnid") + 1)
            norm_expr = e if norm_expr is None else F.when(
                F.col("field") == field, e
            ).otherwise(norm_expr)
        mf = F.when(F.col("max_freq_code") >= 255, F.lit(float(2**32))).otherwise(
            F.col("max_freq_code").cast("double")
        )
        ub = (
            F.col("weight") * (mf / (mf + norm_expr)) * F.lit(1.0 + BOUND_SLACK)
        ).alias("ub")
        # first_doc/bucket ride along so downstream passes (covering-block
        # metadata, partition-pruned decode literals) reuse THIS persisted
        # frame instead of re-scanning the postings files
        return joined.select(
            "leaf_id", "field", "term", "segment_id", "block_id", "bucket",
            "first_doc", ub,
        )

    # ── pass 1: threshold seed ───────────────────────────────────────────

    def _seed_threshold(
        self,
        sample_keys: list[tuple],
        leaves,
        k: int,
        partition_keys: Optional[list[tuple[int, int]]] = None,
    ) -> float:
        """Exactly score the sampled blocks; return the k-th best sampled
        doc total (deflated), or -inf when fewer than k docs.

        ``sample_keys`` are driver rows (leaf_id, field, term, segment_id,
        block_id) already collected by :meth:`execute`'s combined
        sample+sigma job, so the seed's block-key side is a LocalRelation
        (broadcast semi join, no second window pass over the metadata).
        The action runs on the no-AQE small-query session: its shuffle
        input is ≤ per_leaf × n_leaves blocks of 128 docs — always tiny.
        """
        engine = self.engine
        sample = values_frame(
            engine.spark,
            sample_keys,
            "leaf_id int, field string, term string, segment_id int, block_id int",
        )
        scored = engine._score_block_subset(
            leaves, sample, partition_keys=partition_keys
        )
        if scored is None:
            return float("-inf")
        # Rank-safety with deletes: a tombstoned doc must not inflate τ —
        # an overstated threshold prunes blocks holding the true live
        # top-k (it would only be caught by the differential suite).
        scored = engine._filter_tombstones(scored)
        totals_frame = (
            scored.groupBy("docid")
            .agg(F.sum(F.col("score").cast("double")).alias("total"))
            .orderBy(F.desc("total"))
            .limit(k)
        )
        totals = engine._without_aqe(totals_frame).collect()
        if len(totals) < k:
            return float("-inf")
        return float(totals[-1]["total"]) * (1.0 - BOUND_SLACK)

    # ── full pruned execution ────────────────────────────────────────────

    def execute(
        self, plan: EvalPlan, k: int, forced: bool = False
    ) -> Optional[DataFrame]:
        """Return the scored candidate DataFrame (docid, score) or None to
        signal fallback to the exhaustive path.

        ``forced`` (``prune=True`` at the API) skips the mid-flight
        selectivity bail so the differential suite always exercises the
        full pruned plan; auto dispatch leaves it False, making the bail
        the second half of strategy selection (see module docstring:
        admission is summed-df, commitment is the measured surviving-block
        fraction).
        """
        engine = self.engine
        # reset so an early bail can't leave a PRIOR query's accounting
        engine.last_prune_metrics = None
        leaves = plan.leaves
        # doc freqs resolved once (engine caches them for weight computation)
        engine._resolve_doc_freqs(leaves)
        live = [
            l for l in leaves if engine._doc_freq_cache.get((l.field, l.term))
        ]
        if len(live) < 2:
            return None  # nothing to prune
        blocks = self._block_frame(live)
        if blocks is None:
            return None
        blocks = blocks.persist()
        committed = False
        try:
            # ONE small job yields BOTH the seed sample and every leaf's
            # ceiling σ: the window is ub-descending per leaf, so the
            # rn==1 row of each leaf IS max(ub) — the old separate
            # groupBy-max collect is free.  The window's shuffle input is
            # block METADATA (one row per 128-doc block of the query's
            # terms), so it runs on the no-AQE small-query session.
            per_leaf = max(1, -(-k // 128)) + 1
            w = Window.partitionBy("leaf_id").orderBy(
                F.desc("ub"), F.asc("segment_id"), F.asc("block_id")
            )
            top = (
                blocks.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= per_leaf)
                .select(
                    "leaf_id", "field", "term", "segment_id", "block_id",
                    "bucket", "ub", "rn",
                )
            )
            sample_rows = engine._without_aqe(top).collect()
            if not sample_rows:
                return None
            sigma = {
                r["leaf_id"]: float(r["ub"]) for r in sample_rows if r["rn"] == 1
            }
            tau = self._seed_threshold(
                [
                    (r["leaf_id"], r["field"], r["term"], r["segment_id"], r["block_id"])
                    for r in sample_rows
                ],
                live,
                k,
                partition_keys=[
                    (r["segment_id"], r["bucket"]) for r in sample_rows
                ],
            )
            if not np.isfinite(tau):
                return None  # fewer than k matches — prune nothing
            order = sorted(sigma, key=lambda lid: sigma[lid])
            total_sigma = sum(sigma.values())
            nonessential, cum = [], 0.0
            for lid in order:
                if cum + sigma[lid] < tau:
                    cum += sigma[lid]
                    nonessential.append(lid)
                else:
                    break
            essential = [lid for lid in sigma if lid not in set(nonessential)]
            if not essential:
                return None
            # BMW block filter on essential leaves: keep blocks that could
            # still beat τ together with every other leaf's ceiling.
            sigma_lit = F.create_map(
                *[F.lit(x) for pair in sigma.items() for x in pair]
            )
            bound = F.col("ub") + F.lit(total_sigma) - sigma_lit[F.col("leaf_id")]
            survives = F.col("leaf_id").isin(essential) & (bound >= F.lit(tau))
            # ONE job on the persisted metadata frame: total + surviving
            # block counts.  This is simultaneously the block accounting
            # the metrics report AND the selectivity estimate the dispatch
            # bail keys on — the quantity summed-df admission cannot see.
            counts = engine._without_aqe(
                blocks.agg(
                    F.count(F.lit(1)).alias("total"),
                    F.sum(survives.cast("int")).alias("surviving"),
                )
            ).collect()[0]
            total_blocks = int(counts["total"])
            surviving_blocks = int(counts["surviving"] or 0)
            fraction = (
                surviving_blocks / total_blocks if total_blocks else 1.0
            )
            engine.last_prune_metrics = {
                "tau": float(tau),
                "total_blocks": total_blocks,
                "surviving_blocks": surviving_blocks,
                "surviving_fraction": round(fraction, 4),
                "essential_leaves": len(essential),
                "nonessential_leaves": len(nonessential),
                "bailed": False,
            }
            if not forced and fraction > engine.prune_bail_fraction:
                # Mid-flight selectivity bail: τ keeps too many blocks
                # alive for the two-pass plan to beat the exhaustive
                # scan (the uniform-corpus regime BENCH.md measured at
                # 2.3-5.2× slower).  The wasted work is three metadata
                # jobs + the seed decode — bounded and small — vs
                # committing to a pruned plan that loses by seconds.
                engine.last_prune_metrics["bailed"] = True
                return None
            surv_partition_keys = None
            if surviving_blocks <= 4_096:
                # tiny survivor set: collect it from the CACHED metadata
                # frame (no postings scan) so the decode pass gets literal
                # partition predicates — a handful of scan tasks instead
                # of listing/splitting every live posting file — and the
                # block-key side becomes a LocalRelation
                surv_rows = (
                    blocks.where(survives)
                    .select(
                        "leaf_id", "field", "term", "segment_id",
                        "block_id", "bucket",
                    )
                    .collect()
                )
                surviving = values_frame(
                    engine.spark,
                    [
                        (r[0], r[1], r[2], r[3], r[4])
                        for r in surv_rows
                    ],
                    "leaf_id int, field string, term string,"
                    " segment_id int, block_id int",
                )
                surv_partition_keys = [
                    (r["segment_id"], r["bucket"]) for r in surv_rows
                ]
            else:
                surviving = blocks.where(survives).select(
                    "leaf_id", "field", "term", "segment_id", "block_id"
                )
                if surviving_blocks <= 65_536:
                    # driver-known small key set: pin the semi-join
                    # broadcast so the static (no-AQE) planner can't fall
                    # back to shuffling the posting scan by block key
                    surviving = F.broadcast(surviving)
            # Candidate generation: docids of surviving essential blocks.
            # Rank-safety: a doc in NO surviving block satisfies, for any
            # essential leaf t containing it, total ≤ ub_block(t) +
            # Σ_{t'≠t} σ < τ; a doc in no essential leaf satisfies
            # total ≤ Σ_{nonessential} σ < τ.
            cand_scored = engine._score_block_subset(
                live, surviving, partition_keys=surv_partition_keys
            )
            if cand_scored is None:
                return None
            # Dead docs can't win (they're dropped in _combine anyway);
            # filtering here keeps the rescore join candidate-minimal.
            candidates = (
                engine._filter_tombstones(cand_scored).select("docid").distinct()
            )
            # Exact rescore of EVERY leaf restricted to the candidate set —
            # a candidate may have contributions in pruned blocks of other
            # leaves, so scores must come from the full postings, filtered
            # by docid.  The candidate count is bounded by the surviving
            # blocks' capacity; when small, the rescore prunes its decode
            # to the candidates' covering blocks (the posting-scan IO win;
            # see _score_leaf_rows_for_docids) on top of the candidate-set
            # reduction entering the pivot/eval shuffle.
            scored = engine._score_leaf_rows_for_docids(
                live,
                candidates,
                cand_bound=surviving_blocks * POSTINGS_PER_BLOCK,
                block_meta=blocks,
            )
            if scored is None:
                return None
            # The returned plan still references the cached metadata frame
            # (block_meta covering pass, and the un-collected `surviving`
            # branch): unpersisting here would evict the cache BEFORE the
            # caller's action runs, recomputing the postings metadata scan
            # at action time — exactly the duplicate scan block_meta
            # exists to avoid.  Hand the cache to the engine; the search
            # action path unpersists it after materialization.  Combine
            # FIRST — only a fully-built plan commits ownership (an
            # exception in _combine must leave the finally to release the
            # cache, not orphan it).  Parked PER THREAD: execute() runs
            # synchronously on the searching thread, so keying by thread
            # id both routes the release to the right search under
            # concurrency and lets a same-thread leftover (leaked by an
            # exception between park and the search's try) be swapped
            # out and released here rather than overwritten.
            combined = engine._combine(plan, scored)
            committed = True
            parked = engine.__dict__.setdefault("_pruned_block_cache", {})
            prev = parked.pop(threading.get_ident(), None)
            if prev is not None:
                try:
                    prev.unpersist()
                except Exception:
                    pass
            parked[threading.get_ident()] = blocks
            return combined
        finally:
            if not committed:
                blocks.unpersist()


def engine_bucket(term: str, num_buckets: int) -> int:
    import zlib

    return zlib.crc32(term.encode("utf-8")) % num_buckets
