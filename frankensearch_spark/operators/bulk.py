"""Crash-resumable bulk load (checkpointed multi-batch build).

The reference's bulk-load mode publishes every N sealed mini-segments so a
crashed build resumes from the last publish (reference: ``config.rs:26-27``
bulk_publish_segment_cadence, ``index.rs:6237`` finish_bulk_load).  The
Spark analogue:

1. **Pinned build plan** — the first run computes chunk boundaries over the
   leading sort column (approxQuantile) and persists them to
   ``build_plan.json`` in the index directory.  Resume reads the SAME plan,
   so chunk membership — and therefore every docid — is identical across
   runs regardless of quantile nondeterminism.
2. **Per-batch commit** — each chunk is indexed with
   :func:`~frankensearch_spark.operators.build.append_segment_batch` and
   then recorded in the plan (atomic json rewrite).  The manifest record
   naming a batch's segments is published last, so a batch is visible
   only when complete.
3. **Idempotent re-run** — a batch that crashed mid-write is re-run with
   dynamic partition overwrite: docs/doclens/postings are
   partitioned by ``segment_id``, so the rewrite replaces exactly the
   partial batch's own directories, and republishing the batch replaces
   its record rows by segment id, making the whole protocol crash-only:
   kill it anywhere, run it again, converge.

Resulting lineage: one plan row per batch (docid_base, segment range,
status, row count) — the per-partition build lineage the manifest record
complements.
"""

from __future__ import annotations

import json
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.storage import IndexMeta, IndexStorage
from .build import append_segment_batch

PLAN_FILE = "build_plan.json"


def _load_plan(index_dir: str) -> Optional[dict]:
    path = os.path.join(index_dir, PLAN_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _save_plan(index_dir: str, plan: dict) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, PLAN_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(plan, fh, indent=1)
    os.replace(tmp, os.path.join(index_dir, PLAN_FILE))


def bulk_load(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    n_batches: int = 4,
    chunk_col: str = "conv_id",
    segments_per_batch: int = 2,
    text_fields: Sequence[str] = ("content",),
    keyword_fields: Sequence[str] = (),
    i64_fields: Sequence[str] = (),
    stored_fields: Sequence[str] = (),
    sort_cols: Sequence[str] = ("conv_id", "turn_idx"),
    num_buckets: int = 16,
    analyzers: Optional[dict] = None,
) -> IndexStorage:
    """Build (or resume building) an index in ``n_batches`` committed steps.

    ``chunk_col`` must be the leading sort column; chunks are contiguous
    ranges of it, so the chunked build assigns the SAME global docids as a
    single-shot build over the same data (rank in the sort order).
    """
    storage = IndexStorage(spark, index_dir)
    # one writer for the whole load: every batch's publish derives from
    # the record the previous one published
    with storage.writer():
        plan = _load_plan(index_dir)
        if plan is None:
            # fresh plan -> fresh index: clear any prior generation first
            storage.clear_tables()
            # boundaries pinned once; stored so resume never re-derives them
            probs = [i / n_batches for i in range(1, n_batches)]
            boundaries = (
                df.select(chunk_col).stat.approxQuantile(chunk_col, probs, 0.001)
                if probs and dict(df.dtypes)[chunk_col] != "string"
                else _string_boundaries(df, chunk_col, n_batches)
            )
            if len(boundaries) < n_batches - 1:
                # fewer distinct cut points than batches (single-key input,
                # empty df, empty quantiles): pad with a sentinel ABOVE every
                # key so the surplus batches are provably empty — the seal
                # loop indexes boundaries positionally and the docstring
                # contract is exactly n_batches - 1 entries
                mx = df.agg(F.max(chunk_col)).first()[0]
                if dict(df.dtypes)[chunk_col] == "string":
                    pad = ("" if mx is None else str(mx)) + "\x00"
                else:
                    pad = 0 if mx is None else mx + 1
                boundaries = list(boundaries) + [pad] * (
                    n_batches - 1 - len(boundaries)
                )
            # Pin every batch's docid/segment base in the plan: a replayed
            # batch MUST reuse its original bases (its crashed attempt may
            # already have published its record rows, so a high-watermark
            # probe would mint fresh ids and duplicate content instead of
            # overwriting the partial partitions).
            batch_expr = F.lit(0)
            for b in boundaries:
                batch_expr = batch_expr + F.when(
                    F.col(chunk_col) >= F.lit(b), 1
                ).otherwise(0)
            counts = {
                int(r["batch"]): int(r["count"])
                for r in df.groupBy(batch_expr.alias("batch")).count().collect()
            }
            batches = []
            docid_base = 0
            for i in range(n_batches):
                batches.append(
                    {
                        "batch": i,
                        "status": "pending",
                        "docid_base": docid_base,
                        "segment_base": i * segments_per_batch,
                        "n_docs": counts.get(i, 0),
                    }
                )
                docid_base += counts.get(i, 0)
            plan = {
                "n_batches": n_batches,
                "chunk_col": chunk_col,
                "boundaries": boundaries,
                "batches": batches,
                "meta": {
                    "text_fields": list(text_fields),
                    "keyword_fields": list(keyword_fields),
                    "i64_fields": list(i64_fields),
                    "stored_fields": list(stored_fields),
                    "num_buckets": num_buckets,
                    # analyzers pinned too: a resume that omits (or changes)
                    # the kwarg must tokenize the remaining batches exactly
                    # like the sealed ones, or half the segments silently
                    # disagree with the query-time analyzer
                    "analyzers": dict(analyzers or {}),
                },
            }
            _save_plan(index_dir, plan)
        meta = IndexMeta(
            text_fields=plan["meta"]["text_fields"],
            keyword_fields=plan["meta"]["keyword_fields"],
            i64_fields=plan["meta"]["i64_fields"],
            stored_fields=plan["meta"]["stored_fields"],
            num_buckets=plan["meta"]["num_buckets"],
            # the PLAN's analyzers, not the caller's: resume identical to a
            # single run (older plans without the key fall back to the kwarg)
            analyzers=dict(plan["meta"].get("analyzers", analyzers or {})),
        )
        boundaries = plan["boundaries"]
        for entry in plan["batches"]:
            i = entry["batch"]
            if entry.get("status") == "sealed":
                continue
            lo = boundaries[i - 1] if i > 0 else None
            hi = boundaries[i] if i < len(boundaries) else None
            batch = df
            if lo is not None:
                batch = batch.where(F.col(plan["chunk_col"]) >= lo)
            if hi is not None:
                cond = F.col(plan["chunk_col"]) < hi
                if lo is None:
                    # NULL chunk keys: batch_expr's when(col >= b).otherwise(0)
                    # counted them into batch 0 (its docid base includes
                    # them), so batch 0's filter must admit them too — a bare
                    # `col < hi` silently drops every NULL-keyed row from the
                    # index while later batches' bases stay shifted
                    cond = cond | F.col(plan["chunk_col"]).isNull()
                batch = batch.where(cond)
            # plan-pinned bases: idempotent under replay (dynamic partition
            # overwrite replaces exactly this batch's segment partitions, and
            # the publish replaces its record rows)
            segments = append_segment_batch(
                spark,
                batch,
                storage,
                meta,
                sort_cols=list(sort_cols),
                num_segments=segments_per_batch,
                docid_base=entry["docid_base"],
                segment_base=entry["segment_base"],
                generation=1,
            )
            entry.update({"status": "sealed", "segments": segments})
            _save_plan(index_dir, plan)
        storage.write_meta(meta)
    return storage


def _string_boundaries(df: DataFrame, col: str, n_batches: int) -> list[str]:
    """String-typed chunk boundaries via distributed sample-sort.

    ``repartitionByRange`` runs Spark's RangePartitioner — a distributed
    reservoir sample of the distinct keys followed by driver-side boundary
    selection — so no single task ever ranks the full key set (the ntile
    window it replaces funneled every distinct conversation id through one
    task).  Boundaries are the minima of range partitions 1.., collected
    once and PINNED in the plan file: resume never re-derives them, so the
    sampling's run-to-run nondeterminism is irrelevant.  Balance follows
    the sample (near-even), not exact ntile counts — chunk sizes only
    gate batch memory, and the plan records exact per-batch counts anyway.

    Always returns exactly ``n_batches - 1`` boundaries (the seal loop
    indexes them positionally): when range sampling yields fewer distinct
    cut points, the last boundary is repeated, which makes the surplus
    middle batches empty — consistent with the plan's batch_expr counts.
    """
    keys = df.select(col).distinct()
    rows = (
        keys.repartitionByRange(n_batches, F.col(col))
        .select(F.spark_partition_id().alias("pid"), F.col(col))
        .groupBy("pid")
        .agg(F.min(col).alias("lo"))
        .orderBy("pid")
        .collect()
    )
    bounds = [r["lo"] for r in rows[1:]]
    while len(bounds) < n_batches - 1 and bounds:
        bounds.append(bounds[-1])
    return bounds
