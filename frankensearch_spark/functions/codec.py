"""Posting-entry codec: delta-encoded docid gaps, decoded JVM-side.

Posting blocks persist their entries as ``array<struct<d:int, freq:int,
fnid:int>>`` where ``d`` is the GAP to the previous entry's docid
(``d[0] = 0``; the block's absolute base rides in the scalar
``first_doc`` column that BLOCKMAX already persists).  Reference: the
FOR/delta posting codec — ``quill/src/scribe.rs`` posting regions store
docid gaps and reconstruct absolute ids while streaming.

Why gaps, measured through the ACTUAL Spark parquet writer (zstd-1,
20k-turn probe index):

* absolute int64 docids: 2.60 MB — 42% of all compressed postings bytes
* int32 delta-from-block-base: 2.67 MB — NET NEUTRAL: zstd was already
  exploiting the shared high bytes of ascending int64 PLAIN pages, and
  base-relative offsets are near-uniform in the segment span (high
  entropy), so nothing was won
* int32 per-entry gaps: **1.84 MB (−29%), postings total −12%** — gaps
  are small, highly repeated values that dictionary-encode into a few
  bits each

That −12% is scan IO every query pays at 10^12-turn scale, so the gap
layout wins despite the costlier decode.

**Decode is a Hillis-Steele doubling scan, not a per-entry running sum.**
SQL has no linear array prefix-scan and a ``slice``+``aggregate`` scan is
O(n²) per block, but ``ceil(log2(128)) = 7`` passes of
``zip_with(x, shift_right(x, step), +)`` compute the inclusive prefix sum
of a 128-capped block in ~7 touches per entry, fully inside whole-stage
codegen.  Each pass is its own projection stage (``withColumn``) so the
expression tree stays LINEAR in the pass count — Catalyst's
CollapseProject keeps stages separate when an alias is referenced more
than once by non-cheap expressions, which each pass's three references
guarantee.

**Two decoders, one layout.**  This Spark scan serves every distributed
plan.  Small term and phrase queries never build it: the query engine
scores them on the driver, where the same inclusive scan is one
``numpy.cumsum`` over all the query's blocks
(``operators/search.py::_decode_blocks``), with no Spark job.

**Merge-stable:** gaps are relative to their own block, so concat merge
(Q1: no docid rebase) still copies blocks verbatim.

**Positions deliberately stay absolute.**  Gap-encoding the per-(doc,
term) position lists was built and measured through the same writer:
total postings bytes moved < 0.1%.  Transcript turns are short, so most
position lists are singletons (tf = 1) where gap == absolute, and the
dictionary page already collapses the repeats; the irreducible entropy is
each term's FIRST occurrence offset, which no gap scheme touches.  The
encoder/decoder were reverted rather than shipped as dead weight on the
phrase path.

**int32 is safe:** a gap is bounded by its segment's docid span (blocks
never cross segments and docids are contiguous per segment), and segment
sizing keeps spans at the 2^18 build target / 2^16 bulk-lease scale —
orders of magnitude below int32 range even with heavy skew.

The gap layout is the only one readers decode.  Indexes whose entries
carry absolute ``docid`` predate ``FORMAT_VERSION`` 1 and are refused
once, when they are opened (``IndexStorage.check_format``), so no decode
site branches on the layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .contract import POSTINGS_PER_BLOCK


def encode_entries_expr(packed: str = "packed") -> Column:
    """Docid-sorted absolute entry structs -> gap-layout entries column.

    ``packed`` is an ``array<struct<docid, freq, fnid[, positions]>>``
    sorted ascending by docid (the writers sort before slicing into
    blocks); positions, when present, ride in a parallel column and are
    stripped here.  ``greatest(i, 1)`` makes entry 0 subtract itself
    (gap 0) while entry i>0 subtracts its predecessor (``element_at`` is
    1-based).
    """
    return F.expr(
        f"transform({packed}, (e, i) -> struct("
        f"int(e.docid - element_at({packed}, greatest(i, 1)).docid) as d, "
        f"e.freq as freq, e.fnid as fnid))"
    )


def with_decoded_docids(df: DataFrame, col: str = "dec") -> DataFrame:
    """Append ``col``: the block row's absolute docids as ``array<long>``.

    An inclusive Hillis-Steele scan over ``entries.d`` (7 staged
    ``zip_with`` passes for the 128-entry block cap), then ``first_doc``
    added once per entry.  Callers
    ``arrays_zip(col, "entries", ...)`` and explode — the scan runs once
    per BLOCK row, before the explode multiplies rows.  Small interactive
    queries never build this plan: the query engine scores them on the
    driver, where the same scan is one ``numpy.cumsum`` over every block
    (``operators/search.py::_decode_blocks``)."""
    df = df.withColumn(col, _decode_expr("init", col))
    step = 1
    while step < POSTINGS_PER_BLOCK:
        # shift_right(x, step) keeping length: concat zeros, trim to size
        df = df.withColumn(col, _decode_expr(step, col))
        step *= 2
    return df.withColumn(col, _decode_expr("final", col))


#: Decode Columns are pure (name-resolved at analysis, no frame refs), so
#: one expression tree per (stage, col) serves every query — rebuilding
#: them was ~60 ms of py4j round-trips on the per-query latency path.
_DECODE_EXPRS: dict = {}


def _decode_expr(stage, col: str) -> Column:
    key = (stage, col)
    cached = _DECODE_EXPRS.get(key)
    if cached is not None:
        return cached
    if stage == "init":
        e = F.expr("transform(entries, e -> bigint(e.d))")
    elif stage == "final":
        e = F.expr(f"transform({col}, v -> first_doc + v)")
    else:
        e = F.expr(
            f"zip_with({col}, "
            f"slice(concat(array_repeat(0L, {stage}), {col}), 1, size({col})), "
            f"(a, b) -> a + b)"
        )
    _DECODE_EXPRS[key] = e
    return e
