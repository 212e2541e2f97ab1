"""Driver-side micro-batch commit: the watch-mode fast path.

A watch-mode micro-batch (a few thousand changed rows) pays almost
nothing for data and almost everything for fixed per-job Spark costs:
round-5 profiling showed ~2.9 s per 6,250-row batch spread over ~8
scheduled jobs (identity probe, tokenize/checkpoint, four table writers,
tombstone staging), every one of them latency-bound at that size
(scripts/profile_watch.py).  The reference's live-ingest loop is a
single process precisely because micro-commits are latency problems, not
throughput problems (``fsfs/src/runtime.rs`` LiveIngestPipeline).

This module is the Spark-native analogue of that single-process loop: a
batch at or under :data:`DRIVER_UPSERT_MAX_ROWS` rows commits entirely on
the driver — the SAME tokenizer kernels the distributed build runs
inside ``mapInArrow`` (``build.assign_tokens``), the same posting-block
math (gap codec, BLOCKMAX columns, term-clustered layout), the same
commit protocol (staged tombstones → data tables → one manifest record
publish) — producing files byte-compatible with the
distributed writers (every column cast to the table's existing footer
schema, :func:`_cast_to_footer`).  Anything outside
the gates returns ``None`` and the caller falls back to the distributed
path unchanged; at cluster scale with large catch-up batches that path
still owns the commit.

Identity resolution (the content-hash skip + tombstone staging inputs)
rides an in-process mirror of the docs table's (doc_id, content_hash,
docid, segment_id) columns plus the tombstone rows
(:class:`IdentityCache`) — the reference's resident IDHASH
(``index.rs:10231``).  The mirror is read with pyarrow when first
needed, updated in place by this module's own commits, carried across
seals, and keyed on the manifest record's ``seq``: any other publish
(distributed writer, delete, compaction, gc) forces a rebuild.  Gates:
the record's live doc count ≤ :data:`IDENTITY_CACHE_MAX_DOCS` and
tombstone rows ≤ :data:`IDENTITY_CACHE_MAX_TOMBSTONES` — a 10^9-doc
index never mirrors driver-side; its micro-batches keep the distributed
probe.

Content hashes come from :mod:`..functions.xxh64` — a numpy XXH64
bit-identical to Spark's ``xxhash64`` (pinned by test), so a driver
commit and a distributed commit agree on every stored witness.
"""

from __future__ import annotations

import os
import threading
import uuid
import zlib
from collections import OrderedDict
from typing import Optional

import numpy as np

from ..functions.contract import POSTINGS_PER_BLOCK, fieldnorm_to_id
from ..functions.xxh64 import spark_xxhash64_columns
from ..sources.storage import first_data_file, segment_row

#: rows at or under this commit driver-side (conf
#: ``frankensearch.upsert.driverMaxRows`` overrides; 0 disables).  The
#: watch-mode shape is ~6k rows; past ~16Ki the tokenize kernel's serial
#: driver cost approaches the distributed path's fixed cost and the
#: auto-segmenter wants real parallelism anyway.
DRIVER_UPSERT_MAX_ROWS = 16_384

#: identity-mirror gates: bound what the driver may hold resident.
IDENTITY_CACHE_MAX_DOCS = 4_000_000
IDENTITY_CACHE_MAX_TOMBSTONES = 2_000_000

_CACHE_LOCK = threading.Lock()
_IDENTITY_CACHES: "OrderedDict[str, IdentityCache]" = OrderedDict()
_IDENTITY_CACHE_SLOTS = 4

#: observability: how often the driver path engaged vs fell back (the
#: same counter discipline as search.py::noaqe_fallbacks)
driver_commits = 0
driver_fallbacks = 0


class IdentityCache:
    """In-process mirror of (doc_id → live copies) + tombstone rows.

    ``rows[doc_id] = [(docid, segment_id, content_hash_u64), ...]`` over
    every row of the docs table in the include-unsealed live segment set
    (tombstoned copies included — exactly what the distributed probe's
    ``matched`` frame sees).  ``tomb`` maps docid → [generation, ...].
    ``seq`` is the manifest record the mirror describes.
    """

    __slots__ = ("seq", "rows", "tomb")

    def __init__(self, seq: int):
        self.seq = seq
        self.rows: dict[str, list[tuple[int, int, int]]] = {}
        self.tomb: dict[int, list[int]] = {}


def _build_identity_cache(maint, rec: dict) -> Optional[IdentityCache]:
    """Driver-side pyarrow reads of the docs mirror columns (live
    segment partition dirs only) + the record's tombstone files — zero
    Spark jobs.  None when the live docs or the tombstone rows exceed
    the residency gates (a 10^9-doc index never mirrors driver-side; its
    micro-batches keep the distributed probe)."""
    import pyarrow.parquet as pq

    storage = maint.storage
    live = set(storage.live_from_snapshot(rec["segments"], include_unsealed=True))
    n_docs = sum(r["doc_count"] for r in rec["segments"] if r["segment_id"] in live)
    if (
        n_docs > IDENTITY_CACHE_MAX_DOCS
        or rec["tombstone_rows"] + rec["pending_tombstone_rows"]
        > IDENTITY_CACHE_MAX_TOMBSTONES
    ):
        return None
    cache = IdentityCache(rec["seq"])
    docs_root = storage.path("docs")
    rows = cache.rows
    for seg in sorted(live):
        part = os.path.join(docs_root, f"segment_id={seg}")
        if not os.path.isdir(part):
            continue
        for f in sorted(os.listdir(part)):
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(part, f)
            pf = pq.ParquetFile(path)
            names = set(pf.schema_arrow.names)
            if "content_hash" not in names:
                return None
            t = pf.read(columns=["doc_id", "content_hash", "docid"])
            ids = t["doc_id"].to_pylist()
            chash = t["content_hash"].to_numpy(zero_copy_only=False).astype(np.uint64)
            docid = t["docid"].to_numpy(zero_copy_only=False)
            for i, d in enumerate(ids):
                rows.setdefault(d, []).append((int(docid[i]), int(seg), int(chash[i])))
    for f in storage.tombstone_paths(rec):
        t = pq.ParquetFile(f).read(columns=["docid", "generation"])
        for d, g in zip(
            t["docid"].to_numpy(zero_copy_only=False),
            t["generation"].to_numpy(zero_copy_only=False),
        ):
            cache.tomb.setdefault(int(d), []).append(int(g))
    return cache


def _get_identity_cache(maint, rec: dict) -> Optional[IdentityCache]:
    """The mirror of ``rec``: reused while no other publish has happened
    since the mirror's own record (every publish advances ``seq``),
    rebuilt otherwise."""
    key = os.path.realpath(maint.storage.index_dir)
    with _CACHE_LOCK:
        cached = _IDENTITY_CACHES.get(key)
        if cached is not None and cached.seq == rec["seq"]:
            _IDENTITY_CACHES.move_to_end(key)
            return cached
    built = _build_identity_cache(maint, rec)
    if built is None:
        return None
    with _CACHE_LOCK:
        _IDENTITY_CACHES[key] = built
        _IDENTITY_CACHES.move_to_end(key)
        while len(_IDENTITY_CACHES) > _IDENTITY_CACHE_SLOTS:
            _IDENTITY_CACHES.popitem(last=False)
    return built


def carry_identity_cache(index_dir: str, old_seq: int, new_seq: int) -> None:
    """Advance a mirror of record ``old_seq`` to ``new_seq`` for a
    publish that changed neither the docs nor the tombstone files (a
    seal), so the stream's cadence seal does not force a rebuild."""
    with _CACHE_LOCK:
        cached = _IDENTITY_CACHES.get(os.path.realpath(index_dir))
        if cached is not None and cached.seq == old_seq:
            cached.seq = new_seq


def invalidate_identity_cache(index_dir: str) -> None:
    with _CACHE_LOCK:
        _IDENTITY_CACHES.pop(os.path.realpath(index_dir), None)


# ── footer-schema plumbing ──────────────────────────────────────────────────


def _table_footer_schema(storage, table: str):
    """Schema of an existing data file of ``table`` (partition columns are
    physically absent from partitioned files, exactly what we write)."""
    import pyarrow.parquet as pq

    sample = first_data_file(storage.path(table))
    if sample is None:
        return None
    return pq.read_schema(sample).remove_metadata()


def _cast_to_footer(columns: dict, schema):
    """pa.Table with exactly the footer's columns/types, or None."""
    import pyarrow as pa

    import pyarrow.compute as pc

    arrays = []
    for field in schema:
        col = columns.get(field.name)
        if col is None:
            return None
        if not isinstance(col, pa.Array):
            col = pa.array(col)
        if col.type != field.type:
            if (
                pa.types.is_timestamp(col.type)
                and pa.types.is_timestamp(field.type)
                and col.type.tz is not None
                and field.type.tz is None
            ):
                # Spark collects timestamps tz-aware (session UTC) while
                # INT96 footers read back naive-UTC: take the UTC wall
                # time, then adjust the unit
                col = pc.local_timestamp(col)
            col = _retype(col, field.type)
        arrays.append(col)
    return pa.Table.from_arrays(arrays, schema=pa.schema(list(schema)))


def _retype(arr, t):
    """Cast, tolerating nullability-only mismatches in nested types
    (pyarrow's ``cast`` refuses nullable→non-nullable fields even when
    no value is null; the parquet footers mark posting-entry fields
    required).  Arrays built here are offset-0, which the buffer-level
    rebuild relies on."""
    import pyarrow as pa

    if arr.type.equals(t):
        return arr
    if pa.types.is_struct(t) and pa.types.is_struct(arr.type):
        children = [
            _retype(arr.field(i), t.field(i).type) for i in range(t.num_fields)
        ]
        return pa.StructArray.from_arrays(
            children, fields=[t.field(i) for i in range(t.num_fields)]
        )
    if pa.types.is_list(t) and pa.types.is_list(arr.type):
        values = _retype(arr.values, t.value_type)
        out = pa.ListArray.from_arrays(arr.offsets, values)
        if out.type.equals(t):
            return out
        return pa.Array.from_buffers(
            t, len(out), out.buffers()[:2], children=[values]
        )
    return arr.cast(t)


def _write_partition_file(
    storage, table: str, rel_dir: str, tbl, row_group_bytes: Optional[int] = None
) -> None:
    """One parquet file into a partition directory, tmp+rename (the same
    atomic-visibility contract as a committed Spark task file).  Any
    pre-existing files in the directory are from a crashed, unpublished
    attempt at THIS batch (segment ids are fresh per commit) — remove
    them first, mirroring the distributed writer's dynamic partition
    overwrite replay semantics."""
    import pyarrow.parquet as pq

    out_dir = os.path.join(storage.path(table), rel_dir)
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(out_dir):
        if f.endswith(".parquet"):
            os.remove(os.path.join(out_dir, f))
    name = f"part-00000-{uuid.uuid4()}-driver.c000.zstd.parquet"
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    opts: dict = {"compression": "zstd"}
    if row_group_bytes is not None:
        # pyarrow sizes row groups by rows; derive a row cap from the
        # byte target (generous floor — micro-batches rarely exceed one)
        nbytes = max(tbl.nbytes, 1)
        rows_per_group = max(64, int(tbl.num_rows * row_group_bytes / nbytes))
        opts["row_group_size"] = rows_per_group
    if any(
        str(f.type).startswith("timestamp[ns") for f in tbl.schema
    ):
        # Spark writes INT96 timestamps by default and cannot read
        # TIMESTAMP(NANOS); match the existing files' physical type
        opts["use_deprecated_int96_timestamps"] = True
    pq.write_table(tbl, tmp, **opts)
    os.rename(tmp, os.path.join(out_dir, name))


# ── tokenize + posting construction (driver twins of the Arrow passes) ──────


def _tokenize_fields(meta, columns: dict, n: int):
    """Per text field: (post ListArray, lens int32[n], fnid int32[n]) —
    the exact kernel calls ``build.assign_tokens`` makes inside its
    mapInArrow pass, on the same inputs."""
    from ..functions.analyze import tokenize_batch
    from ..functions.cass_analyze import cass_tokenize_batch
    from .build import _post_array_from_docs

    derived = dict(meta.derived_prefix_fields)
    out = {}
    texts_cache: dict[str, list] = {}
    for f in meta.text_fields:
        source = derived.get(f, f)
        col = columns.get(source)
        if col is not None:
            if source not in texts_cache:
                texts_cache[source] = [
                    t if t is not None else "" for t in col.to_pylist()
                ]
            texts = texts_cache[source]
        else:
            texts = [""] * n
        if meta.analyzer_of(f) == "default":
            tokens = tokenize_batch(texts)
            lens = np.fromiter((len(t) for t in tokens), dtype=np.int32, count=n)
            post = _post_array_from_docs(tokens)
        else:
            pairs, lens = cass_tokenize_batch(
                texts,
                hyphen_decompose=(meta.analyzer_of(f) == "cass_hyphen"),
                edge_ngrams=(f in derived),
            )
            lens = np.asarray(lens, dtype=np.int32)
            post = _post_array_from_docs(
                [[d["term"] for d in p] for p in pairs],
                [[d["pos"] for d in p] for p in pairs],
            )
        out[f] = (post, lens, fieldnorm_to_id(lens).astype(np.int32))
    return out


def _posting_blocks_for_field(field: str, post, docids: np.ndarray, fnids: np.ndarray):
    """Block rows for one (segment, field): the driver twin of
    ``build._posting_frame`` + ``_write_postings``'s slice/aggregate —
    same sort (term, then docid ascending), same 128-entry blocks, same
    gap codec and BLOCKMAX metadata.  Returns a dict of numpy/pyarrow
    columns (absent ``positions`` when the index stores none) or None
    when the field has no postings."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    offsets = post.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    counts = np.diff(offsets)
    total = int(counts.sum())
    if total == 0:
        return None
    flat = post.flatten()
    terms = flat.field("term")
    positions = flat.field("positions")
    freqs = pc.list_value_length(positions).to_numpy(zero_copy_only=False).astype(np.int32)
    doc_of = np.repeat(docids, counts)
    fnid_of = np.repeat(fnids, counts)
    codes, uniques = pd.factorize(terms.to_pandas())
    # stable sort on term code: docids were assigned ascending in row
    # order, so each term's run stays docid-ascending — the same order
    # sort_array(collect_list(...)) produces distributed-side
    order = np.argsort(codes, kind="stable")
    c_s, d_s, f_s, n_s = codes[order], doc_of[order], freqs[order], fnid_of[order]
    run_start = np.flatnonzero(np.r_[True, c_s[1:] != c_s[:-1]])
    run_len = np.diff(np.r_[run_start, len(c_s)])
    within = np.arange(len(c_s)) - np.repeat(run_start, run_len)
    block_start = np.flatnonzero(within % POSTINGS_PER_BLOCK == 0)
    block_len = np.diff(np.r_[block_start, len(c_s)])
    block_code = c_s[block_start]
    block_id = (within[block_start] // POSTINGS_PER_BLOCK).astype(np.int32)
    term_df = run_len.astype(np.int64)
    term_cf = np.add.reduceat(f_s.astype(np.int64), run_start)
    # per-block rollups
    first_doc = d_s[block_start].astype(np.int64)
    block_cf = np.add.reduceat(f_s.astype(np.int64), block_start)
    max_freq = np.minimum(np.maximum.reduceat(f_s, block_start), 255).astype(np.int32)
    min_fnid = np.minimum.reduceat(n_s, block_start).astype(np.int32)
    # gap codec: entry 0 of each block subtracts itself (gap 0)
    gaps = d_s.copy()
    gaps[1:] -= d_s[:-1]
    gaps[block_start] = 0
    entries = pa.ListArray.from_arrays(
        pa.array(np.r_[block_start, len(c_s)].astype(np.int32)),
        pa.StructArray.from_arrays(
            [
                pa.array(gaps.astype(np.int32)),
                pa.array(f_s.astype(np.int32)),
                pa.array(n_s.astype(np.int32)),
            ],
            names=["d", "freq", "fnid"],
        ),
    )
    # term_df/cf indexed per block via the block's term code run index
    run_of_block = np.searchsorted(run_start, block_start, side="right") - 1
    cols = {
        "field": [field] * len(block_start),
        "term": pa.array(uniques, type=pa.string()).take(
            pa.array(block_code.astype(np.int64))
        ),
        "block_id": block_id,
        "term_df": term_df[run_of_block],
        "term_cf": term_cf[run_of_block],
        "first_doc": first_doc,
        "count": block_len.astype(np.int32),
        "max_freq_code": max_freq,
        "min_fnid": min_fnid,
        "block_cf": block_cf,
        "entries": entries,
        "_block_code": block_code,
        "_uniques": uniques,
    }
    if "positions" in [f.name for f in flat.type]:
        pos_taken = positions.take(pa.array(order.astype(np.int64)))
        cols["positions"] = pa.ListArray.from_arrays(
            pa.array(np.r_[block_start, len(c_s)].astype(np.int32)), pos_taken
        )
    return cols


def _write_segment_postings(
    storage, meta, segment_id: int, fields: dict, docids: np.ndarray, footer
) -> None:
    """All (bucket) files of one new segment's postings, term-clustered."""
    import pyarrow as pa

    from .build import POSTINGS_ROW_GROUP_BYTES

    per_field = []
    for f in meta.text_fields:
        post, _lens, fnids = fields[f]
        cols = _posting_blocks_for_field(f, post, docids, fnids)
        if cols is not None:
            per_field.append(cols)
    if not per_field:
        return
    # bucket per unique term, then per block row
    for cols in per_field:
        uniq_buckets = np.fromiter(
            (
                zlib.crc32(t.encode("utf-8")) % meta.num_buckets
                for t in cols["_uniques"]
            ),
            dtype=np.int32,
            count=len(cols["_uniques"]),
        )
        cols["_bucket"] = uniq_buckets[cols["_block_code"]]
    all_buckets = sorted(
        set(int(b) for cols in per_field for b in np.unique(cols["_bucket"]))
    )
    for bucket in all_buckets:
        parts = []
        for cols in per_field:
            mask = cols["_bucket"] == bucket
            if not mask.any():
                continue
            idx = pa.array(np.flatnonzero(mask).astype(np.int64))
            out = {}
            for name in (
                "field",
                "term",
                "block_id",
                "term_df",
                "term_cf",
                "first_doc",
                "count",
                "max_freq_code",
                "min_fnid",
                "block_cf",
                "entries",
                "positions",
            ):
                if name not in cols:
                    continue
                col = cols[name]
                if isinstance(col, pa.Array):
                    out[name] = col.take(idx)
                elif isinstance(col, list):
                    out[name] = pa.array([col[i] for i in np.flatnonzero(mask)])
                else:
                    out[name] = pa.array(col[mask])
            parts.append(out)
        # concat across fields, then sort rows by (field, term, block_id)
        merged = {
            name: (
                parts[0][name]
                if len(parts) == 1
                else pa.concat_arrays([p[name].combine_chunks() if hasattr(p[name], "combine_chunks") else p[name] for p in parts])
            )
            for name in parts[0]
        }
        tbl = pa.table(merged)
        import pyarrow.compute as pc

        sort_idx = pc.sort_indices(
            tbl,
            sort_keys=[
                ("field", "ascending"),
                ("term", "ascending"),
                ("block_id", "ascending"),
            ],
        )
        tbl = tbl.take(sort_idx)
        cast = _cast_to_footer({n: tbl[n].combine_chunks() for n in tbl.column_names}, footer)
        if cast is None:
            raise _FooterMismatch("postings")
        _write_partition_file(
            storage,
            "postings",
            os.path.join(f"segment_id={segment_id}", f"bucket={bucket}"),
            cast,
            row_group_bytes=POSTINGS_ROW_GROUP_BYTES,
        )


class _FooterMismatch(Exception):
    pass


# ── the commit ──────────────────────────────────────────────────────────────


def upsert_arrow_driver(maint, table, sort_cols, seal: bool) -> Optional[list[int]]:
    """Commit one small document batch entirely on the driver.

    ``table`` is a pyarrow Table of the document frame (``doc_id`` +
    passthrough + text sources), already deduplicated on doc_id by the
    caller.  Returns the new segment ids, ``[]`` for an empty commit
    (nothing changed), or ``None`` when ineligible — the caller falls
    back to the distributed :meth:`IndexMaintenance.upsert` with the
    original DataFrame.

    Protocol parity with the distributed path, step for step: identity
    resolution against the include-unsealed live view, content-hash
    skip, unique next generation, staged tombstones tagged with it,
    data tables, then one record publish (the commit point).
    """
    global driver_commits, driver_fallbacks
    out = _upsert_arrow_driver(maint, table, sort_cols, seal)
    if out is None:
        driver_fallbacks += 1
    else:
        driver_commits += 1
    return out


def _upsert_arrow_driver(maint, table, sort_cols, seal: bool) -> Optional[list[int]]:
    import pyarrow as pa
    import pyarrow.compute as pc

    storage = maint.storage
    meta = maint.meta
    max_rows = int(
        maint.spark.conf.get(
            "frankensearch.upsert.driverMaxRows", str(DRIVER_UPSERT_MAX_ROWS)
        )
    )
    if (
        storage.format != "parquet"
        or table.num_rows > max_rows
        or "doc_id" not in table.column_names
    ):
        return None
    footers = {
        t: _table_footer_schema(storage, t)
        for t in ("docs", "doclens", "postings")
    }
    if any(v is None for v in footers.values()):
        return None
    if "content_hash" not in [f.name for f in footers["docs"]]:
        return None
    rec = storage.read_manifest()
    cache = _get_identity_cache(maint, rec)
    if cache is None:
        return None

    cols = {name: table[name].combine_chunks() for name in table.column_names}
    n = table.num_rows
    if n == 0:
        return []

    # ── content hash (Spark-exact xxhash64 over sorted source names) ──
    sources = sorted(
        {meta.derived_prefix_fields.get(f, f) for f in meta.text_fields}
    )
    hash_cols = []
    for s in sources:
        c = cols.get(s)
        if c is None:
            c = pa.array([""] * n, pa.string())
        elif not pa.types.is_string(c.type) and not pa.types.is_large_string(c.type):
            c = c.cast(pa.string())
        hash_cols.append(c)
    chash = spark_xxhash64_columns(hash_cols)  # uint64[n]

    doc_ids = cols["doc_id"].to_pylist()
    if any(d is None for d in doc_ids):
        return None

    # ── identity resolution + content-hash skip (driver twin of the
    #    matched/identical/changed joins) ───────────────────────────────
    tomb_all = cache.tomb
    changed_mask = np.ones(n, dtype=bool)
    matched_of: list[Optional[list[tuple[int, int, int]]]] = [None] * n
    for i, d in enumerate(doc_ids):
        copies = cache.rows.get(d)
        if copies is None:
            continue
        matched_of[i] = copies
        h = int(chash[i])
        for docid, _seg, c in copies:
            if c == h and docid not in tomb_all:
                changed_mask[i] = False
                break
    changed_idx = np.flatnonzero(changed_mask)
    n_changed = len(changed_idx)
    if n_changed == 0:
        return []

    from .maintenance import _auto_upsert_segments

    parallelism = maint.spark.sparkContext.defaultParallelism
    num_segments = _auto_upsert_segments(n_changed, parallelism, meta.num_buckets)

    # ── generation bookkeeping (mirrors upsert()) ─────────────────────
    state = storage.state_from_snapshot(rec["segments"])
    gen_next = state.any_gen + 1
    docid_base, segment_base = rec["next_docid"], rec["next_segment"]
    try:
        # ── tombstones to stage (_stage_tombstones' active-view dedup) ─
        dedup_against_pending = not seal
        inactive = set() if dedup_against_pending else set(state.unsealed)
        tomb_rows: list[tuple[int, int]] = []
        staged = set()
        for i in changed_idx:
            copies = matched_of[i]
            if not copies:
                continue
            for docid, seg, _c in copies:
                if docid in staged:
                    continue
                gens = tomb_all.get(docid)
                if gens is not None and any(
                    g <= gen_next and g not in inactive for g in gens
                ):
                    continue
                staged.add(docid)
                tomb_rows.append((docid, seg))
        tomb_files = (
            storage.write_tombstone_rows(
                [r[0] for r in tomb_rows], [r[1] for r in tomb_rows], gen_next
            )
            if tomb_rows
            else []
        )

        # ── order, docids, segments ───────────────────────────────────
        changed_tbl = table.take(pa.array(changed_idx.astype(np.int64)))
        sort_keys = [(c, "ascending") for c in sort_cols if c in table.column_names]
        if sort_keys:
            order = pc.sort_indices(changed_tbl, sort_keys=sort_keys)
            changed_tbl = changed_tbl.take(order)
            chash_changed = chash[changed_idx][
                order.to_numpy(zero_copy_only=False)
            ]
        else:
            chash_changed = chash[changed_idx]
        ccols = {
            name: changed_tbl[name].combine_chunks()
            for name in changed_tbl.column_names
        }
        docids = np.arange(docid_base, docid_base + n_changed, dtype=np.int64)
        seg_of = (
            segment_base
            + (np.arange(n_changed, dtype=np.int64) * num_segments) // n_changed
        ).astype(np.int32)
        segments = list(range(segment_base, segment_base + num_segments))

        # ── tokenize (same kernels as the distributed Arrow pass).
        #    Serial driver cost ~0.37 s per 6k-row batch; offloading it
        #    into the collect job (repartition + mapInArrow) was measured
        #    SLOWER (0.47-0.53 s/batch — the Python-worker round trip
        #    exceeds the serial tokenize at this size), so it stays here.
        fields = _tokenize_fields(meta, ccols, n_changed)

        passthrough = [
            c
            for c in dict.fromkeys(
                [*meta.keyword_fields, *meta.i64_fields, *meta.stored_fields]
            )
            if c in ccols and c != "doc_id"
        ]
        stored_text = [
            f for f in meta.text_fields if f in meta.stored_fields and f in ccols
        ]

        seg_slices = {}
        for s in range(num_segments):
            m = np.flatnonzero(seg_of == segment_base + s)
            seg_slices[segment_base + s] = (int(m[0]), int(m[-1]) + 1)

        # ── docs + doclens + postings per segment ─────────────────────
        for seg in segments:
            lo, hi = seg_slices[seg]
            sel = pa.array(np.arange(lo, hi, dtype=np.int64))
            doc_cols = {
                "docid": pa.array(docids[lo:hi]),
                "doc_id": ccols["doc_id"].take(sel),
                "content_hash": pa.array(
                    chash_changed[lo:hi].astype(np.int64)
                ),
            }
            for name in [*passthrough, *stored_text]:
                doc_cols[name] = ccols[name].take(sel)
            cast = _cast_to_footer(doc_cols, footers["docs"])
            if cast is None:
                raise _FooterMismatch("docs")
            _write_partition_file(storage, "docs", f"segment_id={seg}", cast)

            dl_cols = {"docid": pa.array(docids[lo:hi])}
            for f in meta.text_fields:
                _post, lens, fnids = fields[f]
                dl_cols[f"len_{f}"] = pa.array(lens[lo:hi])
                dl_cols[f"fnid_{f}"] = pa.array(fnids[lo:hi])
            cast = _cast_to_footer(dl_cols, footers["doclens"])
            if cast is None:
                raise _FooterMismatch("doclens")
            _write_partition_file(storage, "doclens", f"segment_id={seg}", cast)

            seg_fields = {}
            for f in meta.text_fields:
                post, lens, fnids = fields[f]
                seg_fields[f] = (post.slice(lo, hi - lo), lens[lo:hi], fnids[lo:hi])
            _write_segment_postings(
                storage, meta, seg, seg_fields, docids[lo:hi], footers["postings"]
            )

        # ── the record (the publish point) ────────────────────────────
        status = "sealed" if seal else "unsealed"
        rows = []
        for seg in segments:
            lo, hi = seg_slices[seg]
            rows.append(
                segment_row(
                    seg,
                    gen_next,
                    status,
                    int(docids[lo]),
                    int(docids[hi - 1]) + 1,
                    hi - lo,
                    {
                        f: (hi - lo, int(fields[f][1][lo:hi].sum()))
                        for f in meta.text_fields
                    },
                )
            )
        staged = (len(tomb_rows), 0) if seal else (0, len(tomb_rows))
        new = storage.with_tombstones(
            storage.with_segments(rec, rows), tomb_files, *staged
        )
        published = storage.publish(new)
        # a reader's reopen() then needs no schema-inference job
        storage.seed_schema_cache(("docs", "doclens", "postings"))

        # ── update the identity mirror in place ───────────────────────
        for docid, _seg in tomb_rows:
            cache.tomb.setdefault(docid, []).append(int(gen_next))
        ids_sorted = ccols["doc_id"].to_pylist()
        for i, d in enumerate(ids_sorted):
            cache.rows.setdefault(d, []).append(
                (int(docids[i]), int(seg_of[i]), int(chash_changed[i]))
            )
        cache.seq = published["seq"]
        # residency gate re-check: the in-place updates above are the one
        # path that grows the mirror WITHOUT re-entering
        # _build_identity_cache's count gates — a long-lived stream of
        # driver commits must not accrete an unbounded dict.  Dropping
        # the cache makes the next batch rebuild (and re-gate): an index
        # grown past the caps then falls back to the distributed path.
        if (
            len(cache.rows) > IDENTITY_CACHE_MAX_DOCS
            or len(cache.tomb) > IDENTITY_CACHE_MAX_TOMBSTONES
        ):
            invalidate_identity_cache(storage.index_dir)
        return segments
    except Exception:
        # Fail toward the distributed path for ANY commit-time surprise
        # (footer drift, an un-castable value, an IO error) — not just
        # the explicit _FooterMismatch: the contract is "None when
        # ineligible", and an exception escaping here would kill the
        # stream.  Replay is safe at EVERY crash point: before the
        # publish nothing is named (partial segment files are
        # overwritten by the replay, driver or distributed, and staged
        # tombstone files stay unnamed); after it, the re-upsert's
        # content-hash skip sees the published copies and converges to
        # an empty commit.  driver_fallbacks surfaces the rate.
        invalidate_identity_cache(storage.index_dir)
        return None
