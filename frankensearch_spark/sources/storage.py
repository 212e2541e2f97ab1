"""Index storage layout: partitioned Parquet tables + one manifest record.

The reference persists its index as immutable FSLX segment files published
through a versioned MANIFEST (reference: ``quill/src/segment.rs``,
``keeper.rs:1567``; publish by temp file + rename, ``keeper.rs:13550``).
The Spark-native equivalent is a set of columnar tables under one index
directory plus ONE small JSON record, ``manifest.json``, that names what
is visible:

    <index_dir>/
      docs/               docid, doc_id, segment_id, stored fields...
      doclens/            docid, segment_id, len_<f>, fnid_<f> per text field
      postings/           segment_id=K/bucket=B/  (term-bucketed, block rows;
                          the term dictionary rides in term_df/term_cf)
      tombstones/         docid, segment_id, generation (immutable files,
                          each one named by the record before it counts)
      manifest.json       the record: format_version, seq, history_floor,
                          docid/segment high-watermarks, one row per
                          segment (generation, sealed_at, status,
                          superseded_at, docid span, doc_count, built_at,
                          per-field [doc_count, total_tokens]), the
                          tombstone file names and their row counts
                          (active, and staged by unsealed batches)
      index_meta.json     schema + config (buckets, fields, analyzers,
                          format_version), written at build

Every commit writes a new record to a temp file and publishes it with one
``os.replace``; readers read it once at open and never list a metadata
directory.  Writers serialize on an exclusive ``flock`` of
``<index_dir>/.writer.lock`` held from the read of the record a commit
derives from to its publish (:meth:`IndexStorage.writer`), so no commit
can replace a record it did not read; readers take no lock.  Data files
are only ever added (segment directories under fresh ids, tombstone
files under fresh names), so a reader holding an older record keeps
reading exactly the files it names until gc removes them.

Postings are directory-partitioned by ``bucket = pmod(crc32(term), B)``
(crc32 because Spark's builtin is bit-identical to Python's ``zlib.crc32``,
letting the driver prune partition directories for query terms)
so a query touching a handful of terms prunes to a handful of directories
regardless of corpus size; ``segment_id`` partitioning gives resumable,
idempotent per-segment rewrites (the analogue of bulk-load publish cadence,
reference ``config.rs:26``).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from contextlib import contextmanager
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX_META = "index_meta.json"
MANIFEST = "manifest.json"
WRITER_LOCK = ".writer.lock"

#: per thread: realpath(index_dir) -> nesting depth of the writer lock
#: this thread holds (a mutation's publish runs inside its own hold)
_WRITER_HELD = threading.local()

#: On-disk layout version, written into ``index_meta.json`` and the
#: manifest record, and checked once when an engine or maintenance facade
#: opens the index (the reference validates its segment magic + version
#: at reader open, ``segment.rs:20-24``, never per append).  Version 2 is
#: the layout every writer in this package produces: postings carry the
#: embedded term dictionary (``term_df``/``term_cf``) and gap-encoded
#: entries (``functions/codec.py``), tombstones carry their
#: ``generation``, and ``manifest.json`` is the only metadata a reader
#: consults.  Any other value, or none, is refused.
FORMAT_VERSION = 2

#: Past this many segment ids, a literal ``isin`` pin turns into a
#: broadcast semi-join: a 10^5-literal IN bloats analysis + codegen of
#: every plan that embeds it.  One constant for the query engine
#: (operators/search.py) and every maintenance read.
SEGMENT_PIN_ISIN_MAX = 1024


def pin_segments(df: "DataFrame", segments, max_isin: int | None = None) -> "DataFrame":
    """Filter ``df`` to rows whose ``segment_id`` is in ``segments`` with a
    plan that stays O(1) in the segment count.

    Small sets use a literal ``isin`` (static partition pruning — the
    fastest plan when it fits); sets past ``max_isin`` switch to a
    broadcast semi-join against a liveness frame, the same gate the query
    engine's ``_read_live`` applies, so maintenance plans over 10^4-10^5
    live segments don't embed O(segments) literals.
    """
    segs = sorted({int(s) for s in segments})
    if max_isin is None:
        max_isin = SEGMENT_PIN_ISIN_MAX
    if len(segs) <= max_isin:
        return df.where(F.col("segment_id").isin(segs))
    frame = df.sparkSession.createDataFrame(
        [(s,) for s in segs], "segment_id int"
    )
    return df.join(F.broadcast(frame), on="segment_id", how="leftsemi")


def first_data_file(root: str) -> str | None:
    """The first ``.parquet`` file under ``root`` in path order, or None.

    Descends one sorted level at a time and stops at the first file, so
    a partitioned table costs one listing per level on the way down, not
    a walk of its whole tree.  Directory names sort with a trailing
    ``/``, which keeps the order of a sorted full-path walk.  Hidden and
    ``_``-prefixed entries (in-flight writes, commit markers) are
    skipped, as Spark's reader skips them.
    """
    try:
        entries = sorted(os.scandir(root), key=lambda e: e.name)
    except OSError:
        return None
    dirs = []
    for e in entries:
        if e.name.startswith(("_", ".")):
            continue
        if e.is_dir():
            dirs.append(e)
        elif e.name.endswith(".parquet"):
            return e.path
    for e in sorted(dirs, key=lambda e: e.name + "/"):
        found = first_data_file(e.path)
        if found is not None:
            return found
    return None


def _as_nullable(dt):
    """Spark's ``DataType.asNullable``: what a file source read reports
    for a written schema."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


#: Process-wide parquet-schema cache for table reads, keyed by
#: (index_dir, table) with (root mtime_ns, entry count) validity —
#: module-level because the maintenance facade builds a fresh
#: IndexStorage per mutation.  Any append or rewrite touches the table
#: root (new part file or partition dir), invalidating the entry;
#: partition-internal rewrites (crash replay) carry an identical schema
#: by construction.
_SCHEMA_CACHE: "OrderedDict[tuple, tuple]" = OrderedDict()
_SCHEMA_CACHE_MAX = 64

#: Broadcast the tombstone docid set into anti-joins only while it is at
#: most this many rows.  A broadcast materializes the whole set on the
#: driver AND once per executor; past ~10^7 docids (~80 MB of longs plus
#: hash-set overhead) that becomes the cluster-scale failure mode the
#: reference avoids with per-segment tombstone bitsets (plan §10.5).
#: Larger sets fall back to a plain shuffled left_anti join — Catalyst /
#: AQE may still *choose* a broadcast from its own size stats, which is
#: fine; the gate only stops us from forcing one.
TOMBSTONE_BROADCAST_MAX = 10_000_000

#: Tombstone file sizing: one parquet file per this many rows
#: (docid+segment_id+generation longs compress to ~10 B/row → ~40 MB
#: files), capped at TOMBSTONE_MAX_FILES.  Small interactive deletes stay
#: single-file; a 10^9-row bulk delete writes ~250 files in parallel
#: instead of funnelling everything through ONE task (the round-3
#: single-writer bottleneck).  Files count only once the record names
#: them, so a crashed write of any size is simply never seen.
TOMBSTONE_ROWS_PER_FILE = 4_000_000
TOMBSTONE_MAX_FILES = 1024

#: The one tombstone row layout, shared by the Spark and the driver
#: writers; reads pass it instead of inferring it from a footer.
TOMBSTONE_DDL = "docid long, segment_id int, generation long"


@dataclass(frozen=True)
class GenerationState:
    """The generation bookkeeping of one record's segment rows."""

    #: max EFFECTIVE generation over sealed rows (0 when none) — the
    #: published watermark default readers pin
    sealed_gen: int
    #: max effective generation over ALL rows (pending batches included) —
    #: the uniqueness watermark mutation protocols mint from
    any_gen: int
    #: staged generations with pending (unsealed) segment rows
    unsealed: frozenset
    #: staged generation → sealed_at activation, for batches sealed by
    #: seal()
    overrides: dict

    def current(self, include_unsealed: bool = False) -> int:
        return self.any_gen if include_unsealed else self.sealed_gen


def hidden_generations(
    generation: int, gen_state: GenerationState, include_unsealed: bool
) -> list[int]:
    """Staged generations whose tombstone rows a reader pinned at
    ``generation`` must not apply, even though they are ``<= generation``.

    The one statement of the tombstone view rules, shared by the Spark
    and the driver-side readers (:meth:`IndexStorage.pinned_tombstones`,
    :meth:`IndexStorage.pinned_tombstone_docids`): a row applies when its
    generation is ``<= generation``, is not listed here, and its segment
    is live in the reader's view.

    * Tombstones staged by a still-unsealed batch activate only at
      seal(), together with their replacement segments, so they are
      hidden unless the reader opted into dirty reads.
    * Batches already sealed by seal() activate at ``sealed_at``: a row
      whose staged generation passes the ``<=`` test may still be in this
      reader's future (snapshot immutability across seal).
    """
    hidden = set()
    if not include_unsealed:
        hidden |= gen_state.unsealed
    hidden |= {g for g, act in gen_state.overrides.items() if act > generation}
    return sorted(hidden)


@dataclass
class IndexMeta:
    text_fields: list[str]
    keyword_fields: list[str] = dc_field(default_factory=list)
    i64_fields: list[str] = dc_field(default_factory=list)
    stored_fields: list[str] = dc_field(default_factory=list)
    num_buckets: int = 16
    positions: bool = True
    created_at: float = 0.0
    #: per-text-field analyzer: "default" | "cass_hyphen" | "cass_prefix";
    #: missing entries mean "default"
    analyzers: dict = dc_field(default_factory=dict)
    #: text fields whose SOURCE is the edge-ngram expansion of another
    #: column (the CASS *_prefix fields): {field: source_field}
    derived_prefix_fields: dict = dc_field(default_factory=dict)
    #: on-disk layout version (:data:`FORMAT_VERSION`); None when read
    #: from a meta written before the field existed
    format_version: int | None = FORMAT_VERSION

    def analyzer_of(self, field: str) -> str:
        return self.analyzers.get(field, "default")

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "IndexMeta":
        data = json.loads(text)
        data.setdefault("format_version", None)
        return cls(**{k: v for k, v in data.items() if k in cls.__dataclass_fields__})


def segment_row(
    segment_id: int,
    generation: int,
    status: str,
    docid_lo: int,
    docid_hi: int,
    doc_count: int,
    stats: dict,
) -> dict:
    """One record row for a newly published segment.  ``docid_hi`` is
    exclusive; ``stats`` maps each text field to [doc_count,
    total_tokens]."""
    return {
        "segment_id": int(segment_id),
        "generation": int(generation),
        "sealed_at": None,
        "status": status,
        "superseded_at": None,
        "docid_lo": int(docid_lo),
        "docid_hi": int(docid_hi),
        "doc_count": int(doc_count),
        "built_at": time.time(),
        "stats": {f: [int(d), int(t)] for f, (d, t) in stats.items()},
    }


class IndexStorage:
    """Path-based table access for one index directory."""

    TABLES = ("docs", "doclens", "postings", "tombstones")
    #: directories only older layouts wrote; a fresh build removes them
    _OLD_LAYOUT_DIRS = ("terms", "manifest", "field_stats")

    def __init__(self, spark: SparkSession, index_dir: str, format: str | None = None):
        self.spark = spark
        self.index_dir = index_dir
        #: Physical table format seam (SURVEY §7.1): "parquet" (default)
        #: writes path-based partitioned Parquet with the manifest record
        #: supplying snapshot semantics; "iceberg" (requires the Iceberg
        #: runtime jars + a catalog on the cluster) maps the same logical
        #: tables onto catalog tables.  Every read/write below goes
        #: through this flag — no caller names a format.
        self.format = format or os.environ.get(
            "FRANKENSEARCH_STORAGE_FORMAT", "parquet"
        )
        #: literal-isin vs broadcast-semi-join gate for segment pins
        #: (instance-level so deployments/tests tune it)
        self.segment_pin_isin_max = SEGMENT_PIN_ISIN_MAX
        if self.format not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported storage format {self.format!r}")
        if self.format == "iceberg":
            raise NotImplementedError(
                "iceberg format requires the Iceberg runtime jars and a "
                "configured catalog; this sandbox ships the parquet path "
                "(the logical layout and manifest protocol are identical)"
            )

    def path(self, table: str) -> str:
        return os.path.join(self.index_dir, table)

    def read(self, table: str) -> DataFrame:
        if table == "terms":
            return self.derive_terms(self.read("postings"))
        path = self.path(table)
        # Schema cache: every uncached load() runs a footer-inference job,
        # and a single upsert commit reads docs several times — at
        # watch-mode batch sizes those 1-task jobs are pure launch
        # latency.  Keyed on the root directory's (mtime_ns, entry
        # count): any append/rewrite creates or removes a
        # file/partition-dir at the root, and partition-internal rewrites
        # (crash replay) carry the identical schema by construction.
        try:
            st = os.stat(path)
            key = (st.st_mtime_ns, len(os.listdir(path)))
        except OSError:
            key = None
        if key is not None:
            cached = _SCHEMA_CACHE.get((self.index_dir, table))
            if cached is not None and cached[0] == key:
                return (
                    self.spark.read.format(self.format)
                    .schema(cached[1])
                    .load(path)
                )
        df = self.spark.read.format(self.format).load(path)
        if key is not None:
            self._cache_schema(table, key, df.schema)
        return df

    def _cache_schema(self, table: str, key: tuple, schema) -> None:
        _SCHEMA_CACHE[(self.index_dir, table)] = (key, schema)
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.popitem(last=False)

    def seed_schema_cache(self, tables) -> None:
        """Prime the :meth:`read` schema cache for freshly written tables.

        A commit's writes change every table root's cache key, so without
        this the first query after a build or a micro-commit pays one
        schema-inference job per table.  Spark infers the writer's row
        schema, which it embeds in every footer, made nullable, followed
        by the partition columns read from the directory names; this
        package partitions only by int columns (``segment_id``,
        ``bucket``), which Spark infers as IntegerType.  A table whose
        first footer lacks the embedded schema is left to inference.
        """
        import pyarrow.parquet as pq
        from pyspark.sql.types import IntegerType, StructType

        for table in tables:
            path = self.path(table)
            sample = first_data_file(path)
            if sample is None:
                continue
            blob = (pq.read_schema(sample).metadata or {}).get(
                b"org.apache.spark.sql.parquet.row.metadata"
            )
            if blob is None:
                continue
            schema = _as_nullable(StructType.fromJson(json.loads(blob)))
            rel = os.path.relpath(os.path.dirname(sample), path)
            for part in [] if rel == "." else rel.split(os.sep):
                schema = schema.add(part.split("=", 1)[0], IntegerType(), True)
            st = os.stat(path)
            self._cache_schema(table, (st.st_mtime_ns, len(os.listdir(path))), schema)

    @staticmethod
    def derive_terms(postings: DataFrame) -> DataFrame:
        """The term dictionary as a LOGICAL table.

        Posting block rows embed their term's full per-segment df/cf
        (``term_df``/``term_cf`` — constant per term, RLE-compressed to
        nothing), so the dictionary is a scalar projection of the
        ``block_id = 0`` rows: Parquet column pruning skips the posting
        payload columns entirely and the ``block_id`` predicate prunes at
        row-group level.  No physical terms table is written, copied at
        merge, or rebuilt at compaction.
        """
        return postings.where(F.col("block_id") == 0).select(
            "segment_id",
            "field",
            "term",
            "bucket",
            F.col("term_df").alias("df"),
            F.col("term_cf").alias("cf"),
        )

    def check_format(self, meta: IndexMeta) -> None:
        """Refuse an index whose on-disk layout this package cannot read.

        Runs once per open, reads nothing beyond ``meta`` and never
        schedules a Spark job.  Every value other than
        :data:`FORMAT_VERSION`, including a missing one, is refused: no
        index this package can read lacks the version.
        """
        self._require_version(meta.format_version)

    def _require_version(self, found) -> None:
        if found == FORMAT_VERSION:
            return
        what = "no format_version" if found is None else f"format_version {found}"
        raise RuntimeError(
            f"refusing to open index {self.index_dir}: it has {what}, and "
            f"this package reads only format_version {FORMAT_VERSION}.  "
            "Rebuild it from its source documents."
        )

    def write_table(
        self,
        df: DataFrame,
        table: str,
        mode: str,
        partition_by: tuple = (),
        coalesce: int | None = None,
        sort_within: tuple = (),
        options: dict | None = None,
    ) -> None:
        """The single write seam all index writers go through.

        ``mode="overwrite"`` on a partitioned table relies on dynamic
        partition overwrite (session default) => only the partitions
        present in ``df`` are replaced — the crash-idempotent rewrite
        primitive (Iceberg's overwritePartitions is the 1:1 analogue).

        ``sort_within`` orders rows inside each task's output file (no
        exchange added), and ``options`` passes writer options through —
        together the postings writer uses them to lay out term-clustered
        row groups whose min/max statistics make literal term predicates
        prune the scan (see build.py::_write_postings).
        """
        if coalesce is not None:
            df = df.coalesce(coalesce)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        writer = df.write.format(self.format).mode(mode)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(self.path(table))

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.index_dir, INDEX_META))

    def clear_tables(self) -> None:
        """Fresh-build reset: remove every table directory and publish an
        empty record, so a build that crashes before its own publish
        leaves an empty index, not a record naming cleared segments."""
        for table in self.TABLES + self._OLD_LAYOUT_DIRS:
            shutil.rmtree(self.path(table), ignore_errors=True)
        os.makedirs(self.index_dir, exist_ok=True)
        with self.writer():
            self.publish(self.fresh_record())

    # ── the manifest record ───────────────────────────────────────────────

    def fresh_record(self) -> dict:
        """An empty record that continues this directory's ``seq``, so
        ``seq`` stays monotone across rebuilds (in-process caches key on
        it)."""
        seq = 0
        try:
            with open(os.path.join(self.index_dir, MANIFEST)) as fh:
                seq = int(json.load(fh).get("seq", 0))
        except (OSError, ValueError):
            pass
        return {
            "format_version": FORMAT_VERSION,
            "seq": seq,
            "history_floor": 0,
            "next_docid": 0,
            "next_segment": 0,
            "segments": [],
            "tombstone_files": [],
            "tombstone_rows": 0,
            "pending_tombstone_rows": 0,
        }

    def read_manifest(self) -> dict:
        """The published record (one small driver-side JSON read)."""
        with open(os.path.join(self.index_dir, MANIFEST)) as fh:
            rec = json.load(fh)
        self._require_version(rec.get("format_version"))
        return rec

    @contextmanager
    def writer(self):
        """Hold this index's single-writer lock for the block.

        Every mutation holds it from the read of the record it derives
        from, through its data writes, to its publish: two writers (a
        stream micro-commit and an operator's compact, say) run one
        after the other, so neither publishes over a record it did not
        read and both never mint the same segment ids.  An exclusive
        ``flock`` of :data:`WRITER_LOCK` in the index directory: it
        serializes threads and processes on one host and is released
        when the holder exits, however it exits.  Re-entrant within a
        thread; readers never take it.
        """
        key = os.path.realpath(self.index_dir)
        held = getattr(_WRITER_HELD, "depth", None)
        if held is None:
            held = _WRITER_HELD.depth = {}
        if held.get(key):
            held[key] += 1
            try:
                yield
            finally:
                held[key] -= 1
            return
        os.makedirs(self.index_dir, exist_ok=True)
        fd = os.open(
            os.path.join(self.index_dir, WRITER_LOCK), os.O_RDWR | os.O_CREAT, 0o644
        )
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            held[key] = 1
            try:
                yield
            finally:
                held[key] = 0
        finally:
            os.close(fd)  # releases the flock

    def publish(self, rec: dict) -> dict:
        """Publish ``rec`` as the next record: a temp file, then ONE
        ``os.replace``.  This is the commit point of every mutation; a
        crash before it leaves the previous record in force and every
        file the mutation wrote unnamed.  Returns the published record
        (``seq`` advanced by one).  Must run inside :meth:`writer`, and
        ``rec`` must derive from a record read inside the same hold."""
        if not getattr(_WRITER_HELD, "depth", {}).get(
            os.path.realpath(self.index_dir)
        ):
            raise RuntimeError(
                f"publish to {self.index_dir} outside IndexStorage.writer()"
            )
        rec = dict(rec, format_version=FORMAT_VERSION, seq=int(rec["seq"]) + 1)
        final = os.path.join(self.index_dir, MANIFEST)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh, separators=(",", ":"))
        try:
            os.replace(tmp, final)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise
        return rec

    @staticmethod
    def with_segments(rec: dict, rows: list) -> dict:
        """``rec`` with ``rows`` added — replacing any row of the same
        segment id (a replayed bulk batch republishes its plan-pinned
        ids) — and the docid/segment high-watermarks advanced past
        them."""
        ids = {r["segment_id"] for r in rows}
        return dict(
            rec,
            segments=[r for r in rec["segments"] if r["segment_id"] not in ids]
            + list(rows),
            next_docid=max([rec["next_docid"], *(r["docid_hi"] for r in rows)]),
            next_segment=max(
                [rec["next_segment"], *(r["segment_id"] + 1 for r in rows)]
            ),
        )

    @staticmethod
    def with_tombstones(
        rec: dict, files: list, n_rows: int, n_pending: int = 0
    ) -> dict:
        """``rec`` naming ``files`` too: ``n_rows`` rows a default reader
        applies and ``n_pending`` rows staged by still-unsealed batches.

        ``tombstone_rows`` bounds the docids the default (and any
        time-travel) view tombstones, and adding ``pending_tombstone_rows``
        bounds the dirty view's, so the engine sizes its anti-join — or
        skips it at 0 — with no count job.  A docid staged twice counts
        twice: the bound only over-estimates."""
        return dict(
            rec,
            tombstone_files=rec["tombstone_files"] + list(files),
            tombstone_rows=rec["tombstone_rows"] + int(n_rows),
            pending_tombstone_rows=rec["pending_tombstone_rows"] + int(n_pending),
        )

    @staticmethod
    def split_pending(tombs: DataFrame, unsealed) -> tuple[int, int]:
        """(rows a default reader applies, rows staged by the ``unsealed``
        generations) of a tombstone frame: one aggregation job."""
        flag = (
            F.col("generation").isin(sorted(unsealed)) if unsealed else F.lit(False)
        )
        n = {
            r["p"]: r["n"]
            for r in tombs.groupBy(flag.alias("p")).agg(F.count("*").alias("n")).collect()
        }
        return int(n.get(False, 0)), int(n.get(True, 0))

    # ── snapshot kernels over record rows ─────────────────────────────────

    def live_segments(
        self,
        include_unsealed: bool = False,
        at_generation: int | None = None,
    ) -> list[int]:
        """Segment ids visible in the current (or a past) generation of
        the published record; see :meth:`live_from_snapshot`."""
        return self.live_from_snapshot(
            self.read_manifest()["segments"],
            include_unsealed=include_unsealed,
            at_generation=at_generation,
        )

    @staticmethod
    def live_from_snapshot(
        rows: list,
        include_unsealed: bool = False,
        at_generation: int | None = None,
    ) -> list[int]:
        """Liveness over record rows (one code path for every reader).

        Appends publish new segments as new rows; compaction/merge
        supersede segments by stamping their rows with ``superseded_at =
        <new generation>`` (history-retaining — the Iceberg snapshot-log
        analogue) instead of dropping them.  Readers filter every
        per-segment table by this set (partition pruning makes the filter
        free), which is what pins one generation per query.

        ``include_unsealed`` additionally exposes segments published with
        ``status='unsealed'`` (pre-commit delta visibility, reference
        ``quill/src/delta.rs:1-37``).  ``at_generation`` time-travels: a
        segment is live at generation ``g`` iff it became visible at some
        generation <= g (``sealed_at`` when seal() activated it, else its
        own generation) and was not superseded at or before g.  History
        remains readable until gc expires it.
        """
        out: set[int] = set()
        for r in rows:
            sup = r["superseded_at"]
            if at_generation is not None:
                g = int(at_generation)
                eff = r["generation"] if r["sealed_at"] is None else r["sealed_at"]
                if r["status"] == "sealed" and eff <= g and (sup is None or sup > g):
                    out.add(r["segment_id"])
            elif sup is None and (
                r["status"] == "sealed"
                or (include_unsealed and r["status"] == "unsealed")
            ):
                out.add(r["segment_id"])
        return sorted(out)

    def current_generation(self, include_unsealed: bool = False) -> int:
        """Highest published generation (0 for an empty index).

        The generation is the visibility gate for tombstones: mutation
        protocols write tombstone rows tagged with the generation whose
        publish makes them meaningful, so a reader pinned to generation g
        ignores tombstones staged for g+1.  Only SEALED rows define the
        published generation by default; ``include_unsealed`` readers opt
        into the pending one.
        """
        return self.generation_state().current(include_unsealed)

    def generation_state(self) -> GenerationState:
        return self.state_from_snapshot(self.read_manifest()["segments"])

    @staticmethod
    def state_from_snapshot(rows: list) -> GenerationState:
        """Derive the generation bookkeeping from record rows.

        A batch sealed by seal() keeps its staged generation as identity
        but became visible at ``sealed_at`` — the effective generation is
        ``max(generation, sealed_at)``, so the published watermark
        advances at seal and VERSION AS OF snapshots pinned before it
        stay immutable.
        """
        sealed_gen = any_gen = 0
        unsealed: set[int] = set()
        overrides: dict[int, int] = {}
        for r in rows:
            g = r["generation"]
            act = r["sealed_at"]
            eff = g if act is None else max(g, act)
            any_gen = max(any_gen, eff)
            if r["status"] == "sealed":
                sealed_gen = max(sealed_gen, eff)
            else:
                unsealed.add(g)
            if act is not None and act != g:
                overrides[g] = act
        return GenerationState(sealed_gen, any_gen, frozenset(unsealed), overrides)

    @staticmethod
    def view_stats(rows: list, live) -> dict[str, tuple[int, int]]:
        """field → (Σ doc_count, Σ total_tokens) over the rows of the
        ``live`` segments: the stats of any view, from the record alone."""
        live = set(live)
        out: dict[str, list[int]] = {}
        for r in rows:
            if r["segment_id"] in live:
                for f, (d, t) in r["stats"].items():
                    acc = out.setdefault(f, [0, 0])
                    acc[0] += d
                    acc[1] += t
        return {f: (d, t) for f, (d, t) in out.items()}

    def next_bases(self) -> tuple[int, int]:
        """(next docid, next segment id) from the record's high-watermarks.

        Docids are monotone and never reused (reference ``argus.rs:32``);
        segment ids likewise — compaction outputs fresh segment ids
        (reference ``keeper.rs`` compact_segment output_segment_id).  The
        watermarks live in the record, so expiring history rows never
        lowers them.
        """
        rec = self.read_manifest()
        return rec["next_docid"], rec["next_segment"]

    # ── tombstones ────────────────────────────────────────────────────────

    def tombstone_paths(self, rec: dict) -> list[str]:
        root = self.path("tombstones")
        return [os.path.join(root, f) for f in rec["tombstone_files"]]

    def read_tombstones(self, rec: dict) -> DataFrame | None:
        """Every tombstone row the record names (None when it names no
        file).  The file list comes from the record, never from a
        directory listing, and the schema is fixed, so building the
        frame runs no job."""
        paths = self.tombstone_paths(rec)
        if not paths:
            return None
        return self.spark.read.schema(TOMBSTONE_DDL).parquet(*paths)

    def pinned_tombstones(
        self,
        generation: int,
        files: list,
        gen_state: GenerationState,
        live_segments=None,
        include_unsealed: bool = False,
    ) -> DataFrame | None:
        """Tombstoned docids visible at ``generation`` among ``files`` (a
        record's tombstone paths): a persisted single-column (docid)
        DataFrame, or None when ``files`` is empty.  Lazy — building it
        runs no job; the first query's action fills the cache.

        ``live_segments`` (the caller's pinned segment set) scopes the set
        to tombstones whose segment is live at the pinned generation: a
        row whose segment was superseded is *folded* — compaction already
        removed those docids physically, so the row lingers only as
        history for time-travel readers pinned before the supersede.
        """
        if not files:
            return None
        df = self.spark.read.schema(TOMBSTONE_DDL).parquet(*files)
        df = df.where(F.col("generation") <= generation)
        hidden = hidden_generations(generation, gen_state, include_unsealed)
        if hidden:
            df = df.where(~F.col("generation").isin(hidden))
        if live_segments is not None:
            df = pin_segments(df, live_segments, self.segment_pin_isin_max)
        return df.select("docid").distinct().persist()

    @staticmethod
    def pinned_tombstone_docids(
        generation: int,
        files: list,
        gen_state: GenerationState,
        live_segments,
        include_unsealed: bool = False,
    ):
        """Driver-side twin of :meth:`pinned_tombstones`: the same view
        rules applied with pyarrow to the same files, returned as a sorted
        unique int64 numpy array.  No Spark job; sized for sets the record's
        row bound has already proven small."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not files:
            return np.zeros(0, dtype=np.int64)
        schema = pa.schema(
            [("docid", pa.int64()), ("segment_id", pa.int32()), ("generation", pa.int64())]
        )

        def read(path):
            with pq.ParquetFile(path) as pf:
                return pf.read(columns=schema.names).cast(schema)

        tbl = pa.concat_tables(read(f) for f in files)
        live = pa.array(list(live_segments), pa.int32())
        keep = pc.and_(
            pc.less_equal(tbl["generation"], generation),
            pc.is_in(tbl["segment_id"], value_set=live),
        )
        hidden = hidden_generations(generation, gen_state, include_unsealed)
        if hidden:
            hide = pc.is_in(tbl["generation"], value_set=pa.array(hidden, pa.int64()))
            keep = pc.and_(keep, pc.invert(hide))
        return np.unique(tbl["docid"].filter(keep).to_numpy().astype(np.int64))

    def tombstone_file_count(self, n_rows: int) -> int:
        """Output files for a tombstone write of ``n_rows`` (≥1)."""
        per_file = int(getattr(self, "tombstone_rows_per_file", TOMBSTONE_ROWS_PER_FILE))
        return max(1, min(TOMBSTONE_MAX_FILES, -(-int(n_rows) // per_file)))

    def write_tombstone_frame(self, df: DataFrame, n_rows: int) -> list[str]:
        """Write a (docid, segment_id, generation) frame of ``n_rows``
        rows as NEW tombstone files and return their names; nothing
        counts until a record names them (and adds ``n_rows`` to its
        ``tombstone_rows``).  Interactive sets stay single-file, bulk sets hash-partition
        on docid so many tasks write in parallel.  Spark writes into a
        ``_``-prefixed directory (invisible to listings) and the files
        move up under their unique part names."""
        nf = self.tombstone_file_count(n_rows)
        out = df.coalesce(1) if nf == 1 else df.repartition(nf, "docid")
        root = self.path("tombstones")
        staging = os.path.join(root, f"_w-{uuid.uuid4().hex}")
        out.select(
            F.col("docid").cast("long"),
            F.col("segment_id").cast("int"),
            F.col("generation").cast("long"),
        ).write.mode("overwrite").parquet(staging)
        names = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        for f in names:
            os.rename(os.path.join(staging, f), os.path.join(root, f))
        shutil.rmtree(staging, ignore_errors=True)
        return names

    def write_tombstone_rows(self, docids, segment_ids, generation: int) -> list[str]:
        """Driver-side twin of :meth:`write_tombstone_frame` for small
        sets: one pyarrow file, zero jobs."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "docid": pa.array(docids, pa.int64()),
                "segment_id": pa.array(segment_ids, pa.int32()),
                "generation": pa.array([int(generation)] * len(docids), pa.int64()),
            }
        )
        root = self.path("tombstones")
        os.makedirs(root, exist_ok=True)
        name = f"part-{uuid.uuid4()}-driver.parquet"
        tmp = os.path.join(root, "." + name + ".tmp")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(root, name))
        return [name]

    def sweep_tombstone_files(self, named: set, grace_sec: float) -> list[str]:
        """Remove tombstone files (and crashed write directories) that
        ``named`` does not contain and that are at least ``grace_sec``
        old.  The grace keeps an in-flight writer's not-yet-published
        files."""
        root = self.path("tombstones")
        if not os.path.isdir(root):
            return []
        now = time.time()
        removed = []
        for entry in os.scandir(root):
            if entry.name in named:
                continue
            try:
                if now - entry.stat().st_mtime < grace_sec:
                    continue
            except OSError:
                continue
            if entry.is_dir():
                shutil.rmtree(entry.path, ignore_errors=True)
            else:
                os.remove(entry.path)
            removed.append(entry.path)
        return removed

    # ── index_meta.json ───────────────────────────────────────────────────

    def write_meta(self, meta: IndexMeta) -> None:
        """Publish the schema/config file with one ``os.replace`` (a
        reader never finds it missing)."""
        os.makedirs(self.index_dir, exist_ok=True)
        meta.created_at = meta.created_at or time.time()
        final = os.path.join(self.index_dir, INDEX_META)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(meta.to_json())
        os.replace(tmp, final)

    def read_meta(self) -> IndexMeta:
        with open(os.path.join(self.index_dir, INDEX_META)) as fh:
            return IndexMeta.from_json(fh.read())
