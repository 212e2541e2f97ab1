"""Index storage layout: partitioned Parquet tables + a build manifest.

The reference persists its index as immutable FSLX segment files published
through a two-slot atomic MANIFEST (reference: ``quill/src/segment.rs``,
``keeper.rs:1567``).  The Spark-native equivalent is a set of columnar
tables under one index directory, with an explicit ``build_manifest`` table
carrying per-segment lineage (docid ranges, status, metrics) so builds are
resumable at segment granularity and queries can pin a generation.

Layout (all Parquet; the same layout maps 1:1 onto Iceberg tables when an
Iceberg catalog is configured — the manifest table then complements Iceberg
snapshots with per-partition lineage):

    <index_dir>/
      docs/               docid, doc_id, segment_id, stored fields...
      doclens/            docid, segment_id, len_<f>, fnid_<f> per text field
      postings/           segment_id=K/bucket=B/  (term-bucketed, block rows;
                          the term dictionary rides in term_df/term_cf)
      field_stats/        segment_id, field, doc_count, total_tokens,
                          docid_lo, docid_hi
      manifest/           generation, segment_id, docid_lo, docid_hi,
                          doc_count, status, built_at
      index_meta.json     schema + config (buckets, fields, generation,
                          format_version)

Postings are directory-partitioned by ``bucket = pmod(crc32(term), B)``
(crc32 because Spark's builtin is bit-identical to Python's ``zlib.crc32``,
letting the driver prune partition directories for query terms)
so a query touching a handful of terms prunes to a handful of directories
regardless of corpus size; ``segment_id`` partitioning gives resumable,
idempotent per-segment rewrites (the analogue of bulk-load publish cadence,
reference ``config.rs:26``).
"""

from __future__ import annotations

import json
import os
import time
from collections import OrderedDict
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INDEX_META = "index_meta.json"

#: On-disk layout version, written into ``index_meta.json`` at build and
#: checked once when an engine or maintenance facade opens the index
#: (the reference validates its segment magic + version at reader open,
#: ``segment.rs:20-24``, never per append).  Version 1 is the layout
#: every writer in this package produces: postings carry the embedded
#: term dictionary (``term_df``/``term_cf``) and gap-encoded entries
#: (``functions/codec.py``), there is no physical ``terms/`` table, and
#: tombstones carry their ``generation``.
FORMAT_VERSION = 1

#: Commit-time open-state rollup (QG-9 cold-open analogue, reference
#: keeper open ≤50 ms for a 1M-doc index): every mutation ends in one
#: atomic manifest publish, and the publisher also writes this tiny JSON
#: carrying the manifest snapshot rows, the default-view stats rollup,
#: and the tombstone count — so ``SearchEngine.__init__`` reads ONE small
#: driver-side file instead of running ~3 Spark jobs.  Staleness is
#: fail-safe: the file embeds a fingerprint of the manifest / tombstone /
#: field_stats parquet file listings taken at write time; an open that
#: sees a different listing (legacy index, external writer, crash between
#: the manifest publish and this write) falls back to the Spark jobs.
OPEN_STATE = "open_state.json"
#: v2 added per-segment docid spans to manifest_rows (hydration pruning);
#: v1 files fail the version check and readers fall back to the Spark
#: open path until the next commit rewrites the rollup
OPEN_STATE_VERSION = 2

#: Process-wide raw-parse cache for OPEN_STATE files, keyed by index_dir
#: with (mtime_ns, size) validity — module-level because the maintenance
#: facade builds a fresh IndexStorage per mutation (an instance cache
#: would start cold on every interactive delete).  Entries are the
#: as-parsed JSON objects: shared, never mutated.
_OPEN_STATE_PARSE_CACHE: "OrderedDict[str, tuple]" = OrderedDict()
_OPEN_STATE_PARSE_CACHE_MAX = 16

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
#: module-level for the same reason as the open-state parse cache.  Any
#: append or rewrite touches the table root (new part file or partition
#: dir), invalidating the entry; partition-internal rewrites (crash
#: replay) carry an identical schema by construction.
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

#: Tombstone table file sizing: one parquet file per this many rows
#: (docid+segment_id+generation longs compress to ~10 B/row → ~40 MB
#: files), capped at TOMBSTONE_MAX_FILES.  Small interactive deletes stay
#: single-file; a 10^9-row bulk delete writes ~250 files in parallel
#: instead of funnelling everything through ONE task (the round-3
#: single-writer bottleneck).  Appends are parallel-task commits, so a
#: crashed bulk delete can be PARTIALLY applied — delete is idempotent
#: (dedup against prior active rows), so the retry converges; callers
#: needing all-or-nothing visibility stage tombstones behind a manifest
#: generation (the upsert protocol) instead.
TOMBSTONE_ROWS_PER_FILE = 4_000_000
TOMBSTONE_MAX_FILES = 1024


@dataclass(frozen=True)
class GenerationState:
    """One-job snapshot of the manifest's generation bookkeeping.

    Everything the visibility protocol needs, derived from a single
    ``select(generation, sealed_at, status).distinct()`` collect —
    O(commits) rows, never O(segments) — instead of one manifest job per
    question (current generation, pending set, activation overrides).
    """

    #: max EFFECTIVE generation over sealed rows (0 when none) — the
    #: published watermark default readers pin
    sealed_gen: int
    #: max effective generation over ALL rows (pending batches included) —
    #: the uniqueness watermark mutation protocols mint from
    any_gen: int
    #: staged generations with pending (unsealed) manifest rows
    unsealed: frozenset
    #: staged generation → sealed_at activation, for batches sealed by
    #: seal() (see IndexStorage.activation_overrides)
    overrides: dict

    def current(self, include_unsealed: bool = False) -> int:
        return self.any_gen if include_unsealed else self.sealed_gen


@dataclass
class IndexMeta:
    text_fields: list[str]
    keyword_fields: list[str] = dc_field(default_factory=list)
    i64_fields: list[str] = dc_field(default_factory=list)
    stored_fields: list[str] = dc_field(default_factory=list)
    num_buckets: int = 16
    generation: int = 1
    positions: bool = True
    created_at: float = 0.0
    #: oldest generation still openable with ``at_generation`` (snapshot
    #: history below this was expired by gc() — the Iceberg
    #: expire-snapshots analogue); 0 = full history retained
    history_floor: int = 0
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


class IndexStorage:
    """Path-based table access for one index directory."""

    TABLES = (
        "docs",
        "doclens",
        "postings",
        # never written; a fresh build over a legacy index dir removes it
        "terms",
        "field_stats",
        "manifest",
        "tombstones",
    )

    def __init__(self, spark: SparkSession, index_dir: str, format: str | None = None):
        self.spark = spark
        self.index_dir = index_dir
        #: Physical table format seam (SURVEY §7.1): "parquet" (default)
        #: writes path-based partitioned Parquet with the manifest table
        #: supplying snapshot semantics; "iceberg" (requires the Iceberg
        #: runtime jars + a catalog on the cluster) maps the same logical
        #: tables onto catalog tables, letting Iceberg snapshots complement
        #: the manifest's per-segment lineage.  Every read/write below goes
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
        if not os.path.exists(path):
            self._recover_interrupted_swap(table)
        # Schema cache: every uncached load() runs a footer-inference job
        # (mergeSchema: one per footer), and a single upsert commit reads
        # docs/tombstones/manifest several times — at watch-mode batch
        # sizes those 1-task jobs are pure launch latency.  Keyed on the
        # root directory's (mtime_ns, entry count): any append/rewrite
        # creates or removes a file/partition-dir at the root, and
        # partition-internal rewrites (crash replay) carry the identical
        # schema by construction.  Module-level, like the open-state parse
        # cache (the maintenance facade builds a fresh IndexStorage per
        # mutation).
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
        if table == "manifest":
            # a legacy manifest appended to by history-retaining code mixes
            # files with and without superseded_at; parquet samples ONE
            # footer unless schemas are merged — the table is a handful of
            # rows, so merging is free and the column surfaces as NULL for
            # legacy rows (= never superseded, the correct reading)
            df = (
                self.spark.read.format(self.format)
                .option("mergeSchema", "true")
                .load(path)
            )
        else:
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

        A build's writes change every table root's cache key, so without
        this the first query after a build pays one schema-inference job.
        Spark infers the writer's row schema, which it embeds in every
        footer, made nullable, followed by the partition columns read from
        the directory names; this package partitions only by int columns
        (``segment_id``, ``bucket``), which Spark infers as IntegerType.
        A table whose footer lacks the embedded schema is left to
        inference.
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

        Runs once per open and never schedules a Spark job: a meta that
        carries :data:`FORMAT_VERSION` is trusted as is.  A meta written
        before the field existed is classified from one postings footer
        and one tombstone footer read with pyarrow; a current layout is
        stamped on ``meta`` in memory (the next commit's meta write
        persists it), a legacy one raises naming what is missing.
        """
        if meta.format_version == FORMAT_VERSION:
            return
        if meta.format_version is not None:
            raise RuntimeError(
                f"index {self.index_dir} has on-disk format_version "
                f"{meta.format_version}; this package reads version "
                f"{FORMAT_VERSION}"
            )
        missing = self._legacy_layout()
        if missing:
            raise RuntimeError(
                f"refusing to open legacy index {self.index_dir}: "
                + "; ".join(missing)
                + ".  Rebuild it from its source documents."
            )
        meta.format_version = FORMAT_VERSION

    def _legacy_layout(self) -> list[str]:
        """What a pre-:data:`FORMAT_VERSION` index lacks, from at most two
        parquet footers (every writer produced one layout per table, so
        one file stands for the table)."""
        import pyarrow.parquet as pq

        missing = []
        if os.path.isdir(self.path("terms")):
            missing.append(
                "it keeps a physical terms/ table instead of the term "
                "dictionary embedded in postings"
            )
        sample = first_data_file(self.path("postings"))
        if sample is not None:
            schema = pq.read_schema(sample)
            if "term_df" not in schema.names:
                missing.append(
                    "its postings lack the embedded term dictionary "
                    "(term_df/term_cf)"
                )
            entry = schema.field("entries").type.value_type
            if "d" not in [entry.field(i).name for i in range(entry.num_fields)]:
                missing.append(
                    "its posting entries store absolute docids, not the "
                    "gap-encoded d of functions/codec.py"
                )
        sample = first_data_file(self.path("tombstones"))
        if sample is not None and "generation" not in pq.read_schema(sample).names:
            missing.append("its tombstones lack the generation column")
        return missing

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
        # Committer v2 (session.py) exposes task output at TASK commit, so
        # an append-mode write is atomic only per-task.  The manifest is
        # the snapshot publish point: its append is atomic solely because
        # it is exactly ONE task writing ONE file — a crashed multi-file
        # manifest append could publish a partial segment set.  Pin the
        # invariant here so it can't be silently relaxed.
        if table == "manifest":
            assert coalesce == 1, (
                "manifest writes must stay single-file (coalesce=1): "
                "committer-v2 atomicity depends on it"
            )
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

    def append_driver_side(self, table: str, columns: dict[str, list]) -> bool:
        """Zero-job append of O(metadata) rows to an UNPARTITIONED table.

        The per-commit metadata appends (manifest rows, per-segment
        field_stats, an interactive delete's tombstones) are a handful of
        rows, yet each Spark write schedules a job plus a commit protocol
        — fixed latency that dominated the watch-mode micro-batch commit.
        This writes ONE parquet file with pyarrow on the driver, casting
        every column to the table's existing footer schema so
        mixed-writer directories stay physically type-identical (Spark
        resolves one schema per directory read; an int32/int64 drift
        between files fails the vectorized scan).  Footer metadata is
        stripped, same as :meth:`seal_driver_side` — Spark trusts an
        embedded row-metadata blob over the physical schema.

        ``columns`` may carry extra keys (e.g. ``sealed_at`` for a
        pre-seal manifest layout that doesn't have the column yet); a key
        MISSING for a field the footer requires aborts.  Returns False —
        nothing written — on any surprise (no table dir yet, unknown
        field, cast failure); the caller falls back to the Spark writer.

        Crash-safe: written under a dot-prefixed temp name (invisible to
        Spark's file listing) and renamed into place — the same
        atomic-visibility contract as a committed Spark task file.
        """
        root = self.path(table)
        if self.format != "parquet" or not os.path.isdir(root):
            return False
        tmp = None
        try:
            import uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            sample = first_data_file(root)
            if sample is None:
                return False
            target = pq.read_schema(sample).remove_metadata()
            n = max((len(v) for v in columns.values()), default=0)
            if n == 0 or any(len(v) != n for v in columns.values()):
                return False
            arrays = [
                pa.array(columns[name]).cast(target.field(name).type)
                for name in target.names
            ]
            tbl = pa.Table.from_arrays(arrays, schema=target)
            name = f"part-{uuid.uuid4()}-driver.parquet"
            tmp = os.path.join(root, "." + name + ".tmp")
            pq.write_table(tbl, tmp)
            os.rename(tmp, os.path.join(root, name))
            return True
        except Exception:
            if tmp is not None:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            return False

    def table_exists(self, table: str) -> bool:
        if os.path.exists(self.path(table)):
            return True
        return self._recover_interrupted_swap(table)

    def _recover_interrupted_swap(self, table: str) -> bool:
        """Crash-only repair for the two-slot directory swap.

        Every table rewrite (:meth:`atomic_rewrite`,
        :meth:`seal_driver_side`) swaps via ``root → root.prev; tmp →
        root; rm root.prev``.  A crash between the two renames leaves the
        table directory ABSENT with only ``.prev`` on disk.  Restoring
        ``.prev`` when — and only when — the root is missing is safe: it
        reinstates the pre-rewrite state, and the interrupted mutation's
        replay converges (seal re-flips; rewrites are idempotent).  When
        the root exists, a ``.prev`` is just an unfinished cleanup and
        must never be restored.  Returns True when a restore happened.
        """
        prev = self.path(table) + ".prev"
        if not os.path.exists(prev):
            return False
        try:
            os.replace(prev, self.path(table))
        except OSError:
            return False
        return True

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.index_dir, INDEX_META))

    def clear_tables(self) -> None:
        """Remove all table directories (fresh-build reset)."""
        import shutil

        for table in self.TABLES:
            shutil.rmtree(self.path(table), ignore_errors=True)
        try:
            os.remove(os.path.join(self.index_dir, OPEN_STATE))
        except OSError:
            pass

    # ── snapshot surface ──────────────────────────────────────────────────

    def live_segments(
        self,
        include_unsealed: bool = False,
        at_generation: int | None = None,
    ) -> list[int]:
        """Segment ids visible in the current (or a past) generation.

        The manifest is the snapshot source of truth: appends publish new
        segments by appending rows; compaction/merge supersede segments by
        stamping their rows with ``superseded_at = <new generation>``
        (history-retaining — the Iceberg snapshot-log analogue) instead of
        dropping them.  Readers must filter every per-segment table by
        this set (partition pruning makes the filter free), which is what
        pins one generation per query.

        ``include_unsealed`` additionally exposes segments published with
        ``status='unsealed'`` (pre-commit delta visibility, reference
        ``quill/src/delta.rs:1-37`` — deltas searchable before the sealing
        commit).  Default readers never see them.

        ``at_generation`` time-travels: a segment is live at generation
        ``g`` iff it was sealed at some generation <= g and not superseded
        at or before g (VERSION AS OF).  History remains readable until
        :meth:`~frankensearch_spark.operators.maintenance.Maintenance.gc`
        expires it.
        """
        return self.live_from_snapshot(
            self.manifest_snapshot(),
            include_unsealed=include_unsealed,
            at_generation=at_generation,
        )

    @staticmethod
    def live_from_snapshot(
        rows: list,
        include_unsealed: bool = False,
        at_generation: int | None = None,
    ) -> list[int]:
        """Liveness over :meth:`manifest_snapshot` rows (one code path for
        every reader).

        Effective generation: a batch sealed by seal() became visible at
        ``sealed_at``, not at its staged generation — a snapshot pinned
        between the staging and the seal must not change contents when
        seal later runs.  Legacy manifests predate history retention /
        seal activation: the snapshot surfaces those columns as NULL,
        which reads as never-superseded / sealed-at-staging, the correct
        legacy meaning.
        """
        out: set[int] = set()
        for r in rows:
            sup = r["superseded_at"]
            if at_generation is not None:
                g = int(at_generation)
                eff = (
                    int(r["generation"])
                    if r["sealed_at"] is None
                    else int(r["sealed_at"])
                )
                if (
                    r["status"] == "sealed"
                    and eff <= g
                    and (sup is None or int(sup) > g)
                ):
                    out.add(int(r["segment_id"]))
            elif sup is None and (
                r["status"] == "sealed"
                or (include_unsealed and r["status"] == "unsealed")
            ):
                out.add(int(r["segment_id"]))
        return sorted(out)

    def current_generation(self, include_unsealed: bool = False) -> int:
        """Highest published manifest generation (0 when no manifest).

        The generation is the visibility gate for tombstones: mutation
        protocols write tombstone rows tagged with the generation whose
        manifest append makes them meaningful, so a reader pinned to
        generation g ignores tombstones staged for g+1 (upsert stays
        atomic for readers — delete and add become visible together at
        the manifest append, the reference's publish point).

        Only SEALED rows define the published generation by default; an
        unsealed upsert's rows carry the next generation, which must stay
        invisible to default readers or its staged tombstones would
        activate without their replacement segments.  ``include_unsealed``
        readers opt into exactly that next generation.
        """
        return self.generation_state().current(include_unsealed)

    def manifest_snapshot(self) -> list:
        """One manifest read+collect serving every open-time question.

        Returns deduped rows of (segment_id, generation, sealed_at,
        status, superseded_at) — O(segments) driver rows, the same shape
        :meth:`live_segments` already pins; sharing one collect avoids
        the per-read schema-merge jobs the manifest's mergeSchema read
        costs (engine open asks for the live set AND the generation
        state, and each separate read is ~3 Spark jobs).
        """
        # serve from the commit-time rollup when its fingerprint still
        # matches the directory listings (driver-side os.listdir, zero
        # Spark): mutation protocols take several snapshots per commit
        # (generation state, liveness, watermarks), and each cold read is
        # ~3 jobs.  The moment any mutation lands, the fingerprint
        # mismatches and this falls through to the real read.
        state = self.read_open_state()
        if state is not None:
            return state["manifest_rows"]
        if not self.table_exists("manifest"):
            return []
        man = self.read("manifest")
        sa = (
            F.col("sealed_at")
            if "sealed_at" in man.columns
            else F.lit(None).cast("long")
        )
        sup = (
            F.col("superseded_at")
            if "superseded_at" in man.columns
            else F.lit(None).cast("long")
        )
        lo = (
            F.col("docid_lo")
            if "docid_lo" in man.columns
            else F.lit(None).cast("long")
        )
        hi = (
            F.col("docid_hi")
            if "docid_hi" in man.columns
            else F.lit(None).cast("long")
        )
        return (
            man.select(
                F.col("segment_id"),
                F.col("generation"),
                sa.alias("sealed_at"),
                F.col("status"),
                sup.alias("superseded_at"),
                lo.alias("docid_lo"),
                hi.alias("docid_hi"),
            )
            .dropDuplicates()
            .collect()
        )

    @staticmethod
    def state_from_snapshot(rows: list) -> GenerationState:
        """Derive the generation bookkeeping from :meth:`manifest_snapshot`.

        A batch sealed by seal() keeps its staged generation as identity
        but became visible at ``sealed_at`` — the effective generation is
        ``greatest(generation, coalesce(sealed_at, generation))``, so the
        published watermark advances at seal and VERSION AS OF snapshots
        pinned before it stay immutable.
        """
        sealed_gen = any_gen = 0
        unsealed: set[int] = set()
        overrides: dict[int, int] = {}
        for r in rows:
            g = int(r["generation"])
            act = None if r["sealed_at"] is None else int(r["sealed_at"])
            eff = g if act is None else max(g, act)
            any_gen = max(any_gen, eff)
            if r["status"] == "sealed":
                sealed_gen = max(sealed_gen, eff)
            else:
                unsealed.add(g)
            if act is not None and act != g:
                overrides[g] = act
        return GenerationState(sealed_gen, any_gen, frozenset(unsealed), overrides)

    def generation_state(self) -> GenerationState:
        """All generation bookkeeping from ONE manifest job."""
        return self.state_from_snapshot(self.manifest_snapshot())

    def unsealed_generations(self) -> set[int]:
        """Generations with pending (unsealed) manifest rows.

        Mutation protocols allocate every commit — sealed or unsealed — a
        UNIQUE generation (``current_generation(include_unsealed=True)+1``),
        so a generation in this set belongs entirely to one pending batch:
        its staged tombstones must stay inactive for default readers even
        when a later sealed commit advances the committed generation past
        it (the tombstone-without-replacement race).  ``seal()`` empties
        the set, activating those tombstones together with their segments.
        """
        return set(self.generation_state().unsealed)

    def activation_overrides(self) -> dict[int, int]:
        """Staged generation → activation generation, for batches that
        went through seal() (``sealed_at != generation``).

        A tombstone row tagged with a staged generation activates at the
        batch's ``sealed_at``, not at the staged number — readers pinned
        between the staging and the seal must keep seeing the old doc
        (snapshot immutability).  Empty when no seal() has ever run.
        """
        return dict(self.generation_state().overrides)

    def list_tombstone_files(self) -> list[str]:
        """Driver-side listing of the tombstone table's parquet files.

        Zero Spark jobs.  Engines opening via a validated ``open_state``
        take their pinned file set from its fingerprint instead (no
        re-listing window); this listing backs :meth:`pinned_tombstones`
        when no ``files=`` pin is supplied.
        """
        root = self.path("tombstones")
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(root, f)
            for f in os.listdir(root)
            if f.endswith(".parquet")
        )

    def pinned_tombstones(
        self,
        generation: int,
        live_segments=None,
        include_unsealed: bool = False,
        gen_state: GenerationState | None = None,
        known_count: int | None = None,
        files: list | None = None,
    ):
        """Tombstoned docids visible at ``generation``, pinned to the
        tombstone files present right now (snapshot isolation for deletes:
        tombstones appended after this call are invisible to the caller,
        mirroring how ``live_segments`` pins the segment set).  Returns
        ``(df, count)`` where ``df`` is a persisted single-column (docid)
        DataFrame (``(None, 0)`` when empty); the count lets callers
        size-gate broadcast anti-joins against the set.

        ``live_segments`` (the caller's pinned segment set) scopes the set
        to tombstones whose segment is live at the pinned generation: a
        row whose segment was superseded is *folded* — compaction already
        removed those docids physically, so the row lingers only as
        history for time-travel readers pinned before the supersede (no
        tombstone rewrite happens at fold; liveness of the segment IS the
        fold marker).

        ``known_count`` (from a fingerprint-validated :data:`OPEN_STATE`
        rollup for the SAME view) skips the count job: 0 short-circuits
        to ``(None, 0)`` with no reads at all, and a positive count
        builds the frame lazily (persist without materializing — the
        first query's action fills the cache), making a warm engine open
        zero Spark actions.
        """
        if known_count == 0:
            return None, 0
        if files is None:
            files = self.list_tombstone_files()
        if not files:
            return None, 0
        df = self.spark.read.parquet(*files)
        state = gen_state if gen_state is not None else self.generation_state()
        df = df.where(F.col("generation") <= generation)
        if not include_unsealed:
            # tombstones staged by a still-unsealed batch activate only
            # at seal(), together with their replacement segments — a
            # later sealed commit advancing the pinned generation past
            # the pending one must not activate them early (docs would
            # vanish without their replacements)
            if state.unsealed:
                df = df.where(
                    ~F.col("generation").isin(sorted(state.unsealed))
                )
        # batches already sealed by seal() activate at sealed_at: a
        # row whose staged generation passed the <= filter above may
        # still be in this reader's future (snapshot immutability
        # across seal)
        late = sorted(
            g for g, act in state.overrides.items() if act > generation
        )
        if late:
            df = df.where(~F.col("generation").isin(late))
        if live_segments is not None:
            df = pin_segments(df, live_segments, self.segment_pin_isin_max)
        df = df.select("docid").distinct().persist()
        if known_count is not None:
            return df, int(known_count)
        n = df.count()
        if n == 0:
            df.unpersist()
            return None, 0
        return df, n

    # ── commit-time open state (cold-open rollup) ─────────────────────────

    def _dir_fingerprint(self) -> dict:
        """Parquet file listings of the tables the open state derives from.

        Spark part-file names embed a per-write UUID, so ANY append or
        rewrite of these tables changes the listing; segment data tables
        are excluded on purpose (their content is irrelevant to open-time
        state — visibility is entirely manifest/tombstone/stats-driven).
        """
        out = {}
        for table in ("manifest", "tombstones", "field_stats"):
            root = self.path(table)
            names: list[str] = []
            if os.path.isdir(root):
                names = sorted(
                    f for f in os.listdir(root) if f.endswith(".parquet")
                )
            out[table] = names
        return out

    def _open_state_parse(self):
        """((mtime_ns, size), raw state) or None — parsed + version-gated
        but NOT fingerprint-checked (each caller re-lists; that is the
        per-call correctness gate).

        The ONE loader both :meth:`open_state_raw` and
        :meth:`read_open_state` sit on, so the validation pipeline cannot
        drift between the delete fast path and the reader path.  The
        parse cache is MODULE-level keyed by index_dir: the
        ``maintenance`` facade constructs a fresh IndexStorage per
        mutation, so an instance attribute would start cold on every
        delete — and the manifest_rows list is O(retained manifest
        history), making a per-delete re-parse O(index history).
        :meth:`_store_open_state` seeds the cache with the state it just
        wrote, so the NEXT mutation's pre-capture is parse-free too.
        The cached object is shared and must never be mutated (the fast
        path copies before editing)."""
        path = os.path.join(self.index_dir, OPEN_STATE)
        try:
            st = os.stat(path)
        except OSError:
            return None
        cache_key = (st.st_mtime_ns, st.st_size)
        cached = _OPEN_STATE_PARSE_CACHE.get(self.index_dir)
        if cached is not None and cached[0] == cache_key:
            _OPEN_STATE_PARSE_CACHE.move_to_end(self.index_dir)
            return cached
        try:
            with open(path) as fh:
                state = json.load(fh)
        except (OSError, ValueError):
            return None
        if state.get("version") != OPEN_STATE_VERSION:
            return None
        self._seed_parse_cache(cache_key, state)
        return (cache_key, state)

    def _seed_parse_cache(self, cache_key, state) -> None:
        _OPEN_STATE_PARSE_CACHE[self.index_dir] = (cache_key, state)
        _OPEN_STATE_PARSE_CACHE.move_to_end(self.index_dir)
        while len(_OPEN_STATE_PARSE_CACHE) > _OPEN_STATE_PARSE_CACHE_MAX:
            _OPEN_STATE_PARSE_CACHE.popitem(last=False)

    def open_state_raw(self) -> dict | None:
        """The stored rollup in its on-disk (JSON) shape, fingerprint
        validated against the CURRENT directory listings — or None.

        Mutation fast paths capture this BEFORE their table writes: a
        valid result proves the stored rows describe the pre-mutation
        state exactly, which is what an incremental update needs as its
        base.  Unlike :meth:`read_open_state` the manifest rows stay in
        their compact list form."""
        parsed = self._open_state_parse()
        if parsed is None:
            return None
        state = parsed[1]
        if state.get("fingerprint") != self._dir_fingerprint():
            return None
        # deep copy: the parse cache entry is shared process-wide across
        # every IndexStorage on this index_dir; handing out the cached
        # object itself would let a caller mutation (even of a nested
        # stats/fingerprint value) silently corrupt all future opens.
        return json.loads(json.dumps(state))

    def write_open_state(
        self,
        *,
        tombstones_appended: int | None = None,
        prior_raw: dict | None = None,
    ) -> None:
        """Persist the open-time rollup for the current committed state.

        Runs the same ~3 jobs an engine open would (manifest snapshot,
        default-view stats rollup, tombstone count) — but at COMMIT time,
        amortized into the mutation that already ran many jobs — and
        writes them to :data:`OPEN_STATE` atomically.  Every mutation
        publish point calls this last; a crash in between simply leaves a
        stale file whose fingerprint mismatches (readers fall back).

        **Tombstone-only fast path** (``tombstones_appended`` +
        ``prior_raw``): an interactive delete would otherwise pay a full
        distinct-count over the whole tombstone table — at 10^9+
        accumulated tombstones that is the dominant cost of deleting ONE
        doc.  The delete already counts exactly how many NEW docids it
        appended (anti-joined against the prior visible set), so when the
        pre-mutation rollup was fingerprint-valid the new count is
        ``prior + appended`` with zero Spark jobs.  Exactness is verified
        driver-side: the parquet footers of the newly-listed tombstone
        files must account for exactly ``tombstones_appended`` rows — a
        concurrent writer's rows landing in the window would break that
        equality and drop us to the full recompute (fail-safe)."""
        if tombstones_appended is not None and prior_raw is not None:
            if self._write_open_state_incremental(
                int(tombstones_appended), prior_raw
            ):
                return
        # Fingerprint BEFORE the rollup jobs: if a concurrent writer's
        # commit lands while the rollup runs, a listing taken AFTER would
        # match the new directory state while the rows describe the old
        # one — a stale rollup that validates as fresh (readers would
        # miss the concurrent segments and next_bases() would re-mint
        # their docids).  With the pre-read listing, any concurrent
        # mutation makes the stored fingerprint stale and readers fall
        # back to the real manifest, which is the fail-safe direction.
        fingerprint = self._dir_fingerprint()
        snapshot = self.manifest_snapshot()
        gen_state = self.state_from_snapshot(snapshot)
        live = self.live_from_snapshot(snapshot)
        stats: dict[str, list[int]] = {}
        if live and self.table_exists("field_stats"):
            stats = {
                f: [d, t]
                for f, (d, t) in self.stats_rollup(
                    pin_segments(
                        self.read("field_stats"), live, self.segment_pin_isin_max
                    )
                ).items()
            }
        tomb_df, tomb_n = self.pinned_tombstones(
            gen_state.current(), live_segments=live, gen_state=gen_state
        )
        if tomb_df is not None:
            tomb_df.unpersist()
        if self._dir_fingerprint() != fingerprint:
            # a concurrent mutation landed mid-rollup: this rollup is
            # already stale — leave whatever open_state exists (its
            # fingerprint mismatches too, so readers fall back) and let
            # the concurrent writer's own publish write the fresh one
            return
        state = {
            "version": OPEN_STATE_VERSION,
            "fingerprint": fingerprint,
            "manifest_rows": [
                [
                    int(r["segment_id"]),
                    int(r["generation"]),
                    None if r["sealed_at"] is None else int(r["sealed_at"]),
                    r["status"],
                    None if r["superseded_at"] is None else int(r["superseded_at"]),
                    None if r["docid_lo"] is None else int(r["docid_lo"]),
                    None if r["docid_hi"] is None else int(r["docid_hi"]),
                ]
                for r in snapshot
            ],
            "stats": stats,
            "tombstone_count": int(tomb_n),
        }
        # Carry over recorded activation deltas for batches STILL pending
        # in this snapshot: the full rollup otherwise drops the `pending`
        # map, demoting the next seal() to the Spark path even though the
        # deltas remain exact.  Safe without a fingerprint check because
        # generations are never reused — an entry for generation g was
        # written by g's own commit and describes that batch regardless of
        # what landed since; entries for generations no longer unsealed
        # are dropped (sealed or superseded — their delta was consumed).
        parsed = self._open_state_parse()
        if parsed is not None:
            prior_pending = parsed[1].get("pending") or {}
            still_unsealed = {
                str(int(r["generation"]))
                for r in snapshot
                if r["status"] == "unsealed"
            }
            kept = {
                g: json.loads(json.dumps(d))
                for g, d in prior_pending.items()
                if g in still_unsealed
            }
            # The tombstone deltas are only distinct-safe while the only
            # appends since they were recorded came from pending batches
            # themselves (include_unsealed dedup → mutually disjoint).  A
            # changed tombstone listing means THIS mutation appended rows
            # with an unknown dedup scope — a default-view delete could
            # have re-staged a pending docid, so the counts may
            # double-count at seal.  Keep the (per-segment, always-safe)
            # stats deltas but null the tombstone deltas; seal_driver_side
            # refuses on null and falls back to the exact Spark path.
            prior_tomb_listing = (parsed[1].get("fingerprint") or {}).get(
                "tombstones"
            )
            if kept and prior_tomb_listing != fingerprint.get("tombstones"):
                for d in kept.values():
                    d["tombstones"] = None
            if kept:
                state["pending"] = kept
        self._store_open_state(state)

    def _store_open_state(self, state: dict) -> None:
        tmp = os.path.join(self.index_dir, OPEN_STATE + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        dst = os.path.join(self.index_dir, OPEN_STATE)
        try:
            tmp_size = os.stat(tmp).st_size
        except OSError:
            tmp_size = None
        os.replace(tmp, dst)
        # seed the parse cache with what we just wrote: the next
        # mutation's pre-capture (and the next zero-job open in this
        # process) skips re-parsing the O(manifest-history) document.
        # Round-trip through JSON so the cached object has the exact
        # types a file parse would yield (tuples become lists etc.).
        # The destination is stat'ed AFTER os.replace, so a concurrent
        # writer replacing OPEN_STATE in that window could hand us ITS
        # (mtime, size) key; only seed when the post-replace size equals
        # the bytes THIS writer produced — a size match with different
        # content is caught by every consumer's fingerprint re-check.
        try:
            st = os.stat(dst)
            if tmp_size is not None and st.st_size == tmp_size:
                self._seed_parse_cache(
                    (st.st_mtime_ns, st.st_size), json.loads(json.dumps(state))
                )
        except OSError:
            pass

    def _write_open_state_incremental(
        self, appended: int, prior_raw: dict
    ) -> bool:
        """Tombstone-only rollup update with zero Spark jobs; False when
        the exactness conditions don't hold (caller falls back to the
        full recompute).

        Conditions, all checked against the CURRENT directory state:

        * the manifest and field_stats listings are byte-identical to the
          prior fingerprint (the mutation touched only tombstones — the
          snapshot rows and stats carry over verbatim);
        * the prior tombstone files are all still present (append-only —
          a rewrite invalidates the prior count);
        * the parquet footers of the NEW tombstone files sum to exactly
          ``appended`` rows.  The delete counted ``appended`` as the
          number of newly-visible distinct docids it wrote, so footer
          equality proves no concurrent writer's rows slipped into the
          same window — the only case where ``prior + appended`` could be
          wrong — and footers are read driver-side (pyarrow), no jobs.
        """
        fp = self._dir_fingerprint()
        pf = prior_raw.get("fingerprint") or {}
        if fp.get("manifest") != pf.get("manifest"):
            return False
        if fp.get("field_stats") != pf.get("field_stats"):
            return False
        old_files = set(pf.get("tombstones") or [])
        new_files = set(fp.get("tombstones") or [])
        if not old_files <= new_files:
            return False
        added = sorted(new_files - old_files)
        if not added and appended:
            return False
        try:
            import pyarrow.parquet as pq

            root = self.path("tombstones")
            new_rows = sum(
                pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in added
            )
        except Exception:
            return False
        if new_rows != appended:
            return False
        state = dict(prior_raw)
        state["fingerprint"] = fp
        state["tombstone_count"] = int(prior_raw["tombstone_count"]) + appended
        # A default-view delete dedups against ACTIVE rows only, so it can
        # re-stage a docid a pending batch already staged — the recorded
        # pending tombstone deltas would then double-count it at seal
        # (the Spark rollup counts DISTINCT docids).  Invalidate them;
        # seal falls back to the exact Spark path.
        if appended and state.get("pending"):
            state.pop("pending")
        self._store_open_state(state)
        return True

    def write_open_state_from_build(
        self,
        manifest_rows: list,
        stats: dict,
        expected_stats_rows: int,
    ) -> bool:
        """Zero-Spark-job open-state publish for a FRESH (overwrite) build.

        The build just wrote the whole index from scratch, so it already
        holds — driver-side — everything the rollup would recompute with
        ~3 Spark jobs: the exact manifest rows it published, the
        per-field stats rollup, and a tombstone count of zero (overwrite
        cleared the tables).  ``manifest_rows`` use the compact on-disk
        list shape ``[segment_id, generation, sealed_at, status,
        superseded_at, docid_lo, docid_hi]``.

        Exactness is verified driver-side before writing (same
        discipline as :meth:`_write_open_state_incremental`): the
        tombstone listing must be empty, and the parquet footers of the
        manifest / field_stats files must account for exactly the rows
        this build wrote — a concurrent writer's rows landing in the
        window breaks footer equality and we return False (caller falls
        back to the full rollup, the fail-safe direction).
        """
        fingerprint = self._dir_fingerprint()
        if fingerprint.get("tombstones"):
            return False
        try:
            import pyarrow.parquet as pq

            for table, expected in (
                ("manifest", len(manifest_rows)),
                ("field_stats", expected_stats_rows),
            ):
                root = self.path(table)
                n = sum(
                    pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                    for f in fingerprint.get(table) or []
                )
                if n != expected:
                    return False
        except Exception:
            return False
        state = {
            "version": OPEN_STATE_VERSION,
            "fingerprint": fingerprint,
            "manifest_rows": manifest_rows,
            "stats": stats,
            "tombstone_count": 0,
        }
        self._store_open_state(state)
        return True

    def write_open_state_append(
        self,
        prior_raw: dict,
        manifest_rows: list,
        stats_delta: dict,
        expected_stats_rows: int,
        tombstones_appended: int,
        sealed: bool,
    ) -> bool:
        """Zero-Spark-job open-state publish for an APPEND commit (upsert
        / delta staging): prior state + exactly this batch's delta.

        ``prior_raw`` is :meth:`open_state_raw` captured BEFORE the
        batch's first table write (fingerprint-valid == describes the
        pre-mutation tables exactly).  ``manifest_rows`` are the compact
        rows this batch appended; ``stats_delta`` its per-field
        [docs, tokens] sums; ``tombstones_appended`` the distinct NEW
        docids its staged deletes wrote (0 when none).

        Semantics mirror the full rollup exactly:

        * sealed commit → the new segments are live: stats grow by the
          delta and the staged tombstones activate (count grows).  Only
          taken when NO unsealed batches are pending — a pending batch's
          staged generation below ours would interact with activation
          order, so that case falls back to the full rollup.
        * unsealed commit → nothing is visible to default readers yet:
          stats and tombstone_count carry over UNCHANGED (the manifest
          rows alone record the pending batch; they activate at seal(),
          which runs the full rollup).

        Exactness is footer-verified per table (prior files must survive
        untouched; the added files must account for exactly this batch's
        rows) — any concurrent writer breaks equality and we return False
        (caller falls back to the full rollup)."""
        if prior_raw is None:
            return False
        prior_rows = prior_raw.get("manifest_rows") or []
        # Crash-replay guard: a replayed batch re-appends manifest/stats
        # rows for segment ids the crashed attempt already published.
        # Readers dedup those by design, but prior + delta would count
        # them twice — fall back to the full (deduping) rollup.
        prior_segs = {int(r[0]) for r in prior_rows}
        if any(int(r[0]) in prior_segs for r in manifest_rows):
            return False
        if sealed:
            for row in prior_rows:
                if row[3] == "unsealed":
                    return False
        fingerprint = self._dir_fingerprint()
        prior_fp = prior_raw.get("fingerprint") or {}
        try:
            import pyarrow.parquet as pq

            for table, expected in (
                ("manifest", len(manifest_rows)),
                ("field_stats", expected_stats_rows),
                ("tombstones", int(tombstones_appended)),
            ):
                old = set(prior_fp.get(table) or [])
                new = set(fingerprint.get(table) or [])
                if not old <= new:
                    return False  # a prior file vanished: not a pure append
                root = self.path(table)
                n = sum(
                    pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                    for f in sorted(new - old)
                )
                if n != expected:
                    return False
        except Exception:
            return False
        state = json.loads(json.dumps(prior_raw))
        state["fingerprint"] = fingerprint
        state["manifest_rows"] = list(state["manifest_rows"]) + list(manifest_rows)
        if sealed:
            stats = state.get("stats") or {}
            prior_live = {
                int(r[0])
                for r in prior_raw.get("manifest_rows") or []
                if r[3] == "sealed" and r[4] is None
            }
            if prior_live and not stats:
                return False  # stats table unreadable for live segments
            for f, (d, t) in (
                (k, (v[0], v[1])) for k, v in stats_delta.items()
            ):
                base = stats.get(f, [0, 0])
                stats[f] = [int(base[0]) + int(d), int(base[1]) + int(t)]
            state["stats"] = stats
            state["tombstone_count"] = int(
                state.get("tombstone_count") or 0
            ) + int(tombstones_appended)
        else:
            # Record the batch's delta under its (unique) staged
            # generation so seal() can activate the whole pending window
            # driver-side: stats grow by exactly these sums and the
            # staged tombstones add exactly this count when the batch
            # flips sealed.  A pending generation MISSING from this map
            # (its commit fell back to the full rollup) makes the seal
            # fast path fall back too — fail-safe.
            gens = {int(r[1]) for r in manifest_rows}
            if len(gens) != 1:
                return False  # one staged batch == one generation
            pending = dict(state.get("pending") or {})
            pending[str(gens.pop())] = {
                "stats": {
                    f: [int(v[0]), int(v[1])] for f, v in stats_delta.items()
                },
                "tombstones": int(tombstones_appended),
            }
            state["pending"] = pending
        self._store_open_state(state)
        return True

    def seal_driver_side(self) -> tuple[list[int], int] | None:
        """Zero-Spark-job seal: flip every unsealed manifest row sealed,
        activating the pending window, entirely on the driver.

        The manifest is O(segments) metadata rows; rewriting it through a
        Spark job costs two scheduled jobs plus the full open-state rollup
        (~1.5 s of fixed latency per seal — the dominant cost of the
        stream sink's cadence seal at watch-mode batch sizes).  When the
        stored rollup is fingerprint-valid it already holds the exact
        manifest rows AND (via ``pending``, recorded by each unsealed
        commit) the exact stats/tombstone deltas the activation adds, so
        the flip is pure driver work: pyarrow-rewrite the manifest table
        under the same two-slot swap protocol as :meth:`atomic_rewrite`,
        then publish the incrementally-updated rollup.

        Returns ``(sealed_segment_ids, activation_generation)``, with
        ``([], current)`` when nothing was pending, or ``None`` when any
        exactness condition fails (caller falls back to the Spark path):
        no valid rollup, a pending generation missing from ``pending``
        (its commit fell back to the full rollup), or an unreadable /
        schema-surprising manifest file.

        Single-writer contract (same as every maintenance op): a
        concurrent commit landing between the fingerprint capture and the
        swap would be clobbered — callers serialize mutations, and the
        stream sink's cadence seal runs on the micro-batch thread.
        """
        import shutil
        import uuid

        prior_raw = self.open_state_raw()
        if prior_raw is None:
            return None
        rows = prior_raw.get("manifest_rows") or []
        pending_rows = [r for r in rows if r[3] == "unsealed"]
        if not pending_rows:
            return ([], self.state_from_rows(rows).current())
        pending_gens = {int(r[1]) for r in pending_rows}
        pending = prior_raw.get("pending") or {}
        if not all(str(g) in pending for g in pending_gens):
            return None
        # a nulled tombstone delta (interleaved default-view delete may
        # have re-staged a pending docid — see write_open_state's
        # carry-over) makes the incremental count unsound: exact path only
        if any(
            pending[str(g)].get("tombstones") is None for g in pending_gens
        ):
            return None
        gen_next = self.state_from_rows(rows).current(include_unsealed=True) + 1
        root = self.path("manifest")
        files = prior_raw["fingerprint"].get("manifest") or []
        try:
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            tables = [
                pq.read_table(os.path.join(root, f)) for f in sorted(files)
            ]
            tbl = pa.concat_tables(tables, promote_options="permissive")
            if "sealed_at" not in tbl.column_names:
                tbl = tbl.append_column(
                    "sealed_at", pa.nulls(tbl.num_rows, pa.int64())
                )
            mask = pc.equal(tbl["status"], pa.scalar("unsealed"))
            tbl = tbl.set_column(
                tbl.column_names.index("sealed_at"),
                "sealed_at",
                pc.if_else(
                    mask,
                    pa.scalar(gen_next, pa.int64()),
                    pc.cast(tbl["sealed_at"], pa.int64()),
                ),
            )
            tbl = tbl.set_column(
                tbl.column_names.index("status"),
                "status",
                pc.if_else(mask, pa.scalar("sealed"), tbl["status"]),
            )
            # Drop the footer's embedded schema metadata: the source
            # files carry Spark's row-metadata describing their ORIGINAL
            # (possibly pre-sealed_at) schema, and Spark's reader trusts
            # that embedded schema over the physical parquet one — the
            # flipped sealed_at column would silently vanish on read.
            tbl = tbl.replace_schema_metadata(None)
            tmp = root + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            pq.write_table(
                tbl, os.path.join(tmp, f"part-00000-{uuid.uuid4()}.parquet")
            )
        except Exception:
            return None
        self._swap_into_place(tmp, root)
        # incremental rollup: flip the stored rows the same way and fold
        # in the recorded per-batch activation deltas
        new_rows = [
            [r[0], r[1], gen_next, "sealed", r[4], r[5], r[6]]
            if r[3] == "unsealed"
            else list(r)
            for r in rows
        ]
        stats = {
            f: [int(v[0]), int(v[1])]
            for f, v in (prior_raw.get("stats") or {}).items()
        }
        tomb_n = int(prior_raw.get("tombstone_count") or 0)
        for g in sorted(pending_gens):
            delta = pending[str(g)]
            for f, (d, t) in delta.get("stats", {}).items():
                base = stats.get(f, [0, 0])
                stats[f] = [int(base[0]) + int(d), int(base[1]) + int(t)]
            tomb_n += int(delta.get("tombstones") or 0)
        self._store_open_state(
            {
                "version": OPEN_STATE_VERSION,
                "fingerprint": self._dir_fingerprint(),
                "manifest_rows": new_rows,
                "stats": stats,
                "tombstone_count": tomb_n,
            }
        )
        return (sorted({int(r[0]) for r in pending_rows}), gen_next)

    @staticmethod
    def state_from_rows(rows: list) -> GenerationState:
        """:meth:`state_from_snapshot` over compact (list-form) rows."""
        sealed_gen = any_gen = 0
        unsealed: set[int] = set()
        overrides: dict[int, int] = {}
        for r in rows:
            g = int(r[1])
            act = None if r[2] is None else int(r[2])
            eff = g if act is None else max(g, act)
            any_gen = max(any_gen, eff)
            if r[3] == "sealed":
                sealed_gen = max(sealed_gen, eff)
            else:
                unsealed.add(g)
            if act is not None and act != g:
                overrides[g] = act
        return GenerationState(sealed_gen, any_gen, frozenset(unsealed), overrides)

    def stats_rollup(self, stats_df: DataFrame) -> dict[str, tuple[int, int]]:
        """field → (Σ doc_count, Σ total_tokens) over a field_stats frame.

        THE one owner of the snapshot-stats kernel — engine open
        (fallback path) and the commit-time rollup both call it, so the
        fingerprint-valid open and the from-scratch open cannot drift.
        dropDuplicates: a crash-rerun batch may append identical stats
        rows (bulk idempotence); dedupe keeps the sums exact.  Spark-side
        aggregation — the driver receives O(fields) rows.
        """
        rows = (
            stats_df.dropDuplicates(["segment_id", "field"])
            .groupBy("field")
            .agg(
                F.sum("doc_count").alias("docs"),
                F.sum("total_tokens").alias("tokens"),
            )
            .collect()
        )
        return {
            r["field"]: (int(r["docs"] or 0), int(r["tokens"] or 0))
            for r in rows
        }

    def read_open_state(self) -> dict | None:
        """The commit-time rollup, or None when absent/stale/unreadable.

        Staleness is decided by re-listing the three source directories
        (driver-side ``os.listdir``, zero Spark jobs) and comparing to the
        fingerprint taken at write time — fail-safe against legacy
        indexes, external writers, and crashes between the manifest
        publish and the open-state write.  A valid result's
        ``manifest_rows`` are returned as dicts in the exact
        :meth:`manifest_snapshot` row shape so every snapshot kernel
        (:meth:`live_from_snapshot`, :meth:`state_from_snapshot`) works
        unchanged on either source.
        """
        parsed = self._open_state_parse()  # the shared loader + version gate
        if parsed is None:
            return None
        cache_key, raw = parsed
        if raw.get("fingerprint") != self._dir_fingerprint():
            return None
        # converted-row cache: the snapshot helpers consult this several
        # times per mutation, and the dict conversion is O(manifest rows);
        # per-instance because the dict rows are handed to callers
        cached = getattr(self, "_open_state_cache", None)
        if cached is not None and cached[0] == cache_key:
            return cached[1]
        # dict(raw) is a shallow copy: without the round-trip the nested
        # stats/fingerprint objects would still BE the process-wide parse
        # cache's, and a caller mutating them would corrupt every future
        # open in this process (the converted rows below are always fresh)
        state = json.loads(json.dumps(raw))
        state["manifest_rows"] = [
            {
                "segment_id": seg,
                "generation": gen,
                "sealed_at": sealed,
                "status": status,
                "superseded_at": sup,
                "docid_lo": lo,
                "docid_hi": hi,
            }
            for seg, gen, sealed, status, sup, lo, hi in raw["manifest_rows"]
        ]
        self._open_state_cache = (cache_key, state)
        return state

    def next_bases(self) -> tuple[int, int]:
        """(next docid, next segment id) from the manifest high-watermarks.

        Docids are monotone and never reused (reference ``argus.rs:32``);
        segment ids likewise — compaction outputs fresh segment ids
        (reference ``keeper.rs`` compact_segment output_segment_id).
        """
        if not self.table_exists("manifest"):
            return 0, 0
        # the snapshot (open_state-served between mutations) carries every
        # manifest row incl. superseded ones — the watermarks must cover
        # retired segments so their ids/docids are never reissued
        rows = self.manifest_snapshot()
        if rows and all(r["docid_hi"] is not None for r in rows):
            return (
                max(int(r["docid_hi"]) for r in rows),
                max(int(r["segment_id"]) for r in rows) + 1,
            )
        row = (
            self.read("manifest")
            .agg({"docid_hi": "max", "segment_id": "max"})
            .collect()[0]
        )
        return int(row["max(docid_hi)"]), int(row["max(segment_id)"]) + 1

    def tombstone_file_count(self, n_rows: int) -> int:
        """Output files for a tombstone write of ``n_rows`` (≥1)."""
        per_file = int(getattr(self, "tombstone_rows_per_file", TOMBSTONE_ROWS_PER_FILE))
        return max(1, min(TOMBSTONE_MAX_FILES, -(-int(n_rows) // per_file)))

    def rewrite_tombstones(self, df: DataFrame) -> None:
        """Atomically replace the tombstone table, sized to its data.

        The directory-swap publish is unchanged (readers listing mid-write
        only ever see the old directory); what scales is the write itself:
        past :data:`TOMBSTONE_ROWS_PER_FILE` rows the frame is
        hash-repartitioned on docid so many tasks write in parallel —
        at 10^9–10^11 tombstones a single-file rewrite would funnel the
        whole table through one task.
        """
        df = df.persist()
        try:
            out = self.sized_tombstone_frame(df, df.count())
            self.atomic_rewrite("tombstones", out, single_file=False)
        finally:
            df.unpersist()

    def sized_tombstone_frame(self, df: DataFrame, n_rows: int) -> DataFrame:
        """Partition a tombstone frame to its data size (the ONE owner of
        the sizing policy — append and rewrite paths share it):
        interactive deletes stay single-file, bulk sets hash-partition on
        docid so many tasks write in parallel."""
        nf = self.tombstone_file_count(n_rows)
        return df.coalesce(1) if nf == 1 else df.repartition(nf, "docid")

    def atomic_rewrite(
        self,
        table: str,
        df: DataFrame,
        partition_by: tuple = (),
        single_file: bool = True,
    ) -> None:
        """Replace a table via write-to-temp + directory swap — the
        two-slot MANIFEST publish analogue.  Default shape is the small
        driver-side metadata table (single file); ``partition_by`` swaps a
        full partitioned table instead (used by one-time migrations that
        must read and replace the same directory); ``single_file=False``
        writes the frame's own partitioning (callers size it to the data —
        the tombstone-table path)."""
        import shutil

        tmp = self.path(table) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if partition_by:
            df.write.format(self.format).mode("overwrite").partitionBy(
                *partition_by
            ).save(tmp)
        elif not single_file:
            df.write.mode("overwrite").parquet(tmp)
        else:
            # single-file on purpose: the swap below is atomic
            # per-directory, and readers listing mid-write only ever see
            # the old directory
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
        self._swap_into_place(tmp, self.path(table))

    def _swap_into_place(self, tmp: str, final: str) -> None:
        """Two-slot directory swap (``final → .prev; tmp → final``) with a
        bounded retry against concurrent reader self-healing.

        The swap leaves ``final`` absent for a moment, and a concurrent
        reader's :meth:`_recover_interrupted_swap` cannot distinguish that
        live window from a crashed one: it may restore ``.prev`` back to
        ``final``, making this writer's second rename fail (rename onto a
        non-empty directory).  Under the single-writer contract that
        restoration is the ONLY way ``final`` reappears mid-swap, so
        re-running the swap converges — the reader observes either the
        old or the new directory at every step, never neither.  A
        recovery racing the post-swap cleanup instead targets the NEW
        non-empty ``final`` and fails its rename, which the recovery
        already treats as "nothing to do".
        """
        import shutil

        prev = final + ".prev"
        shutil.rmtree(prev, ignore_errors=True)
        for attempt in range(5):
            if os.path.exists(final):
                os.replace(final, prev)
            try:
                os.replace(tmp, final)
            except OSError:
                if attempt == 4:
                    # a PERSISTENT failure (not the recovery race — e.g.
                    # EBUSY on an overlay mount) must not leave the table
                    # absent with its data parked at .prev: restore the
                    # old directory before propagating, so the failed
                    # rewrite degrades to "rewrite lost, old data intact"
                    if not os.path.exists(final) and os.path.exists(prev):
                        try:
                            os.replace(prev, final)
                        except OSError:
                            pass
                    raise
                # tiny backoff: a reader hot-polling table_exists() could
                # otherwise re-restore .prev inside every microsecond-
                # scale retry window and exhaust the budget
                time.sleep(0.002 * (attempt + 1))
                continue
            break
        shutil.rmtree(prev, ignore_errors=True)

    def write_meta(self, meta: IndexMeta) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        meta.created_at = meta.created_at or time.time()
        # history_floor is MONOTONE and may have been advanced on disk by
        # another maintenance instance's gc() since this facade captured
        # its meta snapshot (seal/upsert/supersede all persist the whole
        # dataclass).  Writing a stale floor would re-admit at_generation
        # readers onto history whose segment dirs gc already deleted, so
        # fold in the disk value — gc() additionally re-reads meta before
        # its own floor write (the belt to this suspender).
        try:
            meta.history_floor = max(
                int(meta.history_floor), int(self.read_meta().history_floor)
            )
        except Exception:
            pass  # first write, or unreadable prior meta — nothing to fold
        tmp = os.path.join(self.index_dir, INDEX_META + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(meta.to_json())
        # atomic publish, the two-slot MANIFEST analogue
        final = os.path.join(self.index_dir, INDEX_META)
        if os.path.exists(final):
            os.replace(final, final + ".prev")
        os.replace(tmp, final)

    def read_meta(self) -> IndexMeta:
        with open(os.path.join(self.index_dir, INDEX_META)) as fh:
            return IndexMeta.from_json(fh.read())

    def sealed_segments(self) -> set[int]:
        """Segments already committed by a previous (partial) build."""
        manifest_path = self.path("manifest")
        # table_exists (not a bare os.path.exists): a crash between the
        # two renames of a manifest rewrite leaves only manifest.prev on
        # disk, and a resume that read that window as "no manifest" would
        # re-ingest every previously sealed segment (duplicate docs).
        # table_exists routes through _recover_interrupted_swap, which
        # restores .prev exactly when the root is missing.
        if not self.table_exists("manifest"):
            return set()
        rows = self.spark.read.parquet(manifest_path).where("status = 'sealed'")
        return {r["segment_id"] for r in rows.select("segment_id").collect()}
