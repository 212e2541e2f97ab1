"""Driver-side term dictionary: per-file doc frequencies read with pyarrow.

Posting block rows embed their term's per-segment df (``term_df`` on the
``block_id = 0`` row, see ``IndexStorage.derive_terms``), so the snapshot
dictionary is an ordinary column of the live segments' postings files.
The query engine resolves BM25 weights from it on the driver, with no
Spark job — the analogue of the reference's TermScorer, which reads the
in-memory per-segment TERMDICT at scorer construction (``argus.rs:1521``).

A query term's bucket maps to one ``segment_id=K/bucket=B`` directory per
live segment.  Each file's dictionary is read once and kept in a
process-wide LRU keyed by file path: part files are UUID-named and never
rewritten in place, so an entry stays valid for every engine that pins
the file, and a reopen after a commit reads only the new segment's files.
Every use still stats the file and compares (mtime, size) with the cached
read, so a pinned file that has vanished raises ``FileNotFoundError``
instead of counting as df = 0.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlsplit

import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Upper bound on the term entries the process-wide dictionary cache
#: holds, summed over files (about 180 bytes of driver memory per entry
#: on a 1M-turn index); least recently used files are dropped first.
TERMDICT_CACHE_MAX_TERMS = 1_000_000

_PARTITION = re.compile(r"/(segment_id|bucket)=(-?\d+)(?=/)")


def partition_values(uri: str) -> dict[str, int]:
    """``segment_id``/``bucket`` hive partition values in a file path."""
    return {k: int(v) for k, v in _PARTITION.findall(uri)}


def _local_path(uri: str) -> str:
    """Local path of a ``file:`` URI or plain path (the index layout is
    local POSIX storage throughout, see ``IndexStorage``)."""
    parts = urlsplit(uri)
    if parts.scheme not in ("", "file"):
        raise ValueError(f"dictionary files must be local, got {uri!r}")
    return unquote(parts.path)


def _read_file(path: str, segment: int) -> dict:
    """``{(segment_id, field): {term: df}}`` of one postings file of
    ``segment``."""
    with pq.ParquetFile(path) as pf:
        tbl = pf.read(columns=["field", "term", "block_id", "term_df"])
    tbl = tbl.filter(pc.equal(tbl["block_id"], 0))
    # summed per key, like the Spark group-by it replaces
    agg = tbl.group_by(["field", "term"]).aggregate([("term_df", "sum")])
    out = {}
    for field in pc.unique(agg["field"]).to_pylist():
        sub = agg.filter(pc.equal(agg["field"], field))
        dfs = pc.fill_null(sub["term_df_sum"], 0).to_pylist()
        out[(segment, field)] = dict(zip(sub["term"].to_pylist(), dfs))
    return out


class _Lru:
    """Path -> (stat signature, dictionary, entry count), bounded by
    :data:`TERMDICT_CACHE_MAX_TERMS` entries in total."""

    def __init__(self):
        self.lock = threading.Lock()
        self.entries: "OrderedDict[str, tuple]" = OrderedDict()
        self.terms = 0

    def get(self, uri: str, sig):
        with self.lock:
            hit = self.entries.get(uri)
            if hit is None or hit[0] != sig:
                return None
            self.entries.move_to_end(uri)
            return hit[1]

    def put(self, uri: str, sig, dfs: dict) -> None:
        n = sum(len(m) for m in dfs.values())
        with self.lock:
            old = self.entries.pop(uri, None)
            if old is not None:
                self.terms -= old[2]
            self.entries[uri] = (sig, dfs, n)
            self.terms += n
            while self.terms > TERMDICT_CACHE_MAX_TERMS and len(self.entries) > 1:
                _, dropped = self.entries.popitem(last=False)
                self.terms -= dropped[2]


_CACHE = _Lru()


def file_doc_freqs(uri: str) -> dict:
    """``{(segment_id, field): {term: df}}`` of one dictionary file,
    served from the process-wide LRU while the file is unchanged."""
    path = _local_path(uri)
    st = os.stat(path)  # FileNotFoundError for a vanished file
    sig = (st.st_mtime_ns, st.st_size)
    dfs = _CACHE.get(uri, sig)
    if dfs is None:
        dfs = _read_file(path, partition_values(uri)["segment_id"])
        _CACHE.put(uri, sig, dfs)
    return dfs
