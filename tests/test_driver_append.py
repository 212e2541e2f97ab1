"""The zero-job driver-side writes stay ENGAGED, not fallen back.

The driver-side writers fall back to Spark silently on any surprise —
correct for safety, but it means every equivalence suite would stay
green if the fast path quietly died (the same failure mode the no-AQE
rebind seam had).  These tests pin engagement: a commit's small
tombstone sets must land as driver-written parquet files, per-segment
stats live only in the record (no stats table is written),
mixed-writer directories must read back whole, and the driver-side
append must refuse cleanly on schema surprises.
"""

from __future__ import annotations

import os

import pytest

from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.sources.storage import IndexStorage


def _driver_files(index_dir: str, table: str) -> list[str]:
    root = os.path.join(index_dir, table)
    if not os.path.isdir(root):
        return []
    return [f for f in os.listdir(root) if f.endswith("-driver.parquet")]


@pytest.fixture()
def ix(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("drv_ix"))
    base = spark.createDataFrame(
        [("a", "alpha spark merge"), ("b", "bravo sort window"),
         ("c", "charlie table agg")],
        "doc_id string, content string",
    )
    return LexicalIndex(spark, d).build(
        base, text_fields=("content",), sort_cols=("doc_id",),
        num_segments=1, num_buckets=4,
    )


def test_upsert_commit_metadata_appends_engage_driver_side(spark, ix):
    up = spark.createDataFrame(
        [("a", "alpha replaced merge"), ("d", "delta fresh spark")],
        "doc_id string, content string",
    )
    assert ix.maintenance.upsert(up, sort_cols=("doc_id",))
    # the staged tombstones must be a pyarrow file written on the
    # driver, not Spark job output
    assert _driver_files(ix.index_dir, "tombstones"), "tombstone write fell back"
    up2 = spark.createDataFrame(
        [("d", "delta fresh spark again")], "doc_id string, content string"
    )
    assert ix.maintenance.upsert(up2, sort_cols=("doc_id",))
    assert len(_driver_files(ix.index_dir, "tombstones")) == 2
    # mixed-writer directories read back whole and the engine agrees
    ix.reopen()
    assert set(ix.search("spark", limit=10).hits["doc_id"]) == {"d"}
    assert set(ix.search("merge", limit=10).hits["doc_id"]) == {"a"}
    st = IndexStorage(spark, ix.index_dir)
    rec = st.read_manifest()
    assert sum(r["status"] == "sealed" for r in rec["segments"]) >= 3
    assert sorted(rec["tombstone_files"]) == sorted(
        _driver_files(ix.index_dir, "tombstones")
    )
    # the commit's stats are record rows; no stats table exists
    assert all(r["stats"]["content"][0] == r["doc_count"] for r in rec["segments"])
    assert not os.path.exists(os.path.join(ix.index_dir, "field_stats"))


def test_interactive_delete_tombstones_engage_driver_side(spark, ix):
    assert ix.maintenance.delete(["c"]) == 1
    assert ix.maintenance.delete(["b"]) == 1
    assert len(_driver_files(ix.index_dir, "tombstones")) == 2, (
        "tombstone write fell back"
    )
    ix.reopen()
    assert "b" not in set(ix.search("sort OR window", limit=10).hits["doc_id"])


def test_append_driver_side_refuses_on_schema_surprise(spark, ix):
    """A driver-side micro-commit casts each column to the table's
    footer schema and refuses (the commit falls back to Spark, nothing
    named) on any surprise."""
    from frankensearch_spark.operators.microcommit import (
        _cast_to_footer,
        _table_footer_schema,
    )

    import pyarrow as pa

    st = IndexStorage(spark, ix.index_dir)
    footer = _table_footer_schema(st, "docs")
    full = {f.name: pa.array([None], f.type) for f in footer}
    assert _cast_to_footer(full, footer) is not None
    # missing a column the footer requires -> refuse
    assert _cast_to_footer(dict(list(full.items())[1:]), footer) is None
    # a value the footer type cannot hold -> raises, which the commit's
    # fallback turns into "ineligible"
    with pytest.raises(pa.ArrowInvalid):
        _cast_to_footer(dict(full, docid=pa.array(["x"])), footer)
    # absent table directory -> no footer, the commit is ineligible
    assert _table_footer_schema(st, "no_such_table") is None
