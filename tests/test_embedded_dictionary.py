"""The term dictionary is EMBEDDED in posting block rows.

Every block of a term carries the term's full per-segment df/cf
(``term_df``/``term_cf``); ``storage.read("terms")`` derives the
dictionary as a scalar projection of ``block_id = 0`` rows (indexes
with a physical ``terms/`` table are refused at open,
``test_format_version.py``).  These tests pin that contract independently of the query path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frankensearch_spark.index import LexicalIndex


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = [
        ("a", "alpha beta beta gamma"),
        ("b", "alpha alpha delta"),
        ("c", "beta gamma gamma gamma"),
        ("d", "delta epsilon"),
    ]
    # force several blocks for one term: 300 docs all containing 'common'
    docs += [(f"x{i}", f"common filler{i % 7}") for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id string, content string")
    path = str(tmp_path_factory.mktemp("embed") / "ix")
    return LexicalIndex(spark, path).build(
        df, text_fields=("content",), sort_cols=("doc_id",), num_segments=2, num_buckets=4
    )


def test_block_rows_carry_constant_term_totals(built):
    """term_df/term_cf are identical on every block of a (segment, term)
    and equal the recomputation from the block payload columns."""
    postings = built.storage.read("postings")
    recomputed = postings.groupBy("segment_id", "field", "term").agg(
        F.countDistinct("term_df").alias("n_df"),
        F.countDistinct("term_cf").alias("n_cf"),
        F.first("term_df").alias("term_df"),
        F.first("term_cf").alias("term_cf"),
        F.sum("count").cast("long").alias("df_from_blocks"),
        F.sum("block_cf").cast("long").alias("cf_from_blocks"),
    )
    bad = recomputed.where(
        (F.col("n_df") != 1)
        | (F.col("n_cf") != 1)
        | (F.col("term_df") != F.col("df_from_blocks"))
        | (F.col("term_cf") != F.col("cf_from_blocks"))
    )
    assert bad.count() == 0


def test_multi_block_term_has_embedded_totals_on_every_block(built):
    blocks = (
        built.storage.read("postings")
        .where(F.col("term") == "common")
        .select("segment_id", "block_id", "term_df", "count")
        .collect()
    )
    assert len(blocks) > sum(1 for b in blocks if b["block_id"] == 0) > 0
    per_seg: dict[int, list] = {}
    for b in blocks:
        per_seg.setdefault(b["segment_id"], []).append(b)
    for seg_blocks in per_seg.values():
        dfs = {b["term_df"] for b in seg_blocks}
        assert len(dfs) == 1
        assert dfs.pop() == sum(b["count"] for b in seg_blocks)


def test_derived_view_schema_and_values(built):
    terms = built.storage.read("terms")
    assert set(terms.columns) == {"segment_id", "field", "term", "bucket", "df", "cf"}
    row = {
        r["term"]: (r["df"], r["cf"])
        for r in terms.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .collect()
    }
    # alpha: docs a (1) + b (2) -> df 2, cf 3; gamma: a (1) + c (3) -> df 2, cf 4
    assert row["alpha"] == (2, 3)
    assert row["gamma"] == (2, 4)
    assert row["common"] == (300, 300)
