"""Rehearsal of the driver correctness gate: run every queries() entry on
sf0.01 via Spark AND its oracle_sql() via DuckDB, compare values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for table in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        path = os.path.join(SF_DIR, f"{table}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
    return con


def normalize(rows, columns):
    """Order-insensitive canonical form: sort columns by name, round floats."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = float(f"{v:.9g}")
            if isinstance(v, bool):
                v = bool(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", sorted(entry.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    impl = entry.queries()[name]
    sqls = entry.oracle_sql()
    if name not in sqls:
        pytest.skip(f"{name} has no oracle (rows-only check)")
    sdf = impl(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    ores = ddb.sql(sqls[name])
    orows = ores.fetchall()
    ocols = [d[0] for d in ores.description]
    assert sorted(scols) == sorted(ocols), f"schema mismatch: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs {len(orows)}"
    got, exp = normalize(srows, scols), normalize(orows, ocols)
    mism = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mism, f"{len(mism)} value mismatches; first 5: {mism[:5]}"


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score", "rank"]


def test_stale_cached_index_is_rebuilt(spark, tmp_path, monkeypatch):
    """A cached index whose record this code cannot read (a field
    stripped, as in a record written by earlier code under the same
    format version) is removed and rebuilt, instead of failing every
    entry query."""
    import json

    import pandas as pd

    sf = tmp_path / "sf_tiny"
    sf.mkdir()
    texts = ["spark merge", "merge sort", "spark window", "table agg"] * 3
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        sf / "documents.parquet"
    )
    monkeypatch.setattr(entry, "_CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(entry, "_INDEXES", {})
    manifest = os.path.join(entry._index(spark, str(sf)).index_dir, "manifest.json")
    with open(manifest) as fh:
        rec = json.load(fh)
    del rec["tombstone_rows"]
    with open(manifest, "w") as fh:
        json.dump(rec, fh)
    entry._INDEXES.clear()
    rebuilt = entry._index(spark, str(sf))
    with open(manifest) as fh:
        assert "tombstone_rows" in json.load(fh)
    hits = rebuilt.search("spark", limit=10).hits
    assert sorted(hits["doc_id"]) == sorted(str(i) for i in range(12) if i % 4 in (0, 2))
