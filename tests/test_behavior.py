"""The 15 ``behavior_cases`` of the quill language contract, asserted
end-to-end against the Spark engine.

Each case in ``quill_language_contract.json`` (vendored at
``tests/fixtures/``) pins a behavioral contract of the reference engine
(reference: ``crates/frankensearch-quill`` contract suite).  The cases are
contract DESCRIPTIONS, not input/output pairs, so every test here builds
the concrete scenario the contract names and asserts the observable.  A
meta-test keeps the mapping honest: every fixture case id must have a
test, so a fixture update that adds a case fails loudly.
"""

from __future__ import annotations

import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from frankensearch_spark.functions.analyze import (
    analyze_positional,
    is_admitted,
    tokenize,
    tokenize_batch,
)
from frankensearch_spark.functions.cass_analyze import (
    cass_analyze,
    cass_generate_edge_ngrams,
)
from frankensearch_spark.functions.contract import (
    BM25_B,
    BM25_K1,
    MAX_TERM_BYTES,
    compute_tf_cache,
    term_weight,
)
from frankensearch_spark.functions.snippet import SnippetGenerator
from frankensearch_spark.index import LexicalIndex
from frankensearch_spark.plans import query as q
from frankensearch_spark.plans.eval import compile_query

#: Oversized token: fails the 65,530-byte admission by one byte.
OVERSIZED = "x" * (MAX_TERM_BYTES + 1)

DOCS = [
    ("d1", "alpha bravo charlie", "first title"),
    ("d2", "alpha bravo bravo", "second title"),
    ("d3", "charlie delta echo", "third alpha"),
    ("d4", "delta echo foxtrot", "fourth title"),
    ("d5", "alpha charlie delta", "fifth title"),
    ("d6", "golf hotel india", "sixth title"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("behavior_ix"))
    df = spark.createDataFrame(
        [{"doc_id": d, "content": c, "title": t} for d, c, t in DOCS]
    )
    return LexicalIndex(spark, index_dir).build(
        df,
        text_fields=("content", "title"),
        stored_fields=("content", "title"),
        sort_cols=("doc_id",),
        num_segments=2,
        num_buckets=4,
    )


def _ids(hits):
    return list(hits["doc_id"])


# ── behavior-schema-default-fields ──────────────────────────────────────────


def test_behavior_schema_default_fields():
    """The default schema carries the reference's five fields with the
    contracted roles: raw-tokenized id, positional text content/title,
    stored-only metadata_json, numeric fast ord."""
    fields = {f.name: f.kind for f in q.DEFAULT_SCHEMA.fields}
    assert fields["id"] == q.FieldType.KEYWORD  # raw tokenizer analogue
    assert fields["content"] == q.FieldType.TEXT  # WithFreqsAndPositions
    assert fields["title"] == q.FieldType.TEXT
    assert fields["metadata_json"] == q.FieldType.STORED  # not indexed
    assert fields["ord"] == q.FieldType.I64  # fast field
    # stored-only fields are not query targets
    parser = q.DefaultQueryParser(q.DEFAULT_SCHEMA)
    parsed = parser.parse_lenient("metadata_json:foo")
    assert parsed.query == q.Empty()  # lowered away with a diagnostic
    assert parsed.diagnostics


# ── behavior-collectors ─────────────────────────────────────────────────────


def test_behavior_collectors(built):
    """top-k plus offset / exact count / unscored id set / count-free
    top-k rank parity."""
    full = built.search("alpha charlie", limit=6)
    # top-k plus offset: page 2 is the suffix of the full ranking
    page = built.search("alpha charlie", limit=2, offset=2)
    assert _ids(page.hits) == _ids(full.hits)[2:4]
    # exact count
    counted = built.search("alpha charlie", limit=2, exact_count=True)
    matching = {d for d, c, t in DOCS if "alpha" in (c + " " + t) or "charlie" in c}
    assert counted.total_count == len(matching)
    # count-free rank parity: same hits with and without counting
    assert _ids(counted.hits) == _ids(full.hits)[:2]
    # unscored id set
    docids = built.collect_docids("alpha charlie")
    assert len(docids) == len(matching)
    assert docids == sorted(docids)


# ── behavior-writer-mutations ───────────────────────────────────────────────


def test_behavior_writer_mutations(spark, tmp_path_factory):
    """add / batch add / upsert delete-then-add / delete / delete_all /
    commit-or-seal; invalid input raises a classified error, no panic."""
    d = str(tmp_path_factory.mktemp("mut_ix"))
    df = spark.createDataFrame(
        [{"doc_id": d_, "content": c, "title": t} for d_, c, t in DOCS[:3]]
    )
    idx = LexicalIndex(spark, d).build(
        df, text_fields=("content", "title"), sort_cols=("doc_id",), num_segments=1, num_buckets=4
    )
    # batch add (new doc_ids) — upsert without prior identity
    add = spark.createDataFrame(
        [{"doc_id": "d9", "content": "zulu yankee", "title": "ninth"}]
    )
    idx.upsert(add)
    assert _ids(idx.search("zulu").hits) == ["d9"]
    # upsert = delete-then-add under the same identity
    rep = spark.createDataFrame(
        [{"doc_id": "d9", "content": "xray whiskey", "title": "ninth"}]
    )
    idx.upsert(rep)
    assert _ids(idx.search("xray").hits) == ["d9"]
    assert idx.search("zulu").hits.empty
    # delete
    assert idx.delete(["d9"]) == 1
    assert idx.search("xray").hits.empty
    # commit-or-seal: every published segment is sealed in the record
    states = {r["status"] for r in idx.storage.read_manifest()["segments"]}
    assert states == {"sealed"}
    # delete_all
    assert idx.delete_all() == 3
    assert idx.search("alpha").hits.empty
    # cancellation-classification analogue: malformed writer input raises a
    # clean classified Python error (never a crash/partial publish)
    bad = spark.createDataFrame([{"not_doc_id": "x"}])
    with pytest.raises(Exception):
        idx.upsert(bad)
    assert idx.storage.live_segments()  # index still opens and is intact


# ── behavior-reader-snapshot ────────────────────────────────────────────────


def test_behavior_reader_snapshot(spark, tmp_path_factory):
    """Immediate visibility after publish+reopen, live doc_count, stable
    external doc-id materialization."""
    d = str(tmp_path_factory.mktemp("snap_ix"))
    df = spark.createDataFrame(
        [{"doc_id": d_, "content": c, "title": t} for d_, c, t in DOCS]
    )
    idx = LexicalIndex(spark, d).build(
        df, text_fields=("content", "title"), sort_cols=("doc_id",), num_segments=2, num_buckets=4
    )
    # live doc_count via the exact-count collector over All
    res = idx.search(q.All(), limit=1, exact_count=True)
    assert res.total_count == len(DOCS)
    idx.delete(["d6"])
    res = idx.search(q.All(), limit=1, exact_count=True)
    assert res.total_count == len(DOCS) - 1
    # immediate visibility: upsert then query sees the new doc
    idx.upsert(
        spark.createDataFrame([{"doc_id": "d7", "content": "kilo lima", "title": "t"}])
    )
    assert _ids(idx.search("kilo").hits) == ["d7"]
    # stable external doc-id materialization: every hit maps docid->doc_id
    hits = idx.search("alpha", limit=10).hits
    assert hits["doc_id"].notna().all()
    docs = {
        r["docid"]: r["doc_id"]
        for r in idx.storage.read("docs").select("docid", "doc_id").collect()
    }
    for docid, doc_id in zip(hits["docid"], hits["doc_id"]):
        assert docs[docid] == doc_id


# ── behavior-snippet-output ─────────────────────────────────────────────────


def test_behavior_snippet_unicode_golden():
    """The contract's unicode golden: byte budgets count UTF-8 bytes at
    token boundaries — 'éé alpha' with max_chars=6 keeps only the 4-byte
    highlighted first token."""
    generator = SnippetGenerator({"éé": 1}, max_chars=6)
    assert generator.snippet("éé alpha") == "<b>éé</b>"


# ── behavior-segments-durability ────────────────────────────────────────────


def test_behavior_segments_durability(built, tmp_path_factory):
    """The Spark analogues of the durability contracts: checksummed
    storage (Parquet page checksums), owned relative paths (every table
    under the index dir), atomic manifest publish, tombstone-aware open."""
    import os

    storage = built.storage
    # terms is a logical table derived from the posting blocks' embedded
    # dictionary columns — only the physical directories are asserted
    for table in ("docs", "doclens", "postings"):
        path = storage.path(table)
        assert path.startswith(built.index_dir)
        assert os.path.isdir(path)
    assert os.path.isfile(storage.path("manifest.json"))
    # tombstone-aware open: a fresh engine excludes tombstoned docs
    victim = _ids(built.search("golf").hits)[0]
    built.delete([victim])
    assert built.search("golf").hits.empty  # reopened via delete()
    # the record stays readable and names the segments after mutations
    assert storage.read_manifest()["segments"]


# ── behavior-errors-no-panic ────────────────────────────────────────────────


def test_behavior_errors_no_panic(spark, built, tmp_path_factory):
    """IndexNotFound is a classified error; malformed query strings never
    raise through the lenient path."""
    from frankensearch_spark.operators.search import SearchEngine

    missing = str(tmp_path_factory.mktemp("empty")) + "/nope"
    with pytest.raises((FileNotFoundError, OSError)):
        SearchEngine(spark, missing)
    for garbage in [
        "", "   ", "(((", ")", "AND", "OR", "NOT", "field:", ":", '"unclosed',
        "a AND OR b", "-", "^2", "title:", "*", "a" * 200, "🤖🤖🤖", "\x00",
    ]:
        result = built.search(garbage, limit=5)  # must not raise
        assert result.hits is not None


# ── behavior-concurrency ────────────────────────────────────────────────────


def test_behavior_concurrency(built):
    """Concurrent searches over one pinned engine return identical results
    (Send+Sync analogue: the engine is read-only after open)."""
    expected = _ids(built.search("alpha charlie", limit=5).hits)
    results: list[list[str]] = [None] * 4  # type: ignore[list-item]

    def worker(i: int) -> None:
        results[i] = _ids(built.search("alpha charlie", limit=5).hits)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(r == expected for r in results)


# ── behavior-pagination-and-limit-zero ──────────────────────────────────────


def test_behavior_pagination_and_limit_zero(built):
    res = built.search("alpha", limit=0)
    assert len(res.hits) == 0  # no hits, no collector panic
    counted = built.search("alpha", limit=0, exact_count=True)
    assert len(counted.hits) == 0
    assert counted.total_count and counted.total_count > 0  # exact total kept
    # offset pages use page-local rank (restarting each page; this engine's
    # rank base is 1 — a reviewed divergence from the reference's 0)
    page = built.search("alpha", limit=2, offset=1)
    assert list(page.hits["rank"]) == list(range(1, len(page.hits) + 1))


# ── behavior-boolean-occur ──────────────────────────────────────────────────


def test_behavior_boolean_occur(built):
    """Occur semantics at the AST level (the contract's five rows)."""
    C = (q.QueryField("content", 1.0),)

    def B(*clauses):
        return q.Boolean(tuple(clauses), operator=None)

    should = lambda t: q.BooleanClause(q.Occur.SHOULD, q.Term(fields=C, text=t))
    must = lambda t: q.BooleanClause(q.Occur.MUST, q.Term(fields=C, text=t))
    mustnot = lambda t: q.BooleanClause(q.Occur.MUST_NOT, q.Term(fields=C, text=t))

    # Should-only requires one
    ids = set(_ids(built.search(B(should("alpha"), should("delta")), limit=10).hits))
    assert ids == {"d1", "d2", "d3", "d4", "d5"}
    # Should optional only with a positive Must: a Must match with no
    # Should match is still a hit
    ids = set(_ids(built.search(B(must("delta"), should("alpha")), limit=10).hits))
    assert ids == {"d3", "d4", "d5"}
    # Should plus MustNot still requires one Should (content-field alpha
    # holders are d1/d2/d5; bravo excludes d1/d2)
    ids = set(_ids(built.search(B(should("alpha"), mustnot("bravo")), limit=10).hits))
    assert ids == {"d5"}
    # MustNot-only matches nothing (AST level; the lenient STRING parser
    # repairs all-negative roots, which is its own fixture-pinned behavior)
    assert built.search(B(mustnot("alpha")), limit=10).hits.empty
    # MustNot contributes no score: adding a non-matching MustNot leaves
    # scores bit-identical
    base = built.search(B(should("alpha")), limit=10).hits
    with_not = built.search(B(should("alpha"), mustnot("zznothing")), limit=10).hits
    assert _ids(base) == _ids(with_not)
    assert np.array_equal(
        np.asarray(base["score"], dtype=np.float32),
        np.asarray(with_not["score"], dtype=np.float32),
    )


# ── behavior-scoring ────────────────────────────────────────────────────────


def test_behavior_scoring(built):
    """BM25 constants, raw avgdl, decoded per-doc fieldnorm, title boost,
    f32 order, stable tie key."""
    assert BM25_K1 == np.float32(1.2) and BM25_B == np.float32(0.75)
    # raw avgdl: engine snapshot equals sum(len)/N exactly (no smoothing)
    engine = built.engine
    doclens = built.storage.read("doclens")
    raw = doclens.agg(F.sum("len_content"), F.count("*")).collect()[0]
    assert engine.avgdl["content"] == raw[0] / raw[1]
    # decoded per-document fieldnorm: the tf cache is indexed by fnid
    cache = compute_tf_cache(engine.avgdl["content"])
    assert cache.dtype == np.float32 and len(cache) == 256
    # title boost: ^2 doubles the query weight for the title leaf
    w1 = term_weight(2, 10, boost=1.0)
    w2 = term_weight(2, 10, boost=2.0)
    assert w2 == np.float32(2.0) * w1
    # f32 order + stable tie key: equal-score docs rank by docid ascending
    hits = built.search("title", limit=10).hits  # 'title' appears in 5 titles
    scores = np.asarray(hits["score"], dtype=np.float32)
    for i in range(len(hits) - 1):
        assert scores[i] > scores[i + 1] or (
            scores[i] == scores[i + 1]
            and hits["docid"][i] < hits["docid"][i + 1]
        )


# ── behavior-analyzers ──────────────────────────────────────────────────────


def test_behavior_analyzers():
    """Exact token stream per analyzer family + oversized admission."""
    # default: split on non-alphanumeric, lowercase
    assert [t.text for t in tokenize("Hello, World_9!")] == ["hello", "world", "9"]
    # hyphen family: compound + parts at one position
    toks = cass_analyze("foo-bar", hyphen_decompose=True)
    assert {t.text for t in toks} >= {"foo-bar", "foo", "bar"}
    assert len({t.position for t in toks if t.text in ("foo-bar", "foo", "bar")}) == 1
    # CJK bigrams
    cjk = [t.text for t in cass_analyze("日本語")]
    assert cjk == ["日本", "本語"]
    # prefix family: edge n-grams lengths 2..20
    grams = cass_generate_edge_ngrams("abcdef").split()
    assert grams == ["ab", "abc", "abcd", "abcde", "abcdef"]
    # oversized term admission
    assert not is_admitted(OVERSIZED)
    assert is_admitted("x" * MAX_TERM_BYTES)


# ── behavior-oversized-token-position-gap ───────────────────────────────────


def test_behavior_oversized_token_position_gap():
    """Dropping an oversized token preserves the following token's
    position gap: [kept@0, dropped@1, tail@2] -> retained positions
    [0, 2]."""
    text = "kept " + OVERSIZED + " tail"
    assert analyze_positional(text) == [(0, "kept"), (2, "tail")]
    # the Spark build path uses NULL placeholders for the same effect
    [row] = tokenize_batch([text])
    assert row[0] == "kept" and row[1] is None and row[2] == "tail"
    assert len(row) == 3


# ── behavior-cass-prefix-and-cjk-boundaries ─────────────────────────────────


def test_behavior_cass_prefix_and_cjk_boundaries():
    # prefix fields contain lengths 2 through 20 only
    grams = cass_generate_edge_ngrams("a " + "b" * 30).split()
    assert "a" not in grams  # length-1 never emitted
    assert max(len(g) for g in grams) == 20
    assert min(len(g) for g in grams) == 2
    # exact terms of length 2..20 may match longer tokens through prefix
    # fields: the 30-char word contributes its 2..20-char prefixes
    assert "b" * 20 in grams and "b" * 2 in grams
    # mixed-script CJK input drops non-CJK characters before bigramming
    mixed = [t.text for t in cass_analyze("abc日本語def")]
    assert "日本" in mixed and "本語" in mixed
    assert not any("a" in t or "d" in t for t in mixed if any(map(_is_cjk, t)))
    # single CJK unigram does not match inside a bigram-indexed run:
    # the token stream of a multi-char run contains NO unigrams
    assert all(len(t.text) == 2 for t in cass_analyze("日本語") if any(map(_is_cjk, t.text)))


def _is_cjk(ch: str) -> bool:
    from frankensearch_spark.functions.cass_analyze import is_cass_cjk

    return is_cass_cjk(ch)


# ── behavior-quill-oversized-query-lowering ─────────────────────────────────


def test_behavior_oversized_query_lowering(built):
    """The contract's five lowering shapes, asserted functionally (the
    oversized token survives as a df=0 term leaf, so each shape's match
    set is exactly the contract's lowered query's)."""
    valid_hits = _ids(built.search("alpha", limit=10).hits)
    assert valid_hits  # precondition
    # standalone oversized term -> Empty
    assert built.search(OVERSIZED, limit=10).hits.empty
    # Must(valid, oversized) -> Empty
    assert built.search(f"alpha AND {OVERSIZED}", limit=10).hits.empty
    # Phrase(valid, oversized) -> Empty
    assert built.search(f'"alpha {OVERSIZED}"', limit=10).hits.empty
    # Should(valid, oversized) -> Should(valid)
    should = built.search(f"alpha {OVERSIZED}", limit=10).hits
    assert _ids(should) == valid_hits
    # Must(valid) + MustNot(oversized) -> Must(valid)
    notq = built.search(f"alpha -{OVERSIZED}", limit=10).hits
    assert _ids(notq) == valid_hits


# ── meta: the fixture's 15 cases are all covered ────────────────────────────

CASE_TESTS = {
    "behavior-schema-default-fields": "test_behavior_schema_default_fields",
    "behavior-collectors": "test_behavior_collectors",
    "behavior-writer-mutations": "test_behavior_writer_mutations",
    "behavior-reader-snapshot": "test_behavior_reader_snapshot",
    "behavior-snippet-output": "test_behavior_snippet_unicode_golden",
    "behavior-segments-durability": "test_behavior_segments_durability",
    "behavior-errors-no-panic": "test_behavior_errors_no_panic",
    "behavior-concurrency": "test_behavior_concurrency",
    "behavior-pagination-and-limit-zero": "test_behavior_pagination_and_limit_zero",
    "behavior-boolean-occur": "test_behavior_boolean_occur",
    "behavior-scoring": "test_behavior_scoring",
    "behavior-analyzers": "test_behavior_analyzers",
    "behavior-oversized-token-position-gap": "test_behavior_oversized_token_position_gap",
    "behavior-cass-prefix-and-cjk-boundaries": "test_behavior_cass_prefix_and_cjk_boundaries",
    "behavior-quill-oversized-query-lowering": "test_behavior_oversized_query_lowering",
}


def test_every_fixture_behavior_case_has_a_test(contract_fixture):
    cases = {c["id"] for c in contract_fixture["behavior_cases"]}
    assert cases == set(CASE_TESTS)
    this_module = globals()
    for name in CASE_TESTS.values():
        assert name in this_module, name
