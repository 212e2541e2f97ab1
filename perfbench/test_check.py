"""The answer checks report wrong answers (no Spark needed).

Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import check
import inputs


def _oracle_and_docs():
    base = inputs.search_inputs(11, 300, 0).base
    docs = inputs.table_docs(base)
    return check.build_oracle(docs.values()), docs


def test_oracle_orders_docids_by_conv_and_turn():
    oracle, _ = _oracle_and_docs()
    ids = oracle.doc_ids
    # "conv-00000000:10" sorts before "conv-00000000:2" as a string; the
    # engine (and so the oracle here) numbers turn 2 first
    assert ids.index("conv-00000000:2") < ids.index("conv-00000000:10")


def _result(hits):
    return type("R", (), {"hits": pd.DataFrame(hits, columns=["docid", "doc_id", "score"])})()


def test_exact_check_accepts_the_oracle_and_rejects_perturbations():
    oracle, _ = _oracle_and_docs()
    want = check.expected(oracle, "w1 w2 w3", 10)
    assert len(want) == 10
    assert check.exact_mismatch(check.engine_hits(_result(want)), want) is None

    swapped = [want[1], want[0]] + want[2:]
    one_ulp = [(want[0][0], want[0][1], float(np.nextafter(np.float32(want[0][2]), np.float32(0))))]
    other_docid = [(want[0][0] + 1,) + want[0][1:]]
    for bad in (swapped, one_ulp + want[1:], other_docid + want[1:], want[:-1]):
        assert check.exact_mismatch(check.engine_hits(_result(bad)), want) is not None


def test_tie_aware_check():
    oracle, _ = _oracle_and_docs()
    want = check.expected_live(oracle, "w5", 60)
    got = want[:10]
    assert check.tie_aware_mismatch(got, want, 10) is None
    last = got[-1][2]
    # another doc tied on the k-th score is fine; one outside the oracle is not
    tied = [w for w in want[10:] if w[2] == last]
    if tied:
        assert check.tie_aware_mismatch(got[:-1] + tied[:1], want, 10) is None
    assert check.tie_aware_mismatch(got[:-1] + [(0, "nope", last)], want, 10) is not None
    assert check.tie_aware_mismatch([(0, "nope", got[0][2])] + got[1:], want, 10) is not None
    bumped = [(d, i, s * 1.001) for d, i, s in got]
    assert check.tie_aware_mismatch(bumped, want, 10) is not None


def test_superseded_versions_count_in_stats_but_never_answer():
    b = inputs.bulk_inputs(4, 300, 100)
    oracle = check.build_oracle(b.final.versions())
    assert oracle.n_docs == len(b.final.live) + len(b.final.dead) == 400
    hits = check.expected_live(oracle, "w1 w2 w3", 50)
    assert hits and all("#" not in doc_id for _, doc_id, _ in hits)


def test_hydration_check():
    _, docs = _oracle_and_docs()
    d = next(iter(docs))
    good = type("R", (), {"hits": pd.DataFrame({"doc_id": [d], "content": [docs[d]["content"]]})})()
    bad = type("R", (), {"hits": pd.DataFrame({"doc_id": [d], "content": ["x"]})})()
    assert check.hydration_mismatch(good, docs) is None
    assert check.hydration_mismatch(bad, docs) is not None
