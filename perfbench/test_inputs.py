"""Generated inputs are a pure function of the seed.

Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import hashlib
import io

import pyarrow.parquet as pq

import inputs


def _digest(tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        buf = io.BytesIO()
        pq.write_table(t, buf)
        h.update(buf.getvalue())
    return h.hexdigest()


def _all_inputs(seed: int) -> dict:
    s = inputs.search_inputs(seed, 400, 200)
    w = inputs.watch_inputs(seed, 400, 100, 4, 50, 1, 50, ("single_term", "phrase"))
    b = inputs.bulk_inputs(seed, 400, 100)
    return {
        "rows": _digest([s.base, w.base, w.catchup, b.base, b.catchup]),
        "update_files": _digest(w.files),
        "queries": [
            (q.cls, q.text) for q in s.queries + s.warm + w.reader_queries + w.probes + b.probes
        ],
    }


def test_same_seed_gives_identical_inputs():
    assert _all_inputs(7) == _all_inputs(7)


def test_different_seeds_differ():
    a, b = _all_inputs(7), _all_inputs(8)
    for key in a:
        assert a[key] != b[key], key


def test_query_mix_and_repeats():
    qs = inputs.search_inputs(3, 400, 800).queries
    classes = inputs.QUERY_CLASSES
    for r, i in enumerate(range(0, 800, len(classes))):
        rnd = qs[i:i + len(classes)]
        # every round holds each class once
        assert sorted(q.cls for q in rnd) == sorted(classes)
        # every round after the first repeats an earlier query of the
        # class the round number rotates to
        if r:
            again = next(q for q in rnd if q.cls == classes[(r - 1) % len(classes)])
            assert again in qs[:i]


def test_warm_up_shares_no_text_with_timed_queries():
    s = inputs.search_inputs(3, 400, 200, 40)
    assert len(s.warm) == 40
    assert not {q.text for q in s.warm} & {q.text for q in s.queries}


def test_watch_files_mix():
    w = inputs.watch_inputs(5, 400, 100, 3, 50, 1, 10, ("single_term",))
    state = inputs.IndexState(w.base)
    state.upsert(w.catchup)
    for f in w.files:
        docs = inputs.table_docs(f)
        same = sum(1 for d, doc in docs.items() if state.live.get(d) == doc)
        new = sum(1 for d in docs if d not in state.live)
        assert (same, new) == (5, 10)
        state.upsert(f)
    assert state.live == w.final.live and state.dead == w.final.dead
