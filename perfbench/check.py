"""Answer checks against ``frankensearch_spark.oracle.OracleIndex``.

Two comparisons:

* :func:`exact_mismatch` -- the static index: the engine's top-k must equal
  the oracle's by rank, ``doc_id``, docid and float32 score.  The oracle
  assigns docids in the engine's ``(conv_id, turn_idx)`` order, not its
  default ``doc_id``-string order (``conv-...:15`` sorts before
  ``conv-...:2`` as a string).
* :func:`tie_aware_mismatch` -- an index after upserts: replaced turns get
  new docids, so only ``(doc_id, score)`` is compared, and docs tied on
  the k-th score may be any subset of the oracle's tie group there.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from frankensearch_spark.oracle import OracleIndex


def build_oracle(docs) -> OracleIndex:
    return OracleIndex(
        list(docs),
        text_fields=("content",),
        keyword_fields=("conv_id",),
        sort_key=lambda d: (d["conv_id"], d["turn_idx"]),
    )


def expected(oracle: OracleIndex, text: str, k: int) -> list[tuple]:
    """Oracle top-``k`` as ``(docid, doc_id, float32 score)``."""
    return [
        (h.docid, h.doc_id, float(np.float32(h.score))) for h in oracle.search(text, limit=k)
    ]


def expected_live(oracle: OracleIndex, text: str, k: int) -> list[tuple]:
    """Oracle top-``k`` over live versions only: superseded versions
    (``doc_id#N``, see ``inputs.IndexState``) count in the statistics but
    are never answers."""
    hits = expected(oracle, text, oracle.n_docs)
    return [h for h in hits if "#" not in h[1]][:k]


def engine_hits(result) -> list[tuple]:
    h = result.hits
    return list(
        zip(
            (int(x) for x in h["docid"]),
            h["doc_id"],
            (float(x) for x in np.asarray(h["score"], dtype=np.float32)),
        )
    )


def exact_mismatch(got: list[tuple], want: list[tuple]) -> Optional[str]:
    if got == want:
        return None
    for rank, (g, w) in enumerate(zip(got, want), 1):
        if g != w:
            return f"rank {rank}: engine {g} oracle {w}"
    return f"{len(got)} hits, oracle {len(want)}"


def tie_aware_mismatch(got: list[tuple], want_ext: list[tuple], k: int) -> Optional[str]:
    """``want_ext`` is the oracle's top-k plus enough slack to hold the
    whole tie group at the k-th score."""
    want = want_ext[:k]
    g_scores = [s for _, _, s in got]
    w_scores = [s for _, _, s in want]
    if g_scores != w_scores:
        return f"scores differ: engine {g_scores} oracle {w_scores}"
    if not got:
        return None
    last = g_scores[-1]
    above_g = {d for _, d, s in got if s != last}
    above_w = {d for _, d, s in want if s != last}
    if above_g != above_w:
        return f"doc_ids differ above the k-th score: {sorted(above_g ^ above_w)[:4]}"
    tied_g = {d for _, d, s in got if s == last}
    tied_w = {d for _, d, s in want_ext if s == last}
    if not tied_g <= tied_w:
        return f"doc_ids tied at the k-th score not in the oracle: {sorted(tied_g - tied_w)[:4]}"
    return None


def hydration_mismatch(result, docs: dict) -> Optional[str]:
    for doc_id, content in zip(result.hits["doc_id"], result.hits["content"]):
        if docs[doc_id]["content"] != content:
            return f"hydrated content of {doc_id} differs"
    return None
