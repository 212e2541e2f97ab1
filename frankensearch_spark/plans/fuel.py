"""Query fuel budget: deterministic coarse work admission control.

Reference semantics (``config.rs:35-40``, ``argus.rs:178-180,600``): one
fuel unit is charged per segment transition, dictionary block, posting
block, or phrase candidate whose positions are verified; a query whose
coarse work exceeds ``query_fuel_budget`` (default 10,000,000) fails
deterministically with a fuel-exhausted error instead of monopolizing the
engine.  Ten million units keeps ordinary and fixture-corpus queries on
the zero-contention fast path while bounding adversarial glob and phrase
tails.

The Spark-native analogue is **pre-flight admission**, not cursor-side
metering: a Spark job cannot be cheaply aborted from inside a codegen'd
stage, but every unit the reference charges is computable *before*
execution from snapshot statistics — posting blocks per term are
``ceil(df / 128)`` (plus one per live segment for the per-segment block
rounding and the dictionary/segment transitions), and phrase verification
candidates are bounded by the rarest member term's doc frequency.  The
estimate is therefore a deterministic upper bound on the reference's
runtime charge for the same snapshot, and admission is decided driver-side
in O(leaves).

Two-level check, so an ordinary query is admitted without resolving
anything:

1. **Pessimistic pass (nothing read)**: unknown doc frequencies are
   bounded by ``doc_count``.  If even that total fits the budget — always
   true until the corpus nears ``budget × 128`` postings per term — the
   query is admitted as is.
2. **Exact pass**: only when the pessimistic bound overflows (a
   10^11+-doc corpus, or an already-expanded adversarial glob) are the
   real doc frequencies resolved — term dfs from the engine's driver-side
   dictionary, glob expansions with one Spark job each — and the query is
   rejected only if the exact estimate still exceeds the budget.
"""

from __future__ import annotations

from typing import Callable, Optional

from ..functions.contract import POSTINGS_PER_BLOCK
from .eval import EvalPlan, LeafSpec

#: Default coarse work budget per query (reference
#: ``config.rs:40 DEFAULT_QUERY_FUEL_BUDGET``).
DEFAULT_QUERY_FUEL_BUDGET = 10_000_000


class QueryFuelExhausted(RuntimeError):
    """Deterministic coarse work exceeded the query fuel budget.

    Mirrors the reference's fuel-exhausted error (``argus.rs:178-180``):
    the message carries consumed/budget so callers can size retries.
    """

    def __init__(self, consumed: int, budget: int):
        self.consumed = int(consumed)
        self.budget = int(budget)
        super().__init__(
            f"query fuel exhausted after {self.consumed}/{self.budget} units; "
            "narrow the query or raise query_fuel_budget"
        )


def validate_budget(budget: int) -> int:
    """Reject non-positive budgets (reference ``config.rs:160-163``)."""
    budget = int(budget)
    if budget <= 0:
        raise ValueError(
            f"query_fuel_budget must be positive, got {budget} "
            "(a zero budget would reject every query)"
        )
    return budget


def _blocks(df: int) -> int:
    return -(-int(df) // POSTINGS_PER_BLOCK)  # ceil division


def estimate_fuel(
    plan: EvalPlan,
    n_segments: int,
    doc_count: int,
    df_of: Callable[[LeafSpec], Optional[int]],
    glob_expansion: Callable[[LeafSpec], Optional[list]],
    field_postings_of: Optional[Callable[[str], Optional[int]]] = None,
) -> tuple[int, bool]:
    """Coarse work units for one compiled plan.

    ``df_of`` returns a term leaf's snapshot doc frequency or ``None``
    when unresolved (the pessimistic pass substitutes ``doc_count``).
    ``glob_expansion`` returns ``[(term, df), ...]`` for a text glob leaf,
    or ``None`` when the expansion has not been computed yet (pessimistic:
    one full-dictionary worst case).  ``field_postings_of`` optionally
    returns an upper bound on the field's total (doc, term) posting pairs
    (the engine passes its snapshot token totals — ``Σ_t df_t`` per field
    can never exceed the field's token count), tightening the pessimistic
    glob bound on small fields without ever under-charging.  Returns
    ``(units, exact)`` where ``exact`` is False iff any unknown was
    bounded pessimistically.

    Invariant (pinned by ``test_fuel``): for the same snapshot, the
    pessimistic estimate DOMINATES the exact estimate — resolving a df or
    a glob expansion can only lower the charge, never raise it, so a
    query admitted on exact numbers is also admitted cold, and the
    documented "deterministic upper bound" claim holds for every leaf
    kind including globs.
    """
    units = 0
    exact = True
    seg = max(1, int(n_segments))
    for leaf in plan.leaves:
        if leaf.kind == "term":
            df = df_of(leaf)
            if df is None:
                df, exact = doc_count, False
            units += _blocks(df) + seg
        elif leaf.kind == "phrase":
            member_dfs = []
            for _, _term in leaf.terms:
                df = df_of(
                    LeafSpec(leaf_id=-1, kind="term", field=leaf.field, term=_term)
                )
                if df is None:
                    df, exact = doc_count, False
                member_dfs.append(int(df))
                units += _blocks(df) + seg
            # candidates entering position verification are bounded by the
            # rarest member term (the conjunction is a subset of each list)
            units += min(member_dfs, default=0)
        elif leaf.kind == "glob":
            expansion = glob_expansion(leaf)
            if expansion is None:
                # Worst case before expansion — a TRUE upper bound on the
                # exact charge: up to EXPANSION_LIMIT dictionary terms,
                # each of which can carry df up to doc_count, so the
                # posting-block charge is LIMIT × blocks(doc_count).  When
                # the field's total posting pairs are known (Σ_t df_t ≤
                # field token count), Σ_t blocks(df_t) ≤ blocks(total) +
                # LIMIT tightens that without under-charging.  An
                # adversarial wide glob therefore overflows this pass and
                # pays the one expansion job its execution would pay
                # anyway, where the exact estimate decides admission.
                from . import glob as _glob

                limit = _glob.DEFAULT_GLOB_EXPANSION_LIMIT
                per_term_blocks = limit * _blocks(doc_count)
                total = (
                    field_postings_of(leaf.field)
                    if field_postings_of is not None
                    else None
                )
                if total is not None:
                    per_term_blocks = min(per_term_blocks, _blocks(total) + limit)
                # limit * seg mirrors the exact branch's per-term segment
                # charge so the dominance invariant survives the rounding
                # term below
                units += limit + per_term_blocks + limit * seg + seg
                exact = False
            else:
                units += len(expansion) + seg
                for _term, df in expansion:
                    # blocks(df) + seg per expanded term, EXACTLY like the
                    # term-leaf path: per-segment block residency rounds up
                    # separately in every segment (Σ_s ceil(df_s/128) ≤
                    # ceil(df/128) + S - 1), so a global-df-only charge
                    # under-counts the reference's runtime posting-block
                    # charge on multi-segment snapshots
                    units += _blocks(int(df)) + seg
        else:
            # range/set/all/keyword leaves scan the docs table: charge the
            # segment transitions (their pruning is columnar, not postings)
            units += seg
    return units, exact
