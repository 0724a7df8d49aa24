"""Per-query shuffle budgets — the engine's structural cost contract.

The reference asserts plan *shape* (its golden plans fail if a
RepartitionExec sneaks in: tests/opt_parallel_execution.rs:65-82).
This is our version at library scale: every query declares its
maximum Exchange count where it is registered (``QuerySpec.exchanges``;
broadcasts excluded — those are the cheap alternative).  A refactor
that silently adds a shuffle anywhere in the query library fails here,
at sf0.001, long before it costs hours at 100 TB.

Counting is by EXECUTED shuffles: canonically-identical exchanges
count once, because ReuseExchange runs one shuffle per
canonically-equal subtree and feeds every consumer from it (see
plans.num_exchanges) — sharing one exchange across plan branches is
an optimization the ratchet must reward, not punish.  The live walk
also descends into expression-nested plans (scalar subqueries, DPP
filter plans), which the regex FALLBACK path does not see — and the
fallback conversely counts a reused exchange once per consumer — so
a budget diff between environments where only the fallback is
available is a counting artifact, not a plan change.

Budgets are the currently-achieved counts — a deliberate ratchet.
Lowering one is an optimization; raising one must be argued beside it
at the registration site.
"""

from __future__ import annotations

import pytest

import sparkplans.queries as Q
from sparkplans import plans


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_shuffle_budget(spark, name, registry_frame):
    # shared session memo: the other plan sweeps read the same frames
    budget = Q.REGISTRY[name].exchanges
    n = plans.num_exchanges(registry_frame(name))
    assert n <= budget, (
        f"{name}: {n} exchanges > budget {budget} — a shuffle crept "
        "into the plan; the budget is declared where the query is "
        "registered (sparkplans/queries)"
    )


def test_registering_without_a_budget_fails():
    """The exchange budget is required: a query registered without one
    fails at import, so no query can go unbudgeted."""
    with pytest.raises(TypeError, match="exchanges"):
        Q.register("unbudgeted", None)
    with pytest.raises(TypeError, match="exchanges"):
        Q._shared_sql("unbudgeted", "SELECT 1")
    assert "unbudgeted" not in Q.REGISTRY
