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
an optimization the ratchet must reward, not punish.  The walk also
descends into expression-nested plans (scalar subqueries, DPP filter
plans).

Budgets are the currently-achieved counts — a deliberate ratchet.
Lowering one is an optimization; raising one must be argued beside it
at the registration site.
"""

from __future__ import annotations

import os
import re

import pytest

import sparkplans.queries as Q
from conftest import SF_DIR
from sparkplans import plans

PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")


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


def test_plans_md_matches_every_registered_plan(registry_frame):
    """PLANS.md's table is what ``examples/plan_report.py`` prints for
    the current tree: same queries, and per query the same exchanges,
    broadcasts, sorts, Python stages and join strategies.  Reads the
    shared frame memo, so after the sweeps above it plans nothing new."""
    with open(PLANS_MD) as f:
        text = f.read()
    generated_at = re.search(r"Generated by `examples/plan_report.py` at `([^`]+)`", text)
    if os.path.abspath(generated_at.group(1)) != os.path.abspath(SF_DIR):
        pytest.skip(f"PLANS.md describes {generated_at.group(1)}, the tests read {SF_DIR}")
    rows = {}
    for line in text.splitlines()[text.splitlines().index("|---|---|---|---|---|---|") + 1:]:
        if not line.startswith("| "):
            break
        name, *cells = (c.strip() for c in line.strip("|").split("|"))
        rows[name] = cells
    assert sorted(rows) == sorted(Q.REGISTRY)
    drift = []
    for name in sorted(Q.REGISTRY):
        a = plans.audit(registry_frame(name))
        got = [
            str(a["exchanges"]),
            str(a["broadcasts"]),
            str(a["sorts"]),
            str(a["python_stages"]),
            ",".join(sorted(set(a["join_strategies"]))) or "-",
        ]
        if got != rows[name]:
            drift.append(f"{name}: PLANS.md {rows[name]}, plan {got}")
    assert not drift, (
        "PLANS.md has drifted from the plans; regenerate it with "
        "`python examples/plan_report.py`:\n" + "\n".join(drift)
    )
