"""Read an iterative operator's plan shape from outside it.

Operators keep no record of their last run; instead a test wraps the
lineage cuts the operator module asks for.  :func:`record_cuts`
monkeypatches the module's ``materialize``/``materialize_lazy`` names
and notes every frame handed over, in call order, AT the hand-over:

* a partition-preserving cut (``preserve_partitioning=True``, the
  static corpus frames) records its analyzed plan's root line, which
  names the layout key;
* any other cut (per-iteration/per-round state) records the live
  exchanges and sorts the frame would execute, cached subtrees
  excluded — walked before the operator releases its caches, so the
  walk sees the same in-memory scans the run does.
"""

from __future__ import annotations

from sparkplans import plans


def record_cuts(monkeypatch, module) -> list[dict]:
    """Wrap ``module``'s cut functions for the life of ``monkeypatch``;
    returns the list the cuts are appended to."""
    cuts: list[dict] = []
    real, real_lazy = module.materialize, module.materialize_lazy

    def note(df, preserve: bool, lazy: bool) -> None:
        if preserve:
            root = df._jdf.queryExecution().analyzed().toString().splitlines()[0]
            cuts.append({"preserve": True, "lazy": lazy, "root": root})
        else:
            nodes = plans.live_plan_nodes(df)
            cuts.append(
                {
                    "preserve": False,
                    "lazy": lazy,
                    "exchanges": [d for n, d in nodes if n == "ShuffleExchangeExec"],
                    "sorts": [d for n, d in nodes if n == "SortExec"],
                }
            )

    def materialize(df, eager=True, preserve_partitioning=False):
        note(df, preserve_partitioning, lazy=not eager)
        return real(df, eager=eager, preserve_partitioning=preserve_partitioning)

    def materialize_lazy(df):
        note(df, False, lazy=True)
        return real_lazy(df)

    monkeypatch.setattr(module, "materialize", materialize)
    monkeypatch.setattr(module, "materialize_lazy", materialize_lazy)
    return cuts


def pagerank_path(cuts: list[dict]) -> str:
    """Which path a recorded ``graph.pagerank`` run took: both paths
    persist the src-keyed edges and the node-keyed degrees; only the
    broadcast path adds a third, dst-keyed preserving cut."""
    kept = [c["root"] for c in cuts if c["preserve"]]
    if len(kept) == 3 and "dst#" in kept[2]:
        return "broadcast"
    assert len(kept) == 2, kept
    return "shuffle"
