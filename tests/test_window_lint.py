"""Scale lint: no registered query may funnel unbounded data through
a single-partition window.

An unpartitioned ``Window.orderBy`` (no PARTITION BY) executes on ONE
partition — fine over a bounded frame (a top-k survivor list, an
aggregated grid, per-partition offset tables), a scale-killer over
raw data (the round-1 `revenue_gini` defect).  This test walks every
registered query's physical plan: for each Window operator whose
window spec has no partition keys, the subtree feeding it must be
bounded — it must contain a limit, an aggregate, or a checkpointed
(already-reduced) RDD scan before any file source scan.  SCALE.md's
"bounded-cardinality frames only" claim is enforced here, not just
asserted in prose.
"""

import re

import pytest

import sparkplans.queries as Q

# Operators that bound the row count flowing up to the window.
_BOUNDED_MARKERS = (
    "TakeOrderedAndProject",
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "LocalTableScan",
    "Scan ExistingRDD",  # localCheckpoint of an already-reduced frame
)

_UNBOUNDED_SOURCES = ("FileScan", "BatchScan")


def _tree_depth(line: str) -> int:
    """Depth of a node line in Spark's plan-tree ASCII art."""
    m = re.match(r"^[\s:+|-]*", line)
    return len(m.group(0))


def _specs_unpartitioned(line: str) -> bool:
    """True if any windowspecdefinition on this line has no partition
    keys.  Partition columns precede the ORDER BY columns and carry no
    ASC/DESC marker; an unpartitioned spec starts straight at an
    ordered column (or at the frame for orderless specs)."""
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", line):
        first_arg = m.group(1).split(",")[0].strip()
        if " ASC" in first_arg or " DESC" in first_arg or first_arg.startswith(
            "specifiedwindowframe"
        ):
            return True
    return False


def _subtree(lines: list[str], i: int) -> list[str]:
    d = _tree_depth(lines[i])
    out = []
    for line in lines[i + 1 :]:
        if line.strip() and _tree_depth(line) <= d and (
            "+-" in line or ":-" in line
        ):
            # sibling or ancestor at same/lower depth ends the subtree
            if _tree_depth(line) <= d:
                break
        out.append(line)
    return out


@pytest.mark.parametrize("name", sorted(Q.REGISTRY))
def test_no_unbounded_single_partition_window(spark, name, registry_frame):
    plan = registry_frame(name)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "windowspecdefinition" not in line or not _specs_unpartitioned(
            line
        ):
            continue
        sub = "\n".join(_subtree(lines, i))
        has_bound = any(mk in sub for mk in _BOUNDED_MARKERS)
        has_source = any(src in sub for src in _UNBOUNDED_SOURCES)
        assert has_bound or not has_source, (
            f"{name}: unpartitioned window over an unbounded frame:\n"
            f"{line.strip()[:200]}\nsubtree:\n{sub[:2000]}"
        )
