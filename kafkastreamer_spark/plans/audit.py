"""Physical-plan taxonomy for ``Exchange SinglePartition`` nodes.

A single-partition shuffle is THE scale-killer when its input is a
base-table scan: one task sorts/aggregates the whole table, so the
plan that passes at sf0.01 falls over at 100 TB. But not every
1-partition exchange is that — a scalar aggregate's final merge or an
ordered window over an already-aggregated, domain-bounded series
(daily counts, histogram cells) shuffles a few hundred rows by
construction. This module tells them apart: every SinglePartition
exchange in every registered plan is classified by walking the
physical tree, and the lint (tests/test_plan_lint.py) asserts the
``base_table`` class is EMPTY registry-wide.

Classification of one exchange's input subtree:

* ``scalar_aggregate`` — every leaf-to-exchange path crosses an
  aggregate, and the aggregate nearest below the exchange has no
  grouping keys (global 1-row reduce; the exchange merges partials).
* ``post_aggregation`` — every leaf-to-exchange path crosses an
  aggregate or a limit: whatever flows through is the aggregate's
  group domain (bounded by key cardinality — dates, types, buckets),
  not the fact-table row count. Ordered windows over daily series
  land here.
* ``literal_local`` — the subtree reads only literal/local data
  (LocalTableScan, OneRowRelation): driver-sized by construction.
* ``base_table`` — some leaf path reaches a real scan with NO
  aggregate/limit in between: the whole table crosses one task.
  BANNED — the lint keeps this class at zero.

The walk is structural (node names + children), so it holds for any
registered query without a hand-maintained allowlist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Nodes that collapse their input's cardinality to the group/limit
# domain — anything above them is bounded by keys, not by table rows.
_AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
_LIMIT_NODES = {"CollectLimit", "GlobalLimit", "LocalLimit", "TakeOrderedAndProject"}
# Leaves whose data is literal / driver-local, bounded by construction.
_LOCAL_LEAVES = {"LocalTableScan", "Scan OneRowRelation", "EmptyRelation"}


def _children(node) -> list:
    out = []
    seq = node.children()
    for i in range(seq.length()):
        out.append(seq.apply(i))
    name = node.nodeName()
    # Wrappers that hide their subtree from children():
    if name == "AdaptiveSparkPlan":
        # children() is empty on AdaptiveSparkPlanExec; initialPlan is
        # the tree AFTER EnsureRequirements (exchanges inserted) but
        # before runtime re-optimization — the right one to lint.
        out.append(node.initialPlan())
    elif name.startswith("ReusedExchange"):
        try:
            out.append(node.child())
        except Exception:  # pragma: no cover - accessor shape drift
            pass
    elif name == "InMemoryTableScan":
        # A .persist() hides its input subtree behind a cache leaf; the
        # boundedness of what the cache HOLDS is what matters (a window
        # over a persisted aggregate is post-aggregation, not base_table).
        try:
            out.append(node.relation().cachedPlan())
        except Exception:  # pragma: no cover - accessor shape drift
            pass
    return out


def _is_single_partition_exchange(node) -> bool:
    if node.nodeName() != "Exchange":
        return False
    try:
        return node.outputPartitioning().toString() == "SinglePartition"
    except Exception:  # pragma: no cover
        return False


def _subtree_class(node) -> str:
    """Classify what an exchange's input subtree feeds it: 'bounded'
    (aggregate/limit on this path), 'local' (literal leaf), or 'scan'
    (a real scan reaches here unbounded)."""
    name = node.nodeName()
    if name in _AGG_NODES or name in _LIMIT_NODES:
        return "bounded"
    kids = _children(node)
    if not kids:
        return "local" if name in _LOCAL_LEAVES else "scan"
    # A join/union is only bounded if EVERY input is: one raw side
    # makes the output row count track that side.
    classes = {_subtree_class(k) for k in kids}
    if "scan" in classes:
        return "scan"
    if "bounded" in classes:
        return "bounded"
    return "local"


def _nearest_agg_is_scalar(node) -> bool:
    """True iff the first aggregate(s) below ``node`` have no grouping
    keys (global reduce)."""
    if node.nodeName() in _AGG_NODES:
        try:
            return bool(node.groupingExpressions().isEmpty())
        except Exception:  # pragma: no cover
            return False
    kids = _children(node)
    return bool(kids) and all(
        _nearest_agg_is_scalar(k)
        for k in kids
        if _subtree_class(k) != "local"
    )


def classify_single_partition_exchanges(df: DataFrame) -> list[str]:
    """Return one class label per ``Exchange SinglePartition`` node in
    the (main-tree) physical plan of ``df``: 'scalar_aggregate',
    'post_aggregation', 'literal_local', or 'base_table'. Subquery
    plans are not traversed — a scalar subquery materializes one row
    by contract."""
    root = df._jdf.queryExecution().executedPlan()
    labels: list[str] = []

    def walk(node) -> None:
        if _is_single_partition_exchange(node):
            (child,) = _children(node)
            cls = _subtree_class(child)
            if cls == "scan":
                labels.append("base_table")
            elif cls == "local":
                labels.append("literal_local")
            elif _nearest_agg_is_scalar(child):
                labels.append("scalar_aggregate")
            else:
                labels.append("post_aggregation")
        for k in _children(node):
            walk(k)

    walk(root)
    return labels
