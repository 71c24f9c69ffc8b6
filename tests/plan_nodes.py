"""Walk a DataFrame's executed plan by node and expression class, so plan
tests do not depend on how a Spark version renders the plan as text."""

from __future__ import annotations


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def class_name(obj) -> str:
    return obj.getClass().getSimpleName()


def _below(node) -> list:
    kids = _seq(node.children()) + _seq(node.innerChildren())
    name = class_name(node)
    if name == "AdaptiveSparkPlanExec":
        kids.append(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        kids.append(node.plan())
    elif name == "ReusedExchangeExec":
        kids.append(node.child())
    return kids


def plan_nodes(df, stop: str | None = None) -> list:
    """Every physical node of ``df``'s executed plan, descending into the
    adaptive plan, its query stages and reused exchanges, but not below a
    node of class ``stop``."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        out.append(node)
        if class_name(node) != stop:
            todo += _below(node)
    return out


def node_classes(df) -> set[str]:
    return {class_name(n) for n in plan_nodes(df)}


def expressions(df) -> list:
    """Every expression, at every depth, of every node of the executed plan."""
    out, todo = [], [e for n in plan_nodes(df) for e in _seq(n.expressions())]
    while todo:
        e = todo.pop()
        out.append(e)
        todo += _seq(e.children())
    return out


def has_expression(df, cls: str, child_cls: str | None = None) -> bool:
    """True when the executed plan holds a ``cls`` expression (with a
    ``child_cls`` first child, when given)."""
    return any(
        class_name(e) == cls
        and (child_cls is None or class_name(e.children().apply(0)) == child_cls)
        for e in expressions(df)
    )
