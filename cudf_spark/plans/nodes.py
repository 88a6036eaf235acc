"""One walk over a DataFrame's physical plan tree.

``plan_nodes(df)`` yields each operator of the printed executed plan, in
printed order, from the py4j ``SparkPlan`` tree: its ``nodeName``, its
``simpleString(4096)`` (every aggregate function listed) and the
``(name, detail)`` pairs above it. Wrappers are walked through, not
yielded: ``AdaptiveSparkPlan`` via ``executedPlan()`` (the final plan once
executed, so it is walked once, not per Final/Initial section),
``*QueryStage`` via ``plan()``, ``WholeStageCodegen`` and ``InputAdapter``.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

Node = tuple[str, str]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _walk(jnode, ancestors: tuple[Node, ...]) -> Iterator[tuple[str, str, tuple[Node, ...]]]:
    name = jnode.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk(jnode.executedPlan(), ancestors)
        return
    if name.endswith("QueryStage"):
        yield from _walk(jnode.plan(), ancestors)
        return
    if name.startswith("WholeStageCodegen") or name == "InputAdapter":
        for child in _seq(jnode.children()):
            yield from _walk(child, ancestors)
        return
    detail = jnode.simpleString(4096)
    yield name, detail, ancestors
    below = ancestors + ((name, detail),)
    # inner children (subquery plans, a cached relation) print before
    # the children proper
    for child in _seq(jnode.innerChildren()) + _seq(jnode.children()):
        yield from _walk(child, below)


def plan_nodes(df: DataFrame) -> Iterator[tuple[str, str, tuple[Node, ...]]]:
    """Yield ``(name, detail, ancestors)`` for every operator of ``df``'s
    executed physical plan, root first, depth first."""
    return _walk(df._jdf.queryExecution().executedPlan(), ())
