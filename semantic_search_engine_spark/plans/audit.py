"""Physical-plan audit helpers: assert the plan you meant to write.

Used by tests and by hand while iterating (`.explain`-driven
development): a scan that doesn't push filters, a join that should
have broadcast, or a codegen break in the hot path is a perf bug even
when results are right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan reports the filter pushed (e.g. 'In(term')."""
    return f"PushedFilters: [" in physical_plan(df) and fragment in physical_plan(df)


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def is_take_ordered(df: DataFrame) -> bool:
    """orderBy().limit(k) lowered to the distributed top-k operator."""
    return "TakeOrderedAndProject" in physical_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages; plan toString marks codegen
    operators with '*(id)' (formatted explain spells WholeStageCodegen)."""
    import re

    plan = physical_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids) if ids else plan.count("WholeStageCodegen")


_LEAVES = ("AttributeReference", "NamedLambdaVariable", "LambdaFunction")


def lambda_outer_refs(df: DataFrame) -> list[str]:
    """Every maximal subtree of a higher-order-function lambda body in
    ``df``'s optimized plan that reads none of that lambda's variables
    and is not foldable, a column, a lambda variable or a nested lambda.
    The optimized plan is the one that runs: a column projected before
    the lambda and collapsed back into it by the optimizer shows there.

    Spark evaluates such a subtree once per array element, so an outer
    ``element_at(tokens, i)`` makes a per-row cost grow with the square
    (or cube) of the row. An empty list means every lambda reads only
    its own variables, columns and constants. A nested lambda is
    checked in its own scope, never from the enclosing one."""
    found: list[str] = []

    def outer(e) -> bool:
        return not (e.foldable() or e.getClass().getSimpleName() in _LEAVES)

    def reads(e, ids, record: bool) -> bool:
        """True iff ``e`` reads a variable in ``ids``; when ``record``,
        every child of a reading node that reads none is recorded."""
        name = e.getClass().getSimpleName()
        if name == "NamedLambdaVariable":
            return e.exprId().id() in ids
        record = record and name != "LambdaFunction"  # its own scope
        kids = _seq(e.children())
        hits = [reads(c, ids, record) for c in kids]
        if record and any(hits):
            found.extend(c.toString() for c, h in zip(kids, hits) if not h and outer(c))
        return any(hits)

    def visit(e) -> None:
        if e.getClass().getSimpleName() == "LambdaFunction":
            body, ids = e.function(), {a.exprId().id() for a in _seq(e.arguments())}
            if not reads(body, ids, True) and outer(body):
                found.append(body.toString())
        for c in _seq(e.children()):
            visit(c)

    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        for e in _seq(node.expressions()):
            visit(e)
        stack.extend(_seq(node.children()))
    return found


def _seq(s) -> list:
    """A Scala Seq as a Python list of its JVM objects."""
    return [s.apply(i) for i in range(s.length())]
