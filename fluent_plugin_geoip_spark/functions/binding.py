"""Structural let-binding for Catalyst expression trees.

A PySpark ``Column`` is an expression TREE: every Python-level reference
to an intermediate embeds a full copy of its subtree. Inside higher-order
function lambdas that is catastrophic — HOF lambda bodies are evaluated
interpreted, outside whole-stage codegen's common-subexpression
elimination, so an outer expression referenced from a per-element lambda
is RE-EVALUATED FOR EVERY ELEMENT (round-8 found this in the IPv6 parser
at 57x; round-9 found the same O(len^2) shape in the shingle and token
n-gram expansions, where the token-split regex ran once per gram).

``let_(value, body)`` evaluates ``value`` exactly once per row and hands
``body`` a lambda variable whose references are plain slot reads:
implemented as a single-element-array ``transform`` (HOF arguments are
evaluated once; lambda variables are O(1) reads).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def let_(value: Column, body) -> Column:
    """Bind ``value`` once; evaluate ``body(bound)`` with cheap variable
    references. Semantically identical to inlining ``value`` everywhere
    ``body`` references it (including for null inputs: the bound slot
    holds null and every reference reads the same null)."""
    return F.element_at(F.transform(F.array(value), body), 1)


# ColumnNode classes of the plan-agnostic expression AST that PySpark
# Columns are built from (the one Spark Connect shares): unresolved
# attributes, literals, functions, casts, aliases, lambdas, SQL text. A
# classic ``ExpressionColumnNode`` lives outside this package: it wraps
# a Catalyst expression, which may hold a resolved attribute.
_PLAN_AGNOSTIC_PACKAGE = "org.apache.spark.sql.internal."


def is_plan_independent(col: Column) -> bool:
    """True iff ``col``'s tree contains no already-RESOLVED Catalyst
    expression — i.e. it is built purely from unresolved attributes,
    literals and functions, so the identical tree resolves correctly
    against ANY plan with the referenced column names.

    Guard for expression-tree memoization (round 9), and a property of
    every entry of the enrich plan ``GeoipEnricher`` compiles once and
    applies to every input: a Column taken from a DataFrame (``df.ip``)
    embeds a resolved ``AttributeReference`` with a plan-specific exprId,
    while ``Column.toString()`` — the natural memo key — prints it WITHOUT
    the exprId. Caching such a tree re-binds the stale exprId into later
    plans and fails analysis with MISSING_ATTRIBUTES (or, worse, silently
    reads the wrong column in a self-join).

    The check walks the JVM ColumnNode tree and accepts only node classes
    of the plan-agnostic AST. Resolved leaves, and direct Python UDF
    calls, arrive as classic ``ExpressionColumnNode`` wrappers and fail
    it; a UDF called by its registered name is an unresolved function and
    passes. The
    walk costs a few py4j round trips per node, so callers run it when
    they build a tree, not per query."""
    stack = [col._jc.node()]
    while stack:
        node = stack.pop()
        if not node.getClass().getName().startswith(_PLAN_AGNOSTIC_PACKAGE):
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True
