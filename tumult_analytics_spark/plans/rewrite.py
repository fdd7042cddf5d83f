"""Privacy rewrite rules applied before compilation.

Fresh implementation of the pipeline at
``/root/reference/src/tmlt/analytics/_query_expr_compiler/_rewrite_rules.py``:

1. ``add_special_value_handling`` (:202-257): numeric aggregations whose
   measure column may contain null/NaN get a DropNullAndNan spliced under
   them; columns that may contain ±inf get ReplaceInfinity clamped to the
   aggregation bounds (DropInfinity for GetBounds).
2. Noise-mechanism selection (:91-199) is resolved at measurement-compile
   time (`compiler.resolve_mechanism`) since it depends only on the budget
   kind and measure column type.

Catalyst never does rule 1 — it changes query semantics and exists for
privacy reasons, so it lives here, driver-side, over the logical tree.
"""

from __future__ import annotations

from typing import Mapping

from ..schema import ColumnType, Schema
from . import expr as E


def _wrap_measure_child(
    expr, catalog: Mapping[str, Schema], drop_inf: bool = False
):
    """Splice special-value handling under a numeric aggregation node."""
    child = rewrite(expr.child, catalog)
    cs = child.schema(catalog)
    col = expr.measure_column
    desc = cs[col]
    if desc.allow_null or desc.allow_nan:
        child = E.DropNullAndNan(child, (col,))
    if desc.allow_inf:
        if drop_inf:
            child = E.DropInfinity(child, (col,))
        else:
            child = E.ReplaceInfinity(
                child, ((col, (float(expr.low), float(expr.high))),)
            )
    return child


def _has_max_groups_constraint(expr, grouping_column: str) -> bool:
    """True if an EnforceConstraint(MaxGroupsPerID(grouping_column, ...))
    appears anywhere in the transformation chain below ``expr``."""
    from ..constraints import MaxGroupsPerID

    node = expr
    while node is not None:
        if isinstance(node, E.EnforceConstraint) and (
            isinstance(node.constraint, MaxGroupsPerID)
            and node.constraint.grouping_column == grouping_column
        ):
            return True
        node = getattr(node, "child", None)
    return False


def _optimize_id_count_distinct(expr, catalog):
    """Count-distinct -> count optimization on ID tables (reference
    ``_base_measurement_visitor.py:217-300``).

    ``count_distinct(columns=[id_col])`` equals a plain count after
    truncating to one row per (id) — or per (id, group) when grouped on a
    single column carrying a MaxGroupsPerID constraint. The rewritten plan
    skips the exact-distinct shuffle and works without a user-supplied
    MaxRowsPerID.
    """
    import dataclasses

    from ..constraints import MaxRowsPerGroupPerID, MaxRowsPerID
    from ..keyset import KeySet

    try:
        cs = expr.child.schema(catalog)
    except Exception:
        return None
    id_col = cs.id_column
    if not id_col or tuple(expr.columns_to_count) != (id_col,):
        return None
    keys = expr.groupby_keys
    if not isinstance(keys, KeySet):
        return None
    gcols = list(keys.columns())
    mech = E.CountMechanism[expr.mechanism.name]
    if not gcols:
        child = E.EnforceConstraint(expr.child, MaxRowsPerID(1))
        return E.GroupByCount(child, keys, expr.output_column, mech)
    if len(gcols) == 1 and _has_max_groups_constraint(expr.child, gcols[0]):
        child = E.EnforceConstraint(
            expr.child, MaxRowsPerGroupPerID(gcols[0], 1)
        )
        return E.GroupByCount(child, keys, expr.output_column, mech)
    return None


def rewrite(expr: E.QueryExpr, catalog: Mapping[str, Schema]) -> E.QueryExpr:
    """Apply the rewrite pipeline depth-first, returning a new tree."""
    import dataclasses

    if isinstance(
        expr,
        (
            E.GroupByBoundedSum,
            E.GroupByBoundedAverage,
            E.GroupByBoundedVariance,
            E.GroupByBoundedStdev,
            E.GroupByQuantiles,
        ),
    ):
        return dataclasses.replace(expr, child=_wrap_measure_child(expr, catalog))
    if isinstance(expr, E.GetBounds):
        child = rewrite(expr.child, catalog)
        cs = child.schema(catalog)
        desc = cs[expr.measure_column]
        if desc.allow_null or desc.allow_nan:
            child = E.DropNullAndNan(child, (expr.measure_column,))
        if desc.allow_inf:
            child = E.DropInfinity(child, (expr.measure_column,))
        return dataclasses.replace(expr, child=child)
    if isinstance(expr, E.SuppressAggregates):
        return dataclasses.replace(expr, child=rewrite(expr.child, catalog))
    if isinstance(expr, E.GroupByCountDistinct):
        opt = _optimize_id_count_distinct(expr, catalog)
        if opt is not None:
            return dataclasses.replace(opt, child=rewrite(opt.child, catalog))
        return dataclasses.replace(expr, child=rewrite(expr.child, catalog))
    if isinstance(expr, (E.GroupByCount, E.GetGroups)):
        return dataclasses.replace(expr, child=rewrite(expr.child, catalog))
    # Transformation nodes: rewrite children recursively.
    if isinstance(expr, E.JoinPrivate):
        return dataclasses.replace(
            expr,
            left_child=rewrite(expr.left_child, catalog),
            right_child=rewrite(expr.right_child, catalog),
        )
    if hasattr(expr, "child"):
        return dataclasses.replace(expr, child=rewrite(expr.child, catalog))
    return expr
