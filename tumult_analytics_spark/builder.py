"""QueryBuilder: the fluent query-construction API.

Fresh implementation of the API surface documented at
``/root/reference/src/tmlt/analytics/query_builder.py`` (signatures in
SURVEY.md §2.2-2.5). Each method appends one immutable QueryExpr node; no
Spark work happens until ``Session.evaluate``.
"""

from __future__ import annotations

from typing import Any, Dict, List, Mapping, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame

from .binning import BinningSpec
from .constraints import Constraint, TruncationStrategy
from .keyset import KeySet
from .plans import expr as E
from .schema import ColumnDescriptor, ColumnType, Schema

Row = Dict[str, Any]

ColumnTypeLike = Union[ColumnDescriptor, ColumnType, str]


def _types_schema(new_column_types: Mapping[str, ColumnTypeLike]) -> Schema:
    return Schema(dict(new_column_types))


class Query:
    """An evaluable query: wraps the root QueryExpr."""

    def __init__(self, expr: E.QueryExpr):
        self._expr = expr

    @property
    def expr(self) -> E.QueryExpr:
        return self._expr

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return f"Query({self._expr!r})"

    def __eq__(self, other: object) -> bool:
        """Equality on the underlying query expression (reference
        query_builder.py:129-134); expression trees are frozen
        dataclasses, so comparison is structural."""
        if not isinstance(other, Query):
            return NotImplemented
        return self._expr == other._expr

    def __hash__(self) -> int:
        # Expr trees can hold unhashable fields (dicts, callables'
        # closures); hash coarsely, keeping the eq/hash contract.
        return hash(type(self._expr).__name__)


class GroupbyCountQuery(Query):
    """A groupby-count query; supports post-aggregation suppression."""

    def suppress(self, threshold: float) -> Query:
        """Drop result rows whose count is below ``threshold``
        (reference query_builder.py:157-229)."""
        assert isinstance(self._expr, E.GroupByCount)
        return Query(
            E.SuppressAggregates(
                child=self._expr,
                column=self._expr.output_column,
                threshold=threshold,
            )
        )


class QueryBuilder:
    """Builds queries against one private table."""

    def __init__(self, source_id: str):
        self._source_id = source_id
        self._expr: E.QueryExpr = E.PrivateSource(source_id)

    @classmethod
    def _wrap(cls, expr: E.QueryExpr, source_id: str) -> "QueryBuilder":
        qb = cls.__new__(cls)
        qb._source_id = source_id
        qb._expr = expr
        return qb

    def clone(self) -> "QueryBuilder":
        return QueryBuilder._wrap(self._expr, self._source_id)

    # --- transformations ---------------------------------------------------
    def filter(self, condition: str) -> "QueryBuilder":
        """Keep rows matching a Spark SQL WHERE expression."""
        return QueryBuilder._wrap(E.Filter(self._expr, condition), self._source_id)

    def select(self, columns: Sequence[str]) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.Select(self._expr, tuple(columns)), self._source_id
        )

    def rename(self, column_mapper: Mapping[str, str]) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.Rename(self._expr, tuple(column_mapper.items())), self._source_id
        )

    def map(
        self,
        f,
        new_column_types: Mapping[str, ColumnTypeLike],
        augment: bool = False,
        vectorized: bool = False,
    ) -> "QueryBuilder":
        """Row-wise UDF (reference API), or — with ``vectorized=True``,
        an extension — an Arrow-batched pandas function: f(batch_pdf)
        returns a DataFrame (or dict of arrays) holding exactly the new
        columns, same length and order as the batch. ~10-100x less
        Python overhead than per-row dicts."""
        return QueryBuilder._wrap(
            E.Map(
                self._expr, f, _types_schema(new_column_types), augment,
                vectorized=vectorized,
            ),
            self._source_id,
        )

    def flat_map(
        self,
        f,
        new_column_types: Mapping[str, ColumnTypeLike],
        augment: bool = False,
        grouping: bool = False,
        max_rows: Optional[int] = None,
        max_num_rows: Optional[int] = None,
        vectorized: bool = False,
    ) -> "QueryBuilder":
        """Row->rows UDTF (reference API). With ``vectorized=True`` (an
        extension), f(batch_pdf) returns (counts, new_columns_pdf):
        counts[i] output rows for batch row i, new_columns_pdf holding
        the new columns for all outputs in order. ``max_rows`` is still
        enforced engine-side per input row."""
        if max_rows is None:
            max_rows = max_num_rows
        return QueryBuilder._wrap(
            E.FlatMap(
                self._expr,
                f,
                _types_schema(new_column_types),
                augment=augment,
                grouping=grouping,
                max_rows=max_rows,
                vectorized=vectorized,
            ),
            self._source_id,
        )

    def flat_map_by_id(
        self, f, new_column_types: Mapping[str, ColumnTypeLike]
    ) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.FlatMapByID(self._expr, f, _types_schema(new_column_types)),
            self._source_id,
        )

    def replace_null_and_nan(
        self, replace_with: Optional[Mapping[str, Any]] = None
    ) -> "QueryBuilder":
        rw = tuple(replace_with.items()) if replace_with else ()
        return QueryBuilder._wrap(
            E.ReplaceNullAndNan(self._expr, rw), self._source_id
        )

    def replace_infinity(
        self, replace_with: Optional[Mapping[str, Tuple[float, float]]] = None
    ) -> "QueryBuilder":
        rw = (
            tuple((c, (float(lo), float(hi))) for c, (lo, hi) in replace_with.items())
            if replace_with
            else ()
        )
        return QueryBuilder._wrap(
            E.ReplaceInfinity(self._expr, rw), self._source_id
        )

    def drop_null_and_nan(
        self, columns: Optional[Sequence[str]] = None
    ) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.DropNullAndNan(self._expr, tuple(columns or ())), self._source_id
        )

    def drop_infinity(self, columns: Optional[Sequence[str]] = None) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.DropInfinity(self._expr, tuple(columns or ())), self._source_id
        )

    def bin_column(
        self, column: str, spec: Union[BinningSpec, Sequence], name: Optional[str] = None
    ) -> "QueryBuilder":
        if not isinstance(spec, BinningSpec):
            spec = BinningSpec(spec)
        return QueryBuilder._wrap(
            E.BinColumn(self._expr, column, spec, name or f"{column}_binned"),
            self._source_id,
        )

    def enforce(self, constraint: Constraint) -> "QueryBuilder":
        return QueryBuilder._wrap(
            E.EnforceConstraint(self._expr, constraint), self._source_id
        )

    # --- joins -------------------------------------------------------------
    def join_public(
        self,
        public_table: Union[str, DataFrame],
        join_columns: Optional[Sequence[str]] = None,
        how: str = "inner",
    ) -> "QueryBuilder":
        if how not in ("inner", "left"):
            raise ValueError(f"join_public only supports inner/left, got {how!r}")
        return QueryBuilder._wrap(
            E.JoinPublic(
                self._expr,
                public_table,
                tuple(join_columns) if join_columns else None,
                how,
            ),
            self._source_id,
        )

    def join_private(
        self,
        right_operand: Union["QueryBuilder", str],
        truncation_strategy_left: Optional[TruncationStrategy.Type] = None,
        truncation_strategy_right: Optional[TruncationStrategy.Type] = None,
        join_columns: Optional[Sequence[str]] = None,
    ) -> "QueryBuilder":
        if isinstance(right_operand, str):
            right_expr: E.QueryExpr = E.PrivateSource(right_operand)
        else:
            right_expr = right_operand._expr
        return QueryBuilder._wrap(
            E.JoinPrivate(
                self._expr,
                right_expr,
                truncation_strategy_left,
                truncation_strategy_right,
                tuple(join_columns) if join_columns else None,
            ),
            self._source_id,
        )

    # --- histogram sugar ---------------------------------------------------
    def histogram(
        self,
        column: str,
        bin_edges: Union[BinningSpec, Sequence],
        name: Optional[str] = None,
    ) -> Query:
        """bin_column -> groupby(bins) -> count
        (reference query_builder.py:1590-1663)."""
        spec = bin_edges if isinstance(bin_edges, BinningSpec) else BinningSpec(bin_edges)
        binned = name or f"{column}_binned"
        return (
            self.bin_column(column, spec, name=binned)
            .groupby(KeySet.from_dict({binned: spec.bins()}))
            .count()
        )

    # --- grouping & aggregations ------------------------------------------
    def groupby(
        self, by: Union[KeySet, Sequence[str], str]
    ) -> "GroupedQueryBuilder":
        from .keyset import KeySetPlan

        if isinstance(by, KeySet):
            keys: E.GroupbyKeys = by
        elif isinstance(by, KeySetPlan):
            keys = E.AutoPartitionKeys(by.detect_columns, by.fixed, plan=by)
        else:
            # Bare column names mean DP partition selection — experimental,
            # gated like the reference (query_builder.py:1989-1990).
            from .config import config

            config.features.auto_partition_selection.raise_if_disabled()
            keys = E.AutoPartitionKeys((by,) if isinstance(by, str) else tuple(by))
        return GroupedQueryBuilder(self._source_id, self._expr, keys)

    def get_groups(self, columns: Optional[Sequence[str]] = None) -> Query:
        return Query(E.GetGroups(self._expr, tuple(columns or ())))

    def get_bounds(
        self,
        column: str,
        lower_bound_column: Optional[str] = None,
        upper_bound_column: Optional[str] = None,
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).get_bounds(
            column, lower_bound_column, upper_bound_column
        )

    def count(
        self,
        name: Optional[str] = None,
        mechanism: Union[E.CountMechanism, str] = "default",
    ) -> GroupbyCountQuery:
        return self.groupby(KeySet.from_dict({})).count(name, mechanism)

    def count_distinct(
        self,
        columns: Optional[Sequence[str]] = None,
        name: Optional[str] = None,
        mechanism: Union[E.CountDistinctMechanism, str] = "default",
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).count_distinct(
            columns, name, mechanism
        )

    def quantile(
        self,
        column: str,
        quantile: float,
        low: float,
        high: float,
        name: Optional[str] = None,
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).quantile(
            column, quantile, low, high, name
        )

    def quantiles(
        self,
        column: str,
        quantiles: Sequence[float],
        low: float,
        high: float,
        names: Optional[Sequence[str]] = None,
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).quantiles(
            column, quantiles, low, high, names
        )

    def min(self, column: str, low: float, high: float, name: Optional[str] = None) -> Query:
        return self.groupby(KeySet.from_dict({})).min(column, low, high, name)

    def max(self, column: str, low: float, high: float, name: Optional[str] = None) -> Query:
        return self.groupby(KeySet.from_dict({})).max(column, low, high, name)

    def median(
        self, column: str, low: float, high: float, name: Optional[str] = None
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).median(column, low, high, name)

    def sum(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.SumMechanism, str] = "default",
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).sum(column, low, high, name, mechanism)

    def average(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.AverageMechanism, str] = "default",
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).average(
            column, low, high, name, mechanism
        )

    def variance(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.VarianceMechanism, str] = "default",
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).variance(
            column, low, high, name, mechanism
        )

    def stdev(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.StdevMechanism, str] = "default",
    ) -> Query:
        return self.groupby(KeySet.from_dict({})).stdev(
            column, low, high, name, mechanism
        )


class GroupedQueryBuilder:
    """A QueryBuilder with group-by keys attached; terminal aggregations."""

    def __init__(self, source_id: str, expr: E.QueryExpr, keys: E.GroupbyKeys):
        self._source_id = source_id
        self._expr = expr
        self._keys = keys

    def count(
        self,
        name: Optional[str] = None,
        mechanism: Union[E.CountMechanism, str] = "default",
    ) -> GroupbyCountQuery:
        return GroupbyCountQuery(
            E.GroupByCount(
                self._expr,
                self._keys,
                output_column=name or "count",
                mechanism=E.CountMechanism.parse(mechanism),
            )
        )

    def count_distinct(
        self,
        columns: Optional[Sequence[str]] = None,
        name: Optional[str] = None,
        mechanism: Union[E.CountDistinctMechanism, str] = "default",
    ) -> Query:
        if name is None:
            name = (
                f"count_distinct({', '.join(columns)})" if columns else "count_distinct"
            )
        return Query(
            E.GroupByCountDistinct(
                self._expr,
                self._keys,
                columns_to_count=tuple(columns or ()),
                output_column=name,
                mechanism=E.CountDistinctMechanism.parse(mechanism),
            )
        )

    def quantile(
        self,
        column: str,
        quantile: float,
        low: float,
        high: float,
        name: Optional[str] = None,
    ) -> Query:
        return self.quantiles(
            column, [quantile], low, high, [name or f"{column}_quantile({quantile})"]
        )

    def quantiles(
        self,
        column: str,
        quantiles: Sequence[float],
        low: float,
        high: float,
        names: Optional[Sequence[str]] = None,
    ) -> Query:
        """Multiple quantiles of one column in a SINGLE histogram pass
        (this engine's extension; the reference API computes one quantile
        per query, and ``quantile`` here is this query with one
        quantile). The budget splits evenly across the quantiles, so
        ``quantiles(c, [0.25, 0.5, 0.75])`` costs one scan and the same
        total epsilon as three sequential ``quantile`` queries — but a
        third of the epsilon (and noise budget) per quantile."""
        qs = tuple(float(q) for q in quantiles)
        if names is None:
            names = tuple(f"{column}_quantile({q})" for q in qs)
        return Query(
            E.GroupByQuantiles(
                self._expr,
                self._keys,
                measure_column=column,
                quantiles=qs,
                low=float(low),
                high=float(high),
                output_columns=tuple(names),
            )
        )

    def min(self, column: str, low: float, high: float, name: Optional[str] = None) -> Query:
        return self.quantile(column, 0.0, low, high, name or f"{column}_min")

    def max(self, column: str, low: float, high: float, name: Optional[str] = None) -> Query:
        return self.quantile(column, 1.0, low, high, name or f"{column}_max")

    def median(
        self, column: str, low: float, high: float, name: Optional[str] = None
    ) -> Query:
        return self.quantile(column, 0.5, low, high, name or f"{column}_median")

    def sum(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.SumMechanism, str] = "default",
    ) -> Query:
        return Query(
            E.GroupByBoundedSum(
                self._expr,
                self._keys,
                measure_column=column,
                low=low,
                high=high,
                output_column=name or f"{column}_sum",
                mechanism=E.SumMechanism.parse(mechanism),
            )
        )

    def average(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.AverageMechanism, str] = "default",
    ) -> Query:
        return Query(
            E.GroupByBoundedAverage(
                self._expr,
                self._keys,
                measure_column=column,
                low=low,
                high=high,
                output_column=name or f"{column}_average",
                mechanism=E.AverageMechanism.parse(mechanism),
            )
        )

    def variance(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.VarianceMechanism, str] = "default",
    ) -> Query:
        return Query(
            E.GroupByBoundedVariance(
                self._expr,
                self._keys,
                measure_column=column,
                low=low,
                high=high,
                output_column=name or f"{column}_variance",
                mechanism=E.VarianceMechanism.parse(mechanism),
            )
        )

    def stdev(
        self,
        column: str,
        low: float,
        high: float,
        name: Optional[str] = None,
        mechanism: Union[E.StdevMechanism, str] = "default",
    ) -> Query:
        return Query(
            E.GroupByBoundedStdev(
                self._expr,
                self._keys,
                measure_column=column,
                low=low,
                high=high,
                output_column=name or f"{column}_stdev",
                mechanism=E.StdevMechanism.parse(mechanism),
            )
        )

    def get_bounds(
        self,
        column: str,
        lower_bound_column: Optional[str] = None,
        upper_bound_column: Optional[str] = None,
    ) -> Query:
        return Query(
            E.GetBounds(
                self._expr,
                self._keys,
                measure_column=column,
                lower_bound_column=lower_bound_column or f"{column}_lower_bound",
                upper_bound_column=upper_bound_column or f"{column}_upper_bound",
            )
        )
