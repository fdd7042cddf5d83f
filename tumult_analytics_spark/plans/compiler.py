"""QueryExpr -> PySpark compiler with stability tracking.

This replaces both reference layers (the analytics visitors AND tmlt.core's
Transformation/Measurement objects) with one Spark-first compile pass:

- every relational op is a stock DataFrame op (filter/select/join/groupBy),
  declared lazily so Catalyst does pushdown, pruning, join selection, AQE;
- stability (d_in) is tracked driver-side as an (L1, L2) pair per table,
  per reference semantics (_base_transformation_visitor.py,
  _constraint_propagation.py);
- aggregations compile to: [semi-join filter to keyset] -> groupBy().agg()
  (map-side partial aggregation) -> broadcast join with the keyset ->
  noisy-zero fill -> one noise projection (``_noisy_release``, shared by
  every additive measurement). Quantiles and get_bounds instead collect
  each group's bin counts before the keyset join and run a picker after
  it (``_histogram_release``). The base-table scan is the only big
  shuffle; the keyset side is always broadcast.

Scale notes (100 TB): the semi-join against the keyset is a broadcast
hash join that prunes rows *before* the aggregation shuffle; the
aggregation itself benefits from partial (map-side) aggregation; the final
keyset join touches only #groups rows. Python UDFs appear solely in
user-supplied map/flat_map, in the noise stage and in the histogram
pickers (O(#groups) rows).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field, replace as dc_replace
from fractions import Fraction
from typing import Any, Callable, Dict, Iterator, List, NamedTuple, Optional, Sequence, Tuple, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..budget import ApproxDPBudget, PrivacyBudget, PureDPBudget, RhoZCDPBudget
from ..constraints import (
    Constraint,
    MaxGroupsPerID,
    MaxRowsPerGroupPerID,
    MaxRowsPerID,
    apply_truncation,
    join_truncation_stability,
    simplify_constraints,
    truncate_max_groups_per_id,
    truncate_max_rows_per_group_per_id,
    truncate_max_rows_per_id,
)
from ..functions.noise import NoiseInfo, NoiseMechanism, add_noise
from ..keyset import KeySet
from ..protected import (
    AddMaxRows,
    AddMaxRowsInMaxGroups,
    AddRowsWithID,
    ProtectedChange,
)
from ..schema import (
    SPARK_TYPE,
    AnalyticsDefault,
    AnalyticsInternalError,
    ColumnType,
    Schema,
    schema_from_spark,
)
from ..utils import col_named, disambiguate_columns, nullsafe_equi_join
from . import expr as E

# ---------------------------------------------------------------------------
# Compiled-table state


@dataclass
class CompiledTable:
    """A DataFrame plus privacy bookkeeping flowing through the compile."""

    df: DataFrame
    schema: Schema
    l1: float  # stability under L1 / SymmetricDifference
    l2: float  # stability under L2 (differs after grouping flat maps)
    is_ids: bool = False  # AddRemoveKeys metric (privacy-ID table)
    constraints: List[Constraint] = dc_field(default_factory=list)


@dataclass
class SourceTable:
    df: DataFrame
    schema: Schema
    protected_change: ProtectedChange


@dataclass
class CompileContext:
    private_tables: Dict[str, "SourceTable"]
    public_tables: Dict[str, DataFrame]
    catalog: Dict[str, Schema]
    #: When the evaluation budget is infinite, noise is zero, so eager Spark
    #: jobs that only refine sensitivity (public-join multiplicity) skip.
    budget_is_infinite: bool = False
    #: Introspection compile (_noise_info): never run Spark jobs — skip
    #: eager materialization of noisy intermediates (the plan is only
    #: inspected, never executed).
    introspection_only: bool = False
    #: Views: name -> already-compiled table produced by create_view.
    views: Dict[str, CompiledTable] = dc_field(default_factory=dict)
    #: id(Map/FlatMap node) -> output columns the plan above actually
    #: consumes. Catalyst cannot prune columns through an opaque
    #: mapInPandas; this layer can, because it holds the logical tree.
    pruned_outputs: Dict[int, frozenset] = dc_field(default_factory=dict)
    #: source_id -> constraints already known to hold on the registered
    #: data (partition_and_create children inherit the parent's enforced
    #: truncations).
    source_constraints: Dict[str, List[Constraint]] = dc_field(default_factory=dict)


def initial_table(src: SourceTable) -> CompiledTable:
    pc = src.protected_change
    if isinstance(pc, AddRowsWithID):
        return CompiledTable(src.df, src.schema, 1.0, 1.0, is_ids=True)
    if isinstance(pc, AddMaxRowsInMaxGroups):
        return CompiledTable(
            src.df, src.schema, float(pc.l1_stability), float(pc.l2_stability)
        )
    if isinstance(pc, AddMaxRows):
        return CompiledTable(src.df, src.schema, float(pc.max_rows), float(pc.max_rows))
    raise TypeError(f"Unknown protected change {pc!r}")


# ---------------------------------------------------------------------------
# Row-UDF helpers (the only places Python touches per-row data)


def _spark_schema_for(schema: Schema) -> T.StructType:
    return T.StructType(
        [T.StructField(c, SPARK_TYPE[d.column_type], True) for c, d in schema.items()]
    )


def _coerce_out(pdf: pd.DataFrame, schema: Schema) -> pd.DataFrame:
    """Best-effort dtype fixing so Arrow conversion accepts UDF output.

    Dtype-guarded: a column already at the target numpy dtype is left
    untouched — ``astype`` always copies, and the nullable ``Int64``
    extension dtype costs ~3x plain int64 through Arrow, so it is only
    used when the column actually needs null handling (object dtype or
    float-with-NaN from missing values)."""
    for c, d in schema.items():
        if c not in pdf.columns:
            pdf[c] = None
        try:
            kind = pdf[c].dtype.kind
            if d.column_type is ColumnType.INTEGER:
                if kind not in ("i", "u"):
                    pdf[c] = pdf[c].astype("Int64")
            elif d.column_type is ColumnType.DECIMAL:
                if kind != "f":
                    pdf[c] = pdf[c].astype("float64")
        except (TypeError, ValueError):
            pass
    return pdf[list(schema.columns)]


def _restrict_schema(schema: Schema, keep) -> Schema:
    """Schema narrowed to ``keep`` (order preserved); None = unchanged."""
    if keep is None:
        return schema
    return Schema(
        {c: d for c, d in schema.items() if c in keep},
        grouping_column=schema.grouping_column
        if schema.grouping_column in keep
        else None,
        id_column=schema.id_column if schema.id_column in keep else None,
        id_space=schema.id_space if schema.id_column in keep else None,
    )


def _spread_rows(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the input is a few-file scan (shared
    helper in utils). Row-dict UDFs cost ~10us+/row of Python; a
    single-file parquet scan would serialize the whole stage on a few
    cores, so the one-off shuffle pays for itself above ~50k rows. Not
    applied to vectorized (numpy-batch) map/flat_map kernels, where
    per-row cost is small enough that the added AQE stage outweighs the
    parallelism.
    """
    from ..utils import spread_rows

    return spread_rows(df)


class _BatchCols:
    """Lazily materialized column store for one Arrow batch: a column is
    converted to Python scalars (``tolist()``, same native values as the
    old eager dict build) only when some row first reads it. The engine
    cannot know which input columns a row UDF touches, so the eager
    full-width conversion paid ~10us+/row for EVERY column on every row;
    real UDFs read a few columns of a wide input (guide §4: pass only
    the columns the function needs — applied at the conversion layer)."""

    __slots__ = ("_pdf", "_data", "names", "name_set")

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf
        self._data: dict = {}
        self.names = list(pdf.columns)
        self.name_set = frozenset(self.names)

    def col(self, k):
        v = self._data.get(k)
        if v is None:
            if k not in self.name_set:
                raise KeyError(k)
            v = self._pdf[k].tolist()
            self._data[k] = v
        return v


class _LazyRow(dict):
    """One row as a dict that materializes base-column values on first
    access. Subclassing ``dict`` keeps full dict semantics for user
    functions (mutation, ``dict(row)``, ``pd.DataFrame([row])``): reads
    of keys not yet in the dict fall through to the batch store via
    ``__missing__``; writes behave natively; deletions of not-yet-pulled
    base keys are recorded so they never reappear. Whole-row operations
    (``iter``/``len``/``keys``/``items``/``==``/``repr``/``copy``) pull
    every remaining base column first — cheap, the values come from the
    shared per-column lists. Overriding ``__iter__`` also disables
    CPython's dict fast-merge path, so ``dict(row)``/``update`` go
    through ``keys()`` and see the pulled view."""

    __slots__ = ("_b", "_i", "_pulled", "_deleted")

    def __init__(self, b: _BatchCols, i: int):
        super().__init__()
        self._b = b
        self._i = i
        self._pulled = False
        self._deleted: Optional[set] = None

    def __missing__(self, k):
        # Only called by dict.__getitem__ when k is absent from the dict.
        if self._pulled or (self._deleted is not None and k in self._deleted):
            raise KeyError(k)
        v = self._b.col(k)[self._i]  # KeyError for unknown columns
        dict.__setitem__(self, k, v)
        return v

    def _pull_all(self):
        if not self._pulled:
            b, i = self._b, self._i
            dele = self._deleted
            for k in b.names:
                if not dict.__contains__(self, k) and (
                    dele is None or k not in dele
                ):
                    dict.__setitem__(self, k, b.col(k)[i])
            self._pulled = True

    def get(self, k, default=None):
        try:
            return self[k]
        except KeyError:
            return default

    def __contains__(self, k):
        if dict.__contains__(self, k):
            return True
        if self._pulled:
            return False
        if self._deleted is not None and k in self._deleted:
            return False
        return k in self._b.name_set

    def __delitem__(self, k):
        had = dict.__contains__(self, k)
        if had:
            dict.__delitem__(self, k)
        if not self._pulled and k in self._b.name_set:
            if self._deleted is None:
                self._deleted = set()
            self._deleted.add(k)
        elif not had:
            raise KeyError(k)

    def pop(self, k, *default):
        try:
            v = self[k]
        except KeyError:
            if default:
                return default[0]
            raise
        del self[k]
        return v

    def setdefault(self, k, default=None):
        try:
            return self[k]
        except KeyError:
            self[k] = default
            return default

    def __iter__(self):
        self._pull_all()
        return dict.__iter__(self)

    def __len__(self):
        self._pull_all()
        return dict.__len__(self)

    def keys(self):
        self._pull_all()
        return dict.keys(self)

    def values(self):
        self._pull_all()
        return dict.values(self)

    def items(self):
        self._pull_all()
        return dict.items(self)

    def __eq__(self, other):
        self._pull_all()
        if isinstance(other, _LazyRow):
            other._pull_all()
        return dict.__eq__(self, other)

    def __ne__(self, other):
        eq = self.__eq__(other)
        return eq if eq is NotImplemented else not eq

    __hash__ = None  # type: ignore[assignment]  # dicts are unhashable

    def __repr__(self):
        self._pull_all()
        return dict.__repr__(self)

    def copy(self):
        self._pull_all()
        return dict(self)


def _row_dicts(pdf: pd.DataFrame) -> list:
    """Rows as lazily-materializing dicts (see :class:`_LazyRow`)."""
    b = _BatchCols(pdf)
    return [_LazyRow(b, i) for i in range(len(pdf))]


def _frame_from_rows(produced: list) -> pd.DataFrame:
    """DataFrame from a list of row mappings, column-at-a-time:
    ``pd.DataFrame(list_of_dicts)`` walks a slow inference path; building
    each column with one comprehension over ``.get`` is ~2x faster and
    yields None (not NaN) for missing keys — identical after coercion.
    Column order = first-seen key order, matching the old constructor."""
    cols: dict = {}
    for d in produced:
        for k in d:
            if k not in cols:
                cols[k] = None
    if not cols:
        return pd.DataFrame(index=range(len(produced)))
    return pd.DataFrame(
        {k: [d.get(k) for d in produced] for k in cols},
        columns=list(cols),
    )


def compile_map(
    df: DataFrame,
    f: Callable,
    out_schema: Schema,
    augment: bool,
    keep=None,
    vectorized: bool = False,
) -> DataFrame:
    """Row->row Python UDF via mapInPandas (Arrow batches, not per-row).

    ``keep`` (from the column-pruning pass) narrows the UDF OUTPUT to the
    columns the plan above consumes — Catalyst cannot see through the
    Python boundary, so this projection pushdown happens here.

    ``vectorized``: f is a pandas-batch function — f(batch_pdf) returns
    the new columns (DataFrame or dict of arrays) with the batch's
    length/order. Skips the per-row dict conversion entirely.
    """
    if not vectorized:
        df = _spread_rows(df)
    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if vectorized:
                # Snapshot only the input columns the augment below reuses
                # BEFORE handing the frame to f (so user mutation cannot
                # corrupt them) — the old full pdf.copy() deep-copied every
                # column of a possibly wide input per batch.
                base_in = (
                    pdf[[c for c in pdf.columns if c in out_cols]].copy()
                    if augment
                    else None
                )
                produced_v = f(pdf)
                new_df = (
                    produced_v
                    if isinstance(produced_v, pd.DataFrame)
                    else pd.DataFrame(produced_v)
                )
                if len(new_df) != len(pdf):
                    raise ValueError(
                        "vectorized map must return one output row per "
                        f"input row (got {len(new_df)} for {len(pdf)})"
                    )
                new_df = new_df.reset_index(drop=True)
            else:
                base_in = pdf
                produced = [f(r) for r in _row_dicts(pdf)]
                new_df = _frame_from_rows(produced)
            if augment:
                # Columnar assembly: carry only the input columns that
                # survive pruning, attach new columns — no per-row merges.
                base = base_in[
                    [c for c in base_in.columns
                     if c in out_cols and c not in new_df.columns]
                ]
                out = pd.concat(
                    [base.reset_index(drop=True), new_df], axis=1
                )
            else:
                out = new_df
            yield _coerce_out(out.reindex(columns=out_cols), out_schema)

    return df.mapInPandas(fn, spark_schema)


def compile_flat_map(
    df: DataFrame,
    f: Callable,
    out_schema: Schema,
    augment: bool,
    max_rows: Optional[int],
    keep=None,
    vectorized: bool = False,
) -> DataFrame:
    """Row->rows UDTF via mapInPandas.

    ``vectorized``: f(batch_pdf) returns (counts, new_columns) where
    counts[i] is the number of output rows for batch row i and the new
    columns hold all outputs in order. ``max_rows`` is enforced HERE
    (engine-side segment trim) — the DP stability bound cannot depend on
    the user function honoring its contract.
    """
    if not vectorized:
        df = _spread_rows(df)
    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if vectorized:
                # Snapshot the augment-carried input columns before f
                # (mutation safety) instead of deep-copying the whole
                # possibly-wide batch.
                base_in = (
                    pdf[[c for c in pdf.columns if c in out_cols]].copy()
                    if augment
                    else None
                )
                counts_v, produced_v = f(pdf)
                counts = np.asarray(counts_v, dtype=np.int64)
                new_df = (
                    produced_v
                    if isinstance(produced_v, pd.DataFrame)
                    else pd.DataFrame(produced_v)
                ).reset_index(drop=True)
                if counts.shape[0] != len(pdf) or counts.sum() != len(new_df):
                    raise ValueError(
                        "vectorized flat_map: counts must have one entry "
                        "per input row and sum to the output length"
                    )
                if max_rows is not None and len(new_df):
                    starts = np.repeat(
                        np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
                    )
                    offsets = np.arange(len(new_df)) - starts
                    mask = offsets < max_rows
                    new_df = new_df[mask].reset_index(drop=True)
                    counts = np.minimum(counts, max_rows)
            else:
                base_in = pdf
                per_row = []
                for r in _row_dicts(pdf):
                    produced = f(r)
                    if max_rows is not None:
                        produced = produced[:max_rows]
                    per_row.append(produced)
                flat = [res for lst in per_row for res in lst]
                new_df = _frame_from_rows(flat)
                counts = np.fromiter(
                    (len(lst) for lst in per_row),
                    dtype=np.int64,
                    count=len(per_row),
                )
            if augment:
                # Replicate each input row len(output) times with one
                # vectorized take, then attach new columns columnar —
                # ~10x faster than building row dicts for every output.
                # Only the input columns that survive pruning are carried.
                base_cols = [
                    c for c in base_in.columns
                    if c in out_cols and c not in new_df.columns
                ]
                base = base_in[base_cols].iloc[
                    np.repeat(np.arange(len(base_in)), counts)
                ].reset_index(drop=True)
                out = pd.concat([base, new_df], axis=1)
            else:
                out = new_df
            yield _coerce_out(out.reindex(columns=out_cols), out_schema)

    return df.mapInPandas(fn, spark_schema)


def compile_flat_map_by_id(
    df: DataFrame, f: Callable, id_column: str, out_schema: Schema, keep=None
) -> DataFrame:
    """All rows of one privacy ID -> new rows; ID column reattached.

    One hash shuffle on the ID plus a per-partition ID sort, then ONE
    mapInPandas kernel that slices each Arrow batch into ID runs with
    numpy and builds ONE output frame per batch. The obvious
    ``groupBy(id).applyInPandas`` shape pays a per-GROUP fixed cost
    (one Arrow slice, one fn dispatch, one pandas frame in AND out per
    ID — guide-§2.3's "ships every row" shape); with millions of tiny
    ID groups that overhead dominates the user function (measured
    3.3 s -> 1.9 s on 1500 groups x 67 rows at sf0.1; r10). A run can
    span two Arrow batches, so the kernel carries the open tail group
    across batch boundaries; hash partitioning guarantees an ID never
    spans tasks. Same groups, same rows — within-group row order is
    unspecified in both shapes (distributed shuffle order).
    """
    out_schema = _restrict_schema(out_schema, keep)
    spark_schema = _spark_schema_for(out_schema)
    out_cols = list(out_schema.columns)
    new_cols = [c for c in out_cols if c != id_column]

    def _run_starts(ids: "pd.Series") -> "np.ndarray":
        """Start offset of each equal-ID run (SQL semantics: nulls are
        one group, never boundaries between equal nulls)."""
        cur, prev = ids, ids.shift()
        change = (cur != prev) & ~(cur.isna() & prev.isna())
        change.iloc[0] = True
        return np.nonzero(change.to_numpy())[0]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Open tail run held as a LIST of chunks, concatenated once when
        # the run closes: re-concatenating the pending frame into every
        # new batch would copy O(m^2) bytes for one ID group spanning m
        # batches (r10 verdict #5 — a single pathological hot ID).
        pending_chunks: List[pd.DataFrame] = []

        def group_out(gpdf: pd.DataFrame, rows: list, ids_out: list) -> None:
            key = gpdf[id_column].iloc[0]
            key = None if pd.isna(key) else key
            for r in f(_row_dicts(gpdf)) or []:
                rows.append(r)
                ids_out.append(key)

        def flush_pending(rows: list, ids_out: list) -> None:
            if not pending_chunks:
                return
            g = (
                pending_chunks[0]
                if len(pending_chunks) == 1
                else pd.concat(pending_chunks, ignore_index=True)
            )
            pending_chunks.clear()
            group_out(g, rows, ids_out)

        def assemble(rows: list, ids_out: list) -> pd.DataFrame:
            out = pd.DataFrame(
                [{id_column: i, **{c: r.get(c) for c in new_cols}}
                 for i, r in zip(ids_out, rows)],
                columns=out_cols,
            )
            return _coerce_out(out, out_schema)

        for pdf in batches:
            if not len(pdf):
                continue
            rows: list = []
            ids_out: list = []
            starts = _run_starts(pdf[id_column])
            first_idx = 0
            if pending_chunks:
                pk = pending_chunks[0][id_column].iloc[0]
                fk = pdf[id_column].iloc[0]
                same = (pd.isna(pk) and pd.isna(fk)) or (
                    not pd.isna(pk) and not pd.isna(fk) and pk == fk
                )
                if same:
                    if starts.shape[0] == 1:
                        # Whole batch continues the open run: defer it.
                        pending_chunks.append(pdf.reset_index(drop=True))
                        continue
                    # First run closes the open run.
                    pending_chunks.append(
                        pdf.iloc[: starts[1]].reset_index(drop=True)
                    )
                    flush_pending(rows, ids_out)
                    first_idx = 1
                else:
                    flush_pending(rows, ids_out)
            for s, e in zip(starts[first_idx:-1], starts[first_idx + 1:]):
                group_out(pdf.iloc[s:e], rows, ids_out)
            # The last run may continue in the next batch: hold it back.
            pending_chunks.append(pdf.iloc[starts[-1]:].reset_index(drop=True))
            if rows:
                yield assemble(rows, ids_out)
        if pending_chunks:
            rows, ids_out = [], []
            flush_pending(rows, ids_out)
            if rows:
                yield assemble(rows, ids_out)

    return (
        df.repartition(id_column)
        .sortWithinPartitions(id_column)
        .mapInPandas(fn, spark_schema)
    )


# ---------------------------------------------------------------------------
# Special-value column expressions


def _replace_null_nan_col(c: str, ctype: ColumnType, value) -> F.Column:
    col = F.col(c)
    if ctype is ColumnType.DECIMAL:
        return F.when(col.isNull() | F.isnan(col), F.lit(value)).otherwise(col)
    return F.when(col.isNull(), F.lit(value)).otherwise(col)


def _replace_inf_col(c: str, lo: float, hi: float) -> F.Column:
    col = F.col(c)
    return (
        F.when(col == float("inf"), F.lit(hi))
        .when(col == float("-inf"), F.lit(lo))
        .otherwise(col)
    )


# ---------------------------------------------------------------------------
# Column pruning across Python UDF boundaries


def _idents(condition: str) -> frozenset:
    """Conservative superset of column names referenced by a Spark-SQL
    expression string (plain identifier scan; over-approximating keeps
    more columns, never breaks correctness)."""
    import re

    return frozenset(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", condition))


def compute_pruned_outputs(
    expr: E.QueryExpr,
    catalog: Dict[str, Schema],
    required: Optional[frozenset],
    out: Dict[int, frozenset],
) -> None:
    """Annotate Map/FlatMap/FlatMapByID nodes with the set of output
    columns consumed above them (projection pushdown through the UDF
    boundary). ``required=None`` means "all columns" and disables pruning
    below that point."""
    if isinstance(expr, (E.Map, E.FlatMap, E.FlatMapByID)):
        if required is not None:
            try:
                cs = expr.schema(catalog)
            except Exception:
                cs = None
            if cs is not None:
                keep = set(required)
                if cs.id_column:
                    keep.add(cs.id_column)
                if cs.grouping_column:
                    keep.add(cs.grouping_column)
                out[id(expr)] = frozenset(c for c in cs.columns if c in keep)
        # The UDF may read any input column: everything below stays wide.
        compute_pruned_outputs(expr.child, catalog, None, out)
        return
    if isinstance(expr, E.Filter):
        child_req = (
            None if required is None else required | _idents(expr.condition)
        )
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.Select):
        # A select's output is exactly its column list, whatever the
        # parent needs.
        compute_pruned_outputs(
            expr.child, catalog, frozenset(expr.columns), out
        )
        return
    if isinstance(expr, E.Rename):
        if required is None:
            child_req = None
        else:
            inv = {v: k for k, v in dict(expr.column_mapper).items()}
            child_req = frozenset(inv.get(c, c) for c in required)
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, (E.ReplaceNullAndNan, E.ReplaceInfinity)):
        targets = frozenset(c for c, _ in expr.replace_with)
        # Empty replace_with targets every eligible column: stay wide.
        child_req = None if (required is None or not targets) else required | targets
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, (E.DropNullAndNan, E.DropInfinity)):
        cols = frozenset(expr.columns)
        child_req = None if (required is None or not cols) else required | cols
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.BinColumn):
        if required is None:
            child_req = None
        else:
            outname = expr.name or f"{expr.column}_binned"
            child_req = (required - {outname}) | {expr.column}
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.EnforceConstraint):
        c = expr.constraint
        extra = {getattr(c, "grouping_column", None)} - {None}
        child_req = None if required is None else required | extra
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    if isinstance(expr, E.JoinPrivate):
        jc = frozenset(expr.join_columns or ())
        child_req = None if (required is None or not jc) else required | jc
        compute_pruned_outputs(expr.left_child, catalog, child_req, out)
        compute_pruned_outputs(expr.right_child, catalog, child_req, out)
        return
    if isinstance(expr, E.JoinPublic):
        jc = frozenset(expr.join_columns or ())
        child_req = None if (required is None or not jc) else required | jc
        compute_pruned_outputs(expr.child, catalog, child_req, out)
        return
    child = getattr(expr, "child", None)
    if child is not None:
        # Unknown node: stop pruning below it (safe default).
        compute_pruned_outputs(child, catalog, None, out)


def measurement_required_columns(expr: E.QueryExpr) -> Optional[frozenset]:
    """Columns a measurement root consumes from its child."""
    keys = getattr(expr, "groupby_keys", None)
    gcols: frozenset = frozenset()
    if isinstance(keys, KeySet):
        gcols = frozenset(keys.columns())
    elif isinstance(keys, E.AutoPartitionKeys):
        gcols = frozenset(keys.columns())
    if isinstance(expr, E.GroupByCount):
        return gcols
    if isinstance(expr, E.GroupByCountDistinct):
        if not expr.columns_to_count:
            return None  # counts distinct full rows
        return gcols | frozenset(expr.columns_to_count)
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
        return gcols | {expr.measure_column}
    if isinstance(expr, E.GetBounds):
        return gcols | {expr.measure_column}
    if isinstance(expr, E.GetGroups):
        return frozenset(expr.columns) if expr.columns else None
    if isinstance(expr, E.SuppressAggregates):
        return measurement_required_columns(expr.child)
    return None


# ---------------------------------------------------------------------------
# Transformation compiler


def compile_transform(expr: E.QueryExpr, ctx: CompileContext) -> CompiledTable:
    """Fold a transformation-only QueryExpr chain into a CompiledTable."""
    if isinstance(expr, E.PrivateSource):
        if expr.source_id in ctx.views:
            v = ctx.views[expr.source_id]
            return CompiledTable(
                v.df, v.schema, v.l1, v.l2, v.is_ids, list(v.constraints)
            )
        src = ctx.private_tables[expr.source_id]
        t = initial_table(src)
        carried = ctx.source_constraints.get(expr.source_id)
        if carried:
            t = dc_replace(t, constraints=simplify_constraints(list(carried)))
        return t

    if isinstance(expr, E.Filter):
        t = compile_transform(expr.child, ctx)
        return dc_replace(t, df=t.df.filter(expr.condition))

    if isinstance(expr, E.Select):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        kept = set(expr.columns)
        constraints = [
            c
            for c in t.constraints
            if not (
                isinstance(c, (MaxGroupsPerID, MaxRowsPerGroupPerID))
                and c.grouping_column not in kept
            )
        ]
        return CompiledTable(
            t.df.select(*expr.columns), schema, t.l1, t.l2, t.is_ids, constraints
        )

    if isinstance(expr, E.Rename):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        mapper = dict(expr.column_mapper)
        constraints = []
        for c in t.constraints:
            if isinstance(c, (MaxGroupsPerID, MaxRowsPerGroupPerID)):
                if c.grouping_column in mapper:
                    c = type(c)(mapper[c.grouping_column], c.max)
            constraints.append(c)
        return CompiledTable(
            t.df.withColumnsRenamed(mapper), schema, t.l1, t.l2, t.is_ids, constraints
        )

    if isinstance(expr, E.Map):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        df = compile_map(
            t.df, expr.f, schema, expr.augment,
            keep=ctx.pruned_outputs.get(id(expr)),
            vectorized=expr.vectorized,
        )
        constraints = list(t.constraints) if expr.augment else []
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, constraints)

    if isinstance(expr, E.FlatMap):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        if not t.is_ids and expr.max_rows is None:
            raise ValueError(
                "Flat maps on tables without IDs must have a max_rows parameter"
            )
        df = compile_flat_map(
            t.df, expr.f, schema, expr.augment, expr.max_rows,
            keep=ctx.pruned_outputs.get(id(expr)),
            vectorized=expr.vectorized,
        )
        # Stability: x max_rows; grouping flat maps scale L2 by sqrt(max_rows)
        # (reference GroupingFlatMap / RootSumOfSquared semantics).
        if t.is_ids:
            l1, l2 = t.l1, t.l2
        else:
            n = float(expr.max_rows)
            l1 = t.l1 * n
            l2 = t.l2 * (math.sqrt(n) if expr.grouping else n)
        # Only MaxGroupsPerID survives a flat map
        # (reference _constraint_propagation.py:97).
        constraints = [c for c in t.constraints if isinstance(c, MaxGroupsPerID)]
        return CompiledTable(df, schema, l1, l2, t.is_ids, constraints)

    if isinstance(expr, E.FlatMapByID):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        id_col = t.schema.id_column
        assert id_col is not None
        df = compile_flat_map_by_id(
            t.df, expr.f, id_col, schema,
            keep=ctx.pruned_outputs.get(id(expr)),
        )
        # Drops all constraints (reference _base_transformation_visitor.py:772-775).
        return CompiledTable(df, schema, t.l1, t.l2, True, [])

    if isinstance(expr, E.ReplaceNullAndNan):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        replace_with = dict(expr.replace_with)
        targets = (
            list(replace_with)
            if replace_with
            else [
                c
                for c in t.schema
                if (t.schema[c].allow_null or t.schema[c].allow_nan)
                and c != t.schema.grouping_column
                and c != t.schema.id_column
            ]
        )
        cols = {}
        for c in targets:
            ctype = t.schema[c].column_type
            value = replace_with.get(c, AnalyticsDefault.for_type(ctype))
            cols[c] = _replace_null_nan_col(c, ctype, value)
        df = t.df.withColumns(cols) if cols else t.df
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.ReplaceInfinity):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        replace_with = dict(expr.replace_with)
        targets = (
            replace_with
            if replace_with
            else {
                c: (
                    float(AnalyticsDefault.DECIMAL),
                    float(AnalyticsDefault.DECIMAL),
                )
                for c in t.schema
                if t.schema[c].column_type is ColumnType.DECIMAL
            }
        )
        cols = {c: _replace_inf_col(c, lo, hi) for c, (lo, hi) in targets.items()}
        df = t.df.withColumns(cols) if cols else t.df
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.DropNullAndNan):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        targets = list(expr.columns) or [
            c
            for c in t.schema
            if (t.schema[c].allow_null or t.schema[c].allow_nan)
            and c not in (t.schema.grouping_column, t.schema.id_column)
        ]
        df = t.df
        for c in targets:
            cond = F.col(c).isNotNull()
            if t.schema[c].column_type is ColumnType.DECIMAL:
                cond = cond & ~F.isnan(F.col(c))
            df = df.filter(cond)
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.DropInfinity):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        targets = list(expr.columns) or [
            c for c in t.schema if t.schema[c].allow_inf
        ]
        df = t.df
        for c in targets:
            # eqNullSafe: a plain NOT IN would evaluate NULL for null rows
            # and drop them; only the infinities must go (nulls, NaNs stay).
            df = df.filter(
                ~F.col(c).eqNullSafe(float("inf"))
                & ~F.col(c).eqNullSafe(float("-inf"))
            )
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.BinColumn):
        t = compile_transform(expr.child, ctx)
        schema = expr.schema(ctx.catalog)
        out = expr.name or f"{expr.column}_binned"
        df = t.df.withColumn(out, expr.spec.to_column(expr.column))
        return CompiledTable(df, schema, t.l1, t.l2, t.is_ids, list(t.constraints))

    if isinstance(expr, E.EnforceConstraint):
        t = compile_transform(expr.child, ctx)
        if not t.is_ids:
            raise ValueError("enforce() requires a table with a privacy ID")
        id_col = t.schema.id_column
        assert id_col is not None
        c = expr.constraint
        if isinstance(c, MaxRowsPerID):
            df = truncate_max_rows_per_id(t.df, id_col, c.max)
        elif isinstance(c, MaxGroupsPerID):
            df = truncate_max_groups_per_id(t.df, id_col, c.grouping_column, c.max)
        elif isinstance(c, MaxRowsPerGroupPerID):
            df = truncate_max_rows_per_group_per_id(
                t.df, id_col, c.grouping_column, c.max
            )
        else:
            raise TypeError(f"Unknown constraint {c!r}")
        constraints = simplify_constraints([*t.constraints, c])
        return CompiledTable(df, t.schema, t.l1, t.l2, True, constraints)

    if isinstance(expr, E.JoinPublic):
        return _compile_join_public(expr, ctx)

    if isinstance(expr, E.JoinPrivate):
        return _compile_join_private(expr, ctx)

    raise TypeError(f"Not a transformation node: {type(expr).__name__}")


def _public_df(public_table, ctx: CompileContext) -> DataFrame:
    if isinstance(public_table, str):
        return ctx.public_tables[public_table]
    from ..schema import coerce_spark_schema

    return coerce_spark_schema(public_table)


def _compile_join_public(expr: E.JoinPublic, ctx: CompileContext) -> CompiledTable:
    t = compile_transform(expr.child, ctx)
    schema = expr.schema(ctx.catalog)
    pub = _public_df(expr.public_table, ctx)
    join_cols = (
        list(expr.join_columns)
        if expr.join_columns
        else [c for c in t.df.columns if c in set(pub.columns)]
    )
    left, right, _ = disambiguate_columns(t.df, pub, join_cols)
    df = nullsafe_equi_join(left, right, join_cols, how=expr.how)
    df = df.select(*[c for c in schema.columns if c in df.columns])
    # Stability multiplies by the max multiplicity of the join key in the
    # public table (reference _constraint_propagation.py:199-210). This is
    # an eager Spark job; skipped when the budget is infinite (noise is
    # zero, sensitivity does not matter).
    if ctx.budget_is_infinite:
        mult = 1
    else:
        mrow = (
            pub.groupBy(*join_cols).count().agg(F.max("count").alias("m")).collect()
        )
        mult = int(mrow[0]["m"] or 1)
    constraints = []
    for c in t.constraints:
        if isinstance(c, MaxRowsPerID):
            constraints.append(MaxRowsPerID(c.max * mult))
        elif isinstance(c, MaxRowsPerGroupPerID):
            if c.grouping_column in schema:
                constraints.append(
                    MaxRowsPerGroupPerID(c.grouping_column, c.max * mult)
                )
        elif isinstance(c, MaxGroupsPerID):
            if c.grouping_column in schema:
                constraints.append(c)
    # ID tables carry sensitivity in their constraints (already multiplied
    # above); multiplying the row-stability too would double-count when
    # _truncate_for_measurement combines them.
    if t.is_ids:
        return CompiledTable(df, schema, t.l1, t.l2, True, constraints)
    return CompiledTable(
        df, schema, t.l1 * mult, t.l2 * mult, False, constraints
    )


def _compile_join_private(expr: E.JoinPrivate, ctx: CompileContext) -> CompiledTable:
    lt = compile_transform(expr.left_child, ctx)
    rt = compile_transform(expr.right_child, ctx)
    schema = expr.schema(ctx.catalog)
    join_cols = (
        list(expr.join_columns)
        if expr.join_columns
        else [c for c in lt.df.columns if c in set(rt.df.columns)]
    )
    if lt.is_ids and rt.is_ids:
        if lt.schema.id_space != rt.schema.id_space:
            raise ValueError(
                "Cannot privately join tables from different ID spaces"
            )
        if expr.truncation_strategy_left or expr.truncation_strategy_right:
            raise ValueError(
                "When joining with IDs, truncation strategies are not required"
            )
        if lt.schema.id_column not in join_cols:
            raise ValueError("ID tables must join on their ID column")
        left, right, _ = disambiguate_columns(lt.df, rt.df, join_cols)
        df = nullsafe_equi_join(left, right, join_cols, how="inner")
        df = df.select(*[c for c in schema.columns if c in df.columns])
        # Constraint product: each changed ID still has bounded rows if both
        # sides were bounded (reference _constraint_propagation.py:112-189).
        constraints: List[Constraint] = []
        lrows = [c for c in lt.constraints if isinstance(c, MaxRowsPerID)]
        rrows = [c for c in rt.constraints if isinstance(c, MaxRowsPerID)]
        if lrows and rrows:
            constraints.append(MaxRowsPerID(lrows[0].max * rrows[0].max))
        return CompiledTable(df, schema, 1.0, 1.0, True, constraints)
    if lt.is_ids or rt.is_ids:
        raise ValueError(
            "Cannot privately join an ID-protected table with a rows-protected one"
        )
    ls, rs = expr.truncation_strategy_left, expr.truncation_strategy_right
    if ls is None or rs is None:
        raise ValueError("When joining without IDs, truncation strategies are required")
    left_df = apply_truncation(lt.df, join_cols, ls)
    right_df = apply_truncation(rt.df, join_cols, rs)
    left, right, _ = disambiguate_columns(left_df, right_df, join_cols)
    df = nullsafe_equi_join(left, right, join_cols, how="inner")
    df = df.select(*[c for c in schema.columns if c in df.columns])
    l1 = join_truncation_stability(ls, rs, lt.l1, rt.l1)
    l2 = join_truncation_stability(ls, rs, lt.l2, rt.l2)
    return CompiledTable(df, schema, l1, l2, False, [])


# ---------------------------------------------------------------------------
# Budget / mechanism resolution


@dataclass
class BudgetSpec:
    """Decomposed numeric view of a PrivacyBudget for scale computation."""

    kind: str  # "puredp" | "approxdp" | "zcdp"
    epsilon: float = 0.0
    delta: float = 0.0
    rho: float = 0.0
    infinite: bool = False

    @classmethod
    def of(cls, budget: PrivacyBudget) -> "BudgetSpec":
        if isinstance(budget, ApproxDPBudget):
            return cls(
                "approxdp",
                epsilon=float(budget.epsilon),
                delta=float(budget.delta),
                infinite=budget.is_infinite(),
            )
        if isinstance(budget, PureDPBudget):
            return cls(
                "puredp", epsilon=float(budget.epsilon), infinite=budget.is_infinite()
            )
        if isinstance(budget, RhoZCDPBudget):
            return cls("zcdp", rho=float(budget.rho), infinite=budget.is_infinite())
        raise TypeError(f"Unknown budget {budget!r}")

    def split(self, k: int) -> "BudgetSpec":
        if self.infinite:
            return self
        return BudgetSpec(
            self.kind,
            epsilon=self.epsilon / k,
            delta=self.delta / k,
            rho=self.rho / k,
            infinite=False,
        )


def resolve_mechanism(
    requested, budget: BudgetSpec, integer_valued: bool
) -> NoiseMechanism:
    """Noise-mechanism selection (reference _rewrite_rules.py:91-199)."""
    name = requested.name if hasattr(requested, "name") else str(requested).upper()
    if name == "GAUSSIAN":
        if budget.kind != "zcdp":
            raise ValueError(
                "Gaussian noise requires a RhoZCDPBudget; use laplace instead"
            )
        return (
            NoiseMechanism.DISCRETE_GAUSSIAN if integer_valued else NoiseMechanism.GAUSSIAN
        )
    if name == "LAPLACE":
        return NoiseMechanism.GEOMETRIC if integer_valued else NoiseMechanism.LAPLACE
    # DEFAULT
    if budget.kind == "zcdp":
        return (
            NoiseMechanism.DISCRETE_GAUSSIAN
            if integer_valued
            else NoiseMechanism.GAUSSIAN
        )
    return NoiseMechanism.GEOMETRIC if integer_valued else NoiseMechanism.LAPLACE


def noise_scale(
    mechanism: NoiseMechanism, budget: BudgetSpec, l1: float, l2: float
) -> float:
    """Noise scale for sensitivity (l1, l2) under the budget.

    Geometric/Laplace consume epsilon: b = l1/epsilon. (Discrete) Gaussian
    consumes rho: sigma = sqrt(l2^2 / (2 rho)).
    """
    if budget.infinite:
        return 0.0
    if mechanism in (NoiseMechanism.GEOMETRIC, NoiseMechanism.LAPLACE):
        # Explicit Laplace under zCDP is allowed (reference permits it,
        # _rewrite_rules.py:104-105): an epsilon-DP Laplace mechanism is
        # (eps^2/2)-zCDP, so spending rho supports eps = sqrt(2 rho).
        eps = (
            math.sqrt(2.0 * budget.rho) if budget.kind == "zcdp" else budget.epsilon
        )
        if eps == 0:
            raise ValueError("Budget has no epsilon left for this query")
        return l1 / eps
    if budget.rho == 0:
        raise ValueError("Gaussian mechanisms require a zCDP budget with rho > 0")
    return math.sqrt(l2 * l2 / (2.0 * budget.rho))


# ---------------------------------------------------------------------------
# Measurement compiler


def _truncate_for_measurement(
    t: CompiledTable, groupby_cols: Sequence[str], budget_kind: str
) -> Tuple[DataFrame, float, float]:
    """ID tables: convert key-stability to row-stability via the recorded
    constraints, choosing the minimum-stability applicable set
    (reference _base_measurement_visitor.py:156-214, 534-589).

    Data was already truncated eagerly by enforce(), so this only computes
    sensitivity — no second shuffle.
    """
    if not t.is_ids:
        return t.df, t.l1, t.l2
    options: List[Tuple[float, float]] = []
    rows_c = [c for c in t.constraints if isinstance(c, MaxRowsPerID)]
    if rows_c:
        k = min(c.max for c in rows_c)
        options.append((float(k), float(k)))
    groups_c = {
        c.grouping_column: c.max
        for c in t.constraints
        if isinstance(c, MaxGroupsPerID)
    }
    rpg_c = {
        c.grouping_column: c.max
        for c in t.constraints
        if isinstance(c, MaxRowsPerGroupPerID)
    }
    for col, g in groups_c.items():
        if col in rpg_c:
            r = rpg_c[col]
            # The pair bounds total rows per ID at g*r for ANY query;
            # grouping on the constrained column additionally spreads a
            # changed ID over g cells, earning the sqrt(g) zCDP discount
            # (reference _base_measurement_visitor.py:182-214).
            options.append((float(g * r), float(g * r)))
            if col in groupby_cols:
                options.append((float(g * r), float(math.sqrt(g) * r)))
    if not options:
        raise ValueError(
            "A constraint on the number of rows contributed by each ID is "
            "needed to perform this query (e.g. MaxRowsPerID)"
        )
    if budget_kind == "zcdp":
        l1, l2 = min(options, key=lambda o: o[1])
    else:
        l1, l2 = min(options, key=lambda o: o[0])
    return t.df, l1 * t.l1, l2 * t.l2


#: Keysets at or below this many (estimated) rows are broadcast in the
#: pre-aggregation semi-join filter and the post-aggregation attach join.
#: Above it (or when the size is unknown and the keyset is not literal),
#: the plan falls back to shuffled joins and lets AQE pick the strategy at
#: runtime — an unconditional broadcast of a multi-GB keyset cross-product
#: would blow Spark's broadcast limit and driver memory at scale.
KEYSET_BROADCAST_LIMIT = 2**20


def _keyset_broadcastable(keys: KeySet) -> bool:
    est = keys.estimated_size()
    return est is not None and est <= KEYSET_BROADCAST_LIMIT


def _keyset_filter(df: DataFrame, keys: KeySet) -> DataFrame:
    """Prune rows outside the keyset BEFORE aggregating (broadcast semi join).

    At 100 TB this is the difference between shuffling every distinct group
    in the data and shuffling only keyset groups. Only applied when the
    keyset is small enough to broadcast: for huge keysets the semi-join
    would shuffle the full input a second time for no benefit — the
    post-aggregation attach join already drops out-of-keyset groups.
    """
    cols = list(keys.columns())
    if not cols:
        return df
    est = keys.estimated_size()
    if est is not None and est > KEYSET_BROADCAST_LIMIT:
        return df
    # unknown size (DataFrame-backed keyset): plain semi-join, AQE decides.
    return nullsafe_equi_join(
        df, keys.dataframe(), cols, how="left_semi", broadcast_right=est is not None
    )


def _keyset_attach(
    agg: DataFrame, keys: KeySet, fill: Dict[str, Any]
) -> DataFrame:
    """keyset LEFT JOIN agg -> noisy-zero fill for missing groups.

    Joins AFTER aggregation: agg has at most |keyset| rows, so it is the
    broadcast side when the keyset (and hence agg) is provably small
    (noisy zeros for missing groups, per reference semantics:
    noise-after-join, not noise-then-join). For huge or unknown-size
    keysets this is a shuffled join and AQE picks the runtime strategy.
    The fill also applies without group columns, where an aggregate over
    no rows (e.g. a sum) is NULL.
    """
    cols = list(keys.columns())
    if cols:
        agg = nullsafe_equi_join(
            keys.dataframe(),
            agg,
            cols,
            how="left",
            broadcast_right=_keyset_broadcastable(keys),
        )
    fills = {c: F.coalesce(col_named(c), F.lit(v)) for c, v in fill.items()}
    return agg.withColumns(fills) if fills else agg


def _clamp(col: F.Column, ctype: ColumnType, low, high) -> F.Column:
    if ctype is ColumnType.INTEGER and float(low).is_integer() and float(high).is_integer():
        lo, hi = int(low), int(high)
    else:
        lo, hi = float(low), float(high)
        col = col.cast("double")
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def _groupby(df: DataFrame, cols: Sequence[str]):
    return df.groupBy(*cols) if cols else df.groupBy()


@dataclass
class MeasurementResult:
    df: DataFrame
    noise_infos: List[NoiseInfo]


def compile_measurement(
    expr: E.QueryExpr, ctx: CompileContext, budget: PrivacyBudget
) -> MeasurementResult:
    """Compile an aggregation root into a noisy result DataFrame."""
    bspec = BudgetSpec.of(budget)
    ctx.budget_is_infinite = bspec.infinite

    child = getattr(expr, "child", None)
    if child is not None and not isinstance(expr, E.SuppressAggregates):
        compute_pruned_outputs(
            child,
            ctx.catalog,
            measurement_required_columns(expr),
            ctx.pruned_outputs,
        )

    if isinstance(expr, E.SuppressAggregates):
        inner = compile_measurement(expr.child, ctx, budget)
        return MeasurementResult(
            inner.df.filter(col_named(expr.column) >= expr.threshold),
            inner.noise_infos,
        )

    if isinstance(expr, E.GetGroups):
        return _compile_get_groups(expr, ctx, bspec)

    if isinstance(expr, (E.AutoPartitionKeys,)):  # pragma: no cover
        raise AnalyticsInternalError("AutoPartitionKeys is not a query node")

    keys = getattr(expr, "groupby_keys", None)
    if isinstance(keys, E.AutoPartitionKeys):
        return _compile_auto_partition(expr, ctx, bspec)

    if isinstance(expr, E.GroupByCount):
        return _compile_count(expr, ctx, bspec)
    if isinstance(expr, E.GroupByCountDistinct):
        return _compile_count_distinct(expr, ctx, bspec)
    if isinstance(expr, E.GroupByBoundedSum):
        return _compile_sum(expr, ctx, bspec)
    if isinstance(expr, E.GroupByBoundedAverage):
        return _compile_average(expr, ctx, bspec)
    if isinstance(expr, (E.GroupByBoundedVariance, E.GroupByBoundedStdev)):
        return _compile_variance(expr, ctx, bspec)
    if isinstance(expr, E.GroupByQuantiles):
        return _compile_quantiles(expr, ctx, bspec)
    if isinstance(expr, E.GetBounds):
        return _compile_get_bounds(expr, ctx, bspec)
    raise TypeError(f"Not a measurement node: {type(expr).__name__}")


class _Prepared(NamedTuple):
    t: CompiledTable
    df: DataFrame
    gcols: List[str]
    keys: KeySet
    l1: float
    l2: float


def _prep(expr, ctx: CompileContext, bspec: BudgetSpec) -> _Prepared:
    """Common head: compile child, truncate IDs, filter to keyset."""
    t = compile_transform(expr.child, ctx)
    keys: KeySet = expr.groupby_keys
    gcols = list(keys.columns())
    df, l1, l2 = _truncate_for_measurement(t, gcols, bspec.kind)
    return _Prepared(t, _keyset_filter(df, keys), gcols, keys, l1, l2)


#: One noisy quantity of a release: (aggregate, sensitivity per changed
#: row, integer-valued?).
Moment = Tuple[F.Column, float, bool]


def _noisy_release(
    expr, prep: _Prepared, bspec: BudgetSpec, moments: Dict[str, Moment]
) -> MeasurementResult:
    """The noisy-release path of every additive measurement: one
    groupBy().agg over all moments -> keyset attach, filling each moment
    with 0 / 0.0 -> budget split evenly across the moments (sequential
    composition) -> all noise in one projection -> cast each moment to
    long / double. NoiseInfos follow the moments' order."""
    agg = _groupby(prep.df, prep.gcols).agg(
        *(a.alias(c) for c, (a, _, _) in moments.items())
    )
    res = _keyset_attach(
        agg, prep.keys, {c: 0 if i else 0.0 for c, (_, _, i) in moments.items()}
    )
    share = bspec.split(len(moments))
    noise: Dict[str, Tuple[NoiseMechanism, float]] = {}
    for c, (_, sens, integer_valued) in moments.items():
        mech = resolve_mechanism(expr.mechanism, share, integer_valued)
        noise[c] = (mech, noise_scale(mech, share, prep.l1 * sens, prep.l2 * sens))
    res = add_noise(res, noise).withColumns(
        {
            c: col_named(c).cast("long" if i else "double")
            for c, (_, _, i) in moments.items()
        }
    )
    return MeasurementResult(res, [NoiseInfo(m, s) for m, s in noise.values()])


def _compile_count(
    expr: E.GroupByCount, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    prep = _prep(expr, ctx, bspec)
    return _noisy_release(
        expr, prep, bspec, {expr.output_column: (F.count(F.lit(1)), 1, True)}
    )


def _compile_count_distinct(
    expr: E.GroupByCountDistinct, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    prep = _prep(expr, ctx, bspec)
    # Exact distinct, then noise (NOT approx_count_distinct): dedup over
    # the counted columns + group columns, then a plain count.
    distinct_cols = (
        list(dict.fromkeys([*prep.gcols, *expr.columns_to_count]))
        if expr.columns_to_count
        else list(prep.df.columns)
    )
    deduped = prep._replace(df=prep.df.dropDuplicates(distinct_cols))
    return _noisy_release(
        expr, deduped, bspec, {expr.output_column: (F.count(F.lit(1)), 1, True)}
    )


def _compile_sum(
    expr: E.GroupByBoundedSum, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    prep = _prep(expr, ctx, bspec)
    ctype = prep.t.schema[expr.measure_column].column_type
    integer_valued = (
        ctype is ColumnType.INTEGER
        and float(expr.low).is_integer()
        and float(expr.high).is_integer()
    )
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high)
    sens = max(abs(float(expr.low)), abs(float(expr.high)))
    return _noisy_release(
        expr, prep, bspec, {expr.output_column: (F.sum(clamped), sens, integer_valued)}
    )


def _centred(expr, t: CompiledTable) -> Tuple[float, float, F.Column]:
    """(midpoint, half range, clamped measure minus midpoint as double)."""
    lo, hi = float(expr.low), float(expr.high)
    half_range = (hi - lo) / 2.0
    mid = lo + half_range
    ctype = t.schema[expr.measure_column].column_type
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high)
    return mid, half_range, clamped.cast("double") - F.lit(mid)


def _compile_average(
    expr: E.GroupByBoundedAverage, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """avg = midpoint + noisy_sum(x - midpoint) / max(noisy_count, 1);
    budget split evenly between the two noisy quantities."""
    prep = _prep(expr, ctx, bspec)
    mid, half_range, dev = _centred(expr, prep.t)
    rel = _noisy_release(
        expr,
        prep,
        bspec,
        {
            "__sdev__": (F.sum(dev), half_range, False),
            "__n__": (F.count(F.lit(1)), 1, True),
        },
    )
    n = F.greatest(F.col("__n__").cast("double"), F.lit(1.0))
    avg = F.lit(mid) + F.col("__sdev__") / n
    return dc_replace(
        rel, df=rel.df.withColumn(expr.output_column, avg).drop("__sdev__", "__n__")
    )


def _compile_variance(
    expr, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """Sample variance from noisy (sum dev, sum dev^2, count); budget split
    three ways. Stdev = sqrt(max(variance, 0))."""
    prep = _prep(expr, ctx, bspec)
    _, half_range, dev = _centred(expr, prep.t)
    rel = _noisy_release(
        expr,
        prep,
        bspec,
        {
            "__sd__": (F.sum(dev), half_range, False),
            "__sdd__": (F.sum(dev * dev), half_range * half_range, False),
            "__n__": (F.count(F.lit(1)), 1, True),
        },
    )
    n = F.greatest(F.col("__n__").cast("double"), F.lit(1.0))
    nm1 = F.greatest(F.col("__n__").cast("double") - F.lit(1.0), F.lit(1.0))
    var = (F.col("__sdd__") - (F.col("__sd__") * F.col("__sd__")) / n) / nm1
    var = F.greatest(var, F.lit(0.0))
    if isinstance(expr, E.GroupByBoundedStdev):
        var = F.sqrt(var)
    return dc_replace(
        rel,
        df=rel.df.withColumn(expr.output_column, var).drop(
            "__sd__", "__sdd__", "__n__"
        ),
    )


#: Number of histogram bins the DP quantile uses per group.
QUANTILE_BINS = 512

#: Picks a group's released values from its histogram: (bins, counts)
#: -> one value per output field. Bins are unique within a group; a
#: keyset group with no data gets empty arrays.
Picker = Callable[[np.ndarray, np.ndarray], Sequence[Any]]


def _histogram_release(
    prep: _Prepared,
    bin_col: F.Column,
    count_noise: Optional[Tuple[NoiseMechanism, float]],
    picker: Picker,
    outputs: T.StructType,
) -> DataFrame:
    """The release path of every histogram measurement: count per (group,
    bin) -> optional noise on each count -> each group's bins and counts
    collected in one groupBy().agg -> keyset attach -> ``picker`` per
    group in one nondeterministic Arrow UDF.

    groupBy().agg gives one row even over no input rows, and the attach
    gives every keyset group a row, so a group with no data is released
    by the picker's own mechanism (noise after join), never by a fill."""
    counts = _groupby(
        prep.df.withColumn("__bin__", bin_col), [*prep.gcols, "__bin__"]
    ).agg(F.count(F.lit(1)).alias("__c__"))
    if count_noise is not None:
        counts = add_noise(counts, {"__c__": count_noise})
    hist = _groupby(counts, prep.gcols).agg(
        F.collect_list("__bin__").alias("__bins__"),
        F.collect_list("__c__").alias("__cs__"),
    )
    hist = _keyset_attach(hist, prep.keys, {})
    names = outputs.fieldNames()

    def pick(bins: pd.Series, cs: pd.Series) -> pd.DataFrame:
        none = np.empty(0)
        rows = [
            picker(
                np.asarray(none if b is None else b, dtype=np.int64),
                np.asarray(none if c is None else c, dtype=np.float64),
            )
            for b, c in zip(bins, cs)
        ]
        return pd.DataFrame(rows, columns=names)

    udf = F.pandas_udf(pick, outputs).asNondeterministic()
    picked = hist.withColumn("__out__", udf("__bins__", "__cs__"))
    return picked.select(
        *(col_named(c) for c in prep.gcols),
        *(F.col("__out__").getField(n).alias(n) for n in names),
    )


def _compile_quantiles(
    expr: E.GroupByQuantiles, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """Exponential-mechanism quantile(s) over ONE fixed per-group histogram.

    Clamp -> bin (Catalyst arithmetic) -> :func:`_histogram_release`,
    whose picker runs the exponential mechanism once per requested
    quantile over <=QUANTILE_BINS bins. The histogram pass — the only part
    that touches the data — is shared by all m quantiles; the total
    budget splits evenly across the m mechanisms (sequential
    composition). Scales to any number of groups; never collects raw
    values.

    With an infinite budget this deterministically returns the midpoint of
    the best-utility bin per quantile (reference returns a point inside
    the optimal interval; the bin width bounds the difference).
    """
    prep = _prep(expr, ctx, bspec)
    qs = [float(q) for q in expr.quantiles]
    m = len(qs)
    lo, hi = float(expr.low), float(expr.high)
    nb = QUANTILE_BINS
    width = (hi - lo) / nb
    ctype = prep.t.schema[expr.measure_column].column_type
    clamped = _clamp(F.col(expr.measure_column), ctype, expr.low, expr.high).cast(
        "double"
    )
    bin_col = F.least(
        F.floor((clamped - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(nb - 1)
    )
    total_eps = float("inf") if bspec.infinite else (
        bspec.epsilon if bspec.kind in ("puredp", "approxdp") else None
    )
    # Under zCDP, the exponential mechanism runs with epsilon derived from
    # rho: a rho-zCDP exponential mechanism satisfies eps = sqrt(8*rho).
    # For m quantiles the rho splits first (rho/m each), so each
    # mechanism gets eps_i = sqrt(8*rho/m).
    if total_eps is None:
        rho_each = (bspec.rho / m) if bspec.rho > 0 else 0.0
        eps = math.sqrt(8.0 * rho_each) if rho_each > 0 else 0.0
    else:
        eps = total_eps if not math.isfinite(total_eps) else total_eps / m
    sens = prep.l1 if bspec.kind != "zcdp" else prep.l2
    # Per-row utility sensitivity of u_i = -|cum_i + c_i/2 - q*n|. The
    # target q*n is data-dependent, so adding/removing one row moves BOTH
    # the rank term and the target; by case on where the row lands
    # relative to candidate bin i:
    #   row below bin i:  |Δ(cum_i) - q·Δn| = |1 - q|
    #   row inside bin i: |Δ(c_i)/2 - q·Δn| = |1/2 - q|
    #   row above bin i:  |0 - q·Δn|        = q
    # all bounded by max(q, 1-q) <= 1. Over l1 changed rows the total
    # utility sensitivity is du = sens * max(q, 1-q), and the exponential
    # mechanism scores with eps/(2*du).

    def em_quantiles(bins: np.ndarray, counts: np.ndarray) -> List[float]:
        counts_arr = np.zeros(nb, dtype=np.float64)
        counts_arr[bins] = counts
        n = counts_arr.sum()
        cum = np.concatenate([[0.0], np.cumsum(counts_arr)])  # cum[i] = below bin i
        out = []
        for q in qs:
            target = q * n
            # Utility of bin i: -|rank error| at the bin boundary region.
            util = -np.abs(cum[:-1] + counts_arr / 2.0 - target)
            if not np.isfinite(eps) or eps <= 0:
                idx = int(np.argmax(util))
            else:
                # Exponential mechanism (Gumbel trick); total utility
                # sensitivity sens * max(q, 1-q) (see analysis above).
                du_per_row = max(q, 1.0 - q)
                scores = (eps / (2.0 * max(sens * du_per_row, 1e-12))) * util
                g = np.random.default_rng().gumbel(size=nb)
                idx = int(np.argmax(scores + g))
            out.append(float(lo + (idx + 0.5) * width))
        return out

    outputs = T.StructType(
        [T.StructField(o, T.DoubleType(), True) for o in expr.output_columns]
    )
    res = _histogram_release(prep, bin_col, None, em_quantiles, outputs)
    infos = [
        NoiseInfo(NoiseMechanism.EXPONENTIAL, 0.0 if bspec.infinite else eps)
        for _ in qs
    ]
    return MeasurementResult(res, infos)


def _compile_get_groups(
    expr: E.GetGroups, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """DP partition selection: noisy count per present group, threshold.

    Keys released iff noisy_count >= tau where tau satisfies the
    (epsilon, delta) key-release guarantee; with infinite budget tau = 1
    and zero noise (all non-empty groups released).
    """
    if bspec.kind != "approxdp" and not bspec.infinite:
        raise ValueError("get_groups requires an ApproxDPBudget")
    t = compile_transform(expr.child, ctx)
    cs = t.schema
    if cs.id_column and expr.columns and cs.id_column in expr.columns:
        # Releasing IDs whose counts clear the threshold would publish raw
        # user identifiers (reference session.py get_groups guard).
        raise RuntimeError(
            "get_groups cannot be used on the privacy ID column "
            f"({cs.id_column!r})"
        )
    cols = list(expr.columns) or [c for c in cs if c != cs.id_column]
    df, l1, l2 = _truncate_for_measurement(t, cols, bspec.kind)
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__c__"))
    if bspec.infinite:
        res = counts.filter(F.col("__c__") >= 1).drop("__c__")
        return MeasurementResult(res, [NoiseInfo(NoiseMechanism.GEOMETRIC, 0.0)])
    eps, delta = bspec.epsilon, bspec.delta
    if delta <= 0:
        raise ValueError("get_groups requires delta > 0")
    b = l1 / eps
    # Threshold calibrated to the row-stability l1 (not just l1 = 1): one
    # protected change can add up to l1 rows, all landing in one brand-new
    # group (true count l1, release prob (1/2)exp(-(tau-l1)/b)) or spread
    # over up to l1 new groups (union bound adds a factor l1). Solving
    # (l1/2)exp(-(tau-l1)/b) <= delta gives tau = l1 + b*ln(l1/(2*delta)).
    tau = max(1.0, l1 + b * math.log(l1 / (2.0 * delta)))
    noisy = add_noise(counts, {"__c__": (NoiseMechanism.GEOMETRIC, b)})
    res = noisy.filter(F.col("__c__") >= tau).drop("__c__")
    return MeasurementResult(res, [NoiseInfo(NoiseMechanism.GEOMETRIC, b)])


def _compile_get_bounds(
    expr: E.GetBounds, ctx: CompileContext, bspec: BudgetSpec
) -> MeasurementResult:
    """DP clamping-bound estimate via a noisy histogram over power-of-two
    magnitude bins; returns the smallest +-2^k covering ~95% of rows
    (reference behavior: +-128 for data 0..99)."""
    prep = _prep(expr, ctx, bspec)
    mag = F.abs(F.col(expr.measure_column).cast("double"))
    # bin = ceil(log2(|x|)) for |x| > 1, else 0; sign-agnostic magnitude bin.
    binexp = F.when(mag <= 1.0, F.lit(0)).otherwise(
        F.ceil(F.log2(mag)).cast("int")
    )
    eps = bspec.epsilon if bspec.kind != "zcdp" else math.sqrt(8.0 * bspec.rho)
    scale = 0.0 if bspec.infinite else (2.0 * prep.l1 / eps if eps > 0 else 0.0)
    mtype = prep.t.df.schema[expr.measure_column].dataType
    is_int = isinstance(mtype, (T.LongType, T.IntegerType))

    def pick_bound(bins: np.ndarray, counts: np.ndarray) -> Tuple[Any, Any]:
        pairs = sorted(zip(bins.tolist(), counts.tolist()))
        total = sum(max(c, 0.0) for _, c in pairs)
        bound = 1.0
        if total > 0:
            acc = 0.0
            for b, c in pairs:
                acc += max(c, 0.0)
                bound = 2.0 ** b
                if acc / total >= 0.95:
                    break
        val = int(bound) if is_int else float(bound)
        return -val, val

    outputs = T.StructType(
        [
            T.StructField(expr.lower_bound_column, mtype, True),
            T.StructField(expr.upper_bound_column, mtype, True),
        ]
    )
    res = _histogram_release(
        prep, binexp, (NoiseMechanism.GEOMETRIC, scale), pick_bound, outputs
    )
    return MeasurementResult(res, [NoiseInfo(NoiseMechanism.GEOMETRIC, scale)])


def _compile_auto_partition(expr, ctx: CompileContext, bspec: BudgetSpec):
    """groupby(column_names): DP-discover keys via partition selection
    (epsilon/2 + all delta), then run the aggregation (epsilon/2) over the
    discovered KeySet (reference _base_measurement_visitor.py:343-364)."""
    if bspec.kind != "approxdp" and not bspec.infinite:
        raise ValueError(
            "groupby() with column names (automatic partition selection) "
            "requires an ApproxDPBudget"
        )
    detect_cols = expr.groupby_keys.cols
    fixed = expr.groupby_keys.fixed
    plan = expr.groupby_keys.plan
    if bspec.infinite:
        sel_budget = ApproxDPBudget(float("inf"), 1)
        agg_budget: PrivacyBudget = ApproxDPBudget(float("inf"), 1)
    else:
        sel_budget = ApproxDPBudget(bspec.epsilon / 2, bspec.delta)
        agg_budget = ApproxDPBudget(bspec.epsilon / 2, 0)
    groups = compile_measurement(
        E.GetGroups(expr.child, tuple(detect_cols)), ctx, sel_budget
    )
    detected_df = groups.df
    if not bspec.infinite and not ctx.introspection_only:
        # The detected keys come from a NOISY partition selection: the
        # aggregation plan reads them twice (semi-filter + attach), and a
        # lazy/persisted plan could recompute and redraw different keys.
        # Eager localCheckpoint pins one draw and severs the lineage;
        # the blocks are released by Spark's ContextCleaner when the
        # DataFrame is garbage-collected (no persist leak).
        detected_df = detected_df.localCheckpoint(eager=True)
    keyset = KeySet.from_dataframe(detected_df)
    if plan is not None:
        # KeySetPlan: fixed factors crossed with the detected keys, then
        # any deferred algebra (filter/project/join/...) in plan order.
        keyset = plan.resolve(keyset)
    elif fixed is not None:
        keyset = fixed * keyset
    concrete = dc_replace(expr, groupby_keys=keyset)
    inner = compile_measurement(concrete, ctx, agg_budget)
    return MeasurementResult(inner.df, groups.noise_infos + inner.noise_infos)
