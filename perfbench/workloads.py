"""The benchmark's seeded workloads.

A workload is a list of *units*. A unit is one or more operations that
must run in order on one session (a view is created before it is
queried; partition children are used in creation order). Each operation
is timed from its builder call until its result rows are on the driver.

The seed picks filter thresholds, clamp bounds, KeySet sub-ranges, the
epsilon of every query and the order of the units. The library sees only
the generated queries. Every pass over the workload runs the same units
with the same parameters, so per-operation counters repeat exactly.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from fractions import Fraction
from typing import Callable, List, Optional

from pyspark.sql import functions as F

import datagen
from tumult_analytics_spark import (
    AddOneRow,
    AddRowsWithID,
    ApproxDPBudget,
    KeySet,
    MaxRowsPerID,
    PureDPBudget,
    QueryBuilder,
    Session,
    TruncationStrategy,
)

#: Total budget of a benchmark session: far more than any run spends.
SESSION_EPSILON = Fraction(1 << 16)
SESSION_DELTA = Fraction(1, 1 << 8)
GET_GROUPS_DELTA = Fraction(1, 1 << 24)
#: Epsilon of every query in the oracle replay. The library evaluates it on
#: the same finite-budget path as the timed queries (noise sampler,
#: checkpoint), with noise of at most sensitivity * 2**-40: integer
#: mechanisms draw exactly 0, and sums, averages, variances and stdevs
#: were within 1e-8 relative of an infinite-budget evaluate.
ORACLE_EPSILON = Fraction(1 << 40)


class Budgets:
    """Hands out query budgets and records what each session was charged.

    The oracle replay of a unit uses ``oracle=True``: the same queries,
    each at ``ORACLE_EPSILON``, on a session with an infinite budget.
    """

    def __init__(self, oracle: bool):
        self.oracle = oracle
        #: id(session) -> (session, [initial (eps, delta), -charge, ...])
        self.ledger: dict = {}

    def open(self, sess: Session, eps: Fraction, delta: Fraction) -> None:
        self.ledger[id(sess)] = (sess, [(eps, delta)])

    def _charge(self, sess: Session, eps: Fraction, delta: Fraction) -> None:
        if not self.oracle:
            self.ledger[id(sess)][1].append((-eps, -delta))

    def pure(self, sess: Session, eps: Fraction) -> PureDPBudget:
        self._charge(sess, eps, Fraction(0))
        return PureDPBudget(ORACLE_EPSILON if self.oracle else eps)

    def approx(self, sess: Session, eps: Fraction, delta: Fraction) -> ApproxDPBudget:
        self._charge(sess, eps, delta)
        return ApproxDPBudget(ORACLE_EPSILON if self.oracle else eps, delta)

    def mismatches(self) -> List[str]:
        """Sessions whose remaining budget is not initial minus charges."""
        bad = []
        for sess, entries in self.ledger.values():
            eps = sum(e for e, _ in entries)
            delta = sum(d for _, d in entries)
            got = sess.remaining_privacy_budget
            want_delta = delta if isinstance(got, ApproxDPBudget) else None
            got_delta = got.delta if want_delta is not None else None
            if got.epsilon != eps or got_delta != want_delta:
                bad.append(f"remaining {got!r}, expected eps={eps} delta={delta}")
        return bad


@dataclass
class Evaluation:
    """One ``Session.evaluate`` result as the gate needs it."""

    kind: str  # additive | nonlinear | quantile | groups
    df: object  # the DataFrame evaluate returned
    rows: object  # pandas frame fetched inside the timed region
    query: object
    budget: object
    session: Session
    key_cols: List[str]
    value_col: str
    keyset: Optional[KeySet] = None
    bounds: Optional[tuple] = None
    same_on_refetch: bool = True
    noise_info: list = field(default_factory=list)


@dataclass
class Op:
    name: str
    fn: Callable  # (Env) -> List[Evaluation]


@dataclass
class Unit:
    name: str
    ops: List[Op]


@dataclass
class Env:
    """What operations may touch: the Spark session and registered tables."""

    spark: object
    tables: dict
    session: Session
    budgets: Budgets
    state: dict = field(default_factory=dict)
    #: Gate work to run on each evaluation outside the timed region, and
    #: the time it took during the current operation.
    after_eval: Optional[Callable] = None
    gate_s: float = 0.0


def _eps(rng: random.Random, lo: int = 2, hi: int = 8) -> Fraction:
    """A dyadic epsilon in [lo/8, hi/8], so budget arithmetic stays exact."""
    return Fraction(rng.randint(lo, hi), 8)


def _evaluate(env: Env, sess, kind, query, budget, key_cols, value_col,
              keyset=None, bounds=None) -> Evaluation:
    df = sess.evaluate(query, budget)
    rows = df.toPandas()
    ev = Evaluation(kind, df, rows, query, budget, sess, key_cols,
                    value_col, keyset, bounds)
    if env.after_eval is not None:
        env.after_eval(ev)
    return ev


# ---------------------------------------------------------------------------
# dp_interactive: an analyst session on sf0.01 with small KeySets. Each
# operation releases one aggregate; together they cover every aggregation
# kind, both join kinds, an ID table, a cached view and partitioning.


def _interactive_units(rng: random.Random) -> List[Unit]:
    RF, LS, SM = datagen.RETURNFLAGS, datagen.LINESTATUS, datagen.SHIPMODES
    units: List[Unit] = []

    def single(name, make):
        units.append(Unit(name, [Op(name, make)]))

    t_disc = rng.choice([0.01, 0.02, 0.03, 0.04, 0.05])
    e_count = _eps(rng)

    def count(env: Env):
        q = QueryBuilder("lineitem").filter(f"l_discount > {t_disc}").count(name="n")
        b = env.budgets.pure(env.session, e_count)
        return [_evaluate(env, env.session, "additive", q, b, [], "n")]

    single("count", count)

    e_groups = _eps(rng, 8, 16)
    t_groups = rng.randint(10, 40)

    def get_groups(env: Env):
        q = (QueryBuilder("lineitem").filter(f"l_quantity <= {t_groups}")
             .get_groups(["l_shipmode", "l_returnflag"]))
        b = env.budgets.approx(env.session, e_groups, GET_GROUPS_DELTA)
        return [_evaluate(env, env.session, "groups", q, b,
                          ["l_shipmode", "l_returnflag"], "")]

    single("get_groups", get_groups)

    e_pub = _eps(rng)
    t_bal = rng.choice([-500, 0, 1000, 2000])

    def public_join_count_distinct(env: Env):
        ks = KeySet.from_dict({"c_mktsegment": datagen.SEGMENTS})
        q = (QueryBuilder("orders").rename({"o_custkey": "c_custkey"})
             .join_public("customer", join_columns=["c_custkey"])
             .filter(f"c_acctbal >= {t_bal}")
             .groupby(ks).count_distinct(["c_custkey"], name="nd"))
        b = env.budgets.pure(env.session, e_pub)
        return [_evaluate(env, env.session, "additive", q, b, ["c_mktsegment"], "nd", ks)]

    single("public_join_count_distinct", public_join_count_distinct)

    e_priv = _eps(rng)
    trunc = rng.randint(3, 7)
    avg_hi = rng.choice([2000, 3000, 4000, 5000])

    def private_join_average(env: Env):
        ks = KeySet.from_dict({"o_orderstatus": datagen.ORDERSTATUS})
        q = (QueryBuilder("lineitem").rename({"l_orderkey": "o_orderkey"})
             .join_private(
                 "orders",
                 truncation_strategy_left=TruncationStrategy.DropExcess(trunc),
                 truncation_strategy_right=TruncationStrategy.DropExcess(1),
                 join_columns=["o_orderkey"])
             .groupby(ks).average("l_extendedprice", 0, avg_hi, name="a"))
        b = env.budgets.pure(env.session, e_priv)
        return [_evaluate(env, env.session, "nonlinear", q, b, ["o_orderstatus"], "a", ks)]

    single("private_join_average", private_join_average)

    e_ids = _eps(rng)
    max_rows = rng.randint(2, 6)
    var_hi = rng.choice([100_000, 200_000, 300_000])

    def id_table_variance(env: Env):
        ks = KeySet.from_dict({"o_orderpriority": datagen.PRIORITIES})
        q = (QueryBuilder("orders_by_customer").enforce(MaxRowsPerID(max_rows))
             .groupby(ks).variance("o_totalprice", 0, var_hi, name="v"))
        b = env.budgets.pure(env.session, e_ids)
        return [_evaluate(env, env.session, "nonlinear", q, b, ["o_orderpriority"], "v", ks)]

    single("id_table_variance", id_table_variance)

    # A cached view, then a grouped count and a sum on it; the unit
    # drops the view.
    v_qty = rng.randint(5, 30)
    e_vc, e_vs = _eps(rng), _eps(rng)
    sum_hi = rng.choice([20, 30, 40, 50])

    def view_create_count(env: Env):
        env.session.create_view(
            QueryBuilder("lineitem").filter(f"l_quantity >= {v_qty}")
            .select(["l_returnflag", "l_linestatus", "l_shipmode", "l_quantity"]),
            "big_lines", cache=True)
        ks = KeySet.from_dict({"l_returnflag": RF, "l_linestatus": LS})
        q = QueryBuilder("big_lines").groupby(ks).count(name="n")
        b = env.budgets.pure(env.session, e_vc)
        return [_evaluate(env, env.session, "additive", q, b,
                          ["l_returnflag", "l_linestatus"], "n", ks)]

    def view_sum_drop(env: Env):
        ks = KeySet.from_dict({"l_shipmode": SM, "l_returnflag": RF})
        q = QueryBuilder("big_lines").groupby(ks).sum("l_quantity", 0, sum_hi, name="s")
        b = env.budgets.pure(env.session, e_vs)
        out = [_evaluate(env, env.session, "additive", q, b,
                         ["l_shipmode", "l_returnflag"], "s", ks)]
        env.session.delete_view("big_lines")
        return out

    units.append(Unit("view", [Op("view_create_count", view_create_count),
                               Op("view_sum_drop", view_sum_drop)]))

    # partition_and_create on l_linestatus; the children, in creation
    # order, release a stdev and a median.
    ep = _eps(rng, 4, 8)
    child_eps = [_eps(rng, 2, 4) for _ in LS]
    splits = {f"part_{v.lower()}": v for v in LS}
    t_tax = rng.choice([0.0, 0.02, 0.04])
    med_hi = rng.choice([40, 50, 60])

    def child_query(i: int, name: str):
        if i == 0:
            ks = KeySet.from_dict({"l_returnflag": RF})
            q = (QueryBuilder(name).filter(f"l_tax >= {t_tax}").groupby(ks)
                 .stdev("l_discount", 0, 0.1, name="sd"))
            return "nonlinear", q, ks, ["l_returnflag"], "sd", None
        ks = KeySet.from_dict({"l_shipmode": SM})
        q = QueryBuilder(name).groupby(ks).median("l_quantity", 0, med_hi, name="m")
        return "quantile", q, ks, ["l_shipmode"], "m", (0, med_hi)

    def child_op(i: int):
        name = list(splits)[i]

        def run(env: Env):
            if i == 0:
                children = env.session.partition_and_create(
                    "lineitem", env.budgets.pure(env.session, ep),
                    "l_linestatus", splits)
                env.state["children"] = children
                for child in children.values():
                    env.budgets.open(child, ep, Fraction(0))
            child = env.state["children"][name]
            kind, q, ks, keys, col, bounds = child_query(i, name)
            b = env.budgets.pure(child, child_eps[i])
            out = [_evaluate(env, child, kind, q, b, keys, col, ks, bounds)]
            child.stop()
            return out

        return Op("partition_create_stdev" if i == 0 else "partition_child_median", run)

    units.append(Unit("partition", [child_op(i) for i in range(len(LS))]))
    return units


def _interactive_tables(spark, data_dir: str) -> dict:
    read = lambda t: spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
    return {t: read(t) for t in ("lineitem", "orders", "customer")}


def _interactive_session(tables: dict, eps, delta) -> Session:
    return (
        Session.Builder()
        .with_privacy_budget(ApproxDPBudget(eps, delta))
        .with_private_dataframe("lineitem", tables["lineitem"], AddOneRow())
        .with_private_dataframe("orders", tables["orders"], AddOneRow())
        .with_private_dataframe(
            "orders_by_customer", tables["orders"], AddRowsWithID("o_custkey"))
        .with_public_dataframe("customer", tables["customer"])
        .build()
    )


# ---------------------------------------------------------------------------
# dp_wide: release-the-whole-table queries on sf0.1 with ~6*10^4-group
# KeySets built from DataFrames: a count, a sum over a view of an
# ID-truncated table, and an average over a private join.


def _wide_units(rng: random.Random) -> List[Unit]:
    SM = datagen.SHIPMODES
    n_part = 20_000
    units: List[Unit] = []

    def part_range(width: int):
        lo = rng.randint(1, n_part - width + 1)
        return lo, lo + width

    def pairs(env: Env, lo: int, hi: int) -> KeySet:
        ps = env.tables["partsupp"]
        return KeySet.from_dataframe(
            ps.filter((F.col("ps_partkey") >= lo) & (F.col("ps_partkey") < hi))
            .select(F.col("ps_partkey").alias("l_partkey"),
                    F.col("ps_suppkey").alias("l_suppkey")))

    def modes() -> KeySet:
        return KeySet.from_dict({"l_shipmode": SM})

    c_lo, c_hi = part_range(2200)
    ec = _eps(rng, 4, 16)

    def wide_count(env: Env):
        ks = pairs(env, c_lo, c_hi) * modes()
        q = QueryBuilder("lineitem").groupby(ks).count(name="n")
        b = env.budgets.pure(env.session, ec)
        return [_evaluate(env, env.session, "additive", q, b,
                          ["l_partkey", "l_suppkey", "l_shipmode"], "n", ks)]

    units.append(Unit("wide_count", [Op("wide_count", wide_count)]))

    i_lo, i_hi = part_range(8800)
    i_rows = rng.randint(2, 5)
    i_top = rng.choice([25, 40, 50])
    ei = _eps(rng, 4, 16)

    def wide_ids_sum(env: Env):
        # Truncate IDs in a view, release a sum from it, drop the view.
        env.session.create_view(
            QueryBuilder("lineitem_by_order").enforce(MaxRowsPerID(i_rows)),
            "truncated_lines")
        part = env.tables["part"]
        ks = KeySet.from_dataframe(
            part.filter((F.col("p_partkey") >= i_lo) & (F.col("p_partkey") < i_hi))
            .select(F.col("p_partkey").alias("l_partkey"))) * modes()
        q = (QueryBuilder("truncated_lines")
             .groupby(ks).sum("l_quantity", 0, i_top, name="s"))
        b = env.budgets.pure(env.session, ei)
        out = [_evaluate(env, env.session, "additive", q, b,
                         ["l_partkey", "l_shipmode"], "s", ks)]
        env.session.delete_view("truncated_lines")
        return out

    units.append(Unit("wide_ids_sum", [Op("wide_ids_sum", wide_ids_sum)]))

    a_lo, a_hi = part_range(2200)
    a_top = rng.choice([3000, 4000, 5000])
    j_trunc = rng.randint(3, 7)
    ea = _eps(rng, 4, 16)

    def wide_join_average(env: Env):
        part = env.tables["part"]
        brands = KeySet.from_dataframe(
            part.filter((F.col("p_partkey") >= a_lo) & (F.col("p_partkey") < a_hi))
            .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
        ks = brands.join(pairs(env, a_lo, a_hi)) * modes()
        q = (QueryBuilder("lineitem").rename({"l_orderkey": "o_orderkey"})
             .join_private(
                 "orders",
                 truncation_strategy_left=TruncationStrategy.DropExcess(j_trunc),
                 truncation_strategy_right=TruncationStrategy.DropExcess(1),
                 join_columns=["o_orderkey"])
             .join_public("part_brand", join_columns=["l_partkey"])
             .groupby(ks).average("l_extendedprice", 0, a_top, name="a"))
        b = env.budgets.pure(env.session, ea)
        return [_evaluate(env, env.session, "nonlinear", q, b,
                          ["l_partkey", "p_brand", "l_suppkey", "l_shipmode"], "a", ks)]

    units.append(Unit("wide_join_average", [Op("wide_join_average", wide_join_average)]))
    return units


def _wide_tables(spark, data_dir: str) -> dict:
    read = lambda t: spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
    tables = {t: read(t) for t in ("lineitem", "orders", "part", "partsupp")}
    tables["part_brand"] = tables["part"].select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    return tables


def _wide_session(tables: dict, eps, delta) -> Session:
    return (
        Session.Builder()
        .with_privacy_budget(ApproxDPBudget(eps, delta))
        .with_private_dataframe("lineitem", tables["lineitem"], AddOneRow())
        .with_private_dataframe("orders", tables["orders"], AddOneRow())
        .with_private_dataframe(
            "lineitem_by_order", tables["lineitem"], AddRowsWithID("l_orderkey"))
        .with_public_dataframe("part_brand", tables["part_brand"])
        .build()
    )


# ---------------------------------------------------------------------------


@dataclass
class Workload:
    scale: float
    make_units: Callable
    read_tables: Callable
    build_session: Callable
    #: Run the first unit of the seeded order once, untimed, before timing.
    #: On dp_interactive the first operation on the benchmark session took
    #: up to 1.5 times its later latency, so the seeded order decided which
    #: operation paid for it. On dp_wide untimed operations before timing
    #: made the timed ones slower and less steady (p50 and tail spreads
    #: over ten seeds 0.13 and 0.22 with a warm-up unit, 0.09 and 0.08
    #: without), and they added 5-7 s to a run.
    warm_first_unit: bool

    def units(self, seed: int) -> List[Unit]:
        """The seeded units, in the seeded order of one pass."""
        rng = random.Random(seed)
        units = self.make_units(rng)
        rng.shuffle(units)
        return units


WORKLOADS = {
    "dp_interactive": Workload(
        0.01, _interactive_units, _interactive_tables, _interactive_session,
        warm_first_unit=True),
    "dp_wide": Workload(0.1, _wide_units, _wide_tables, _wide_session,
                        warm_first_unit=False),
}


def warm_up(env: Env) -> None:
    """One small finite-budget query, so the Python noise workers run."""
    q = QueryBuilder("lineitem").count(name="n")
    env.session.evaluate(q, env.budgets.pure(env.session, Fraction(1))).toPandas()
