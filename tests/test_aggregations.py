"""Golden-output tests at infinite budget (reference test strategy:
test/system/session/rows/conftest.py EVALUATE_TESTS pattern)."""

import math

import pandas as pd
import pytest

from tumult_analytics_spark import (
    AddOneRow,
    BinningSpec,
    KeySet,
    PureDPBudget,
    QueryBuilder,
    RhoZCDPBudget,
    Session,
)

INF = PureDPBudget(float("inf"))


@pytest.fixture()
def sess(spark):
    # mirrors reference sdf: A VARCHAR, B INT, X INT
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "A": ["0", "1", "1", "1"],
                "B": [0, 0, 1, 2],
                "X": [0.0, 1.0, 2.0, 3.0],
            }
        )
    )
    return Session.from_dataframe(
        privacy_budget=INF,
        source_id="t",
        dataframe=df,
        protected_change=AddOneRow(),
    )


def rows_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


def test_sum(sess):
    ks = KeySet.from_dict({"A": ["0", "1"]})
    out = sess.evaluate(QueryBuilder("t").groupby(ks).sum("X", 0, 2, name="s"), INF)
    assert rows_dict(out, "A", "s") == {"0": 0.0, "1": 5.0}  # 1+2+min(3,2)


def test_sum_integer_stays_integer(sess):
    out = sess.evaluate(QueryBuilder("t").sum("B", 0, 10, name="s"), INF)
    [r] = out.collect()
    assert r["s"] == 3 and isinstance(r["s"], int)


def test_average(sess):
    out = sess.evaluate(QueryBuilder("t").average("X", 0, 3, name="avg"), INF)
    assert out.collect()[0]["avg"] == pytest.approx(1.5)


def test_average_empty_group_is_midpoint(sess):
    ks = KeySet.from_dict({"A": ["0", "1", "z"]})
    out = sess.evaluate(QueryBuilder("t").groupby(ks).average("X", 0, 3, name="avg"), INF)
    got = rows_dict(out, "A", "avg")
    assert got["z"] == pytest.approx(1.5)  # midpoint
    assert got["0"] == pytest.approx(0.0)
    assert got["1"] == pytest.approx(2.0)


def test_variance_matches_sample_variance(sess):
    # reference doctest: B=[1,0,2] low=0 high=2 -> 1.0 (ddof=1)
    out = sess.evaluate(QueryBuilder("t").filter("A = '1'").variance("B", 0, 2, name="v"), INF)
    assert out.collect()[0]["v"] == pytest.approx(1.0)


def test_stdev(sess):
    out = sess.evaluate(QueryBuilder("t").filter("A = '1'").stdev("B", 0, 2, name="sd"), INF)
    assert out.collect()[0]["sd"] == pytest.approx(1.0)


def test_ungrouped_release_over_no_rows_is_filled(sess):
    # Every moment is filled before noise, with or without group columns:
    # a sum over no rows is 0, never NULL.
    def one(q):
        [r] = sess.evaluate(q, INF).collect()
        return r[0]

    def empty():
        return QueryBuilder("t").filter("B > 100")

    assert one(empty().sum("X", 0, 2)) == 0.0
    assert one(empty().sum("B", 0, 10)) == 0
    assert one(empty().average("X", 0, 3)) == pytest.approx(1.5)
    assert one(empty().variance("X", 0, 3)) == 0.0
    assert one(empty().stdev("X", 0, 3)) == 0.0


def test_count_distinct(sess):
    ks = KeySet.from_dict({"A": ["0", "1"]})
    out = sess.evaluate(
        QueryBuilder("t").groupby(ks).count_distinct(["B"], name="cd"), INF
    )
    assert rows_dict(out, "A", "cd") == {"0": 1, "1": 3}


def test_quantile_median(sess, spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [float(i) for i in range(101)]}))
    s = Session.from_dataframe(INF, "u", df, AddOneRow())
    out = s.evaluate(QueryBuilder("u").median("x", 0, 100, name="med"), INF)
    med = out.collect()[0]["med"]
    assert abs(med - 50.0) < 1.0  # binned EM: within one bin width


def test_quantile_min_max(sess, spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [float(i) for i in range(101)]}))
    s = Session.from_dataframe(INF, "u", df, AddOneRow())
    lo = s.evaluate(QueryBuilder("u").min("x", 0, 100, name="m"), INF).collect()[0]["m"]
    hi = s.evaluate(QueryBuilder("u").max("x", 0, 100, name="m"), INF).collect()[0]["m"]
    assert lo < 2.0 and hi > 98.0


def test_quantiles_multi_matches_singles_at_inf(sess, spark):
    # One histogram pass for m quantiles must give byte-identical values
    # to m single-quantile queries at infinite budget (both are the
    # deterministic argmax over the same binned counts).
    df = spark.createDataFrame(pd.DataFrame({"x": [float(i) for i in range(101)]}))
    s = Session.from_dataframe(INF, "u", df, AddOneRow())
    multi = s.evaluate(
        QueryBuilder("u").quantiles("x", [0.0, 0.5, 1.0], 0, 100, names=["a", "b", "c"]),
        INF,
    ).collect()[0]
    for q, name in [(0.0, "a"), (0.5, "b"), (1.0, "c")]:
        single = s.evaluate(
            QueryBuilder("u").quantile("x", q, 0, 100, name="v"), INF
        ).collect()[0]["v"]
        assert multi[name] == single


def test_quantiles_grouped_finite_budget(spark):
    # Finite budget: every released value stays inside [low, high] and
    # the call consumes exactly the requested budget once (not m times).
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 50 + ["b"] * 50, "x": [float(i % 25) for i in range(100)]})
    )
    s = Session.from_dataframe(PureDPBudget(10), "u", df, AddOneRow())
    ks = KeySet.from_dict({"g": ["a", "b"]})
    out = s.evaluate(
        QueryBuilder("u").groupby(ks).quantiles("x", [0.25, 0.75], 0, 25, names=["lo", "hi"]),
        PureDPBudget(3),
    )
    rows = out.collect()
    assert len(rows) == 2
    for r in rows:
        assert 0.0 <= r["lo"] <= 25.0 and 0.0 <= r["hi"] <= 25.0
    assert s.remaining_privacy_budget.epsilon == 7


def test_quantiles_validation(sess):
    with pytest.raises(ValueError):
        QueryBuilder("t").quantiles("X", [], 0, 1)
    with pytest.raises(ValueError):
        QueryBuilder("t").quantiles("X", [0.5, 1.5], 0, 1)
    with pytest.raises(ValueError):
        QueryBuilder("t").quantiles("X", [0.25, 0.5], 0, 1, names=["same", "same"])


def test_histogram(sess):
    out = sess.evaluate(QueryBuilder("t").histogram("X", [0.0, 1.0, 2.0, 4.0]), INF)
    got = {r["X_binned"]: r["count"] for r in out.collect()}
    # right-closed with both endpoints: [0,1]: {0,1}, (1,2]: {2}, (2,4]: {3}
    assert got == {"[0.00, 1.00]": 2, "(1.00, 2.00]": 1, "(2.00, 4.00]": 1}


def test_suppress(sess):
    ks = KeySet.from_dict({"A": ["0", "1"]})
    q = QueryBuilder("t").groupby(ks).count().suppress(2)
    out = sess.evaluate(q, INF)
    assert rows_dict(out, "A", "count") == {"1": 3}


def test_bin_column_groupby(sess):
    spec = BinningSpec([0, 1, 3], names=["low", "high"])
    q = (
        QueryBuilder("t")
        .bin_column("B", spec, name="bin")
        .groupby(KeySet.from_dict({"bin": ["low", "high"]}))
        .count()
    )
    out = sess.evaluate(q, INF)
    # right-closed both-endpoints: [0,1]: B in {0,0,1}, (1,3]: B=2
    assert rows_dict(out, "bin", "count") == {"low": 3, "high": 1}


def test_zcdp_budget(sess, spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [1.0] * 50}))
    s = Session.from_dataframe(RhoZCDPBudget(float("inf")), "u", df, AddOneRow())
    out = s.evaluate(QueryBuilder("u").count(), RhoZCDPBudget(float("inf")))
    assert out.collect()[0]["count"] == 50
    out2 = s.evaluate(QueryBuilder("u").sum("x", 0, 1, name="s"), RhoZCDPBudget(1000))
    assert abs(out2.collect()[0]["s"] - 50.0) < 5.0


def test_get_groups(spark):
    from tumult_analytics_spark import ApproxDPBudget

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 50 + ["b"] * 40 + ["c"] * 1})
    )
    s = Session.from_dataframe(ApproxDPBudget(float("inf"), 1), "u", df, AddOneRow())
    out = s.evaluate(
        QueryBuilder("u").get_groups(["g"]), ApproxDPBudget(float("inf"), 1)
    )
    assert sorted(r["g"] for r in out.collect()) == ["a", "b", "c"]
    # finite budget: singleton group should usually be suppressed
    out2 = s.evaluate(QueryBuilder("u").get_groups(["g"]), ApproxDPBudget(1, 1e-6))
    got = sorted(r["g"] for r in out2.collect())
    assert "a" in got and "b" in got


def test_get_bounds(spark):
    df = spark.createDataFrame(pd.DataFrame({"x": [float(i) for i in range(100)]}))
    s = Session.from_dataframe(INF, "u", df, AddOneRow())
    out = s.evaluate(QueryBuilder("u").get_bounds("x"), INF)
    [r] = out.collect()
    # reference doc: +-128 for data 0..99
    assert r["x_lower_bound"] == -128.0 and r["x_upper_bound"] == 128.0


def test_empty_group_median_is_drawn(spark):
    # A KeySet group with no rows goes through the exponential mechanism
    # like any other: at finite epsilon its median varies across draws,
    # at infinite budget it is the argmax over all-zero utilities, bin 0.
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 20, "x": [float(i) for i in range(20)]})
    )
    s = Session.from_dataframe(PureDPBudget(float("inf")), "u", df, AddOneRow())
    ks = KeySet.from_dict({"g": ["a", "z"]})
    q = QueryBuilder("u").groupby(ks).median("x", 0, 100, name="m")
    draws = {
        rows_dict(s.evaluate(q, PureDPBudget(1)), "g", "m")["z"] for _ in range(6)
    }
    assert len(draws) > 1, draws
    assert rows_dict(s.evaluate(q, INF), "g", "m")["z"] == pytest.approx(100 / 512 / 2)


def test_grouped_get_bounds_covers_keyset(spark):
    # Every KeySet group gets bounds, a group with no rows included.
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 30, "x": [float(i) for i in range(30)]})
    )
    s = Session.from_dataframe(PureDPBudget(float("inf")), "u", df, AddOneRow())
    ks = KeySet.from_dict({"g": ["a", "z"]})
    q = QueryBuilder("u").groupby(ks).get_bounds("x", "lo", "hi")
    for budget in (INF, PureDPBudget(1)):
        rows = s.evaluate(q, budget).collect()
        assert sorted(r["g"] for r in rows) == ["a", "z"]
        assert all(r["lo"] is not None and r["hi"] is not None for r in rows), rows
    got = {r["g"]: (r["lo"], r["hi"]) for r in s.evaluate(q, INF).collect()}
    assert got == {"a": (-32.0, 32.0), "z": (-1.0, 1.0)}


@pytest.mark.parametrize(
    "make, name",
    [
        (lambda g: g.quantile("X", 0.5, 0, 4), "X_quantile(0.5)"),
        (lambda g: g.count(name="c.n"), "c.n"),
        (lambda g: QueryBuilder("t").sum("X", 0, 4, name="s.x"), "s.x"),
        (lambda g: g.count(name="c.n").suppress(2), "c.n"),
    ],
    ids=["quantile_default_name", "count", "ungrouped_sum", "suppress"],
)
@pytest.mark.parametrize("budget", [INF, PureDPBudget(1)], ids=["inf", "finite"])
def test_dotted_output_names(spark, make, name, budget):
    # A '.' in an output column name is part of the name, never a
    # struct-field access.
    df = spark.createDataFrame(
        pd.DataFrame({"A": ["0", "1", "1", "1"], "X": [0.0, 1.0, 2.0, 3.0]})
    )
    s = Session.from_dataframe(PureDPBudget(float("inf")), "t", df, AddOneRow())
    g = QueryBuilder("t").groupby(KeySet.from_dict({"A": ["0", "1"]}))
    out = s.evaluate(make(g), budget)
    assert name in out.columns
    rows = out.collect()
    assert all(r[name] is not None for r in rows), rows
    if budget is INF:
        assert rows
