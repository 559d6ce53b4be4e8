"""Aggregate navigator (materialized-view rewrite): a coarser aggregation
request is answered FROM the finer IVM-schema materialization, matching a
plain recompute over the base exactly — including SQL NULL semantics —
and the navigator picks the cheapest (coarsest) qualifying view.

Reference semantics: the gold rollup tables the zeta-etl pipelines
materialize per grain; the rewrite itself mirrors Databricks MV rewrite /
BigQuery aggregate navigator behavior on such schemas.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zeta_etl_spark.plans.ivm import full_agg
from zeta_etl_spark.plans.navigator import (
    AggNavigator,
    NoMatchingView,
    ViewDef,
    rollup_from_view,
)

ROWS = [
    # user, etype, v (exact integer measure; user 3 is ALL-NULL in v)
    (1, "a", 10),
    (1, "a", 20),
    (1, "b", None),
    (2, "a", 5),
    (2, "b", 7),
    (2, "b", None),
    (3, "a", None),
    (3, "b", None),
]


@pytest.fixture(scope="module")
def base(spark):
    df = spark.createDataFrame(ROWS, "user_id int, event_type string, v int")
    df = df.withColumn("v", F.col("v").cast("bigint"))
    return df.localCheckpoint()


@pytest.fixture(scope="module")
def nav(base):
    fine = full_agg(base, ["user_id", "event_type"], ["v"]).localCheckpoint()
    coarse = full_agg(base, ["user_id"], ["v"]).localCheckpoint()
    frames = {"g_fine": fine, "g_user": coarse}
    views = [
        ViewDef("g_fine", ("user_id", "event_type"), ("v",)),
        ViewDef("g_user", ("user_id",), ("v",)),
    ]
    return AggNavigator(frames.__getitem__, views)


AGGS = {
    "n_rows": ("count_rows", None),
    "sum_v": ("sum", "v"),
    "n_v": ("count", "v"),
    "avg_v": ("avg", "v"),
}


def _direct(base, keys):
    return base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("v").alias("sum_v"),
        F.count("v").cast("bigint").alias("n_v"),
        F.avg("v").alias("avg_v"),
    )


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def test_rollup_matches_base_recompute(base, nav):
    got, prov = nav.answer(["user_id"], AGGS)
    assert prov == "view:g_user"  # coarsest qualifying view wins
    assert _rows(got) == _rows(_direct(base, ["user_id"]))


def test_rollup_from_finer_view_when_keys_need_it(base, nav):
    got, prov = nav.answer(["user_id", "event_type"], AGGS)
    assert prov == "view:g_fine"
    assert _rows(got) == _rows(_direct(base, ["user_id", "event_type"]))


def test_all_null_group_preserves_null_sum(base, nav):
    got, _ = nav.answer(["user_id"], AGGS)
    row = {r["user_id"]: r for r in got.collect()}
    assert row[3]["sum_v"] is None and row[3]["avg_v"] is None
    assert row[3]["n_v"] == 0 and row[3]["n_rows"] == 2


def test_key_filter_prunes_exactly(base, nav):
    flt = F.col("event_type") == "b"
    got, prov = nav.answer(
        ["user_id"], AGGS, filter=flt, filter_cols=["event_type"]
    )
    assert prov == "view:g_fine"  # g_user lacks event_type → fine view
    expect = _direct(base.filter(flt), ["user_id"])
    assert _rows(got) == _rows(expect)


def test_non_key_filter_has_no_view(nav):
    with pytest.raises(NoMatchingView):
        nav.answer(
            ["user_id"],
            AGGS,
            filter=F.col("v") > 5,
            filter_cols=["v"],
        )


def test_min_max_needs_a_minmax_view(nav):
    # the registered views maintain only (sum, n) — no view can answer
    # MIN/MAX, and the navigator must refuse rather than guess
    with pytest.raises(NoMatchingView, match="no view answers"):
        nav.answer(["user_id"], {"m": ("min", "v")})


def test_min_max_from_minmax_view(base):
    fine = full_agg(
        base, ["user_id", "event_type"], ["v"], minmax=["v"]
    ).localCheckpoint()
    nav2 = AggNavigator(
        {"g_mm": fine}.__getitem__,
        [ViewDef("g_mm", ("user_id", "event_type"), ("v",), ("v",))],
    )
    got, prov = nav2.answer(
        ["user_id"],
        {"min_v": ("min", "v"), "max_v": ("max", "v"), "n_rows": ("count_rows", None)},
    )
    assert prov == "view:g_mm"
    direct = base.groupBy("user_id").agg(
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    assert _rows(got) == _rows(direct)
    # the all-NULL group's extrema stay NULL through the rewrite
    row = {r["user_id"]: r for r in got.collect()}
    assert row[3]["min_v"] is None and row[3]["max_v"] is None


def test_unmaintained_measure_has_no_view(nav):
    with pytest.raises(NoMatchingView):
        nav.answer(["user_id"], {"s": ("sum", "w")})


def test_filter_requires_filter_cols(nav):
    with pytest.raises(ValueError, match="filter_cols"):
        nav.answer(["user_id"], AGGS, filter=F.col("event_type") == "a")


def test_rollup_helper_direct(base):
    fine = full_agg(base, ["user_id", "event_type"], ["v"])
    got = rollup_from_view(fine, ["event_type"], AGGS)
    assert _rows(got) == _rows(_direct(base, ["event_type"]))


def test_navigator_over_incrementally_maintained_view(spark, tmp_path):
    """End-to-end freshness + rewrite: a view maintained INCREMENTALLY
    from the change feed (ivm) answers a coarser rollup through the
    navigator identically to a direct recompute over the new base —
    the query never touches base data, and the view was never rebuilt."""
    import os
    from decimal import Decimal

    from zeta_etl_spark.plans.graph import Pipeline
    from zeta_etl_spark.plans.ivm import maintain_agg_view

    SCHEMA = "k int, grp string, sub string, amount decimal(12,2)"
    V1 = [
        (1, "a", "x", "10.00"),
        (2, "a", "y", "20.00"),
        (3, "b", "x", "30.00"),
        (4, "b", "y", None),
    ]
    V2 = [
        (1, "a", "x", "11.00"),   # update in place
        (2, "a", "y", "20.00"),
        (4, "b", "y", None),      # k=3 deleted
        (5, "c", "x", "50.00"),   # new group
    ]

    def _df(rows):
        conv = [
            (k, g, s, Decimal(a) if a is not None else None)
            for (k, g, s, a) in rows
        ]
        return spark.createDataFrame(conv, SCHEMA)

    p = Pipeline("navivm", str(tmp_path / "t"))

    @p.table(name="base")
    def base_tbl(pl):
        return _df(V1)

    @p.table(name="gold")
    def gold(pl):
        return full_agg(pl.read("base"), ["grp", "sub"], ["amount"])

    p.run(spark, targets=["base", "gold"])
    p._write_overwrite_atomic(p.nodes["base"], _df(V2))
    cdf = p.table_changes(spark, "base", 1, 2, keys=["k"])
    maintain_agg_view(spark, p, "gold", cdf, ["grp", "sub"], ["amount"])

    nav = AggNavigator(
        lambda n: spark.read.parquet(os.path.realpath(p.path(n))),
        [ViewDef("gold", ("grp", "sub"), ("amount",))],
    )
    got, prov = nav.answer(
        ["grp"],
        {
            "n_rows": ("count_rows", None),
            "sum_amount": ("sum", "amount"),
            "n_amount": ("count", "amount"),
        },
    )
    assert prov == "view:gold"
    expect = _df(V2).groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("amount").alias("sum_amount"),
        F.count("amount").cast("bigint").alias("n_amount"),
    )
    assert _rows(got) == _rows(expect)


# --- choose: view selection from metadata alone -------------------------------


def _unresolvable(name):
    raise AssertionError(f"choose must not resolve a view (asked for {name!r})")


CHOOSE_VIEWS = [
    ViewDef("g_fine", ("user_id", "event_type"), ("v",), ("v",)),
    ViewDef("g_user", ("user_id",), ("v",)),
]


def test_choose_picks_the_coarsest_matching_view():
    nav = AggNavigator(_unresolvable, CHOOSE_VIEWS)
    assert nav.choose(["user_id"], AGGS) == CHOOSE_VIEWS[1]
    assert nav.choose(["user_id", "event_type"], AGGS) == CHOOSE_VIEWS[0]
    # a filter column outside g_user's keys routes to the finer view
    assert (
        nav.choose(
            ["user_id"],
            AGGS,
            filter=F.col("event_type") == "a",
            filter_cols=["event_type"],
        )
        == CHOOSE_VIEWS[0]
    )
    # ties on grain break by table name
    tied = [ViewDef("g_b", ("user_id",), ("v",)), ViewDef("g_a", ("user_id",), ("v",))]
    assert AggNavigator(_unresolvable, tied).choose(["user_id"], AGGS).table == "g_a"


def test_choose_rejects_filters_it_cannot_prove_safe():
    nav = AggNavigator(_unresolvable, CHOOSE_VIEWS)
    with pytest.raises(ValueError, match="filter_cols"):
        nav.choose(["user_id"], AGGS, filter=F.col("event_type") == "a")
    with pytest.raises(NoMatchingView, match="no view answers"):
        nav.choose(
            ["user_id"], AGGS, filter=F.col("v") > 5, filter_cols=["v"]
        )


def test_choose_needs_a_minmax_view_for_extrema():
    nav = AggNavigator(_unresolvable, CHOOSE_VIEWS[1:])
    with pytest.raises(NoMatchingView, match="no view answers"):
        nav.choose(["user_id"], {"m": ("max", "v")})
    # the minmax-maintaining view answers it even at a finer grain
    nav = AggNavigator(_unresolvable, CHOOSE_VIEWS)
    assert nav.choose(["user_id"], {"m": ("max", "v")}) == CHOOSE_VIEWS[0]


def test_choose_rejects_unsupported_aggregates():
    nav = AggNavigator(_unresolvable, CHOOSE_VIEWS)
    with pytest.raises(NoMatchingView, match="not derivable"):
        nav.choose(["user_id"], {"p": ("percentile", "v")})
    with pytest.raises(ValueError, match="count_rows takes no column"):
        nav.choose(["user_id"], {"n": ("count_rows", "v")})
