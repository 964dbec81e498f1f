"""Round-4 operator batch: heavy hitters, OHLC bars, count-min sketch,
salted aggregation.  Small crafted fixtures with hand-computable
answers."""

import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators.features import heavy_hitters


# ------------------------------------------------------------ heavy hitters


def test_heavy_hitters_shares(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "k string")
    out = heavy_hitters(df, "k", k=2).collect()
    assert [(r.k, r.n, r.rank) for r in out] == [("a", 5, 1), ("b", 3, 2)]
    assert out[0].share == 0.5 and out[0].cum_share == 0.5
    assert out[1].share == 0.3 and out[1].cum_share == 0.8


def test_heavy_hitters_tie_break(spark):
    rows = [("b",)] * 2 + [("a",)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    out = heavy_hitters(df, "k", k=3).collect()
    assert [r.k for r in out] == ["a", "b", "c"]  # count desc, then key asc


# ------------------------------------------------------------ OHLC resample


def test_ohlc_bars(spark):
    import datetime as dt

    T = lambda h, s: dt.datetime(2024, 1, 1, h, 0, s)
    rows = [
        (1, 1, T(0, 1), 10.0), (2, 1, T(0, 2), 30.0), (3, 1, T(0, 3), 20.0),
        (4, 1, T(1, 0), 5.0),                      # second bucket
        (5, 2, T(0, 5), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id int, entity_id int, ts timestamp, value double"
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    out = {
        (r.entity_id, r.bucket_start): r
        for r in resample_ohlc(df, 3600, tiebreak="event_id").collect()
    }
    b0 = out[(1, 1704067200)]
    assert (b0.open, b0.high, b0.low, b0.close, b0.n) == (10.0, 30.0, 10.0, 20.0, 3)
    assert b0.mean == pytest.approx(20.0)
    assert out[(1, 1704070800)].open == 5.0
    assert out[(2, 1704067200)].n == 1


def test_ohlc_tiebreak_deterministic(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [(2, 1, t, 99.0), (1, 1, t, 11.0)]  # same ts, tie-break on id
    df = spark.createDataFrame(
        rows, "event_id int, entity_id int, ts timestamp, value double"
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    r = resample_ohlc(df, 3600, tiebreak="event_id").collect()[0]
    assert r.open == 11.0 and r.close == 99.0


def test_ohlc_single_exchange(spark):
    """The groupBy must reuse the window's (entity, bucket) hash
    partitioning — exactly one Exchange in the plan."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 1.0)],
        "event_id int, entity_id int, ts timestamp, value double",
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    plan = (
        resample_ohlc(df, 3600, tiebreak="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_validates(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "entity_id int, ts timestamp, value double",
    )
    from topo_descriptors_spark.operators.features import resample_ohlc

    with pytest.raises(ValueError):
        resample_ohlc(df, 0)


# ------------------------------------------------------------------- CMS


def test_cms_overestimates_only(spark):
    rows = [(i % 37,) for i in range(1000)]
    df = spark.createDataFrame(rows, "k int")
    from topo_descriptors_spark.operators.features import cms_counts

    out = cms_counts(df, "k", depth=4, width=16).collect()  # narrow → collisions
    assert len(out) == 37
    assert all(r.est >= r.n_true for r in out)
    # error bound sanity: with d=4 rows the min cell is rarely far off
    assert sum(r.est == r.n_true for r in out) > 0


def test_cms_wide_sketch_is_exact(spark):
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    from topo_descriptors_spark.operators.features import cms_counts

    out = {r.k: (r.est, r.n_true) for r in
           cms_counts(df, "k", depth=4, width=4096).collect()}
    assert out == {"a": (5, 5), "b": (3, 3), "c": (1, 1)}


# ------------------------------------------------------- salted aggregation


def test_salted_agg_equals_plain_groupby_under_skew(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    # one hot key with 90% of the rows
    df = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.lit("hot")).otherwise(
            (F.col("id") % 7).cast("string")
        ).alias("k"),
        (F.col("id") * 0.5).alias("v"),
    )
    got = {
        r.k: r for r in salted_agg(
            df, "k", {"v": ["count", "sum", "avg", "min", "max"]}, salt_buckets=8
        ).collect()
    }
    want = {
        r.k: r for r in df.groupBy("k").agg(
            F.count("v").alias("v_count"), F.sum("v").alias("v_sum"),
            F.avg("v").alias("v_avg"), F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k].v_count == want[k].v_count
        assert got[k].v_sum == pytest.approx(want[k].v_sum)
        assert got[k].v_avg == pytest.approx(want[k].v_avg)  # not avg-of-avgs
        assert got[k].v_min == want[k].v_min
        assert got[k].v_max == want[k].v_max


def test_salted_agg_count_ignores_nulls(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", 2.0)], "k string, v double"
    )
    got = {r.k: r.v_count for r in
           salted_agg(df, "k", {"v": ["count"]}, salt_buckets=4).collect()}
    assert got == {"a": 1, "b": 1}


def test_salted_agg_validates(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError, match="unsupported"):
        salted_agg(df, "k", {"v": ["median"]})
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_agg(df, "k", {"v": ["sum"]}, salt_buckets=1)


# ------------------------------------------------------------- plan shapes


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_heavy_hitters_topk_not_global_sort(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    plan = _plan_of(heavy_hitters(df, "k", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # one-row total joins broadcast
