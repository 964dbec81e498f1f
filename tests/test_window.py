"""Window-feature correctness vs DuckDB oracles on the synthetic series."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators import window as W
from topo_descriptors_spark.operators.window import cumulative_distinct
from topo_descriptors_spark.sources import synthetic


@pytest.fixture(scope="module")
def series_df(spark):
    df = synthetic.series(spark, n_entities=20, max_points=120, hot_entity_factor=5)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def series_pd(series_df):
    return series_df.toPandas()


def _oracle(series_pd: pd.DataFrame, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("series", series_pd)
    return con.sql(sql).df()


def _compare(spark_pd, duck_pd, keys, cols, atol=1e-9):
    a = spark_pd.sort_values(keys).reset_index(drop=True)
    b = duck_pd.sort_values(keys).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        x, y = a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float)
        assert np.allclose(x, y, atol=atol, equal_nan=True), c


def test_tpi_vs_duckdb(series_df, series_pd):
    out = W.tpi(series_df, [9]).select("entity_id", "pos", "tpi_9").toPandas()
    oracle = _oracle(
        series_pd,
        """
        SELECT entity_id, pos,
               value - (sum(value) OVER w - value) / (count(value) OVER w - 1) AS tpi_9
        FROM series
        WINDOW w AS (PARTITION BY entity_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)
        """,
    )
    _compare(out, oracle, ["entity_id", "pos"], ["tpi_9"])


def test_rolling_std_vs_duckdb(series_df, series_pd):
    out = W.rolling_std(series_df, [9]).select("entity_id", "pos", "std_9").toPandas()
    oracle = _oracle(
        series_pd,
        """
        SELECT entity_id, pos, stddev_samp(value) OVER w AS std_9
        FROM series
        WINDOW w AS (PARTITION BY entity_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)
        """,
    )
    _compare(out, oracle, ["entity_id", "pos"], ["std_9"], atol=1e-7)


def test_gaussian_ma_weights_sum(series_df):
    out = W.gaussian_ma(series_df, [1.0]).select("entity_id", "pos", "value", "smooth_1p0")
    pdf = out.toPandas()
    # null inputs stay null; non-null inputs produce non-null smoothed values
    assert pdf.loc[pdf.value.isna(), "smooth_1p0"].isna().all()
    assert pdf.loc[~pdf.value.isna(), "smooth_1p0"].notna().all()
    # smoothing shrinks variance per entity
    g = pdf.dropna().groupby("entity_id")
    assert (g["smooth_1p0"].std() <= g["value"].std() + 1e-9).all()


def test_gaussian_ma_vs_numpy(spark):
    # dense gap-free single entity → compare against direct numpy convolution
    import pandas as pd

    n = 200
    vals = np.sin(np.arange(n) / 5.0)
    pdf = pd.DataFrame(
        {
            "entity_id": "e0",
            "ts": pd.date_range("2024-01-01", periods=n, freq="1min"),
            "pos": np.arange(n),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        W.gaussian_ma(df, [2.0], order="ts")
        .select("pos", "smooth_2p0")
        .toPandas()
        .sort_values("pos")
    )
    from topo_descriptors_spark.functions.planner import gaussian_weights

    w = gaussian_weights(2.0)
    r = len(w) // 2
    padded = np.pad(vals, r, mode="constant", constant_values=np.nan)
    expect = np.empty(n)
    for i in range(n):
        win = padded[i : i + 2 * r + 1]
        m = ~np.isnan(win)
        expect[i] = np.sum(win[m] * w[m]) / np.sum(w[m])
    assert np.allclose(out["smooth_2p0"].to_numpy(), expect, atol=1e-12)


def test_gradient_vs_duckdb(series_df, series_pd):
    out = W.gradient(series_df).select("entity_id", "pos", "dvdt", "slope_deg").toPandas()
    oracle = _oracle(
        series_pd,
        """
        SELECT entity_id, pos,
            (coalesce(lead(value) OVER w, value) - coalesce(lag(value) OVER w, value))
            / (coalesce(epoch(lead(ts) OVER w), epoch(ts)) - coalesce(epoch(lag(ts) OVER w), epoch(ts)))
            AS dvdt,
            degrees(atan(
            (coalesce(lead(value) OVER w, value) - coalesce(lag(value) OVER w, value))
            / (coalesce(epoch(lead(ts) OVER w), epoch(ts)) - coalesce(epoch(lag(ts) OVER w), epoch(ts)))
            )) AS slope_deg
        FROM series
        WINDOW w AS (PARTITION BY entity_id ORDER BY ts)
        """,
    )
    _compare(out, oracle, ["entity_id", "pos"], ["dvdt", "slope_deg"], atol=1e-6)


def test_gradient_matches_np_gradient(spark):
    import pandas as pd

    # np.gradient parity holds on UNIFORM axes (the reference's only case —
    # pixel grids); on irregular axes the engine uses the two-point central
    # difference (covered by the DuckDB oracle test above).
    n = 50
    t = np.arange(n) * 30.0 + 1.7e9
    vals = np.cos(np.arange(n) / 3.0) * 10
    pdf = pd.DataFrame(
        {
            "entity_id": "e0",
            "ts": pd.to_datetime(t, unit="s"),
            "pos": np.arange(n),
            "value": vals,
        }
    )
    df = spark.createDataFrame(pdf)
    out = W.gradient(df, order_seconds=None).select("pos", "dvdt").toPandas().sort_values("pos")
    expect = np.gradient(vals, t)
    assert np.allclose(out["dvdt"].to_numpy(), expect, atol=1e-9)


def test_backfill_vs_duckdb(series_df, series_pd):
    out = W.backfill(series_df).select(
        "entity_id", "pos", "ffill", "bfill", "nearest_fill"
    ).toPandas()
    oracle = _oracle(
        series_pd,
        """
        WITH b AS (
          SELECT entity_id, pos, value, epoch(ts) AS t,
            last_value(value IGNORE NULLS) OVER wp AS ffill,
            first_value(value IGNORE NULLS) OVER wf AS bfill,
            last_value(CASE WHEN value IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER wp AS t_prev,
            first_value(CASE WHEN value IS NOT NULL THEN epoch(ts) END IGNORE NULLS) OVER wf AS t_next
          FROM series
          WINDOW
            wp AS (PARTITION BY entity_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY entity_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT entity_id, pos, ffill, bfill,
          CASE WHEN bfill IS NULL OR (t_prev IS NOT NULL AND (t - t_prev) <= (t_next - t))
               THEN ffill ELSE bfill END AS nearest_fill
        FROM b
        """,
    )
    _compare(out, oracle, ["entity_id", "pos"], ["ffill", "bfill", "nearest_fill"])


def test_backfill_fills_everything_but_edges(series_df):
    out = W.backfill(series_df)
    # nearest_fill only null if an entity has no non-null values at all
    n_bad = out.where(
        F.col("nearest_fill").isNull() & F.col("value").isNotNull()
    ).count()
    assert n_bad == 0


def test_sessionize_vs_duckdb(series_df, series_pd):
    out = W.sessionize(series_df, gap_seconds=300).select(
        "entity_id", "pos", "session_id"
    ).toPandas()
    oracle = _oracle(
        series_pd,
        """
        SELECT entity_id, pos,
          sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t > 300 THEN 1 ELSE 0 END)
            OVER (PARTITION BY entity_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
          AS session_id
        FROM (
          SELECT *, lag(epoch(ts)) OVER (PARTITION BY entity_id ORDER BY ts) AS prev_t
          FROM series
        )
        """,
    )
    _compare(out, oracle, ["entity_id", "pos"], ["session_id"])


def test_sx_1d_one_sided(spark):
    import pandas as pd

    # a single rising step: sx must see only PAST values (zero leakage)
    pdf = pd.DataFrame(
        {
            "entity_id": "e0",
            "ts": pd.date_range("2024-01-01", periods=10, freq="1min"),
            "pos": np.arange(10),
            "value": [0, 0, 0, 0, 0, 100, 0, 0, 0, 0.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        W.sx_1d(df, radius_steps=3, height=0.0, step_meters=10.0)
        .select("pos", "sx")
        .toPandas()
        .sort_values("pos")["sx"]
        .to_numpy()
    )
    # first row: no past → null
    assert np.isnan(out[0])
    # row 5 (the peak) looks back at zeros → negative/zero angles... rows
    # 6..8 see the peak behind them → positive angle; row 9 no longer in radius
    assert out[6] > 0 and out[7] > 0 and out[8] > 0
    assert out[9] <= 0
    # leakage check: row 4 (before the peak) must NOT see it
    assert out[4] <= 0


def test_multiscale_single_window_exec(spark):
    import re

    # window-free base plan so the only Window/Exchange nodes are ours
    base = spark.range(1000).select(
        (F.col("id") % 10).cast("string").alias("entity_id"),
        F.col("id").alias("pos"),
        F.col("id").cast("timestamp").alias("ts"),
        F.sin(F.col("id").cast("double")).alias("value"),
    )
    out = W.multiscale_features(base, [3, 9, 25], sigmas=[1.0])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # all frames share one partitioning/sort → ONE WindowExec, ONE shuffle
    assert len(re.findall(r"^[\s+:*-]*Window\b", plan, re.M)) == 1, plan
    assert len(re.findall(r"^[\s+:*-]*Exchange\b", plan, re.M)) <= 1, plan
    cols = set(out.columns)
    assert {"tpi_3", "tpi_9", "tpi_25", "std_3", "std_9", "std_25", "smooth_1p0"} <= cols


def test_reimpose_nulls(series_df):
    out = W.tpi(series_df, [9])
    out = W.reimpose_nulls(out, "is_orig_null", ["tpi_9"])
    assert out.where(F.col("is_orig_null") & F.col("tpi_9").isNotNull()).count() == 0


def test_gaussian_ma_arrow_parity_with_expression_path(spark, sf_dir):
    """The Arrow chunked path must equal the lag-expression bank on the
    REAL events parquet (exercises the TIMESTAMP_NTZ roundtrip through
    applyInPandas), including nulls and sequence edges."""
    from topo_descriptors_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events").withColumn(
        "value", F.expr("CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END")
    )
    expr_out = (
        W.gaussian_ma(ev, [2.0], value="value", entity="user_id", order="ts")
        .select("event_id", "smooth_2p0")
        .toPandas()
    )
    arrow_out = (
        W.gaussian_ma_arrow(
            ev, [2.0], value="value", entity="user_id", order="ts", chunk_size=64
        )
        .select("event_id", "smooth_2p0")
        .toPandas()
    )
    a = expr_out.sort_values("event_id").reset_index(drop=True)
    b = arrow_out.sort_values("event_id").reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert np.allclose(
        a["smooth_2p0"], b["smooth_2p0"], atol=1e-9, equal_nan=True
    )


def test_gaussian_ma_auto_switch_picks_arrow_for_large_sigma(series_df):
    """sigma with radius > max_expr_radius must dispatch to the Arrow
    path (plan contains FlatMapGroupsInPandas, not a lag bank); small
    sigma stays in the window-expression plan."""
    big = W.gaussian_ma(
        series_df, [1.0], value="value", entity="entity_id", order="ts",
        max_expr_radius=2, chunk_size=64,
    )
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan_big

    small = W.gaussian_ma(
        series_df, [1.0], value="value", entity="entity_id", order="ts"
    )
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan_small
    assert "Window" in plan_small


def test_gaussian_ma_arrow_reserved_name_collision(series_df):
    with pytest.raises(ValueError, match="_pos"):
        W.gaussian_ma_arrow(
            series_df.withColumn("_pos", F.lit(1)), [1.0],
            value="value", entity="entity_id", order="ts",
        )


def test_sessionize_over_date_axis(spark):
    """A DATE order column must work (ANSI forbids date->double; the
    axis hops through timestamp)."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "entity_id": [1] * 4,
            "d": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-03-01", "2024-03-02"]
            ).date,
        }
    )
    df = spark.createDataFrame(pdf).select(
        "entity_id", F.col("d").cast("date").alias("d")
    )
    out = W.sessionize(
        df, gap_seconds=7 * 86400, entity="entity_id", order="d"
    ).toPandas().sort_values("d")
    assert out["session_id"].tolist() == [0, 0, 1, 1]


def test_decayed_features_hand_calc_and_no_leakage(spark):
    """Decayed sum/count against a hand computation; strictly
    backward-looking (the last row's value never affects earlier rows);
    NULL values contribute nothing; lookback truncates the tail."""
    import math

    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.window import decayed_features

    hl = 3600.0
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "entity_id": ["u"] * 4,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00",
                 "2024-01-01 02:00", "2024-01-01 03:00"]
            ),
            "value": [10.0, 20.0, None, 40.0],
        }
    )
    out = (
        decayed_features(
            spark.createDataFrame(pdf), half_life_seconds=hl,
            lookback_rows=100, tiebreak="event_id",
        )
        .toPandas().set_index("event_id").sort_index()
    )
    # row2: 20 + 10*0.5^1 = 25; counts 1 + 0.5
    assert out.loc[2, "decayed_sum"] == pt.approx(25.0)
    assert out.loc[2, "decayed_count"] == pt.approx(1.5)
    # row3 (NULL value): history only — no self contribution
    assert out.loc[3, "decayed_sum"] == pt.approx(20 * 0.5 + 10 * 0.25)
    assert out.loc[3, "decayed_count"] == pt.approx(0.5 + 0.25)
    # row1 unaffected by anything later (leak-free)
    assert out.loc[1, "decayed_sum"] == pt.approx(10.0)
    # lookback_rows=2 drops row1 from row4's frame (and the NULL row3
    # contributes nothing): 40 + 0*0.5 = 40
    out2 = (
        decayed_features(
            spark.createDataFrame(pdf), half_life_seconds=hl,
            lookback_rows=2, tiebreak="event_id",
        )
        .toPandas().set_index("event_id").sort_index()
    )
    assert out2.loc[4, "decayed_sum"] == pt.approx(40.0)
    assert out2.loc[4, "decayed_count"] == pt.approx(1.0)
    # math sanity: half-life means exactly x0.5 per hl seconds
    assert math.isclose(
        out.loc[4, "decayed_sum"],
        40 + 20 * 0.5 ** 2 + 10 * 0.5 ** 3,
    )


def test_decayed_features_single_window_pass(spark):
    """The decayed aggregates must share ONE WindowExec (one sort) —
    no extra exchange beyond the canonical entity partition."""
    import pandas as pd

    from topo_descriptors_spark.operators.window import decayed_features

    pdf = pd.DataFrame(
        {
            "event_id": range(10),
            "entity_id": ["a"] * 5 + ["b"] * 5,
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(10), unit="h"),
            "value": [float(i) for i in range(10)],
        }
    )
    out = decayed_features(
        spark.createDataFrame(pdf), 3600.0, tiebreak="event_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1
    import re

    n_exchange = len(re.findall(r"^[\s+:*-]*Exchange\b", plan, re.M))
    assert n_exchange == 1, plan


# ---- cumulative distinct


def test_cumulative_distinct_with_ties(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, T(1), "x"), (1, T(2), "y"), (1, T(2), "z"),  # tie at t=2
        (1, T(3), "x"),
        (2, T(1), "x"),
    ]
    df = spark.createDataFrame(rows, "entity_id int, ts timestamp, v string")
    out = cumulative_distinct(df, "v", entity="entity_id", order="ts")
    got = sorted(
        (r.entity_id, r.ts.second, r.v, r.n_distinct) for r in out.collect()
    )
    # peers at t=2 both see the full peer set {x,y,z}
    assert got == [
        (1, 1, "x", 1), (1, 2, "y", 3), (1, 2, "z", 3), (1, 3, "x", 3),
        (2, 1, "x", 1),
    ]


def test_cumulative_distinct_ignores_nulls(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [(1, T(1), None), (1, T(2), "a")]
    df = spark.createDataFrame(rows, "entity_id int, ts timestamp, v string")
    out = {r.ts.second: r.n_distinct for r in
           cumulative_distinct(df, "v", entity="entity_id", order="ts").collect()}
    assert out == {1: 0, 2: 1}
