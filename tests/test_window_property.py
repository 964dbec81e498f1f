"""Property-based window-descriptor correctness vs DuckDB oracles.

The fixed-fixture tests in ``test_window.py`` pin one window size (9) on
one synthetic series; here hypothesis drives the remaining axes — window
scale (odd AND even diameters), entity count, series length, null
density, duplicate-free irregular timestamps, and session gap — against
size-parametrized DuckDB SQL.  Example counts follow the same
``SPARK_GRAFT_PROP_SCALE`` multiplier as the other property files.
"""

import os

import duckdb
import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from topo_descriptors_spark.functions.planner import frame_half_width
from topo_descriptors_spark.operators import window as W

_SCALE = float(os.environ.get("SPARK_GRAFT_PROP_SCALE", "1"))


def _n(base: int) -> int:
    return max(1, int(base * _SCALE))


@st.composite
def series_case(draw):
    n_entities = draw(st.integers(1, 4))
    rows = []
    pos = 0
    for e in range(n_entities):
        n = draw(st.integers(1, 30))
        t = 0
        for _ in range(n):
            t += draw(st.integers(1, 900))  # strictly increasing, irregular
            rows.append(
                (
                    f"e{e}",
                    t,
                    pos,
                    draw(st.one_of(
                        st.none(),
                        st.floats(-50, 50, allow_nan=False, width=32),
                    )),
                )
            )
            pos += 1
    scale = draw(st.integers(2, 15))  # even scales exercise floor-div
    return rows, scale


def _frames(spark, rows):
    pdf = pd.DataFrame(rows, columns=["entity_id", "t", "pos", "value"])
    # an all-None draw otherwise infers pandas object -> Spark void
    pdf["value"] = pdf["value"].astype("float64")
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf.t, unit="s")
    pdf = pdf.drop(columns=["t"])
    return spark.createDataFrame(pdf), pdf


def _oracle(pdf, sql):
    con = duckdb.connect()
    con.register("series", pdf)
    return con.sql(sql).df()


def _assert_close(spark_pd, duck_pd, col, atol):
    a = spark_pd.sort_values("pos").reset_index(drop=True)[col]
    b = duck_pd.sort_values("pos").reset_index(drop=True)[col]
    assert len(a) == len(b)
    assert np.allclose(
        a.to_numpy(dtype=float), b.to_numpy(dtype=float),
        atol=atol, equal_nan=True,
    ), col


@settings(max_examples=_n(8), deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=series_case())
def test_tpi_any_scale_matches_duckdb(spark, case):
    rows, scale = case
    df, pdf = _frames(spark, rows)
    k = frame_half_width(scale)
    out = W.tpi(df, [scale]).select("pos", f"tpi_{scale}").toPandas()
    oracle = _oracle(pdf, f"""
        SELECT pos,
               value - (sum(value) OVER w - value) / (count(value) OVER w - 1)
                 AS tpi_{scale}
        FROM series
        WINDOW w AS (PARTITION BY entity_id ORDER BY ts
                     ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING)
    """)
    _assert_close(out, oracle, f"tpi_{scale}", 1e-6)


@settings(max_examples=_n(8), deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=series_case())
def test_rolling_std_any_scale_matches_duckdb(spark, case):
    rows, scale = case
    df, pdf = _frames(spark, rows)
    k = frame_half_width(scale)
    out = W.rolling_std(df, [scale]).select("pos", f"std_{scale}").toPandas()
    oracle = _oracle(pdf, f"""
        SELECT pos, stddev_samp(value) OVER w AS std_{scale}
        FROM series
        WINDOW w AS (PARTITION BY entity_id ORDER BY ts
                     ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING)
    """)
    _assert_close(out, oracle, f"std_{scale}", 1e-5)


@settings(max_examples=_n(6), deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=series_case(), gap=st.sampled_from([1, 60, 300, 3600]))
def test_sessionize_any_gap_matches_duckdb(spark, case, gap):
    rows, _ = case
    df, pdf = _frames(spark, rows)
    out = W.sessionize(df, gap_seconds=gap).select("pos", "session_id").toPandas()
    oracle = _oracle(pdf, f"""
        SELECT pos,
          sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t > {gap}
                   THEN 1 ELSE 0 END)
            OVER (PARTITION BY entity_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
          AS session_id
        FROM (SELECT *, lag(epoch(ts)) OVER (PARTITION BY entity_id ORDER BY ts)
                        AS prev_t FROM series)
    """)
    _assert_close(out, oracle, "session_id", 0)


def test_singleton_and_isolated_rows_yield_null_not_ansi_error(spark):
    """Regression pin for the sweep's find: a lone-sample TPI frame or a
    single-row entity crashed the stage with DIVIDE_BY_ZERO under Spark 4
    ANSI mode; the engine must return NULL (the reference's 0/0 NaN)."""
    from topo_descriptors_spark.operators.asof import asof_join

    pdf = pd.DataFrame(
        {
            "entity_id": ["lone"],
            "ts": [pd.Timestamp("2024-01-01")],
            "pos": [0],
            "value": [7.0],
        }
    )
    df = spark.createDataFrame(pdf)
    row = W.tpi(df, [3]).select("tpi_3").collect()[0]
    assert row.tpi_3 is None
    row = W.gradient(df).select("dvdt", "slope_deg").collect()[0]
    assert row.dvdt is None and row.slope_deg is None

    q = spark.createDataFrame(
        pd.DataFrame({"entity_id": ["lone"], "q_pos": [1]})
    )
    feats = W.multiscale_features(df, [3], order="pos")
    two_pass = asof_join(
        q, feats.select("entity_id", "pos", "tpi_3", "std_3"),
        on="entity_id", q_ts="q_pos", s_ts="pos",
    ).collect()
    assert [r.matched_ts for r in two_pass] == [0]
    assert all(r.tpi_3 is None for r in two_pass)
