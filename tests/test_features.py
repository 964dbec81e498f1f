"""Tabular feature-engineering operators (operators/features.py):
encodings, hashing trick, rolling quantiles, KMV sketch, binning,
correlation, OHLC bars, salted aggregation, heavy hitters, count-min
sketch — semantics pinned on hand-computable fixtures, plan shapes
pinned on the real parquet."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.functions.validate import SchemaError
from topo_descriptors_spark.operators import features as FE
from topo_descriptors_spark.operators.features import heavy_hitters
from topo_descriptors_spark.sources.io import read_table


def phash(s: str) -> int:
    """Python twin of the portable md5 hash (text.py:23)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# target_encode
# ---------------------------------------------------------------------------

def test_target_encode_loo_hand_calc(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", 5.0), ("b", 10.0), ("b", None)],
        "cat string, y double",
    )
    got = {
        (r["cat"], r["y"]): r["te"]
        for r in FE.target_encode(df, "cat", "y", smoothing=2.0).collect()
    }
    gm = (1 + 3 + 5 + 10) / 4  # count(y)=4 skips the NULL
    # LOO for ("a", 1.0): (9 - 1 + 2*gm) / (3 - 1 + 2)
    assert got[("a", 1.0)] == pytest.approx((9 - 1 + 2 * gm) / 4)
    assert got[("a", 5.0)] == pytest.approx((9 - 5 + 2 * gm) / 4)
    # NULL target: non-LOO smoothed mean of its category
    assert got[("b", None)] == pytest.approx((10 + 2 * gm) / (1 + 2))


def test_target_encode_null_category_gets_prior(spark):
    df = spark.createDataFrame(
        [("a", 2.0), (None, 7.0), ("a", 4.0)], "cat string, y double"
    )
    gm = (2 + 7 + 4) / 3
    row = (
        FE.target_encode(df, "cat", "y", smoothing=1.0)
        .where(F.col("cat").isNull())
        .collect()[0]
    )
    assert row["te"] == pytest.approx(gm)


def test_target_encode_smoothing_shrinks_to_prior(spark):
    df = spark.createDataFrame(
        [("a", 0.0), ("b", 100.0)], "cat string, y double"
    )
    te = {
        r["cat"]: r["te"]
        for r in FE.target_encode(df, "cat", "y", smoothing=1e9).collect()
    }
    assert te["a"] == pytest.approx(50.0, abs=1e-3)
    assert te["b"] == pytest.approx(50.0, abs=1e-3)


def test_target_encode_broadcast_plan(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    plan = FE.target_encode(ev, "event_type", "value")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_target_encode_schema_error(spark):
    df = spark.createDataFrame([("a", "x")], "cat string, y string")
    with pytest.raises(SchemaError, match="target_encode"):
        FE.target_encode(df, "cat", "y")


# ---------------------------------------------------------------------------
# count_encode
# ---------------------------------------------------------------------------

def test_count_encode_counts_and_rare(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), (None,), (None,)], "cat string"
    )
    got = FE.count_encode(df, "cat", min_count=2).toPandas()
    by = got.groupby(got["cat"].fillna("<N>"))
    assert by["ce_count"].first()["a"] == 3
    assert by["ce_count"].first()["b"] == 1
    # NULLs count as their own group and flag ce_null
    assert by["ce_count"].first()["<N>"] == 2
    assert by["ce_null"].first()["<N>"]
    assert bool(by["ce_rare"].first()["b"]) is True
    assert bool(by["ce_rare"].first()["a"]) is False
    assert got["ce_log"].max() == pytest.approx(np.log1p(3))


def test_count_encode_reserved_output(spark):
    df = spark.createDataFrame([("a", 1)], "cat string, ce_count int")
    with pytest.raises(ValueError, match="ce_count"):
        FE.count_encode(df, "cat")


# ---------------------------------------------------------------------------
# feature_hash
# ---------------------------------------------------------------------------

def test_feature_hash_matches_python_recompute(spark):
    df = spark.createDataFrame(
        [(1, "en", "web", 42), (2, None, "book", 7), (3, "de", None, None)],
        "doc_id long, lang string, source string, n_chars long",
    )
    got = {
        r["doc_id"]: (r["idxs"], r["vals"])
        for r in FE.feature_hash(
            df, ["lang", "source", "n_chars"], n_features=8
        ).collect()
    }

    def expected(row):
        buckets: dict[int, float] = {}
        for c, v in row.items():
            if v is None:
                continue
            if c == "n_chars":
                h, val = phash(c), float(v)
            else:
                h, val = phash(f"{c}={v}"), 1.0
            sign = (h % 2) * 2 - 1
            buckets[h % 8] = buckets.get(h % 8, 0.0) + sign * val
        idxs = sorted(buckets)
        return idxs, [buckets[i] for i in idxs]

    assert got[1] == tuple(map(list, expected({"lang": "en", "source": "web", "n_chars": 42})))
    assert got[2] == tuple(map(list, expected({"lang": None, "source": "book", "n_chars": 7})))
    assert got[3] == tuple(map(list, expected({"lang": "de", "source": None, "n_chars": None})))


def test_feature_hash_collisions_sum(spark):
    # n_features=1 forces every feature into bucket 0
    df = spark.createDataFrame(
        [(1, "en", "web", 10)],
        "doc_id long, lang string, source string, n_chars long",
    )
    row = FE.feature_hash(
        df, ["lang", "source", "n_chars"], n_features=1
    ).collect()[0]
    s = sum(
        ((phash(t) % 2) * 2 - 1) * v
        for t, v in [("lang=en", 1.0), ("source=web", 1.0), ("n_chars", 10.0)]
    )
    assert row["idxs"] == [0]
    assert row["vals"] == [pytest.approx(s)]


def test_feature_hash_map_only_plan(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    plan = FE.feature_hash(docs, ["lang", "source"], n_features=16)._jdf\
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map-side


# ---------------------------------------------------------------------------
# hash_vectorize_text
# ---------------------------------------------------------------------------

def test_hash_vectorize_counts(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, None), (4, "  x   y  z ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["vec"] for r in
           FE.hash_vectorize_text(df, n_features=4, ngram=3).collect()}
    # doc 1: 2 trigrams ("a b c", "b c d")
    assert sum(got[1]) == 2
    assert got[1][phash("a b c") % 4] >= 1
    # shorter than ngram / NULL -> all-zero fixed-width vector
    assert got[2] == [0, 0, 0, 0]
    assert got[3] == [0, 0, 0, 0]
    # whitespace runs collapse: exactly 1 trigram "x y z"
    assert sum(got[4]) == 1
    assert got[4][phash("x y z") % 4] == 1


def test_hash_vectorize_map_only_plan(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    plan = FE.hash_vectorize_text(docs, n_features=8)._jdf.queryExecution()\
        .executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# rolling_quantiles
# ---------------------------------------------------------------------------

def test_rolling_quantiles_vs_pandas(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame(
        {
            "e": rng.randint(0, 3, 200),
            "t": np.arange(200),
            "v": np.where(rng.rand(200) < 0.15, np.nan, rng.randn(200)),
        }
    )
    got = (
        FE.rolling_quantiles(
            spark.createDataFrame(pdf), "e", "t", "v", k=7,
            qs=(0.25, 0.5, 0.75), tiebreak=None,
        )
        .toPandas().sort_values(["e", "t"]).reset_index(drop=True)
    )
    for q, col in [(0.25, "rq_p25"), (0.5, "rq_p50"), (0.75, "rq_p75")]:
        exp = []
        for _, g in pdf.sort_values(["e", "t"]).groupby("e"):
            vals = g["v"].tolist()
            for i in range(len(vals)):
                win = [x for x in vals[max(0, i - 6): i + 1] if not np.isnan(x)]
                exp.append(np.quantile(win, q) if win else np.nan)
        assert np.allclose(
            got[col].to_numpy(float), np.array(exp), atol=1e-12, equal_nan=True
        )


def test_rolling_quantiles_single_window_exec(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    plan = FE.rolling_quantiles(
        ev, "user_id", "ts", "value", k=10, qs=(0.25, 0.5, 0.75),
        tiebreak="event_id",
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1


def test_rolling_quantiles_bad_q(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="outside"):
        FE.rolling_quantiles(ev, "user_id", "ts", "value", k=5, qs=(1.5,))


# ---------------------------------------------------------------------------
# kmv_distinct
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k(spark):
    df = spark.createDataFrame([(i % 10,) for i in range(100)], "x long")
    row = FE.kmv_distinct(df, "x", k=64).collect()[0]
    assert row["n_kept"] == 10
    assert row["est"] == 10.0


def test_kmv_estimate_accuracy_and_determinism(spark):
    n = 5000
    df = spark.createDataFrame([(i,) for i in range(n)], "x long")
    est1 = FE.kmv_distinct(df, "x", k=256).collect()[0]["est"]
    # k=256 -> relative error ~1/sqrt(k) ~ 6%; allow 3 sigma
    assert abs(est1 - n) / n < 0.20
    # partitioning-invariant (the KMV merge is exact)
    est2 = FE.kmv_distinct(df.repartition(13), "x", k=256).collect()[0]["est"]
    assert est1 == est2


def test_kmv_grouped(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    got = FE.kmv_distinct(ev, "user_id", k=64, group_by="event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n")
    )
    j = {r["event_type"]: r for r in got.join(exact, "event_type").collect()}
    for r in j.values():
        if r["n_kept"] < 64:  # exact regime
            assert r["est"] == float(r["n"])


# ---------------------------------------------------------------------------
# quantile_bin
# ---------------------------------------------------------------------------

def test_quantile_bin_equal_frequency(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1000)], "v double")
    counts = (
        FE.quantile_bin(df, "v", n_bins=4)
        .groupBy("bin").count().orderBy("bin").collect()
    )
    assert [r["bin"] for r in counts] == [0, 1, 2, 3]
    assert all(abs(r["count"] - 250) <= 1 for r in counts)


def test_quantile_bin_null_value(spark):
    df = spark.createDataFrame([(1.0,), (None,), (2.0,), (3.0,)], "v double")
    rows = FE.quantile_bin(df, "v", n_bins=2).collect()
    assert any(r["bin"] is None for r in rows if r["v"] is None)


# ---------------------------------------------------------------------------
# corr_matrix
# ---------------------------------------------------------------------------

def test_corr_matrix_vs_numpy(spark):
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "a": rng.randn(500),
            "b": rng.randn(500),
        }
    )
    pdf["c"] = pdf["a"] * 0.8 + rng.randn(500) * 0.2
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in FE.corr_matrix(
            spark.createDataFrame(pdf), ["a", "b", "c"]
        ).collect()
    }
    ref = np.corrcoef(pdf[["a", "b", "c"]].to_numpy().T)
    assert got[("a", "b")] == pytest.approx(ref[0, 1], abs=2e-6)
    assert got[("a", "c")] == pytest.approx(ref[0, 2], abs=2e-6)
    assert got[("b", "c")] == pytest.approx(ref[1, 2], abs=2e-6)
    assert len(got) == 3  # upper triangle only


def test_corr_matrix_single_pass_plan(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    df = FE.corr_matrix(li, ["l_quantity", "l_extendedprice", "l_tax"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one scan feeding one aggregate -- never a scan per pair
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# funnel
# ---------------------------------------------------------------------------

def test_funnel_strict_ordering(spark):
    rows = [
        # u1: full ordered funnel
        (1, 10, "view"), (1, 20, "click"), (1, 30, "purchase"),
        # u2: click BEFORE first view must not count; the later click does
        (2, 5, "click"), (2, 10, "view"), (2, 50, "click"),
        # u3: purchase before click -> funnel stops at click stage
        (3, 1, "view"), (3, 2, "purchase"), (3, 3, "click"),
        # u4: never views
        (4, 9, "click"), (4, 11, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, ev string")
    got = {
        r["u"]: (r["stage1_view"], r["stage2_click"], r["stage3_purchase"])
        for r in FE.funnel(df, "u", "t", "ev",
                           ["view", "click", "purchase"]).collect()
    }
    assert got[1] == (10, 20, 30)
    assert got[2] == (10, 50, None)
    assert got[3] == (1, 3, None)  # purchase@2 predates click@3
    assert got[4] == (None, None, None)
    assert len(got) == 4  # one row per entity


def test_funnel_single_exchange_plan(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    plan = FE.funnel(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )._jdf.queryExecution().executedPlan().toString()
    # one hash exchange on the entity key; dedup reuses the partitioning
    assert plan.count("Exchange") == 1
    assert "Sort" not in plan or "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# robust_scale
# ---------------------------------------------------------------------------

def test_robust_scale_hand_calc(spark):
    df = spark.createDataFrame(
        [("a", float(v)) for v in [1, 2, 3, 4, 100]], "g string, v double"
    )
    got = {r["v"]: r["rz"] for r in
           FE.robust_scale(df, "v", group_by="g").collect()}
    med, iqr = 3.0, 2.0  # q25=2, q75=4 on [1,2,3,4,100]
    assert got[100.0] == pytest.approx((100 - med) / iqr)
    assert got[3.0] == pytest.approx(0.0)


def test_robust_scale_zero_iqr_null(spark):
    df = spark.createDataFrame([("a", 5.0)] * 4, "g string, v double")
    rows = FE.robust_scale(df, "v", group_by="g").collect()
    assert all(r["rz"] is None for r in rows)


# ---------------------------------------------------------------------------
# group_entropy
# ---------------------------------------------------------------------------

def test_group_entropy_values(spark):
    rows = (
        [(1, "a")] * 5                       # single category -> 0
        + [(2, "a"), (2, "b"), (2, "c"), (2, "d")]  # uniform 4 -> ln 4
        + [(3, "a"), (3, "a"), (3, "b"), (3, None)]  # NULL is an outcome
    )
    df = spark.createDataFrame(rows, "u long, c string")
    got = {r["u"]: (r["n_events"], r["entropy"]) for r in
           FE.group_entropy(df, "u", "c").collect()}
    assert got[1] == (5, pytest.approx(0.0))
    assert got[2] == (4, pytest.approx(np.log(4)))
    p = np.array([2, 1, 1]) / 4
    assert got[3] == (4, pytest.approx(float(-(p * np.log(p)).sum())))


# ---------------------------------------------------------------------------
# impute
# ---------------------------------------------------------------------------

def test_impute_group_median_and_indicator(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("a", None),
         ("b", 10.0), ("b", None),
         ("c", None)],  # all-null group -> global fallback
        "g string, v double",
    )
    got = FE.impute(df, "v", group_by="g").toPandas()
    filled = {(r.g, bool(r.v_was_null)): r.v_filled
              for r in got.itertuples()}
    assert filled[("a", True)] == pytest.approx(2.0)   # median(1,3)
    assert filled[("b", True)] == pytest.approx(10.0)
    # global median of [1,3,10] = 3
    assert filled[("c", True)] == pytest.approx(3.0)
    assert filled[("a", False)] in (1.0, 3.0)
    assert got.v_was_null.sum() == 3


def test_impute_mean_and_global(spark):
    df = spark.createDataFrame([(2.0,), (4.0,), (None,)], "v double")
    got = FE.impute(df, "v", strategy="mean").toPandas()
    assert got[got.v.isna()].v_filled.iloc[0] == pytest.approx(3.0)


def test_impute_all_null_stays_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    got = FE.impute(df, "v").toPandas()
    assert got.v_filled.isna().all()  # surfaced, not invented


def test_impute_validation(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="strategy"):
        FE.impute(df, "v", strategy="mode")
    df2 = spark.createDataFrame([(1.0, True)], "v double, v_was_null boolean")
    with pytest.raises(ValueError, match="v_was_null"):
        FE.impute(df2, "v")


# ---- count-min sketch join form, salted-aggregation default salt


def test_cms_broadcast_join_form_matches_literal_form(spark):
    from topo_descriptors_spark.operators import features as FT

    rows = [(i % 23,) for i in range(500)]
    df = spark.createDataFrame(rows, "k int")
    lit_form = {r.k: (r.est, r.n_true) for r in
                FT.cms_counts(df, "k", depth=4, width=64).collect()}
    # force the broadcast-join path at the same grid size
    old = FT._CMS_LITERAL_CELLS
    FT._CMS_LITERAL_CELLS = 1
    try:
        join_form = {r.k: (r.est, r.n_true) for r in
                     FT.cms_counts(df, "k", depth=4, width=64).collect()}
    finally:
        FT._CMS_LITERAL_CELLS = old
    assert lit_form == join_form


def test_cms_user_sized_grid_does_not_embed_literals(spark):
    from topo_descriptors_spark.operators.features import cms_counts

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    # 4 x 8192 = 32768 cells > threshold -> broadcast-join path; a wide
    # sketch on tiny data is collision-free, so est == n_true exactly
    out = {r.k: (r.est, r.n_true) for r in
           cms_counts(df, "k", depth=4, width=8192).collect()}
    assert out == {"a": (5, 5), "b": (3, 3), "c": (1, 1)}


def test_cms_join_fallback_plan_is_broadcast_only(spark):
    from topo_descriptors_spark.operators import features as FT

    df = spark.createDataFrame([("a",)] * 9 + [("b",)], "k string")
    old = FT._CMS_LITERAL_CELLS
    FT._CMS_LITERAL_CELLS = 1
    try:
        out = FT.cms_counts(df, "k", depth=4, width=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        FT._CMS_LITERAL_CELLS = old
    # one broadcast join per depth level, never a shuffled join
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_salted_agg_skips_map_columns_in_default_salt(spark):
    from topo_descriptors_spark.operators.features import salted_agg

    df = spark.createDataFrame(
        [("a", 1.0, {"x": 1}), ("a", 2.0, {"y": 2}), ("b", 3.0, {"z": 3})],
        "k string, v double, payload map<string,int>",
    )
    # pre-fix this raised at analysis time (xxhash64 rejects maps)
    got = {r.k: (r.v_count, r.v_sum) for r in
           salted_agg(df, "k", {"v": ["count", "sum"]}, salt_buckets=4).collect()}
    assert got == {"a": (2, 3.0), "b": (1, 3.0)}


def test_xxhashable_type_predicate():
    from pyspark.sql import types as T

    from topo_descriptors_spark.operators.features import _xxhashable

    assert _xxhashable(T.StringType())
    assert _xxhashable(T.ArrayType(T.IntegerType()))
    assert not _xxhashable(T.MapType(T.StringType(), T.IntegerType()))
    assert not _xxhashable(
        T.ArrayType(T.MapType(T.StringType(), T.IntegerType()))
    )
    assert not _xxhashable(
        T.StructType([T.StructField(
            "m", T.MapType(T.StringType(), T.IntegerType()))])
    )


# ---------------------------------------------------------------------------
# resample_ohlc
# ---------------------------------------------------------------------------

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


# ---------------------------------------------------------------------------
# salted_agg
# ---------------------------------------------------------------------------

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


# ------------------------------------------------------------- plan shapes


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_heavy_hitters_topk_not_global_sort(spark):
    df = spark.createDataFrame([("a",), ("b",)], "k string")
    plan = _plan_of(heavy_hitters(df, "k", k=5))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # one-row total joins broadcast
