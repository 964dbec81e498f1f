"""Round-4 operator batch: heavy hitters, cumulative distinct, OHLC
bars, count-min sketch, temporal split, retrieval join, stream
enrichment, salted aggregation.  Small crafted fixtures with
hand-computable answers."""

import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators.features import heavy_hitters
from topo_descriptors_spark.operators.window import cumulative_distinct


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


# ------------------------------------------------------- cumulative distinct


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


# --------------------------------------------------------- temporal split


def test_temporal_split_is_leakage_safe(spark):
    import datetime as dt

    rows = [
        (e, i, dt.datetime(2024, 1, 1 + i)) for e in (1, 2) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "entity_id int, seq int, ts timestamp")
    from topo_descriptors_spark.operators.pipeline import temporal_split

    out = temporal_split(df, valid_frac=0.2).collect()
    for e in (1, 2):
        train_max = max(r.ts for r in out if r.entity_id == e and r.split == "train")
        valid_min = min(r.ts for r in out if r.entity_id == e and r.split == "valid")
        assert train_max < valid_min  # every valid row strictly after train
    # latest 20% of 10 rows → percent_rank > 0.8 → exactly ranks 9,10 → 1 row?
    # percent_rank of row i (0-based) = i/9; > 0.8 → i = 8, 9 → 2 rows
    assert sum(r.split == "valid" for r in out) == 4


def test_temporal_split_single_row_entity(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "entity_id int, ts timestamp"
    )
    from topo_descriptors_spark.operators.pipeline import temporal_split

    assert temporal_split(df).collect()[0].split == "train"


def test_temporal_split_validates_frac(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))], "entity_id int, ts timestamp"
    )
    from topo_descriptors_spark.operators.pipeline import temporal_split

    with pytest.raises(ValueError):
        temporal_split(df, valid_frac=1.5)


# ------------------------------------------------------ two-table retrieval


def test_cosine_topk_join_matches_bruteforce(spark):
    import numpy as np

    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    rng = np.random.RandomState(3)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    qs = df.where("vec_id % 5 = 0")
    corpus = df.where("vec_id % 5 != 0")
    out = cosine_topk_join_blocked(qs, corpus, k=3).collect()
    got = {}
    for r in out:
        got.setdefault(r.id_q, []).append((r.rank, r.id_c))
    # numpy brute force
    qd = {i: np.array(v) for i, v in vecs if i % 5 == 0}
    cd = {i: np.array(v) for i, v in vecs if i % 5 != 0}
    for qi, qv in qd.items():
        sims = sorted(
            ((round(float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))), 9), -ci)
             for ci, cv in cd.items()),
            reverse=True,
        )[:3]
        want = [(-s[1]) for s in sims]
        assert [c for _, c in sorted(got[qi])] == want, qi


# ------------------------------------------------------ stream enrichment


def test_enrich_stream_equals_batch_join(spark, tmp_path):
    import pandas as pd

    from topo_descriptors_spark.streaming.sessions import enrich_stream

    pdf = pd.DataFrame(
        {"event_id": range(20), "user_id": [i % 4 for i in range(20)]}
    )
    src = str(tmp_path / "src"); (tmp_path / "src").mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{src}/b1")
    dim = spark.createDataFrame(
        pd.DataFrame({"user_id": [0, 1, 2], "tag": ["a", "b", "c"]})
    )
    schema = spark.read.parquet(f"{src}/b1").schema
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    out = enrich_stream(stream, dim, on="user_id")
    q = (
        out.writeStream.format("memory").queryName("enr_test")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckp")).start()
    )
    q.awaitTermination()
    got = spark.table("enr_test").toPandas().sort_values("event_id").reset_index(drop=True)
    assert len(got) == 20  # left join keeps user 3 (no dim row)
    assert got.loc[got.user_id == 3, "tag"].isna().all()
    assert (got.loc[got.user_id == 1, "tag"] == "b").all()


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


# ------------------------------------------ Arrow/BLAS retrieval join (r5)


def test_cosine_topk_join_blocked_guards(spark):
    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk_join_blocked(df, df, max_query_rows=5)
    dup = df.union(df.limit(1))
    with pytest.raises(ValueError, match="distinct"):
        cosine_topk_join_blocked(dup, df)
    # dimension mismatch raises inside the kernel (guard, not truncate)
    q3 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim"):
        cosine_topk_join_blocked(q3, df).collect()


def test_cosine_topk_join_blocked_no_corpus_shuffle(spark):
    """The corpus must reach the scoring kernel without an Exchange:
    the only shuffle in the plan is the final per-query ranking window
    over the k-bounded partials."""
    from topo_descriptors_spark.operators.similarity import (
        cosine_topk_join_blocked,
    )

    df = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(10)],
        "vec_id int, embedding array<double>",
    )
    plan = (
        cosine_topk_join_blocked(df.where("vec_id < 3"), df.where("vec_id >= 3"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    assert len(re.findall(r"Exchange", plan)) == 1  # ranking window only
    before_map = plan.split("MapInPandas")[-1]  # children of the kernel
    assert "Exchange" not in before_map
