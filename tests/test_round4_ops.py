"""Round-4 operator batch: heavy hitters and count-min sketch.  Small
crafted fixtures with hand-computable answers."""

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
