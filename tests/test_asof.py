"""As-of join correctness: DuckDB ASOF JOIN oracle, plain-vs-bucketed
equivalence, and the zero-temporal-leakage property."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators.asof import asof_join, asof_join_bucketed
from topo_descriptors_spark.sources import synthetic


@pytest.fixture(scope="module")
def data(spark):
    state = synthetic.series(spark, n_entities=15, max_points=80, hot_entity_factor=10)
    queries = synthetic.asof_queries(spark, n_queries=800, n_entities=18)  # some entities with no state
    state.cache().count()
    queries.cache().count()
    return state, queries


def _duck_asof(state_pd, queries_pd, strict=False):
    con = duckdb.connect()
    con.register("state", state_pd)
    con.register("q", queries_pd)
    op = ">" if strict else ">="
    return con.sql(
        f"""
        SELECT q.entity_id, q.q_ts, q.q_id, s.ts AS matched_ts, s.value AS value
        FROM q ASOF LEFT JOIN state s
          ON q.entity_id = s.entity_id AND q.q_ts {op} s.ts
        """
    ).df()


def _compare(a: pd.DataFrame, b: pd.DataFrame):
    a = a.sort_values("q_id").reset_index(drop=True)
    b = b.sort_values("q_id").reset_index(drop=True)
    assert len(a) == len(b)
    assert a["matched_ts"].equals(b["matched_ts"]), "matched_ts mismatch"
    assert np.allclose(
        a["value"].to_numpy(float), b["value"].to_numpy(float), equal_nan=True
    )


def test_asof_vs_duckdb(data):
    state, queries = data
    out = asof_join(
        queries, state.select("entity_id", "ts", "value"), on="entity_id"
    ).toPandas()
    oracle = _duck_asof(
        state.select("entity_id", "ts", "value").toPandas(), queries.toPandas()
    )
    _compare(out[["q_id", "matched_ts", "value"]], oracle[["q_id", "matched_ts", "value"]])


def _tie_queries(state):
    # deterministic subset of state timestamps as query times (exact ties)
    return state.where(F.col("pos") % 7 == 0).select(
        "entity_id",
        F.col("ts").alias("q_ts"),
        F.xxhash64("entity_id", "pos").alias("q_id"),
    )


def test_asof_strict_vs_duckdb(data):
    state, queries = data
    ties = _tie_queries(state)
    out = asof_join(
        ties, state.select("entity_id", "ts", "value"), on="entity_id", strict=True
    ).toPandas()
    oracle = _duck_asof(
        state.select("entity_id", "ts", "value").toPandas(), ties.toPandas(), strict=True
    )
    # strict: a matched state row must be strictly earlier than the query
    m = out.dropna(subset=["matched_ts"])
    assert (m["matched_ts"] < m["q_ts"]).all()
    _compare(out[["q_id", "matched_ts", "value"]], oracle[["q_id", "matched_ts", "value"]])


def test_asof_inclusive_tie(data):
    state, _ = data
    ties = _tie_queries(state)
    out = asof_join(
        ties, state.select("entity_id", "ts", "value"), on="entity_id", strict=False
    ).toPandas()
    # inclusive: the state row AT q_ts is visible
    assert (out["matched_ts"] == out["q_ts"]).all()


def test_bucketed_equals_plain(data):
    state, queries = data
    s = state.select("entity_id", "ts", "value")
    plain = asof_join(queries, s, on="entity_id").toPandas()
    for bucket in (3600.0, 86400.0, 40.0):
        bucketed = asof_join_bucketed(
            queries, s, on="entity_id", bucket_seconds=bucket
        ).toPandas()
        _compare(
            plain[["q_id", "matched_ts", "value"]],
            bucketed[["q_id", "matched_ts", "value"]],
        )


def test_bucketed_strict_equals_plain(data):
    state, queries = data
    s = state.select("entity_id", "ts", "value")
    plain = asof_join(queries, s, on="entity_id", strict=True).toPandas()
    bucketed = asof_join_bucketed(
        queries, s, on="entity_id", bucket_seconds=3600.0, strict=True
    ).toPandas()
    _compare(
        plain[["q_id", "matched_ts", "value"]],
        bucketed[["q_id", "matched_ts", "value"]],
    )


def test_zero_leakage_property(data):
    """Deleting all state rows with ts > q must not change results at q."""
    state, queries = data
    s = state.select("entity_id", "ts", "value")
    cutoff = "2024-01-01 06:00:00"
    early_q = queries.where(F.col("q_ts") <= F.lit(cutoff).cast("timestamp"))
    full = asof_join(early_q, s, on="entity_id").toPandas()
    truncated_state = s.where(F.col("ts") <= F.lit(cutoff).cast("timestamp"))
    trunc = asof_join(early_q, truncated_state, on="entity_id").toPandas()
    _compare(
        full[["q_id", "matched_ts", "value"]], trunc[["q_id", "matched_ts", "value"]]
    )


def test_tolerance(data):
    state, queries = data
    s = state.select("entity_id", "ts", "value")
    out = asof_join(
        queries, s, on="entity_id", tolerance_seconds=120.0
    ).toPandas()
    age = (out["q_ts"] - out["matched_ts"]).dt.total_seconds()
    assert (age.dropna() <= 120.0).all()


def test_bucketed_negative_timestamps(spark):
    """Pre-1970 timestamps: floor() on negative epoch seconds must bucket
    consistently (floor division, not truncation)."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a"] * 4,
                "ts": pd.to_datetime(
                    ["1965-01-01", "1965-06-01", "1969-12-31", "1971-01-01"]
                ),
                "value": [1.0, 2.0, 3.0, 4.0],
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a", "a"],
                "q_ts": pd.to_datetime(["1965-03-01", "1970-01-01", "1999-01-01"]),
                "q_id": [0, 1, 2],
            }
        )
    )
    plain = asof_join(q, state, on="entity_id").toPandas().sort_values("q_id")
    bucketed = (
        asof_join_bucketed(q, state, on="entity_id", bucket_seconds=86400 * 365.0)
        .toPandas()
        .sort_values("q_id")
    )
    assert plain["value"].tolist() == [1.0, 3.0, 4.0]
    assert plain["value"].tolist() == bucketed["value"].tolist()
    assert plain["matched_ts"].tolist() == bucketed["matched_ts"].tolist()


def test_duplicate_query_rows_kept(spark):
    """Duplicate query rows are both preserved (left-join multiplicity)."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {"entity_id": ["a"], "ts": pd.to_datetime(["2024-01-01"]), "value": [7.0]}
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a"],
                "q_ts": pd.to_datetime(["2024-01-02", "2024-01-02"]),
                "q_id": [1, 1],
            }
        )
    )
    out = asof_join(q, state, on="entity_id").toPandas()
    assert len(out) == 2
    assert (out["value"] == 7.0).all()


def test_composite_key_asof(spark):
    """as-of over a composite key (entity, region) — each key pair keeps
    its own timeline."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a", "a", "b"],
                "region": ["eu", "us", "eu", "eu"],
                "ts": pd.to_datetime(
                    ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-01"]
                ),
                "value": [1.0, 2.0, 3.0, 9.0],
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a", "b", "b"],
                "region": ["eu", "us", "eu", "us"],
                "q_ts": pd.to_datetime(["2024-01-02"] * 4),
                "q_id": [0, 1, 2, 3],
            }
        )
    )
    out = (
        asof_join(q, state, on=["entity_id", "region"])
        .toPandas()
        .sort_values("q_id")
    )
    assert out["value"].tolist()[:3] == [1.0, 2.0, 9.0]
    assert pd.isna(out["value"].iloc[3])  # (b, us) has no state


def test_null_state_value_preserved(spark):
    """A matched state row with NULL value must yield NULL (not an older value)."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
                "value": [1.0, None],
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a"],
                "q_ts": pd.to_datetime(["2024-01-01 02:00"]),
                "q_id": [0],
            }
        )
    )
    out = asof_join(q, state, on="entity_id").toPandas()
    assert pd.isna(out.loc[0, "value"])
    assert out.loc[0, "matched_ts"] == pd.Timestamp("2024-01-01 01:00")


def test_bucketed_null_state_value_carried_in(spark):
    """The latest state row of an EARLIER bucket has a NULL value: the
    carry-in must still win over the older non-null row (as the plain
    form does in test_null_state_value_preserved)."""
    state = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a", "a"],
                "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 01:00"]),
                "value": [1.0, None],
            }
        )
    )
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "entity_id": ["a"],
                "q_ts": pd.to_datetime(["2024-01-03 02:00"]),
                "q_id": [0],
            }
        )
    )
    out = asof_join_bucketed(q, state, on="entity_id").toPandas()
    assert pd.isna(out.loc[0, "value"])
    assert out.loc[0, "matched_ts"] == pd.Timestamp("2024-01-01 01:00")


def test_interval_join_containment_and_left(spark):
    import pandas as pd

    from topo_descriptors_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5],
                "k": ["a", "a", "a", "b", "b"],
                "t": [5.0, 50.0, 260.0, 10.0, 400.0],
            }
        )
    )
    # intervals: one spans a bucket boundary (W=100), one overlaps
    # another, key b has one; t=400 matches nothing
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "b"],
                "iid": [10, 11, 20],
                "lo": [0.0, 40.0, 0.0],
                "hi": [60.0, 300.0, 20.0],
            }
        )
    )
    out = interval_join(
        ev, iv, on="k", ts="t", start="lo", end="hi", bucket_seconds=100.0
    ).toPandas()
    got = sorted(zip(out.event_id, out.iid))
    # e1(t=5): iv10 only; e2(t=50): BOTH iv10 and iv11 (overlap -> 2 rows);
    # e3(t=260): iv11 via the bucket-2 replica; e4: iv20; e5: none (inner)
    assert got == [(1, 10), (2, 10), (2, 11), (3, 11), (4, 20)]

    left = interval_join(
        ev, iv, on="k", ts="t", start="lo", end="hi",
        bucket_seconds=100.0, how="left",
    ).toPandas()
    assert len(left) == 6  # the 5 matches + e5 with NULL interval cols
    e5 = left[left.event_id == 5]
    assert len(e5) == 1 and pd.isna(e5.iloc[0]["iid"])


def test_interval_join_reserved_names_raise(spark):
    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame({"event_id": [1], "k": ["a"], "t": [1.0], "_ebucket": [0]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "lo": [0.0], "hi": [2.0]})
    )
    with pt.raises(ValueError, match="reserved"):
        interval_join(ev, iv, on="k", ts="t", start="lo", end="hi")


def test_interval_join_replication_guard_raises_on_sentinel(spark):
    """An open-ended interval (year-9999-style sentinel end) must RAISE
    instead of silently exploding into ~10^8 bucket replicas (VERDICT r3
    #4 — the engine's guard-and-raise convention)."""
    import pandas as pd
    import pytest as pt
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from topo_descriptors_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame({"event_id": [1], "k": ["a"], "t": [5.0]})
    )
    # sentinel end: 10^9 seconds ~ decades of daily buckets
    iv = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "iid": [1], "lo": [0.0], "hi": [1.0e9]})
    )
    with pt.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        interval_join(
            ev, iv, on="k", ts="t", start="lo", end="hi",
            bucket_seconds=86400.0, max_buckets_per_interval=1000,
        ).collect()
    assert "max_buckets_per_interval" in str(ei.value)
    # same data passes with the guard widened or disabled
    ok = interval_join(
        ev, iv, on="k", ts="t", start="lo", end="hi",
        bucket_seconds=86400.0, max_buckets_per_interval=None,
    ).toPandas()
    assert list(ok.event_id) == [1]
    ok2 = interval_join(
        ev, iv, on="k", ts="t", start="lo", end="hi",
        bucket_seconds=1.0e9, max_buckets_per_interval=1000,
    ).toPandas()
    assert list(ok2.event_id) == [1]


def test_interval_join_payload_name_collision_raises(spark):
    """Interval payload columns sharing a name with event columns would
    produce an ambiguous duplicate-named output schema — raise up front
    (ADVICE r3)."""
    import pandas as pd
    import pytest as pt

    from topo_descriptors_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame({"event_id": [1], "k": ["a"], "t": [1.0]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame({"k": ["a"], "t": [9.0], "lo": [0.0], "hi": [2.0]})
    )
    with pt.raises(ValueError, match="collide"):
        interval_join(ev, iv, on="k", ts="t", start="lo", end="hi")


# ---------------------------------------------------------------- directions


def _duck_asof_dir(state_pd, queries_pd, op: str):
    con = duckdb.connect()
    con.register("state", state_pd)
    con.register("q", queries_pd)
    return con.sql(
        f"""
        SELECT q.entity_id, q.q_ts, q.q_id, s.ts AS matched_ts, s.value AS value
        FROM q ASOF LEFT JOIN state s
          ON q.entity_id = s.entity_id AND q.q_ts {op} s.ts
        """
    ).df()


def test_asof_forward_vs_duckdb(data):
    state, queries = data
    sv = state.select("entity_id", "ts", "value")
    out = asof_join(queries, sv, on="entity_id", direction="forward").toPandas()
    oracle = _duck_asof_dir(sv.toPandas(), queries.toPandas(), "<=")
    _compare(out[["q_id", "matched_ts", "value"]], oracle[["q_id", "matched_ts", "value"]])


def test_asof_forward_strict_vs_duckdb(data):
    state, queries = data
    sv = state.select("entity_id", "ts", "value")
    out = asof_join(
        queries, sv, on="entity_id", direction="forward", strict=True
    ).toPandas()
    oracle = _duck_asof_dir(sv.toPandas(), queries.toPandas(), "<")
    _compare(out[["q_id", "matched_ts", "value"]], oracle[["q_id", "matched_ts", "value"]])


def test_asof_nearest_vs_pandas(data):
    """pandas.merge_asof(direction='nearest') oracle — except at exact
    mid-point ties, where pandas picks forward and the engine documents
    backward; exclude tie rows from the comparison and pin the engine's
    tie rule separately below."""
    state, queries = data
    sv = state.select("entity_id", "ts", "value")
    out = asof_join(queries, sv, on="entity_id", direction="nearest").toPandas()
    sp = sv.toPandas().sort_values("ts").reset_index(drop=True)
    qp = queries.toPandas().sort_values("q_ts").reset_index(drop=True)
    oracle = pd.merge_asof(
        qp, sp, left_on="q_ts", right_on="ts", by="entity_id", direction="nearest"
    ).rename(columns={"ts": "matched_ts"})
    m = out.sort_values("q_id").reset_index(drop=True)
    o = oracle.sort_values("q_id").reset_index(drop=True)
    gap_b = (o["q_ts"] - o["matched_ts"]).dt.total_seconds()
    # rows where pandas and the engine may legitimately differ: exact ties
    ties = set()
    for i, r in o.iterrows():
        g = abs((r["q_ts"] - r["matched_ts"]).total_seconds()) if pd.notna(r["matched_ts"]) else None
        if g is None:
            continue
        # tie iff a state row exists at the mirrored timestamp
        ent = sp[sp.entity_id == r.entity_id]
        mirrored = r["q_ts"] + (r["q_ts"] - r["matched_ts"])
        if (ent["ts"] == mirrored).any() and g > 0:
            ties.add(i)
    keep = [i for i in range(len(o)) if i not in ties]
    assert (
        m.loc[keep, "matched_ts"].reset_index(drop=True).equals(
            o.loc[keep, "matched_ts"].reset_index(drop=True))
    )
    assert np.allclose(
        m.loc[keep, "value"].to_numpy(float),
        o.loc[keep, "value"].to_numpy(float),
        equal_nan=True,
    )


def test_asof_nearest_tie_prefers_backward(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame([(1, T(20))], "entity_id int, q_ts timestamp")
    s = spark.createDataFrame(
        [(1, T(19), 19.0), (1, T(21), 21.0)], "entity_id int, ts timestamp, value double"
    )
    row = asof_join(q, s, on="entity_id", direction="nearest").collect()[0]
    assert row.value == 19.0  # equidistant -> backward match wins


def test_asof_nearest_tolerance(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame([(1, T(20)), (2, T(20))], "entity_id int, q_ts timestamp")
    s = spark.createDataFrame(
        [(1, T(15), 15.0), (2, T(22), 22.0)], "entity_id int, ts timestamp, value double"
    )
    out = {r.entity_id: r.value for r in asof_join(
        q, s, on="entity_id", direction="nearest", tolerance_seconds=3
    ).collect()}
    assert out[1] is None  # 5s gap > 3s tolerance
    assert out[2] == 22.0  # 2s forward gap within tolerance


def test_asof_nearest_single_window_sort(spark):
    """The nearest direction must not pay a second sort: both frames share
    one (ts, side) sort order, so the physical plan carries exactly one
    Exchange and one Sort below a single Window node."""
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame([(1, T(20))], "entity_id int, q_ts timestamp")
    s = spark.createDataFrame([(1, T(19), 1.0)], "entity_id int, ts timestamp, value double")
    plan = (
        asof_join(q, s, on="entity_id", direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 1
    assert plan.count("+- Sort") == 1


def test_asof_direction_validation(spark, data):
    state, queries = data
    with pytest.raises(ValueError, match="direction"):
        asof_join(queries, state, on="entity_id", direction="sideways")


def test_asof_nearest_strict_excludes_equal_ts(spark):
    """strict nearest skips the equal-timestamp state row on BOTH
    sides and falls through to the next-nearest row (not to NULL)."""
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame(
        [(1, T(20)), (2, T(20)), (3, T(20))], "entity_id int, q_ts timestamp"
    )
    s = spark.createDataFrame(
        [
            # entity 1: exact hit shadows an older row -> strict takes the older
            (1, T(20), 99.0), (1, T(14), 14.0),
            # entity 2: exact hit shadows a CLOSER forward row
            (2, T(20), 99.0), (2, T(23), 23.0), (2, T(10), 10.0),
            # entity 3: only an exact hit -> strict matches nothing
            (3, T(20), 99.0),
        ],
        "entity_id int, ts timestamp, value double",
    )
    out = {r.entity_id: r for r in asof_join(
        q, s, on="entity_id", direction="nearest", strict=True
    ).collect()}
    assert out[1].value == 14.0
    assert out[2].value == 23.0
    assert out[3].value is None and out[3].matched_ts is None
    # and non-strict takes every exact hit
    lax = {r.entity_id: r.value for r in asof_join(
        q, s, on="entity_id", direction="nearest"
    ).collect()}
    assert lax == {1: 99.0, 2: 99.0, 3: 99.0}


def test_asof_nearest_strict_tie_prefers_backward(spark):
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame([(1, T(20))], "entity_id int, q_ts timestamp")
    s = spark.createDataFrame(
        [(1, T(20), 99.0), (1, T(17), 17.0), (1, T(23), 23.0)],
        "entity_id int, ts timestamp, value double",
    )
    row = asof_join(
        q, s, on="entity_id", direction="nearest", strict=True
    ).collect()[0]
    assert row.value == 17.0  # equidistant after exclusion -> backward


def test_asof_nearest_strict_vs_pandas(data):
    """pandas.merge_asof(direction='nearest', allow_exact_matches=False)
    oracle, excluding exact mid-point ties (engine documents backward
    preference; pandas' tie pick differs) — same protocol as the
    non-strict oracle test above."""
    state, queries = data
    sv = state.select("entity_id", "ts", "value")
    out = asof_join(
        queries, sv, on="entity_id", direction="nearest", strict=True
    ).toPandas()
    sp = sv.toPandas().sort_values("ts").reset_index(drop=True)
    qp = queries.toPandas().sort_values("q_ts").reset_index(drop=True)
    oracle = pd.merge_asof(
        qp, sp, left_on="q_ts", right_on="ts", by="entity_id",
        direction="nearest", allow_exact_matches=False,
    ).rename(columns={"ts": "matched_ts"})
    m = out.sort_values("q_id").reset_index(drop=True)
    o = oracle.sort_values("q_id").reset_index(drop=True)
    ties = set()
    for i, r in o.iterrows():
        if pd.isna(r["matched_ts"]):
            continue
        g = abs((r["q_ts"] - r["matched_ts"]).total_seconds())
        ent = sp[sp.entity_id == r.entity_id]
        mirrored = r["q_ts"] + (r["q_ts"] - r["matched_ts"])
        if (ent["ts"] == mirrored).any() and g > 0:
            ties.add(i)
    keep = [i for i in range(len(o)) if i not in ties]
    assert (
        m.loc[keep, "matched_ts"].reset_index(drop=True).equals(
            o.loc[keep, "matched_ts"].reset_index(drop=True))
    )
    assert np.allclose(
        m.loc[keep, "value"].to_numpy(float),
        o.loc[keep, "value"].to_numpy(float),
        equal_nan=True,
    )


def test_asof_nearest_strict_one_exchange_two_sorts(spark):
    """nearest+strict is the one as-of shape needing opposite equal-ts
    secondary sorts: the plan must still shuffle ONCE (both windows
    share the partitioning) but carries two Sort nodes."""
    import datetime as dt

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    q = spark.createDataFrame([(1, T(20))], "entity_id int, q_ts timestamp")
    s = spark.createDataFrame(
        [(1, T(19), 1.0)], "entity_id int, ts timestamp, value double"
    )
    plan = (
        asof_join(q, s, on="entity_id", direction="nearest", strict=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert plan.count("Window") == 2
    assert plan.count("+- Sort") == 2
