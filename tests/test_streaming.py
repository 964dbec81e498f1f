"""Streaming sessionization: availableNow drain equals batch sessionize."""

import os
import tempfile

import pandas as pd
import pytest

from pyspark.sql import functions as F

from topo_descriptors_spark.operators import window as W
from topo_descriptors_spark.streaming.sessions import run_available_now, sessionize_stream


def test_stream_sessions_equal_batch(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    t = pd.Timestamp("2024-01-01")
    for uid in range(5):
        t_u = t
        for i in range(60):
            t_u = t_u + pd.Timedelta(seconds=float(rng.exponential(400) + 1))
            rows.append((uid, t_u, float(rng.rand())))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])

    with tempfile.TemporaryDirectory() as d:
        import time

        src, out, ckp = f"{d}/src", f"{d}/out", f"{d}/ckp"
        os.makedirs(src)
        spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{src}/batch1")
        # sentinel flush event in a LATER file: append-mode session output
        # only emits sessions the watermark has passed, so a far-future
        # event in a second micro-batch advances the watermark beyond all
        # real sessions (the standard drain trick)
        time.sleep(1.1)
        flush = pd.DataFrame(
            {"user_id": [9999], "ts": [pd.Timestamp("2024-03-01")], "value": [0.0]}
        )
        spark.createDataFrame(flush).coalesce(1).write.parquet(f"{src}/batch2")
        schema = spark.read.parquet(f"{src}/batch1").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        sessions = sessionize_stream(stream, gap_seconds=600, entity="user_id")
        run_available_now(sessions, out, ckp)
        got = spark.read.parquet(out).toPandas()
        got = got[got.user_id != 9999]

        # batch oracle: sessionize + aggregate per session
        batch = W.sessionize(
            spark.createDataFrame(pdf), gap_seconds=600, entity="user_id", order="ts"
        )
        expect = (
            batch.groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
                F.min("ts").alias("first_ts"),
            )
            .toPandas()
        )
        assert len(got) == len(expect)
        g = got.sort_values(["user_id", "first_ts"]).reset_index(drop=True)
        e = expect.sort_values(["user_id", "first_ts"]).reset_index(drop=True)
        assert g["n_events"].tolist() == e["n_events"].tolist()
        assert (g["sum_value"] - e["sum_value"]).abs().max() < 1e-9
        assert g["first_ts"].equals(e["first_ts"])


def test_dedup_stream_equals_batch_within_watermark(spark):
    """Duplicates re-sent across micro-batches (within the watermark)
    collapse to one row per key — equal to batch dropDuplicates."""
    import numpy as np

    from topo_descriptors_spark.streaming.sessions import dedup_stream

    rng = np.random.RandomState(5)
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        (i, t0 + pd.Timedelta(seconds=int(rng.randint(0, 3000))), float(rng.rand()))
        for i in range(40)
    ]
    pdf1 = pd.DataFrame(rows, columns=["event_id", "ts", "value"])
    # second file: 15 duplicate ids (same payload) + 10 new ids
    dup = pdf1.iloc[:15]
    new = pd.DataFrame(
        [
            (100 + i, t0 + pd.Timedelta(seconds=3000 + i), float(i))
            for i in range(10)
        ],
        columns=["event_id", "ts", "value"],
    )
    pdf2 = pd.concat([dup, new])

    with tempfile.TemporaryDirectory() as d:
        import time

        src, out, ckp = f"{d}/src", f"{d}/out", f"{d}/ckp"
        os.makedirs(src)
        spark.createDataFrame(pdf1).coalesce(1).write.parquet(f"{src}/b1")
        time.sleep(1.1)
        spark.createDataFrame(pdf2).coalesce(1).write.parquet(f"{src}/b2")
        schema = spark.read.parquet(f"{src}/b1").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        deduped = dedup_stream(stream, id_cols=("event_id",), watermark="2 hours")
        run_available_now(deduped, out, ckp)
        got = spark.read.parquet(out)
        assert got.count() == 50  # 40 originals + 10 new, 15 dups dropped
        assert got.select("event_id").distinct().count() == 50
        batch = (
            spark.createDataFrame(pd.concat([pdf1, pdf2]))
            .dropDuplicates(["event_id"])
        )
        assert batch.count() == got.count()


def test_windowed_counts_stream_equals_batch(spark):
    """Tumbling-window streaming counts drained availableNow equal the
    batch floor-division bucketing (epoch-aligned windows)."""
    import numpy as np

    from topo_descriptors_spark.streaming.sessions import windowed_counts_stream

    rng = np.random.RandomState(7)
    rows = []
    for uid in range(4):
        t = pd.Timestamp("2024-01-01")
        for i in range(50):
            t = t + pd.Timedelta(seconds=float(rng.exponential(900) + 1))
            rows.append((uid, t, float(rng.rand())))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])

    with tempfile.TemporaryDirectory() as d:
        src, ckp = f"{d}/src", f"{d}/ckp"
        os.makedirs(src)
        spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{src}/batch1")
        schema = spark.read.parquet(f"{src}/batch1").schema
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        agg = windowed_counts_stream(
            stream, 3600, watermark="87600 hours"
        )
        name = "winc_test"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckp)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.table(name)
            .select(
                "user_id",
                F.unix_micros("window_start").alias("start_us"),
                "n_events",
                F.round("sum_value", 6).alias("sum_value"),
            )
            .toPandas()
            .sort_values(["user_id", "start_us"])
            .reset_index(drop=True)
        )
    batch = spark.createDataFrame(pdf)
    want = (
        batch.groupBy(
            "user_id",
            (
                (F.floor(F.col("ts").cast("double") / 3600) * 3600) * 1_000_000
            ).cast("long").alias("start_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .toPandas()
        .sort_values(["user_id", "start_us"])
        .reset_index(drop=True)
    )
    got["n_events"] = got["n_events"].astype("int64")
    want["n_events"] = want["n_events"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_state_partitions_pins_and_restores(spark):
    from topo_descriptors_spark.streaming.sessions import state_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with state_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # restore happens on error too
    with pytest.raises(RuntimeError):
        with state_partitions(spark, 5):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ------------------------------ availableNow state-partition pinning


def test_run_available_now_pins_state_partitions(spark, tmp_path):
    import pandas as pd

    from topo_descriptors_spark.streaming.sessions import (
        run_available_now,
        sessionize_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    # epoch-micros longs sidestep parquet timestamp-annotation pitfalls
    # (pandas writes ns INT64 that Spark refuses as timestamp[_ntz]);
    # sentinel flush event in a later file: append-mode session output
    # only emits sessions the watermark has passed (the standard drain
    # trick, same as test_streaming.py)
    base = 1704067200_000000  # 2024-01-01 00:00 UTC in micros
    pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts_us": [base, base + 600_000_000, base + 3_600_000_000],
        "value": [1.0, 2.0, 3.0],
    }).to_parquet(src / "a_part0.parquet")
    pd.DataFrame({
        "user_id": [9999],
        "ts_us": [base + 90 * 86400_000_000],  # far future
        "value": [0.0],
    }).to_parquet(src / "b_flush.parquet")
    ev = (spark.readStream.schema("user_id long, ts_us long, value double")
          .option("maxFilesPerTrigger", 1)
          .parquet(str(src))
          .select("user_id", F.timestamp_micros("ts_us").alias("ts"), "value"))
    sess = sessionize_stream(ev, gap_seconds=3600, watermark="1 hour")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    run_available_now(sess, str(tmp_path / "out"), str(tmp_path / "ckp"),
                      n_state_partitions=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the checkpoint records the pinned state partition count
    import json as _json
    meta = _json.loads((tmp_path / "ckp" / "offsets" / "0").read_text()
                       .splitlines()[1])
    assert meta["conf"]["spark.sql.shuffle.partitions"] == "2"
    out = spark.read.parquet(str(tmp_path / "out")).where("user_id != 9999")
    assert out.count() == 2  # two sessions (gap > 1h splits user 1 vs 2)


# ---- stream enrichment


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
