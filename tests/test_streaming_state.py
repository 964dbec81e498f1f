"""Stateful streaming operator: state carries across micro-batches and
every emitted row equals the batch operator's row."""

import os
import tempfile
import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F


def test_decayed_stream_equals_batch_operator(spark):
    """decayed_entity_state must reproduce the batch decayed_features
    row for row (bounded trailing-k state IS the batch window), with
    state carrying across micro-batches (time-ordered files)."""
    rng = np.random.RandomState(11)
    t0 = pd.Timestamp("2024-01-01")

    def batch(offset_h, start_id, n=40):
        return pd.DataFrame(
            {
                "event_id": np.arange(start_id, start_id + n, dtype=np.int64),
                "user_id": rng.randint(0, 4, n).astype(np.int64),
                "ts": [
                    t0 + pd.Timedelta(hours=offset_h, seconds=int(i) * 1800)
                    for i in range(n)
                ],
                "value": np.where(
                    rng.rand(n) < 0.1, np.nan, rng.rand(n) * 10
                ),
            }
        )

    # batch 2 strictly later than batch 1 so cross-batch arrival order
    # equals time order (the documented incremental-state contract)
    b1, b2 = batch(0, 0), batch(40, 100)
    from topo_descriptors_spark.operators.window import decayed_features
    from topo_descriptors_spark.streaming.state import decayed_entity_state

    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        os.makedirs(src)
        spark.createDataFrame(b1).coalesce(1).write.parquet(f"{src}/b1")
        time.sleep(1.1)
        spark.createDataFrame(b2).coalesce(1).write.parquet(f"{src}/b2")
        schema = spark.read.parquet(f"{src}/b1").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        out = decayed_entity_state(
            stream, half_life_seconds=3600.0, lookback_rows=8
        )
        q = (
            out.writeStream.format("memory")
            .queryName("decay_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = (
            spark.sql("select * from decay_test").toPandas()
            .sort_values("id").reset_index(drop=True)
        )

    both = pd.concat([b1, b2])
    exp = (
        decayed_features(
            spark.createDataFrame(both), half_life_seconds=3600.0,
            entity="user_id", order="ts", value="value",
            lookback_rows=8, tiebreak="event_id",
        )
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    assert len(got) == len(exp) == 80
    assert (got["id"].to_numpy() == exp["event_id"].to_numpy()).all()
    assert np.allclose(got["decayed_sum"], exp["decayed_sum"], atol=1e-9)
    assert np.allclose(got["decayed_count"], exp["decayed_count"], atol=1e-9)
    # multiple micro-batches really happened (state carried over)
    assert got["id"].max() >= 100
