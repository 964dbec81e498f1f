"""Deterministic synthetic fixtures (FIXTURES.md F3-F5).

Everything is generated distributed — ``spark.range`` + column
expressions, never a driver-side pandas materialization — so the same
generators scale from test fixtures to bench-scale tables.
Determinism: all pseudo-randomness is hash-of-id based (xxhash64 of the
row id and a seed literal), which is stable across partitionings,
executors and Spark versions — no RNG state, no ordering dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _u01(col, seed: int):
    """Deterministic uniform [0,1) from any column: xxhash64 → positive → scale."""
    h = F.xxhash64(col, F.lit(seed))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def documents_tok(
    spark: SparkSession, n_docs: int = 1000, seed: int = 42, vocab: int = 50257
) -> DataFrame:
    """F3 — the north-rule canonical input (BASELINE.json input_hint):
    ``(doc_id string, tokens array<int32>, n_tok int32, source string)``.

    Token length 8..512, skewed sources (web ≈ 80% — exercises salting).
    Tokens are a deterministic function of (doc_id, position).

    Generated with 4x defaultParallelism partitions: downstream per-task
    work (explode + window features) is heavy, so finer input granularity
    smooths scheduling tails (values are hash-of-id, so the partitioning
    never affects content).
    """
    parts = max(spark.sparkContext.defaultParallelism * 4, 4)
    df = spark.range(0, n_docs, 1, parts).select(F.col("id"))
    length = (8 + F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(505))).cast("int")
    u_src = _u01(F.col("id"), seed + 2)
    source = (
        F.when(u_src < 0.80, "web")
        .when(u_src < 0.90, "books")
        .when(u_src < 0.96, "code")
        .otherwise("wiki")
    )
    tokens = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: F.pmod(F.xxhash64(F.col("id") * 1000 + i, F.lit(seed + 3)), F.lit(vocab)).cast("int"),
    )
    return df.select(
        F.concat(F.lit("doc_"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("doc_id"),
        tokens.alias("tokens"),
        length.alias("n_tok"),
        source.alias("source"),
    ).withColumn("n_tok", F.size("tokens"))


def series(
    spark: SparkSession,
    n_entities: int = 200,
    max_points: int = 500,
    null_frac: float = 0.01,
    hot_entity_factor: int = 50,
    seed: int = 42,
) -> DataFrame:
    """F4 — entity time-series: ``(entity_id string, ts timestamp, pos long,
    value double, is_orig_null boolean)``; irregular gaps; entity 0 is hot
    (hot_entity_factor × rows) to exercise skew handling."""
    ent = spark.range(n_entities).select(F.col("id").alias("eid"))
    n_pts = F.when(
        F.col("eid") == 0, F.lit(min(max_points * hot_entity_factor, 25000))
    ).otherwise((50 + F.pmod(F.xxhash64("eid", F.lit(seed)), F.lit(max_points - 50))).cast("int"))
    df = ent.select(
        "eid", F.explode(F.sequence(F.lit(0), n_pts - 1)).alias("pos")
    )
    # irregular gaps: exponential-ish via -ln(u); mean gap 60s
    u = _u01(F.col("eid") * 100000 + F.col("pos"), seed + 4)
    gap = -F.log(F.lit(1.0) - u) * 60.0 + 1.0
    w = F.expr(
        "sum(gap) over (partition by eid order by pos rows between unbounded preceding and current row)"
    )
    df = df.withColumn("gap", gap).withColumn("offset_s", w).drop("gap")
    value = (
        F.lit(100.0) * F.sin(F.col("pos") / 7.0)
        + 10.0 * (_u01(F.col("eid") * 77777 + F.col("pos"), seed + 5) - 0.5)
    )
    u_null = _u01(F.col("eid") * 31337 + F.col("pos"), seed + 6)
    value = F.when(u_null < null_frac, F.lit(None)).otherwise(value)
    return df.select(
        F.concat(F.lit("e"), F.lpad(F.col("eid").cast("string"), 5, "0")).alias("entity_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")).cast("double") + F.col("offset_s"))
        .cast("timestamp")
        .alias("ts"),
        F.col("pos").cast("long").alias("pos"),
        value.alias("value"),
    ).withColumn("is_orig_null", F.col("value").isNull())


def asof_queries(
    spark: SparkSession, n_queries: int = 5000, n_entities: int = 200, seed: int = 42
) -> DataFrame:
    """F5 — point-in-time query side: ``(entity_id string, q_ts timestamp,
    q_id long)``; q_ts lands before/between/after series timestamps.

    Public API: fixture F5, the query side for :func:`series`."""
    df = spark.range(n_queries)
    eid = F.pmod(F.xxhash64("id", F.lit(seed + 7)), F.lit(n_entities))
    offset = _u01(F.col("id"), seed + 8) * 40000.0 - 2000.0  # some before t0
    return df.select(
        F.concat(F.lit("e"), F.lpad(eid.cast("string"), 5, "0")).alias("entity_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")).cast("double") + offset)
        .cast("timestamp")
        .alias("q_ts"),
        F.col("id").alias("q_id"),
    )
