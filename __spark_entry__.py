"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is built from the public operators of
``topo_descriptors_spark`` (SURVEY.md §2) and has a matching DuckDB
oracle in ``oracle_sql()``; the driver compares them at sf=0.01
(row count + schema + order-insensitive value hash).

Float outputs are rounded to 6 decimals on BOTH sides so engine-order
floating-point noise (different summation order between Spark and
DuckDB) cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from topo_descriptors_spark.functions.planner import gaussian_weights
from topo_descriptors_spark.operators import dedup, similarity, text
from topo_descriptors_spark.operators import window as W
from topo_descriptors_spark.operators.asof import asof_join, asof_join_bucketed
from topo_descriptors_spark.operators.dedup import minhash_params
from topo_descriptors_spark.operators.text import HASH_PRIME
from topo_descriptors_spark.sources.io import read_table, state_partitions_for

SF_SMOKE = "/root/testdata/sf0.001"

_R = 6  # float rounding for hash stability
EMB_DIM = 64  # embeddings.embedding dimensionality (TESTDATA.md, all SFs)


def _r(c, n=_R):
    return F.round(c, n)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "events")


# a deterministically-nulled value column to exercise fill operators
_NULLED = "CASE WHEN event_id % 17 = 0 THEN NULL ELSE value END"


def _with_nulled(df: DataFrame) -> DataFrame:
    return df.withColumn("value_n", F.expr(_NULLED))


_STREAM_GATE_TABLES: dict[str, str] = {}  # prefix -> last sink table


def _drain_to_memory(spark, sdf, prefix, mode, n_state=None):
    """Drain a streaming DataFrame availableNow into a memory sink and
    return the sink as a batch DataFrame — the shared plumbing of the
    five streaming gate rows (ADVICE r6: each drain used to leak its
    mkdtemp checkpoint and its uuid-named sink table, so repeated bench
    runs accumulated /tmp litter and complete-mode driver memory).

    The checkpoint dir is removed as soon as the drain terminates (the
    memory sink holds the result; a checkpoint only matters to a LIVE
    query).  The PREVIOUS same-prefix sink table is dropped on the next
    call — the driver/bench/selfcheck loops are serial, so by then it
    has been materialized; holding results from two invocations of the
    SAME gate row concurrently is not a supported pattern.  Stateful
    drains pass ``n_state`` from ``sources.io.state_partitions_for``:
    state partitions sized to the events input, not the session's batch
    shuffle default (see streaming.sessions.state_partitions — 10-20x
    measured at sf0.1).
    """
    import shutil
    import tempfile
    import uuid
    from contextlib import nullcontext

    from topo_descriptors_spark.streaming.sessions import state_partitions

    old = _STREAM_GATE_TABLES.pop(prefix, None)
    if old is not None:
        spark.catalog.dropTempView(old)
    name = prefix + "_" + uuid.uuid4().hex[:8]
    ckp = tempfile.mkdtemp(prefix="ckp_" + prefix + "_")
    ctx = state_partitions(spark, n_state) if n_state else nullcontext()
    try:
        with ctx:
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckp)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckp, ignore_errors=True)
    _STREAM_GATE_TABLES[prefix] = name
    return spark.table(name)


def _events_stream(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """The events table as a file STREAM, projected to ``cols`` with
    ``ts`` cast to TIMESTAMP (watermarks and session windows need it).
    The file stream source requires a DIRECTORY; the testdata tables
    are single files, so this streams the sf dir with a glob filter."""
    sdf = (
        spark.readStream.schema(_events(spark, sf_dir).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return sdf.select(
        *[F.col(c).cast("timestamp").alias(c) if c == "ts" else c for c in cols]
    )


# ---------------------------------------------------------------------------
# window features (SURVEY.md §2.5) over events(user_id, ts, value)
# ---------------------------------------------------------------------------

def q_tpi_multiscale(spark, sf_dir):
    df = W.tpi(_events(spark, sf_dir), [3, 9, 25], value="value",
               entity="user_id", order="ts")
    return df.select(
        "event_id", "user_id",
        _r("tpi_3").alias("tpi_3"),
        _r("tpi_9").alias("tpi_9"),
        _r("tpi_25").alias("tpi_25"),
    )


def q_rolling_std(spark, sf_dir):
    df = W.rolling_std(_events(spark, sf_dir), [9, 25], value="value",
                       entity="user_id", order="ts")
    return df.select(
        "event_id", "user_id",
        _r("std_9").alias("std_9"),
        _r("std_25").alias("std_25"),
    )


def q_gaussian_ma(spark, sf_dir):
    df = W.gaussian_ma(_events(spark, sf_dir), [1.0], value="value",
                       entity="user_id", order="ts")
    return df.select("event_id", "user_id", _r("smooth_1p0").alias("smooth"))


def q_gaussian_arrow(spark, sf_dir):
    """The Arrow chunked Gaussian path (large-sigma physical plan) forced
    onto a small sigma so it shares w_gaussian_ma's exact oracle — the
    cross-path parity claim, hash-verified at the gate."""
    df = W.gaussian_ma_arrow(
        _events(spark, sf_dir), [1.0], value="value",
        entity="user_id", order="ts", chunk_size=256,
    )
    return df.select("event_id", "user_id", _r("smooth_1p0").alias("smooth"))


def q_gradient(spark, sf_dir):
    df = W.gradient(_events(spark, sf_dir), value="value",
                    entity="user_id", order="ts")
    return df.select(
        "event_id", "user_id",
        _r(F.col("dvdt") * 1000).alias("dvdt_k"),  # per-ms scale keeps 6dp meaningful
        _r("slope_deg").alias("slope_deg"),
    )


def q_backfill(spark, sf_dir):
    df = W.backfill(_with_nulled(_events(spark, sf_dir)), value="value_n",
                    entity="user_id", order="ts")
    return df.select(
        "event_id", "user_id",
        _r("ffill").alias("ffill"),
        _r("bfill").alias("bfill"),
        _r("nearest_fill").alias("nearest_fill"),
    )


def q_sessionize(spark, sf_dir):
    df = W.sessionize(_events(spark, sf_dir), gap_seconds=21600,
                      entity="user_id", order="ts")
    return df.select("event_id", "user_id", "session_id")


def q_sx_shelter(spark, sf_dir):
    df = W.sx_1d(_events(spark, sf_dir), radius_steps=5, radius_min_steps=1,
                 height=5.0, step_meters=10.0, value="value",
                 entity="user_id", order="ts")
    return df.select("event_id", "user_id", _r("sx").alias("sx"))


# 1-D valley/ridge matched-filter bank (W5 recast); weights z-normalized
# by the operator — the oracle embeds the same normalized literals
MF_FILTERS = {
    "ridge": [-2.0, -1.0, 0.0, -1.0, -2.0],
    "ushape": [1.0, 1.0, 0.0, 1.0, 1.0],
    "vshape": [2.0, 1.0, 0.0, 1.0, 2.0],
}


def q_matched_filter(spark, sf_dir):
    out = W.matched_filter_bank(
        _events(spark, sf_dir), MF_FILTERS, value="value",
        entity="user_id", order="ts",
    )
    return out.select(
        "event_id", "user_id", _r("mf_score").alias("mf_score"), "mf_id"
    )


def q_tpi_chunked(spark, sf_dir):
    """Skew-proof chunked windows (partition key (entity, chunk) + halo):
    must equal the plain window — same oracle as a plain TPI over a
    dense row_number position axis."""
    ev = _events(spark, sf_dir)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts")
    ) - F.lit(1)
    seq = ev.select("event_id", "user_id", rn.cast("long").alias("pos"), "value")
    out = W.multiscale_features_chunked(
        seq, [9], chunk_size=64, value="value", entity="user_id", order="pos"
    )
    return out.select(
        "event_id", "user_id",
        _r("tpi_9").alias("tpi_9"),
        _r("std_9").alias("std_9"),
    )


# ---------------------------------------------------------------------------
# as-of joins (SURVEY.md §2.3 J1)
# ---------------------------------------------------------------------------

def _clicks_purchases(spark, sf_dir, value_alias):
    """The as-of contract inputs: click rows as queries ``(q_id, user_id,
    q_ts)`` and purchase rows as state ``(user_id, ts, <value_alias>)``."""
    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("q_id"), "user_id", F.col("ts").alias("q_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias(value_alias)
    )
    return clicks, purchases


def _asof_rows(out, value_alias):
    """The as-of contract output columns, value rounded for the hash."""
    return out.select(
        "q_id", "user_id", "q_ts", "matched_ts",
        _r(value_alias).alias(value_alias),
    )


def q_asof_events(spark, sf_dir):
    """Each click sees the user's latest purchase at-or-before it."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "purchase_value")
    out = asof_join(clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts")
    return _asof_rows(out, "purchase_value")


def q_asof_bucketed(spark, sf_dir):
    """The skew-proof (keys, time_bucket)-partitioned as-of join through
    the gate — same semantics as q_asof_events, same DuckDB oracle, but
    the bounded-partition physical plan (carry-in forward fill across
    buckets), so the skew path itself is hash-verified."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "purchase_value")
    out = asof_join_bucketed(
        clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts",
        bucket_seconds=21600.0,
    )
    return _asof_rows(out, "purchase_value")


def q_asof_tolerance(spark, sf_dir):
    """As-of with a max-staleness tolerance: matches older than 6h are
    nulled (query rows survive) — the PIT-join freshness knob, through
    the gate."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "purchase_value")
    out = asof_join(clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts",
                    tolerance_seconds=21600.0)
    return _asof_rows(out, "purchase_value")


FUSED_NQ = 3


def q_asof_fused(spark, sf_dir):
    """Frame features at the point-in-time match through the gate: TPI/std
    over the per-user sequence (window.multiscale_features), then the PIT
    match of each query position (asof_join).  Positions are row_number
    per user (ties pinned by event_id); query positions come from the
    portable hash so the oracle can replay them."""
    from topo_descriptors_spark.operators.text import PORTABLE_HASH_SQL

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("pos"),
        "value",
    )
    key = "concat(cast(user_id as string), '#', cast(i as string))"
    h = PORTABLE_HASH_SQL.format(col=key)
    q = seq.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).select(
        "user_id",
        F.explode(
            F.expr(f"transform(sequence(0, {FUSED_NQ - 1}), i -> {h} % n)")
        ).alias("q_pos"),
    )
    feats = W.multiscale_features(
        seq, [9], value="value", entity="user_id", order="pos"
    )
    out = asof_join(
        q, feats.select("user_id", "pos", "tpi_9", "std_9"),
        on="user_id", q_ts="q_pos", s_ts="pos",
    )
    return out.select(
        "user_id", "q_pos", "matched_ts",
        _r("tpi_9").alias("tpi_9"), _r("std_9").alias("std_9"),
    )


def q_asof_orders_strict(spark, sf_dir):
    """Each order sees the customer's previous (strictly earlier) order's
    total price; same-day orders pre-aggregated to max for determinism."""
    orders = read_table(spark, sf_dir, "orders")
    state = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_totalprice").alias("prev_price")
    )
    q = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    out = asof_join(q, state, on="o_custkey", q_ts="o_orderdate",
                    s_ts="o_orderdate", value_cols=["prev_price"], strict=True)
    return out.select(
        "o_orderkey", "o_custkey", "matched_ts",
        _r("prev_price").alias("prev_price"),
    )


# ---------------------------------------------------------------------------
# aggregations (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def q_top_event(spark, sf_dir):
    """Deterministic top-1 per user: running-max/argmax recast (A5)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_type").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", _r("value").alias("top_value"))
    )


def q_quantile(spark, sf_dir):
    """Exact percentiles per event_type (A7 quantile normalization)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        _r(F.expr("percentile(value, 0.05)")).alias("p05"),
        _r(F.expr("percentile(value, 0.5)")).alias("p50"),
        _r(F.expr("percentile(value, 0.95)")).alias("p95"),
        F.count("*").alias("n"),
    )


def q_dim_join(spark, sf_dir):
    """Classic dim equi-join (J5) with an explicitly broadcast small side:
    revenue by market segment."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r(F.sum("o_totalprice")).alias("revenue"),
        )
    )


def q_session_stats(spark, sf_dir):
    """Session-level aggregates on top of sessionize (W9): the feature a
    training pipeline actually joins back to events."""
    df = W.sessionize(_events(spark, sf_dir), gap_seconds=21600,
                      entity="user_id", order="ts")
    return df.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _r(F.sum("value")).alias("sum_value"),
        _r(
            F.max(F.col("ts").cast("timestamp").cast("double"))
            - F.min(F.col("ts").cast("timestamp").cast("double"))
        ).alias("duration_s"),
    )


def q_rollup(spark, sf_dir):
    """Multi-granularity rollup (hypertable-style): per (event_type, day),
    per event_type, and grand total in one pass (partial-agg reuse)."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    out = ev.rollup("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.sum("value")).alias("sum_value"),
    )
    return out.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n", "sum_value",
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot(spark, sf_dir):
    """Pivot aggregation: long events -> one wide row per user with a
    per-event-type value sum (the feature-store "wide features" read
    shape).  The pivot values are EXPLICIT (no discovery scan), so the
    plan is a single groupBy with conditional aggregates — one shuffle,
    map-side combined; the oracle replays it as CASE-WHEN sums."""
    ev = _events(spark, sf_dir)
    out = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(
        F.sum("value")
    )
    return out.select(
        "user_id", *[_r(F.col(t)).alias(f"sum_{t}") for t in EVENT_TYPES]
    )


def q_cube(spark, sf_dir):
    """CUBE aggregation with grouping_id: all four granularities of
    (event_type, day) in one pass — Spark's bitmask convention
    (1 = column aggregated away, first cube column = MSB) matches
    DuckDB's GROUPING(), verified bit-for-bit by the gate."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    out = ev.cube("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.sum("value")).alias("sum_value"),
        F.grouping_id().alias("gid"),
    )
    return out.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "n", "sum_value", F.col("gid").cast("long").alias("gid"),
    )


def q_znorm(spark, sf_dir):
    """Global z-normalization within event_type (A1)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return ev.select("event_id", "event_type", _r(z).alias("z"))


# ---------------------------------------------------------------------------
# text analysis (documents table)
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


# gate-sized input for the PAIR-JOIN dedup rows (minhash/jaccard/simhash
# pairs and the CC queries built on them): the even-id half of the
# table (deterministic, SQL-replayable) — pair joins are superlinear in
# rows, so halving the input roughly quarters the gate cost; full-table
# behavior stays covered by pytest and by the map-only gate rows
# (d_minhash_sig, d_simhash) which keep the full table
_DOCS_HALF_SQL = "WHERE doc_id % 2 = 0"


def _docs_half(spark, sf_dir):
    return _docs(spark, sf_dir).where(F.col("doc_id") % 2 == 0)


def q_token_count(spark, sf_dir):
    return text.token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")


# deterministic PII injection for the redaction gate: the synthetic
# corpus has no real emails/phones, so both engines append the SAME
# synthetic contact lines to a doc subset before redacting — the gate
# then proves the regex rules fire identically, not just trivially
_PII_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' contact: user', doc_id, '@example.com') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END)"
)
_PII_DUCK = (
    "text ||"
    " (CASE WHEN doc_id % 7 = 0 THEN ' contact: user' || doc_id::VARCHAR || '@example.com' ELSE '' END) ||"
    " (CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END)"
)


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (emails + phone-like numbers -> typed placeholders,
    with removal counts) over the documents table with deterministic
    injected contacts (same injection replayed by the oracle)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_SPARK).alias("text")
    )
    return text.redact_pii(d).select(
        "doc_id", "n_emails", "n_phones", "text_redacted"
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: distinct 5-gram overlap counts against
    a held-out 'benchmark' slice (doc_id % 10 = 0) — flags training docs
    that would leak eval data."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 10 == 0)
    return dedup.decontaminate(docs, bench, n=5, min_hits=1).select(
        "doc_id", "n_hits", "contaminated"
    )


def q_seeded_shuffle(spark, sf_dir):
    """Deterministic seeded corpus shuffle: reproducible pseudo-random
    serving order via the portable-hash rank (exact oracle replay)."""
    from topo_descriptors_spark.operators import pipeline as P

    return P.seeded_shuffle(_docs(spark, sf_dir), seed=42).select(
        "doc_id", "shuffle_pos"
    )


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary stats: top-100 lowercased words by frequency,
    ties to word ascending (deterministic LIMIT boundary)."""
    return text.vocab_topk(_docs(spark, sf_dir), k=100)


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style unigram-LM quality proxy: per-doc mean -ln p(word)
    under the corpus unigram distribution — run through the CAPPED
    vocabulary path (min_count=2: hapax words fall to the smoothing
    floor), which is the 100-TB-safe default shape: the broadcast side
    is the capped vocab, never the unbounded distinct-word tail."""
    out = text.unigram_logprob(_docs(spark, sf_dir), min_count=2)
    return out.select("doc_id", "n_words", _r("neg_logprob").alias("neg_logprob"))


# deterministic boilerplate injection for the line-dedup gate: the
# synthetic corpus is single-line with all-distinct texts, so both
# engines append the SAME repeated boilerplate line (dropped: corpus
# count ~n/3) and a per-doc unique footer (kept: count 1)
_LINES_SPARK_COLS = lambda: F.concat(  # noqa: E731 — tiny shared builder
    F.col("text"),
    F.when(F.col("doc_id") % 3 == 0,
           F.concat(F.lit("\n"), F.lit("subscribe to our newsletter today"))
           ).otherwise(F.lit("")),
    F.when(F.col("doc_id") % 5 == 0,
           F.concat(F.lit("\nfooter note "), F.col("doc_id").cast("string"))
           ).otherwise(F.lit("")),
)
_LINES_DUCK = (
    "text ||"
    " (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END) ||"
    " (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'footer note ' || doc_id::VARCHAR ELSE '' END)"
)


def q_line_dedup(spark, sf_dir):
    """Corpus-level line dedup (C4 boilerplate rule) with deterministic
    injected boilerplate replayed identically by the oracle: the shared
    newsletter line is dropped everywhere, unique footers survive."""
    d = _docs(spark, sf_dir).select("doc_id", _LINES_SPARK_COLS().alias("text"))
    return text.dedup_lines(d).select("doc_id", "text_dedup", "n_dropped")


def q_decayed(spark, sf_dir):
    """Exponentially time-decayed sum/count per user (half-life 1 day,
    trailing-50-row frame, event_id tiebreak for deterministic tied
    timestamps) — the leak-free feature-store decayed-activity
    aggregate; the oracle replays the identical fold over an
    array_agg'd window frame."""
    out = W.decayed_features(
        _events(spark, sf_dir), half_life_seconds=86400.0,
        entity="user_id", order="ts", value="value",
        lookback_rows=50, tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        _r("decayed_sum").alias("decayed_sum"),
        _r("decayed_count").alias("decayed_count"),
    )


def q_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed idf, round-before-rank,
    ties to word ascending)."""
    return text.tfidf_topk(_docs(spark, sf_dir), k=3)


def q_interval_join(spark, sf_dir):
    """Interval-containment join (J2 first-class): events attributed to
    their session's [first_ts, last_ts] window via the bucketed
    equi-join — every event must land back in exactly its own session,
    and the oracle replays the naive BETWEEN join."""
    from topo_descriptors_spark.operators.asof import interval_join

    ev = _events(spark, sf_dir)
    sess = W.sessionize(ev, gap_seconds=21600, entity="user_id", order="ts")
    epoch = F.col("ts").cast("timestamp").cast("double")
    ivals = (
        sess.select("user_id", "session_id", epoch.alias("_e"))
        .groupBy("user_id", "session_id")
        .agg(F.min("_e").alias("s0"), F.max("_e").alias("s1"))
    )
    out = interval_join(
        ev.select("event_id", "user_id", "ts"), ivals,
        on="user_id", ts="ts", start="s0", end="s1",
        bucket_seconds=86400.0,
    )
    return out.select("event_id", "user_id", F.col("session_id").cast("long").alias("session_id"))


def q_quantize(spark, sf_dir):
    """int8 embedding quantization (storage path): per-vector scale +
    floor-half-up codes; the gate compares scalar summaries (scale, code
    sum/max, reconstruction MSE) — the codes themselves are replayed
    inside both engines' expressions."""
    q = similarity.quantize_embeddings(read_table(spark, sf_dir, "embeddings"))
    mse = F.expr(
        "aggregate(zip_with(q, embedding, (qi, x) ->"
        " pow(cast(qi as double) * qscale - cast(x as double), 2)),"
        " 0D, (a, v) -> a + v) / size(q)"
    )
    return q.select(
        "vec_id",
        _r("qscale").alias("qscale"),
        F.expr("aggregate(q, 0L, (a, v) -> a + cast(v as long))").alias("q_sum"),
        F.expr("cast(array_max(q) as long)").alias("q_max"),
        _r(mse).alias("recon_mse"),
    )


def q_token_regex(spark, sf_dir):
    return text.token_count_regex(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens_bpe"
    )


def q_lang_id(spark, sf_dir):
    return text.lang_id(_docs(spark, sf_dir)).select("doc_id", "lang", "pred_lang")


def q_quality(spark, sf_dir):
    df = text.quality_score(_docs(spark, sf_dir))
    return df.select(
        "doc_id", "n_tokens",
        _r("mean_word_len").alias("mean_word_len"),
        _r("stopword_ratio").alias("stopword_ratio"),
        _r("symbol_ratio").alias("symbol_ratio"),
        _r("quality").alias("quality"),
    )


def q_fingerprint(spark, sf_dir):
    return text.fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (dup word/bigram share, top-word
    share) — within-row array expressions, no shuffle."""
    df = text.repetition_stats(_docs(spark, sf_dir))
    return df.select(
        "doc_id", "n_words",
        _r("dup_word_ratio").alias("dup_word_ratio"),
        _r("top_word_ratio").alias("top_word_ratio"),
        _r("dup_bigram_ratio").alias("dup_bigram_ratio"),
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing through the gate: binary payload column +
    Arrow mapInPandas feature extraction (byte-histogram stand-in for the
    stubbed codec — multimodal.py).  The oracle recomputes the histogram
    byte-exactly from hex(encode(text))."""
    from topo_descriptors_spark.operators import multimodal as M

    media = M.attach_fake_media(_docs(spark, sf_dir))
    feats = M.extract_features(media)
    return feats.select(
        "media_id", "n_bytes",
        *[_r(F.col("features")[i]).alias(f"f_{i}") for i in range(M.N_FEATURES)],
    )


def q_frame_features(spark, sf_dir):
    """Video frame-sampling plumbing through the gate: payload split into
    4 time-uniform chunks (np.array_split semantics), per-frame
    byte-histogram features — the row-expanding mapInPandas a real
    ffmpeg sampler would have.  The oracle replays the chunk boundaries
    and histograms byte-exactly from hex(encode(text))."""
    from topo_descriptors_spark.operators import multimodal as M

    media = M.attach_fake_media(_docs(spark, sf_dir))
    frames = M.sample_frames(media, n_frames=4)
    return frames.select(
        "media_id", "frame_idx",
        *[
            _r(F.col("frame_features")[i]).alias(f"f_{i}")
            for i in range(M.N_FEATURES)
        ],
    )


# ---------------------------------------------------------------------------
# dedup (documents table)
# ---------------------------------------------------------------------------

def q_exact_dedup_groups(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir)).select(
        "content_hash", "keep_id", "dup_count"
    )


def q_minhash_sig(spark, sf_dir):
    sig = dedup.minhash_signature(_docs(spark, sf_dir), num_perms=8)
    return sig.select(
        "doc_id", *[F.col("minhash")[i].alias(f"mh_{i}") for i in range(8)]
    )


def q_minhash_pairs(spark, sf_dir):
    # fully deterministic (portable md5 hashes + fixed banding) — exact
    # DuckDB oracle replays signature, banding, bucket cap, and est_jaccard
    return dedup.minhash_dedup_pairs(
        _docs_half(spark, sf_dir), num_perms=16, bands=16, threshold=0.4
    )


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _docs_half(spark, sf_dir), shingle_n=3, threshold=0.12, max_df=100
    ).select("id_a", "id_b", _r("jaccard").alias("jaccard"))


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


def q_dedup_components(spark, sf_dir):
    """Duplicate GROUPS from the MinHash near-dup pairs (min-label
    propagation over the pair graph; singletons keep their own id) —
    the pairs-to-keep/drop step of a dedup pipeline.  The oracle replays
    it with a recursive-CTE transitive closure."""
    docs = _docs_half(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        docs, num_perms=16, bands=16, threshold=0.4
    )
    return dedup.connected_components(docs, pairs).select(
        "doc_id", "component"
    )


def q_dedup_components_star(spark, sf_dir):
    """The same query as q_dedup_components, kept under its own contract
    key so the bench trajectory stays comparable; shares the
    d_dedup_components oracle."""
    return q_dedup_components(spark, sf_dir)


def q_chunk(spark, sf_dir):
    """Sliding-window sequence chunking (max_len=32, overlap=8) over
    token arrays derived deterministically from words (portable hash mod
    32768 — SQL-replayable), with the slices pinned by (len, first,
    last, sum) per chunk; byte-exact array equality is pytest-pinned on
    the operator itself."""
    from topo_descriptors_spark.operators import pipeline as P

    h = text.PORTABLE_HASH_SQL.format(col="w")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            f"transform({text.words_sql()}, w -> cast({h} % 32768 as int))"
        ).alias("tokens"),
    )
    out = P.chunk_sequences(d, max_len=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tok_chunk",
        F.element_at("tokens", 1).cast("long").alias("first_tok"),
        F.element_at("tokens", -1).cast("long").alias("last_tok"),
        F.expr("aggregate(tokens, 0L, (a, t) -> a + t)").alias("tok_sum"),
    )


def q_token_budget(spark, sf_dir):
    """Token-budget mixture: cap every source at 50k training tokens by
    deterministic hash down-sampling at rate = min(1, budget/total);
    n_tok derived from words so the oracle replays the whole plan."""
    from topo_descriptors_spark.operators import pipeline as P

    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.size(F.expr(text.words_sql())).cast("long").alias("n_tok"),
    )
    out = P.token_budget_mixture(d, budget_tokens=50_000)
    return out.select(
        "doc_id", "source", "n_tok", _r("rate").alias("rate"), "keep"
    )


def q_keep_best(spark, sf_dir):
    """The dedup pipeline end-to-end THROUGH the final keep/drop
    decision: MinHash pairs -> connected components -> one canonical
    survivor per cluster (longest text, ties to lowest id).  The oracle
    replays the closure with a recursive CTE and the ranking with a
    window."""
    docs = _docs_half(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(
        docs, num_perms=16, bands=16, threshold=0.4
    )
    comp = dedup.connected_components(docs, pairs)
    out = dedup.select_canonical(docs, comp)
    return out.select("doc_id", "component", "canonical_id", "is_canonical")


def q_sessionize_stream(spark, sf_dir):
    """Structured Streaming sessionize as an OFFICIAL gate row: the
    events parquet read as a file STREAM through session_window, drained
    with trigger(availableNow=True) into a memory sink in complete mode,
    then returned as a batch DataFrame for the oracle compare.

    Gate-only physics, documented honestly: complete mode + memory sink
    (driver-sized) and an effectively-infinite watermark make the drain
    deterministic regardless of how the file source splits micro-batches
    (a real watermark drops rows that arrive after it passes — correct
    in production, nondeterministic in a replay of historical files).
    The production path is append mode + parquet sink via
    streaming.sessions.run_available_now (pytest-pinned against batch
    sessionize in test_streaming.py).

    Session semantics: session_window merges windows that OVERLAP, so a
    gap >= gap_seconds starts a new session (the batch gap-rule breaks
    only on strictly-greater — the oracle uses >= to match streaming).
    Outputs epoch-microsecond longs (NTZ-safe, tz-independent).
    """
    from topo_descriptors_spark.streaming.sessions import sessionize_stream

    ev = _events_stream(spark, sf_dir, "user_id", "ts", "value")
    sess = sessionize_stream(ev, gap_seconds=21600, watermark="87600 hours")
    return _drain_to_memory(
        spark, sess, "sess_gate", "complete",
        n_state=state_partitions_for(spark, f"{sf_dir}/events.parquet"),
    ).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        F.col("n_events").cast("long").alias("n_events"),
        _r("sum_value").alias("sum_value"),
    )


def q_dedup_stream(spark, sf_dir):
    """Streaming exact dedup as an OFFICIAL gate row: the events parquet
    read as a file STREAM through dropDuplicatesWithinWatermark on
    (user_id, event_type), drained with trigger(availableNow=True) into
    a memory sink (append mode — dedup emits each kept row in its
    micro-batch), then the KEY columns are returned for the compare.

    Determinism: dropDuplicatesWithinWatermark keeps the FIRST-arriving
    row per key, which depends on micro-batch/partition order — so the
    gate projects the result to the key columns only, where the output
    is exactly DISTINCT(user_id, event_type) regardless of arrival
    order; the effectively-infinite watermark stops state aging from
    re-admitting keys mid-replay (same gate-only physics as
    w_sessionize_stream, documented there).  The batch-equivalence of
    the full-row form is pytest-pinned in test_streaming.py.
    """
    from topo_descriptors_spark.streaming.sessions import dedup_stream

    ev = _events_stream(spark, sf_dir, "user_id", "event_type", "ts")
    deduped = dedup_stream(
        ev, id_cols=("user_id", "event_type"), ts="ts",
        watermark="87600 hours",
    )
    return _drain_to_memory(
        spark, deduped, "dedup_gate", "append",
        n_state=state_partitions_for(
            spark, f"{sf_dir}/events.parquet", light_state=True),
    ).select("user_id", "event_type")


def q_decayed_stream(spark, sf_dir):
    """Custom stateful streaming operator as an OFFICIAL gate row: the
    events parquet as a file STREAM through applyInPandasWithState
    computing per-event decayed sum/count over bounded per-entity state
    (the trailing-50 (t, v) pairs — exactly the batch operator's
    window), drained availableNow into a memory sink.

    Must equal the BATCH decayed_features row for row — the gate reuses
    w_decayed's oracle verbatim.  Gate-only physics as documented on
    w_sessionize_stream: a single-file source drains in file order, so
    cross-batch arrival order is deterministic here; in production the
    same operator is simply incremental (state carries across batches).
    """
    from topo_descriptors_spark.streaming.state import decayed_entity_state

    ev = _events_stream(spark, sf_dir, "event_id", "user_id", "ts", "value")
    out = decayed_entity_state(
        ev, half_life_seconds=86400.0, lookback_rows=50
    )
    return _drain_to_memory(
        spark, out, "decay_gate", "append",
        n_state=state_partitions_for(spark, f"{sf_dir}/events.parquet"),
    ).select(
        F.col("id").alias("event_id"),
        F.col("entity").alias("user_id"),
        _r("decayed_sum").alias("decayed_sum"),
        _r("decayed_count").alias("decayed_count"),
    )


def q_target_encode(spark, sf_dir):
    """Leave-one-out smoothed target encoding (features.target_encode):
    vocab-sized groupBy + broadcast join back — the corpus never
    shuffles.  The LOO arithmetic replays exactly in SQL."""
    from topo_descriptors_spark.operators import features as FE

    ev = _events(spark, sf_dir)
    out = FE.target_encode(ev, "event_type", "value", smoothing=20.0)
    return out.select("event_id", "event_type", _r("te").alias("te"))


def q_count_encode(spark, sf_dir):
    """Frequency encoding + rare-category bucket flag over a
    high-cardinality key (n_chars: many singleton groups exercise the
    rare path)."""
    from topo_descriptors_spark.operators import features as FE

    docs = _docs(spark, sf_dir)
    out = FE.count_encode(docs, "n_chars", min_count=3)
    return out.select(
        "doc_id", "ce_count", _r("ce_log").alias("ce_log"),
        "ce_rare", "ce_null",
    )


def q_feature_hash(spark, sf_dir):
    """Hashing-trick sparse vectors (sklearn FeatureHasher semantics)
    over mixed categorical+numeric columns; portable md5 bucketing so
    the collision-summing replays bit-exactly in DuckDB."""
    from topo_descriptors_spark.operators import features as FE

    docs = _docs(spark, sf_dir)
    out = FE.feature_hash(docs, ["lang", "source", "n_chars"], n_features=16)
    # gate serialization: every val is integral here (±1 sums and
    # ±n_chars), so comma-joined int strings are engine-exact
    return out.select(
        "doc_id",
        F.expr("concat_ws(',', idxs)").alias("idx_s"),
        F.expr("concat_ws(',', transform(vals, v -> cast(v as bigint)))"
               ).alias("val_s"),
    )


def q_hash_vectorize(spark, sf_dir):
    """Hashed word-3-gram count vectorizer: dense 32-wide bucket-count
    vector per doc, fully in-row (map-only, no shuffle)."""
    from topo_descriptors_spark.operators import features as FE

    out = FE.hash_vectorize_text(_docs(spark, sf_dir), n_features=32, ngram=3)
    return out.select("doc_id", F.expr("concat_ws(',', vec)").alias("vec_s"))


def q_rolling_quantiles(spark, sf_dir):
    """Exact rolling p25/p50/p75 over each user's trailing 20 events —
    one shared WindowExec for all three quantiles (plan-pinned in
    pytest)."""
    from topo_descriptors_spark.operators import features as FE

    ev = _events(spark, sf_dir)
    out = FE.rolling_quantiles(
        ev, "user_id", "ts", "value", k=20, qs=(0.25, 0.5, 0.75),
        tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id",
        _r("rq_p25").alias("rq_p25"),
        _r("rq_p50").alias("rq_p50"),
        _r("rq_p75").alias("rq_p75"),
    )


def q_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct sketch per event_type (portable-hash
    KMV, k=64): at sf0.01+ the estimator path is live (distinct users >
    k); the whole sketch replays exactly in SQL."""
    from topo_descriptors_spark.operators import features as FE

    # r9 A/B (sf0.1 + 10x corpus, 1-rg and multi-rg layouts): the
    # per-row portable-md5 is NOT heavy enough to pay for a round-robin
    # exchange of the thin events rows — auto mode (width-gated, no
    # repartition) wins at every scale measured, so no parallelize
    # opt-in here.
    ev = read_table(spark, sf_dir, "events")
    return FE.kmv_distinct(ev, "user_id", k=64, group_by="event_type")


def q_quantile_bin(spark, sf_dir):
    """Equal-frequency binning into octiles: one exact-percentile
    aggregate broadcast back, map-only assignment.  n_bins=8 keeps the
    quantile fractions exact binary doubles on both engines."""
    from topo_descriptors_spark.operators import features as FE

    out = FE.quantile_bin(_events(spark, sf_dir), "value", n_bins=8)
    return out.select("event_id", F.col("bin").cast("bigint").alias("bin"))


def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation of the 4 lineitem measures in ONE
    aggregation pass (never one scan per pair)."""
    from topo_descriptors_spark.operators import features as FE

    li = read_table(spark, sf_dir, "lineitem")
    return FE.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_impute(spark, sf_dir):
    """Group-median imputation + missing indicator.  The events table
    has no NULLs, so 10% are masked deterministically (event_id % 10)
    on BOTH sides — the injected-input convention from t_pii_redact."""
    from topo_descriptors_spark.operators import features as FE

    ev = _events(spark, sf_dir).select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 10 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")).alias("value"),
    )
    out = FE.impute(ev, "value", group_by="event_type", strategy="median")
    return out.select(
        "event_id", _r("value_filled").alias("value_filled"),
        "value_was_null",
    )


def q_fuzzy_ed1(spark, sf_dir):
    """Edit-distance<=1 near-dup pairs on 24-char text prefixes via
    deletion-neighborhood (FastSS) blocking: variants, hash join,
    bucket cap, and the exact levenshtein verify all replay in SQL."""
    from topo_descriptors_spark.operators.dedup import fuzzy_pairs_ed1

    return fuzzy_pairs_ed1(_docs(spark, sf_dir), "text", truncate_to=24,
                           max_df=100)


def q_domain_cap(spark, sf_dir):
    """Per-domain cap (top-5 docs per source by n_chars): rank<=n
    compiles with a PARTIAL WindowGroupLimit below the exchange, so hot
    domains ship n rows per map task, never their full page count
    (plan-pinned in pytest)."""
    from topo_descriptors_spark.operators.pipeline import cap_per_group

    out = cap_per_group(
        _docs(spark, sf_dir), "source", 5, "n_chars", tiebreak="doc_id"
    )
    return out.select("doc_id", "source", "n_chars")


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (exponential
    race, priority = -ln(u)/w): TakeOrderedAndProject top-k, no corpus
    shuffle.  Weight = n_chars; the k smallest priorities replay
    exactly in SQL."""
    from topo_descriptors_spark.operators import pipeline as P

    out = P.weighted_sample(
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        k=100, weight_col="n_chars", priority_col="priority",
    )
    return out.select("doc_id", _r("priority").alias("priority"))


def q_bigram_logprob(spark, sf_dir):
    """Bigram LM quality proxy (add-1 smoothing, exact uncapped model):
    in-row pairing, vocabulary-sized shuffles only."""
    from topo_descriptors_spark.operators import text as T

    out = T.bigram_logprob(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_bigrams", _r("neg_logprob2").alias("neg_logprob2")
    )


def q_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel per user: stage i strictly
    after the first-reach of stage i-1, one hash exchange + unordered
    window chain (no sorts).  Stage timestamps emitted as epoch
    micros."""
    from topo_descriptors_spark.operators import features as FE

    ev = _events(spark, sf_dir).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    out = FE.funnel(ev, "user_id", "ts", "event_type", FUNNEL_STAGES)
    return out.select(
        "user_id",
        *[
            F.unix_micros(F.col(f"stage{i+1}_{s}")).alias(f"t_{s}")
            for i, s in enumerate(FUNNEL_STAGES)
        ],
    )


def q_stratified_split(spark, sf_dir):
    """Per-stratum deterministic splitting with independent hash
    streams per stratum and a default fallback."""
    from topo_descriptors_spark.operators import pipeline as P

    out = P.stratified_split(
        _docs(spark, sf_dir), STRAT_WEIGHTS,
        default_weights=STRAT_DEFAULT,
    )
    return out.select("doc_id", "source", "split")


def q_robust_scale(spark, sf_dir):
    """Median/IQR robust scaling per event_type (exact percentiles,
    broadcast join back, map-only scaling)."""
    from topo_descriptors_spark.operators import features as FE

    out = FE.robust_scale(_events(spark, sf_dir), "value",
                          group_by="event_type")
    return out.select("event_id", "event_type", _r("rz").alias("rz"))


def q_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type distribution (two
    map-side-combinable aggregations, output one row per entity)."""
    from topo_descriptors_spark.operators import features as FE

    out = FE.group_entropy(_events(spark, sf_dir), "user_id", "event_type")
    return out.select(
        "user_id", "n_events", _r("entropy").alias("entropy")
    )


def q_bloom_prune(spark, sf_dir):
    """Portable Bloom filter (bloom.py): build a 1024-bit/2-hash bitset
    over a deterministic 'benchmark' subset (doc_id % 7 = 0), broadcast
    it, probe the corpus map-side.  m is deliberately small so the
    false-positive path is LIVE at gate scale; exact membership is
    emitted alongside so the gate pins both bloom_hit ⊇ exact_hit and
    the exact FP pattern (bit-for-bit replayed in SQL)."""
    from topo_descriptors_spark.operators import bloom as B

    docs = _docs(spark, sf_dir)
    bench = docs.where("doc_id % 7 = 0").select("text")
    bl = B.bloom_build(bench, "text", m_bits=1024, g_hashes=2)
    pruned = B.bloom_prune(docs, "text", bl, m_bits=1024, g_hashes=2)
    return pruned.select(
        "doc_id", "bloom_hit",
        (F.col("doc_id") % 7 == 0).alias("exact_hit"),
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (8-bit chunk banding + hamming<=6): the
    banding, bucket cap and popcount all replay exactly in SQL."""
    return dedup.simhash_pairs(_docs_half(spark, sf_dir), max_hamming=6).select(
        "id_a", "id_b", "hamming"
    )


def q_near_dup_lsh(spark, sf_dir):
    """The LSH-bucketed (production) near-dup path through the gate —
    round-before-threshold so the boundary is cross-engine stable."""
    out = similarity.embedding_near_dup_pairs(
        read_table(spark, sf_dir, "embeddings"), threshold=0.3,
        n_planes=4, dim=EMB_DIM, round_digits=_R,
    )
    return out.select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# training-corpus pipeline ops (splits, mixture sampling, packing)
# ---------------------------------------------------------------------------

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
MIX_RATES = {"src0": 0.25, "src1": 0.75, "src2": 0.0}
MIX_DEFAULT = 0.5
PACK_MAX_TOKENS = 512
STRAT_WEIGHTS = {
    "src0": {"train": 0.8, "val": 0.1, "test": 0.1},
    "src1": {"train": 0.5, "val": 0.5},
    "src2": {"train": 0.99, "heldout": 0.01},
}
STRAT_DEFAULT = {"train": 0.9, "test": 0.1}
FUNNEL_STAGES = ("view", "click", "purchase")


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment by id hash (shuffle-free,
    rerun-stable); oracle replays the same md5 hash + thresholds."""
    from topo_descriptors_spark.operators import pipeline as P

    out = P.hash_split(_docs(spark, sf_dir), SPLIT_WEIGHTS)
    return out.select("doc_id", "split")


def q_sample_mix(spark, sf_dir):
    """Deterministic per-source mixture sampling (id-hash thresholding)."""
    from topo_descriptors_spark.operators import pipeline as P

    out = P.sample_by_source(
        _docs(spark, sf_dir), MIX_RATES, default_rate=MIX_DEFAULT
    )
    return out.select("doc_id", "source")


PACKED_VOCAB = 997
PACKED_NQ = 4


def q_packed_features(spark, sf_dir):
    """The zero-shuffle packed engine through the gate: tokens derived
    deterministically from the text (portable word hashes mod 997),
    query positions from the portable doc hash — the DuckDB oracle
    replays tokenization, every feature (tpi/std/gaussian/sx) as window
    expressions over the exploded sequence, and the PIT gather."""
    from topo_descriptors_spark.operators import packed as PK
    from topo_descriptors_spark.operators.text import (
        PORTABLE_HASH_SQL,
        words_sql,
    )

    h_tok = PORTABLE_HASH_SQL.format(col="w")
    d = _docs(spark, sf_dir).withColumn(
        "tokens", F.expr(f"transform({words_sql('text')}, w -> {h_tok} % {PACKED_VOCAB})")
    )
    key = "concat(cast(doc_id as string), '#', cast(i as string))"
    h_q = PORTABLE_HASH_SQL.format(col=key)
    d = d.where(F.size("tokens") > 0).withColumn(
        "q_positions",
        F.expr(
            f"transform(sequence(0, {PACKED_NQ - 1}), i -> {h_q} % size(tokens))"
        ),
    )
    out = PK.packed_features_at(
        d, [3, 9], sigmas=[1.0], sx_radius_steps=3,
        sx_height=0.0, sx_step_meters=1.0, keep_cols=("doc_id",),
    )
    return out.select(
        "doc_id", "pos", _r("value").alias("value"),
        _r("tpi_3").alias("tpi_3"), _r("std_3").alias("std_3"),
        _r("tpi_9").alias("tpi_9"), _r("std_9").alias("std_9"),
        _r("smooth_1p0").alias("smooth"), _r("sx").alias("sx"),
    )


RESAMPLE_RATES = {"src0": 2.5, "src1": 0.25, "src2": 1.0}


def q_resample(spark, sf_dir):
    """Mixture resampling with up-sampling: rate 2.5 emits 2-3 replicas
    per row (hash-fractional), 0.25 keeps a quarter — deterministic
    per-row explode, no shuffle."""
    from topo_descriptors_spark.operators import pipeline as P

    out = P.resample_by_source(
        _docs(spark, sf_dir), RESAMPLE_RATES, default_rate=1.0
    )
    return out.select("doc_id", "source", "copy_idx")


def q_json_extract(spark, sf_dir):
    """Semi-structured props extraction (F9): JSON field -> typed column
    + a windowed aggregate over the extracted value."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    w = Window.partitionBy("event_type")
    d = ev.select("event_id", "event_type", k.alias("k"))
    return d.select(
        "event_id", "event_type", "k",
        _r(F.avg("k").over(w)).alias("k_avg_type"),
    )


def q_pack_cumsum(spark, sf_dir):
    """Prefix-sum sequence packing (boundary-straddling bins): one window
    cumsum per source."""
    from topo_descriptors_spark.operators import pipeline as P

    d = text.token_count(_docs(spark, sf_dir))
    out = P.pack_sequences_cumsum(
        d, PACK_MAX_TOKENS, len_col="n_tokens", id_col="doc_id",
        partition_col="source",
    )
    return out.select("doc_id", "source", "bin")


def q_pack_greedy(spark, sf_dir):
    """Exact first-fit-in-order packing (no straddle), Arrow kernel
    vectorized over bins; oracle replays the recurrence with a recursive
    CTE."""
    from topo_descriptors_spark.operators import pipeline as P

    d = text.token_count(_docs(spark, sf_dir))
    out = P.pack_sequences_greedy(
        d, PACK_MAX_TOKENS, len_col="n_tokens", id_col="doc_id",
        partition_col="source",
    )
    return out.select("doc_id", "source", "bin")


# ---------------------------------------------------------------------------
# 2-D tile-kernel descriptors over a grid derived from events
# (grid: y = event_id % GRID_N, x = (event_id div GRID_N) % GRID_N,
#  value = avg(value) per cell — identical derivation in the SQL oracle)
# ---------------------------------------------------------------------------

GRID_N = 96


def _grid_from_events(spark, sf_dir):
    """DENSE GRID_N x GRID_N grid: cell value = avg(value) of the events
    hashing to it, 0.0 where no event lands (small SFs leave gaps, and
    the reflect-padded kernels are only defined on a dense domain —
    the full-lattice left join makes density a construction invariant,
    identical in the SQL oracle)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy(
        F.pmod(F.col("event_id"), F.lit(GRID_N)).cast("int").alias("y"),
        F.pmod(F.floor(F.col("event_id") / GRID_N), F.lit(GRID_N))
        .cast("int")
        .alias("x"),
    ).agg(F.avg("value").alias("value"))
    ys = spark.range(GRID_N).select(F.col("id").cast("int").alias("y"))
    xs = spark.range(GRID_N).select(F.col("id").cast("int").alias("x"))
    return (
        ys.crossJoin(xs)
        .join(agg, ["y", "x"], "left")
        .select("y", "x", F.coalesce("value", F.lit(0.0)).alias("value"))
    )


def q_tpi_2d(spark, sf_dir):
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    out = tiles.tpi_2d(grid, (GRID_N, GRID_N), size=5, tile_size=48)
    return out.select("y", "x", _r("tpi").alias("tpi"))


def q_valley_2d(spark, sf_dir):
    """Valley index over the events grid (rotated matched-filter bank).

    Convolution scores are rounded to 6dp before the angle argmax
    (score_round) so the strict-greater/earliest-wins fold is
    reproducible across engines; the DuckDB oracle inlines the rotated
    kernel weights as offset literals and replays the same fold.
    """
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    stats = grid.agg(
        F.avg("value").alias("m"), F.stddev_pop("value").alias("s")
    ).first()
    out = tiles.valley_ridge_2d(
        grid, (GRID_N, GRID_N), size=7, mode="valley", angle_step=30,
        tile_size=48, mean=float(stats.m), std=float(stats.s),
        score_round=_R,
    )
    return out.select(
        "y", "x", _r("index_norm").alias("index_norm"), "index_dir"
    )


def q_gaussian_2d(spark, sf_dir):
    """2-D Gaussian smooth (W1) through the gate: reflect padding at the
    global edge, replayed relationally by the oracle's two separable
    passes with mirrored indices."""
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    out = tiles.gaussian_2d(grid, (GRID_N, GRID_N), sigma=1.5, tile_size=48)
    return out.select("y", "x", _r("smooth").alias("smooth"))


def q_std_2d(spark, sf_dir):
    """2-D rolling std (W3) over the circular kernel, zero padding."""
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    out = tiles.std_2d(grid, (GRID_N, GRID_N), size=5, tile_size=48)
    return out.select("y", "x", _r("std").alias("std"))


def q_gradient_2d(spark, sf_dir):
    """2-D gradient/slope/aspect (W4), sigma>1 Gaussian path: smooth with
    reflect padding then np.gradient central differences (one-sided at
    the global border)."""
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    out = tiles.gradient_2d(grid, (GRID_N, GRID_N), sigma=2.0, tile_size=48)
    return out.select(
        "y", "x",
        _r("dx").alias("dx"), _r("dy").alias("dy"),
        _r("slope").alias("slope"), _r("aspect").alias("aspect"),
    )


def q_sx_2d(spark, sf_dir):
    from topo_descriptors_spark.operators import tiles

    grid = _grid_from_events(spark, sf_dir)
    out = tiles.sx_2d(
        grid, (GRID_N, GRID_N), azimuth=0.0, radius=200.0, res_x=50.0,
        res_y=50.0, height=10.0, tile_size=48,
    )
    return out.select("y", "x", _r("sx").alias("sx"))


# ---------------------------------------------------------------------------
# similarity search (embeddings table)
# ---------------------------------------------------------------------------

def q_cosine_topk(spark, sf_dir):
    # gate-sized input: the even-id half of the table (deterministic,
    # SQL-replayable) — brute force is O(n²·d), so halving rows quarters
    # the gate cost; full-table parity vs the ANN paths is pytest-pinned
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 2 == 0
    )
    out = similarity.cosine_topk(emb, k=5, id_col="vec_id")
    return out.select("id_a", "id_b", "rank", _r("cosine").alias("cosine"))


def q_ivf_topk(spark, sf_dir):
    # IVF multiprobe ANN with deterministic lowest-id centroids
    # (lloyd_steps=0) — the whole pipeline (centroid pick, probe
    # assignment, per-cell top-k, global dedupe) is replayed exactly by
    # the DuckDB oracle; Lloyd-refined recall is pinned in pytest
    out = similarity.ivf_topk(
        read_table(spark, sf_dir, "embeddings"), k=5, n_clusters=16, n_probe=2
    )
    return out.select("id_a", "id_b", "rank", _r("cosine").alias("cosine"))


def q_near_dup(spark, sf_dir):
    """Embedding near-dup pairs, exact (brute force): the SQL-parity
    baseline; the LSH-bucketed scale path is the production plan
    (s_near_dup_lsh).  Routed through the QUARANTINED helper — the
    max_rows guard makes this plan impossible to launch on a
    production-sized table.  The threshold applies to the ROUNDED
    cosine so an engine-order float wobble at the boundary cannot flip
    row membership between Spark and the oracle."""
    return similarity.embedding_cosine_pairs_exact(
        read_table(spark, sf_dir, "embeddings"), threshold=0.3,
        id_col="vec_id", round_digits=_R,
    )


RP_DIM = 8


def q_rand_proj(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (deterministic seeded
    matrix): the embedding-toolkit pre-reduction, per-row JVM folds."""
    out = similarity.random_projection(
        read_table(spark, sf_dir, "embeddings"), out_dim=RP_DIM,
        dim=EMB_DIM, seed=11,
    )
    return out.select(
        "vec_id",
        *[_r(F.col("proj")[i]).alias(f"p_{i}") for i in range(RP_DIM)],
    )


def q_rank_ops(spark, sf_dir):
    """Ranking/analytic functions (row_number, rank, dense_rank, ntile) —
    the tie-break machinery the as-of join depends on."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id", "event_type",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.ntile(10).over(w).alias("decile"),
    ).where(F.col("rn") <= 100)


def q_ann_topk(spark, sf_dir):
    # LSH-bucketed ANN (Arrow-blocked form); the seeded hyperplanes are
    # deterministic, so the DuckDB oracle inlines them as literals and
    # replays bucket assignment + within-bucket ranking exactly.
    # dim is passed so plan construction launches no Spark job.
    # parallelize=False (r9 A/B, every scale/layout): the heavy work
    # runs AFTER the groupBy(bucket) shuffle inside applyInPandas,
    # which already fans out by bucket; scan-side work is one cheap
    # matmul per Arrow batch, so a prior round-robin exchange of the
    # wide embedding rows is pure cost (2x at sf0.1 AND at 10x).
    out = similarity.ann_topk_blocked(
        read_table(spark, sf_dir, "embeddings", parallelize=False),
        k=5, id_col="vec_id", n_planes=4, dim=EMB_DIM,
    )
    return out.select("id_a", "id_b", "rank", _r("cosine").alias("cosine"))


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------

# BM25 query-term bag for the gate row (fixed literals; the operator
# takes any bag)
BM25_TERMS = ["data", "model", "learning"]


def q_bm25(spark, sf_dir):
    """Okapi BM25 of every doc against a fixed query bag — in-row tf,
    one-row broadcast corpus stats, zero corpus shuffle."""
    return text.bm25_score(
        _docs(spark, sf_dir).select("doc_id", "text"), BM25_TERMS
    ).select("doc_id", "n_words", "bm25")


def q_gopher(spark, sf_dir):
    """Gopher/MassiveText quality-rule battery — map-only flags."""
    return text.gopher_rules(_docs(spark, sf_dir).select("doc_id", "text")).drop(
        "text"
    )


def q_token_bigrams(spark, sf_dir):
    """Corpus top-100 token bigrams over the hash-vocab tokenization."""
    return text.token_bigram_topk(_docs(spark, sf_dir), k=100)


def q_token_prefix_dup(spark, sf_dir):
    """Duplicate groups on the first 4 tokens (lead-paragraph dedup).
    The array grouping key stays internal; the gate row carries the
    per-group stats (group_id is unique: each doc has one prefix)."""
    return dedup.token_prefix_groups(_docs(spark, sf_dir), prefix_len=4).select(
        "group_id", "n_docs", "is_dup"
    )


def q_heavy_hitters(spark, sf_dir):
    """Key-skew profile of events.user_id: top-20 keys, share + running
    cumulative share of all rows."""
    from topo_descriptors_spark.operators.features import heavy_hitters

    return heavy_hitters(_events(spark, sf_dir), "user_id", k=20)


def q_cum_distinct(spark, sf_dir):
    """Running distinct event types per user (engagement breadth)."""
    return W.cumulative_distinct(
        _events(spark, sf_dir), "event_type", entity="user_id", order="ts"
    ).select("event_id", "user_id", "n_distinct")


def q_asof_forward(spark, sf_dir):
    """Each click sees the user's NEXT purchase at-or-after it
    (label/outcome attachment — the forward as-of direction)."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "next_purchase")
    out = asof_join(
        clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts",
        direction="forward",
    )
    return _asof_rows(out, "next_purchase")


def q_window_counts_stream(spark, sf_dir):
    """Structured Streaming tumbling-window counts as a gate row: the
    events parquet as a file stream through window()+watermark, drained
    availableNow into a memory sink in complete mode (same gate-only
    physics as w_sessionize_stream, documented there).  Epoch-aligned
    windows make the batch oracle an exact floor-division bucketing."""
    from topo_descriptors_spark.streaming.sessions import windowed_counts_stream

    ev = _events_stream(spark, sf_dir, "user_id", "ts", "value")
    agg = windowed_counts_stream(ev, 86400, watermark="87600 hours")
    return _drain_to_memory(
        spark, agg, "winc_gate", "complete",
        n_state=state_partitions_for(spark, f"{sf_dir}/events.parquet"),
    ).select(
        "user_id",
        F.unix_micros("window_start").alias("start_us"),
        F.col("n_events").cast("long").alias("n_events"),
        _r("sum_value").alias("sum_value"),
    )


def q_asof_nearest(spark, sf_dir):
    """Each click sees the user's purchase CLOSEST in time, either side
    (ties → backward); the nearest as-of direction through the gate."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "nearest_purchase")
    out = asof_join(
        clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts",
        direction="nearest",
    )
    return _asof_rows(out, "nearest_purchase")


def q_asof_nearest_strict(spark, sf_dir):
    """Nearest as-of with strict=True: the equal-timestamp purchase is
    excluded from BOTH sides and the match falls through to the next
    closest row — completes the pandas.merge_asof surface
    (allow_exact_matches=False).  One shuffle, two sorts (the one as-of
    shape whose two frames need opposite equal-ts secondary sorts)."""
    clicks, purchases = _clicks_purchases(spark, sf_dir, "nearest_purchase")
    out = asof_join(
        clicks, purchases, on="user_id", q_ts="q_ts", s_ts="ts",
        direction="nearest", strict=True,
    )
    return _asof_rows(out, "nearest_purchase")


def q_ohlc(spark, sf_dir):
    """Daily OHLC bars per user — irregular→regular downsampling with a
    deterministic event_id tie-break; one shuffle (window + reused-
    partitioning groupBy)."""
    from topo_descriptors_spark.operators.features import resample_ohlc

    out = resample_ohlc(
        _events(spark, sf_dir), 86400, value="value", entity="user_id",
        order="ts", tiebreak="event_id",
    )
    return out.select(
        "user_id", "bucket_start",
        _r("open").alias("open"), _r("high").alias("high"),
        _r("low").alias("low"), _r("close").alias("close"),
        "mean", "n",
    )


def q_cms_counts(spark, sf_dir):
    """Count-min sketch estimates for events.user_id (depth 4 × width
    256 — narrow on purpose so collisions actually occur and the exact
    replay proves the sketch, not just the exact path).

    r9 A/B (sf0.1 + 10x corpus, 1-rg and multi-rg layouts): the
    sketch's per-row portable-md5 is not heavy enough to pay for a
    round-robin exchange of the thin events rows (repartitioned form
    1.35-1.8x slower at every scale/layout measured), so the earlier
    parallelize=True opt-in is withdrawn — auto width gating skips the
    repartition."""
    from topo_descriptors_spark.operators.features import cms_counts

    ev = read_table(spark, sf_dir, "events")
    return cms_counts(ev, "user_id", depth=4, width=256)


def q_temporal_split(spark, sf_dir):
    """Leakage-safe per-entity temporal split: latest 20% of each user's
    events → valid."""
    from topo_descriptors_spark.operators.pipeline import temporal_split

    return temporal_split(
        _events(spark, sf_dir), entity="user_id", order="ts", valid_frac=0.2
    ).select("event_id", "user_id", "split")


def q_cosine_topk_join(spark, sf_dir):
    """Two-table retrieval: every 10th vector queries the remaining
    corpus for its top-5 cosine neighbors (bounded query side, corpus
    never shuffles).

    Runs through :func:`similarity.cosine_topk_join_blocked`, the
    library's one retrieval form: one matmul per corpus batch, exact
    per-batch top-k partials.  At sf1.0 the n_query x n_corpus zip_with
    scoring join it replaced took 464 s vs 11 s."""
    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    return similarity.cosine_topk_join_blocked(qs, corpus, k=5).select(
        "id_q", "id_c", "rank", F.round("cosine", _R).alias("cosine")
    )


def q_cosine_topk_join_blocked(spark, sf_dir):
    """The same query as q_cosine_topk_join, kept under its own contract
    key so the bench trajectory stays comparable; shares the
    s_cosine_topk_join oracle."""
    return q_cosine_topk_join(spark, sf_dir)


def q_enrich_stream(spark, sf_dir):
    """Stream × static broadcast enrichment through the gate: the events
    parquet as a file stream, each event joined to a batch-computed
    per-user event-count dim (stateless — append mode is deterministic
    regardless of micro-batch slicing, no watermark tricks needed)."""
    from topo_descriptors_spark.streaming.sessions import enrich_stream

    dim = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_n_events")
    )
    ev = _events_stream(spark, sf_dir, "event_id", "user_id")
    out = enrich_stream(ev, dim, on="user_id")
    return _drain_to_memory(spark, out, "enr_gate", "append").select(
        "event_id", "user_id", F.col("user_n_events").cast("long").alias("user_n_events")
    )


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation over events.user_id — identical
    result to the plain groupBy (the oracle IS the plain groupBy), hot
    keys bounded at rows/salt_buckets per reducer."""
    from topo_descriptors_spark.operators.features import salted_agg

    out = salted_agg(
        _events(spark, sf_dir), "user_id",
        {"value": ["count", "sum", "avg", "min", "max"]}, salt_buckets=16,
    )
    return out.select(
        "user_id", "value_count", _r("value_sum").alias("value_sum"),
        _r("value_avg").alias("value_avg"), _r("value_min").alias("value_min"),
        _r("value_max").alias("value_max"),
    )


def q_script_profile(spark, sf_dir):
    """Unicode-script composition per doc (portable codepoint-range
    regexp counts, map-only)."""
    return text.script_profile(_docs(spark, sf_dir).select("doc_id", "text")).drop(
        "text"
    )


def q_dataset_card(spark, sf_dir):
    """One-row corpus summary (dataset-card numbers) in a single
    aggregation pass."""
    return text.dataset_card(_docs(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multiscale window features + sessionize + as-of context
    on sf0.001 — the engine's whole lifecycle in one plan."""
    ev = read_table(spark, SF_SMOKE, "events")
    feats = W.multiscale_features(ev, [3, 9, 25], sigmas=[1.0],
                                  value="value", entity="user_id", order="ts")
    feats = W.sessionize(feats, gap_seconds=21600, entity="user_id", order="ts")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("last_purchase")
    )
    q = feats.select("event_id", "user_id", F.col("ts").alias("q_ts"),
                     "tpi_9", "std_9", "smooth_1p0", "session_id")
    return asof_join(q, purchases, on="user_id", q_ts="q_ts", s_ts="ts")


# ---------------------------------------------------------------------------
# Driver-window rotation (VERDICT r6 #2: computed, not hand-curated)
# ---------------------------------------------------------------------------
# The driver records official correctness rows for only the FIRST
# _WINDOW entries of queries(); declaration order is run order.  The
# window is COMPUTED: _contract() holds the full contract in a fixed
# canonical order, rotated by _STRIDE positions per round, so any 3
# consecutive windows cover 3 * 42 = 126 >= 112 canonical positions —
# every query gets a fresh official row at least once every 3 rounds,
# with no hand-maintained curation notes.  Ahead of the rotated block:
#   _PINNED  — always-run core rows (the flagship query's constituent
#              operators: the multiscale window bank and the as-of
#              join) get an official row EVERY round;
#   _TOUCHED — rows whose operator/query/oracle code changed THIS
#              round (refresh by hand each round; empty when nothing
#              changed).  New contract entries are APPENDED to
#              _contract() and listed here for their first round.
# len(_PINNED) + len(_TOUCHED) <= _WINDOW - _STRIDE is enforced (and
# property-tested in tests/test_rotation.py) so the full stride block
# always fits the window even with the head in front.  _BASE_ROUND
# anchors the phase: the canonical order below is the r7 staleness
# order (18 r4-official rows, then 44 r5-official, then 50
# r6-official), so ROUND = 7 reproduces exactly the window the r6
# verdict's ROUND-7 CURATION NOTE prescribed (the r6 ADVICE count
# mismatch in the old hand-written note is moot — the note is gone).

ROUND = 8          # bump each round; refresh _TOUCHED at the same time
_BASE_ROUND = 7    # round at which the canonical order was laid down
_WINDOW = 50       # driver records the first 50 queries() entries
_STRIDE = 42       # rotation step: ceil(112 / 42) = 3-round freshness

_PINNED = ("w_tpi_multiscale", "j_asof_events")
_TOUCHED = (
    # r8: the ANSI divide-by-zero fix (try_divide in window.tpi_col,
    # window.gradient_cols and the fused as-of TPI — a lone-sample
    # frame / single-row entity crashed the stage; now NULL, the
    # reference's 0/0 NaN) touches these operators' expressions, so
    # their rows re-verify officially this round.  w_tpi_multiscale is
    # already pinned at the window head.
    "w_tpi_chunked",
    "w_gradient",
    "j_asof_fused",
    # r8: ann_topk_blocked gained the zero-norm/empty-embedding entry
    # filter its expression twin always had (NaN-normalization / ragged
    # np.stack stage-killer on degenerate rows).
    "s_ann_topk",
)


def _window_order(round_no: int, head: tuple, keys: list) -> list:
    """Pure rotation: ``head`` rows first, then the canonical order
    rotated by (round_no - _BASE_ROUND) * _STRIDE.  The first _WINDOW
    entries of the result are the driver's official window."""
    unknown = [k for k in head if k not in keys]
    if unknown:
        # a typo'd/renamed _PINNED or _TOUCHED entry must fail loudly —
        # silently dropping it would skip the intended this-round
        # re-verification with no signal (ADVICE r7)
        raise KeyError(
            f"_PINNED/_TOUCHED entries not in the contract: {unknown}"
        )
    slack = _WINDOW - _STRIDE
    if len(head) > slack:
        raise ValueError(
            f"pinned+touched = {len(head)} rows exceed the window slack "
            f"{slack}; shrink _TOUCHED or lower _STRIDE"
        )
    start = ((round_no - _BASE_ROUND) * _STRIDE) % len(keys)
    rotated = keys[start:] + keys[:start]
    return list(head) + [k for k in rotated if k not in head]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    contract = _contract()
    order = _window_order(ROUND, _PINNED + _TOUCHED, list(contract))
    return {k: contract[k] for k in order}


def _contract() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The full 112-query contract in canonical rotation order (FIXED —
    do not reorder; append new queries at the END and list them in
    _TOUCHED for their first round).  Laid down at r7 in staleness
    order: 18 r4-official rows, then 44 r5-official, then 50
    r6-official."""
    return {
        # -- official r4 as of r7 (rotation phase 0 starts here) --
        "a_corr_matrix": q_corr_matrix,
        "d_bloom_prune": q_bloom_prune,
        "a_funnel": q_funnel,
        "p_stratified_split": q_stratified_split,
        "a_robust_scale": q_robust_scale,
        "a_entropy": q_entropy,
        "t_bigram_logprob": q_bigram_logprob,
        "p_weighted_sample": q_weighted_sample,
        "d_domain_cap": q_domain_cap,
        "d_fuzzy_ed1": q_fuzzy_ed1,
        "a_impute": q_impute,
        "j_asof_forward": q_asof_forward,
        "t_bm25": q_bm25,
        "t_gopher": q_gopher,
        "t_token_bigrams": q_token_bigrams,
        "d_token_prefix_dup": q_token_prefix_dup,
        "a_heavy_hitters": q_heavy_hitters,
        "w_cum_distinct": q_cum_distinct,
        # -- official r5 as of r7 --
        "a_ohlc": q_ohlc,
        "p_temporal_split": q_temporal_split,
        "j_asof_nearest": q_asof_nearest,
        "j_asof_nearest_strict": q_asof_nearest_strict,
        "w_enrich_stream": q_enrich_stream,
        "t_script_profile": q_script_profile,
        "t_dataset_card": q_dataset_card,
        "t_unigram_logprob": q_unigram_logprob,
        "t_line_dedup": q_line_dedup,
        "j_interval": q_interval_join,
        "d_components_star": q_dedup_components_star,
        "s_cosine_topk": q_cosine_topk,
        "s_ann_topk": q_ann_topk,
        "s_ivf_topk": q_ivf_topk,
        "s_near_dup": q_near_dup,
        "w_tpi_multiscale": q_tpi_multiscale,
        "w_rolling_std": q_rolling_std,
        "w_gaussian_ma": q_gaussian_ma,
        "w_gradient": q_gradient,
        "w_backfill": q_backfill,
        "w_sessionize": q_sessionize,
        "j_asof_events": q_asof_events,
        "t_repetition": q_repetition,
        "j_asof_orders_strict": q_asof_orders_strict,
        "a_top_event": q_top_event,
        "a_znorm": q_znorm,
        "a_rollup": q_rollup,
        "j_dim_join": q_dim_join,
        "w_session_stats": q_session_stats,
        "t_token_count": q_token_count,
        "t_token_regex": q_token_regex,
        "t_lang_id": q_lang_id,
        "t_quality": q_quality,
        "p_hash_split": q_hash_split,
        "p_sample_mix": q_sample_mix,
        "t_fingerprint": q_fingerprint,
        "p_pack_cumsum": q_pack_cumsum,
        "p_pack_greedy": q_pack_greedy,
        "p_resample": q_resample,
        "f_json_extract": q_json_extract,
        "s_rand_proj": q_rand_proj,
        "a_rank_ops": q_rank_ops,
        "t_pii_redact": q_pii_redact,
        "d_decontaminate": q_decontaminate,
        # -- official r6 as of r7 (freshest when this order was laid) --
        "p_seeded_shuffle": q_seeded_shuffle,
        "t_vocab_topk": q_vocab_topk,
        "s_quantize": q_quantize,
        "m_media_features": q_media_features,
        "m_frame_features": q_frame_features,
        "w_gaussian_arrow": q_gaussian_arrow,
        "w_tpi_chunked": q_tpi_chunked,
        "w_matched_filter": q_matched_filter,
        "w_sx_shelter": q_sx_shelter,
        "j_asof_bucketed": q_asof_bucketed,
        "j_asof_tolerance": q_asof_tolerance,
        "a_quantile": q_quantile,
        "s_cosine_topk_join_blocked": q_cosine_topk_join_blocked,
        "s_cosine_topk_join": q_cosine_topk_join,
        "a_salted_agg": q_salted_agg,
        "k_cms_counts": q_cms_counts,
        "w_window_counts_stream": q_window_counts_stream,
        "w_sessionize_stream": q_sessionize_stream,
        "w_packed_features": q_packed_features,
        "d_exact_groups": q_exact_dedup_groups,
        "d_minhash_sig": q_minhash_sig,
        "d_minhash_pairs": q_minhash_pairs,
        "d_ngram_jaccard": q_ngram_jaccard,
        "d_simhash": q_simhash,
        "d_simhash_pairs": q_simhash_pairs,
        "d_dedup_components": q_dedup_components,
        "s_near_dup_lsh": q_near_dup_lsh,
        "j_asof_fused": q_asof_fused,
        "g_tpi_2d": q_tpi_2d,
        "g_sx_2d": q_sx_2d,
        "g_valley_2d": q_valley_2d,
        "g_gaussian_2d": q_gaussian_2d,
        "g_std_2d": q_std_2d,
        "g_gradient_2d": q_gradient_2d,
        "w_dedup_stream": q_dedup_stream,
        "w_decayed": q_decayed,
        "t_tfidf": q_tfidf,
        "a_pivot": q_pivot,
        "a_cube": q_cube,
        "d_keep_best": q_keep_best,
        "p_chunk": q_chunk,
        "p_token_budget": q_token_budget,
        "w_decayed_stream": q_decayed_stream,
        "e_target_encode": q_target_encode,
        "e_count_encode": q_count_encode,
        "e_feature_hash": q_feature_hash,
        "t_hash_vectorize": q_hash_vectorize,
        "w_rolling_quantiles": q_rolling_quantiles,
        "k_kmv_distinct": q_kmv_distinct,
        "a_quantile_bin": q_quantile_bin,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _tpi_sql(k: int, alias: str) -> str:
    return (
        f"round(value - (sum(value) OVER w{k} - value) / (count(value) OVER w{k} - 1), {_R}) AS {alias}"
    )


def _gauss_terms() -> tuple[str, str]:
    wts = gaussian_weights(1.0)
    r = len(wts) // 2
    num, den = [], []
    for i, wt in enumerate(wts):
        off = i - r
        v = "value" if off == 0 else (
            f"lag(value, {off}) OVER w" if off > 0 else f"lead(value, {-off}) OVER w"
        )
        num.append(f"CASE WHEN {v} IS NOT NULL THEN {v} * {wt!r} ELSE 0.0 END")
        den.append(f"CASE WHEN {v} IS NOT NULL THEN {wt!r} ELSE 0.0 END")
    return " + ".join(num), " + ".join(den)


def _mf_sql() -> str:
    import numpy as np

    scores = {}
    for name in sorted(MF_FILTERS):
        wts = np.asarray(MF_FILTERS[name], dtype=np.float64)
        wts = (wts - wts.mean()) / wts.std()
        r = len(wts) // 2
        terms = []
        for i, wt in enumerate(wts):
            off = i - r
            v = (
                "value"
                if off == 0
                else (f"lag(value, {off}) OVER w" if off > 0 else f"lead(value, {-off}) OVER w")
            )
            terms.append(f"coalesce({v} * {wt!r}, 0.0)")
        scores[name] = " + ".join(terms)
    names = sorted(scores)
    score_cols = ", ".join(f"({scores[n]}) AS s_{n}" for n in names)
    # earliest name attaining the max wins (mirrors the strict-greater fold)
    pick = "CASE "
    for i, n in enumerate(names[:-1]):
        conds = " AND ".join(f"s_{n} >= s_{m}" for m in names[i + 1 :])
        pick += f"WHEN {conds} THEN '{n}' "
    pick += f"ELSE '{names[-1]}' END"
    return f"""
        WITH s AS (
          SELECT event_id, user_id, {score_cols}
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT event_id, user_id,
               round(greatest({', '.join('s_' + n for n in names)}), {_R}) AS mf_score,
               {pick} AS mf_id
        FROM s
    """


def _sx_terms() -> str:
    terms = [
        f"degrees(atan((lag(value, {k}) OVER w - value - 5.0) / {k * 10.0}))"
        for k in range(1, 6)
    ]
    return "greatest(" + ", ".join(terms) + ")"


# DuckDB building blocks mirroring topo_descriptors_spark.operators.text
_DW = r"list_filter(string_split_regex(text, '\s+'), w -> w <> '')"
_DH = "('0x' || substr(md5({s}), 1, 15))::BIGINT"
_D_SHINGLES = (
    "CASE WHEN len(wl) >= 3 THEN list_transform(generate_series(1, len(wl) - 2), "
    "i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]) ELSE [] END"
)
# hash-vocab pre-tokenized view (mirrors text.tokens_sql, vocab=4096)
_DTOK = f"list_transform({_DW}, tk -> ({_DH.format(s='lower(tk)')} % 4096)::INT)"


def _cms_sql(depth: int = 4, width: int = 256) -> str:
    """Replays features.cms_counts bit-for-bit: portable md5 key hash
    into the 31-bit prime field, the MinHash affine family per sketch
    row, exact cell counts, min across rows.  The portable hash is a
    positive 60-bit value so plain ``%`` matches Spark's pmod."""
    from topo_descriptors_spark.operators.dedup import minhash_params
    from topo_descriptors_spark.operators.text import HASH_PRIME

    params = minhash_params(depth)
    kh = _DH.format(s="user_id::VARCHAR") + f" % {HASH_PRIME}"
    bexprs = ", ".join(
        f"(({a} * kh + {b}) % {HASH_PRIME}) % {width} AS b{i}"
        for i, (a, b) in enumerate(params)
    )
    cell_ctes = ", ".join(
        f"c{i} AS (SELECT b{i} AS b, count(*)::BIGINT AS cnt FROM h2 "
        f"GROUP BY b{i})"
        for i in range(depth)
    )
    joins = " ".join(f"JOIN c{i} ON c{i}.b = k.b{i}" for i in range(depth))
    least = "least(" + ", ".join(f"c{i}.cnt" for i in range(depth)) + ")"
    mins = ", ".join(f"min(b{i}) AS b{i}" for i in range(depth))
    return f"""
        WITH h AS (SELECT user_id, {kh} AS kh FROM events),
        h2 AS (SELECT user_id, {bexprs} FROM h),
        k AS (SELECT user_id, count(*)::BIGINT AS n_true, {mins}
              FROM h2 GROUP BY user_id),
        {cell_ctes}
        SELECT user_id, {least} AS est, n_true FROM k {joins}
    """


def _bm25_sql(terms=None, k1: float = 1.2, b: float = 0.75) -> str:
    """Replays text.bm25_score: in-row tf per literal query term, one-row
    corpus stats (N, avgdl as sum/count to match the Spark op exactly,
    per-term df), Lucene-style idf."""
    terms = BM25_TERMS if terms is None else terms
    tfs = ", ".join(
        f"len(list_filter(wl, x -> x = '{t}'))::DOUBLE AS tf{i}"
        for i, t in enumerate(terms)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::DOUBLE AS df{i}"
        for i in range(len(terms))
    )
    score = " + ".join(
        f"ln(1 + (n - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * {k1 + 1.0} "
        f"/ (tf{i} + {k1} * ({1.0 - b} + {b} * dl / avgdl))"
        for i in range(len(terms))
    )
    return f"""
        WITH d AS (SELECT doc_id,
                          list_transform({_DW}, x -> lower(x)) AS wl
                   FROM documents),
        e AS (SELECT doc_id, len(wl)::DOUBLE AS dl, {tfs} FROM d),
        st AS (SELECT count(*)::DOUBLE AS n, sum(dl) / count(*) AS avgdl,
                      {dfs} FROM e)
        SELECT doc_id, dl::BIGINT AS n_words, round({score}, {_R}) AS bm25
        FROM e, st
    """


def _gopher_sql() -> str:
    """Replays text.gopher_rules: word/line stats rounded to {_R} before
    the threshold comparisons, line rules vacuously true on no lines."""
    return f"""
        WITH d AS (SELECT doc_id, {_DW} AS w,
          list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines
          FROM documents),
        e AS (SELECT doc_id, len(w)::BIGINT AS n_words,
          CASE WHEN len(w) > 0 THEN
            round(list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w), {_R})
          END AS mean_word_len,
          CASE WHEN len(w) > 0 THEN
            round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                  / len(w), {_R})
          END AS alpha_frac,
          CASE WHEN len(lines) > 0 THEN
            round(len(list_filter(lines,
                  x -> regexp_matches(x, '^\\s*[-*•]')))::DOUBLE / len(lines), {_R})
          END AS bullet_frac,
          CASE WHEN len(lines) > 0 THEN
            round(len(list_filter(lines,
                  x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
                  / len(lines), {_R})
          END AS ellipsis_frac
          FROM d)
        SELECT doc_id, n_words, mean_word_len, alpha_frac, bullet_frac,
               ellipsis_frac,
               n_words BETWEEN 50 AND 100000 AS ok_word_count,
               coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
                 AS ok_mean_word_len,
               coalesce(alpha_frac >= 0.8, false) AS ok_alpha_words,
               coalesce(bullet_frac <= 0.9, true) AS ok_bullet_lines,
               coalesce(ellipsis_frac <= 0.3, true) AS ok_ellipsis_lines,
               (n_words BETWEEN 50 AND 100000)
                 AND coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
                 AND coalesce(alpha_frac >= 0.8, false)
                 AND coalesce(bullet_frac <= 0.9, true)
                 AND coalesce(ellipsis_frac <= 0.3, true) AS gopher_pass
        FROM e
    """


def _d_shingles_n(n: int) -> str:
    """Parametrized word n-gram shingles over a materialized ``wl``."""
    parts = " || ' ' || ".join(f"wl[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(wl) >= {n} THEN "
        f"list_transform(generate_series(1, len(wl) - {n - 1}), i -> {parts}) "
        "ELSE [] END"
    )


def _d_markers(markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(lw, x -> list_contains([{lst}], x)))"


def _d_lang_sql() -> str:
    from topo_descriptors_spark.operators.text import LANG_MARKERS

    scores = ", ".join(
        f"{_d_markers(m)} AS s_{lang}" for lang, m in LANG_MARKERS.items()
    )
    return f"""
        WITH w AS (
          SELECT doc_id, lang,
                 list_transform({_DW}, x -> lower(x)) AS lw
          FROM documents
        ), s AS (SELECT doc_id, lang, {scores} FROM w)
        SELECT doc_id, lang,
          CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
               WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
               WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
               WHEN s_fr >= s_es THEN 'fr'
               ELSE 'es' END AS pred_lang
        FROM s
    """


def _d_minhash_sig_sql(num_perms: int = 8) -> str:
    h = _DH.format(s="s")
    cols = ", ".join(
        f"(list_min(list_transform(hs, h -> ((h % {HASH_PRIME}) * {a} + {b}) % {HASH_PRIME})))::BIGINT AS mh_{i}"
        for i, (a, b) in enumerate(minhash_params(num_perms))
    )
    return f"""
        WITH w AS (SELECT doc_id, text, {_DW} AS wl FROM documents),
        sh AS (SELECT doc_id, text, {_D_SHINGLES} AS shl FROM w),
        hs AS (
          SELECT doc_id,
                 CASE WHEN len(shl) > 0
                      THEN list_transform(shl, s -> {h})
                      ELSE [{_DH.format(s='text')}] END AS hs
          FROM sh
        )
        SELECT doc_id, {cols} FROM hs
    """


def _d_simhash_sql(where: str = "") -> str:
    h = _DH.format(s="x")
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x // {1 << b}) % 2 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )
    return f"""
        WITH w AS (SELECT doc_id, {_DW} AS wl FROM documents {where}),
        h AS (SELECT doc_id, wl,
                     list_transform(wl, x -> {h} % 4294967296) AS hs FROM w)
        SELECT doc_id,
               (CASE WHEN len(wl) > 0 THEN ({terms}) ELSE 0 END)::BIGINT AS simhash
        FROM h
    """


# DuckDB twin of pipeline.unit_hash_col (15-hex-char md5 / 2^60)
def _d_unit_hash(key_sql: str, salt: str = "") -> str:
    s = f"({key_sql} || '{salt}')" if salt else key_sql
    return f"{_DH.format(s=s)} / 1152921504606846976.0"


def _p_split_sql() -> str:
    from topo_descriptors_spark.operators.pipeline import split_thresholds

    u = _d_unit_hash("doc_id::VARCHAR")
    case = "CASE "
    for name, bound in split_thresholds(SPLIT_WEIGHTS):
        case += f"WHEN {u} < {bound!r} THEN '{name}' "
    case += "END"
    return f"SELECT doc_id, {case} AS split FROM documents"


def _p_mix_sql() -> str:
    u = _d_unit_hash("doc_id::VARCHAR", "mix")
    rate = "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {float(r)!r}" for s, r in MIX_RATES.items()
    ) + f" ELSE {float(MIX_DEFAULT)!r} END"
    return f"SELECT doc_id, source FROM documents WHERE {u} < {rate}"


def _p_strat_sql() -> str:
    from topo_descriptors_spark.operators.pipeline import split_thresholds

    def chain(salt: str, weights: dict[str, float]) -> str:
        u = _d_unit_hash("doc_id::VARCHAR", salt)
        c = "CASE "
        for name, bound in split_thresholds(weights):
            c += f"WHEN {u} < {bound!r} THEN '{name}' "
        return c + "END"

    case = "CASE "
    for s, w in STRAT_WEIGHTS.items():
        case += f"WHEN source = '{s}' THEN ({chain(f'strat:{s}', w)}) "
    case += f"ELSE ({chain('strat:@default', STRAT_DEFAULT)}) END"
    return f"SELECT doc_id, source, {case} AS split FROM documents"


def _d_simhash_pairs_sql(
    max_hamming: int = 6, max_bucket: int = 500, where: str = ""
) -> str:
    """Replays dedup.simhash_pairs: 8-bit chunk banding over the simhash,
    bucket cap, distinct pairs, popcount hamming filter."""
    chunks = ", ".join(f"(simhash // {1 << (8 * c)}) % 256" for c in range(4))
    return f"""
        WITH s AS ({_d_simhash_sql(where)}),
        banded AS (
          SELECT doc_id, simhash,
                 unnest(generate_series(0, 3)) AS chunk_id,
                 unnest([{chunks}]) AS chunk
          FROM s
        ),
        counts AS (SELECT chunk_id, chunk, count(*) AS n FROM banded GROUP BY 1, 2),
        small AS (
          SELECT b.doc_id, b.simhash, b.chunk_id, b.chunk FROM banded b
          JOIN counts c ON b.chunk_id = c.chunk_id AND b.chunk = c.chunk
          WHERE c.n <= {max_bucket}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.simhash AS sa, b.simhash AS sb
          FROM small a JOIN small b
          ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _s_near_dup_lsh_sql(threshold: float = 0.3, n_planes: int = 4,
                        seed: int = 7) -> str:
    """Replays similarity.embedding_near_dup_pairs: raw-vector sign
    buckets (hyperplane literals), dot/(norm*norm) cosine rounded before
    the threshold."""
    planes = similarity.hyperplanes(EMB_DIM, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in p)}]) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
        WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                      ({bucket}) AS bucket FROM n)
        SELECT id_a, id_b, cosine FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), {_R}) AS cosine
          FROM nn a JOIN nn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ) WHERE cosine >= {float(threshold)!r}
    """


def _s_rand_proj_sql(out_dim: int = 8, seed: int = 11) -> str:
    """Replays similarity.random_projection with the same seeded matrix
    inlined as list literals."""
    import numpy as np

    rng = np.random.RandomState(seed)
    R = rng.standard_normal((out_dim, EMB_DIM)) / np.sqrt(out_dim)
    cols = ", ".join(
        f"round(list_dot_product(v, [{', '.join(repr(float(x)) for x in row)}]), {_R}) AS p_{j}"
        for j, row in enumerate(R)
    )
    return f"""
        SELECT vec_id, {cols}
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    """


def _j_asof_fused_sql() -> str:
    """Replays q_asof_fused: row_number positions (ties pinned by
    event_id), ROWS-frame TPI/std (multiscale_features' frame), hash
    query positions, PIT gather."""
    h = _DH.format(s="(user_id::VARCHAR || '#' || i::VARCHAR)")
    return f"""
        WITH s AS (
          SELECT user_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS pos,
                 value
          FROM events
        ),
        f AS (
          SELECT user_id, pos,
            round(value - (sum(value) OVER w - value) / (count(value) OVER w - 1), {_R}) AS tpi_9,
            round(stddev_samp(value) OVER w, {_R}) AS std_9
          FROM s
          WINDOW w AS (PARTITION BY user_id ORDER BY pos
                       ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)
        ),
        nper AS (SELECT user_id, count(*) AS n FROM s GROUP BY 1),
        q AS (
          SELECT user_id, ({h}) % n AS q_pos
          FROM nper, unnest(generate_series(0, {FUSED_NQ - 1})) AS u(i)
        )
        SELECT q.user_id, q.q_pos, f.pos::BIGINT AS matched_ts, f.tpi_9, f.std_9
        FROM q JOIN f ON q.user_id = f.user_id AND q.q_pos = f.pos
    """


def _w_packed_sql() -> str:
    """Replays q_packed_features: portable-hash tokenization, the full
    feature set as window expressions over the exploded sequence
    (tpi/std bounded frames, edge-renormalized Gaussian lag bank,
    one-sided Sx greatest), and the hash-positioned PIT gather."""
    h_tok = _DH.format(s="w") + f" % {PACKED_VOCAB}"

    def tpi_std(k, d):
        return (
            f"round(v - (sum(v) OVER w{k} - v) / (count(v) OVER w{k} - 1), {_R}) AS tpi_{d},\n"
            f"round(stddev_samp(v) OVER w{k}, {_R}) AS std_{d}"
        )

    wts = gaussian_weights(1.0)
    r = len(wts) // 2
    num, den = [], []
    for i, wt in enumerate(wts):
        off = i - r
        t = "v" if off == 0 else (
            f"lag(v, {off}) OVER wg" if off > 0 else f"lead(v, {-off}) OVER wg"
        )
        num.append(f"coalesce({t} * {wt!r}, 0.0)")
        den.append(f"CASE WHEN {t} IS NOT NULL THEN {wt!r} ELSE 0.0 END")
    smooth = f"round(({' + '.join(num)}) / ({' + '.join(den)}), {_R})"
    sx_terms = ", ".join(
        f"degrees(atan((lag(v, {k}) OVER wg - v - 0.0) / {float(k)!r}))"
        for k in range(1, 4)
    )
    h_q = _DH.format(s="(doc_id::VARCHAR || '#' || i::VARCHAR)")
    return f"""
        WITH t AS (
          SELECT doc_id, list_transform({_DW}, w -> {h_tok}) AS tok
          FROM documents
        ),
        seq AS (
          SELECT doc_id,
                 unnest(generate_series(0, len(tok) - 1))::BIGINT AS pos,
                 unnest(tok)::DOUBLE AS v
          FROM t WHERE len(tok) > 0
        ),
        feats AS (
          SELECT doc_id, pos, round(v, {_R}) AS value,
                 {tpi_std(1, 3)},
                 {tpi_std(4, 9)},
                 {smooth} AS smooth,
                 round(greatest({sx_terms}), {_R}) AS sx
          FROM seq
          WINDOW
            w1 AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING),
            w4 AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING),
            wg AS (PARTITION BY doc_id ORDER BY pos)
        ),
        q AS (
          SELECT doc_id, ({h_q}) % len(tok) AS pos
          FROM t, unnest(generate_series(0, {PACKED_NQ - 1})) AS u(i)
          WHERE len(tok) > 0
        )
        SELECT f.doc_id, f.pos, f.value, f.tpi_3, f.std_3, f.tpi_9, f.std_9,
               f.smooth, f.sx
        FROM q JOIN feats f ON q.doc_id = f.doc_id AND q.pos = f.pos
    """


def _p_resample_sql() -> str:
    u = _d_unit_hash("doc_id::VARCHAR", "resample")
    rate = "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {float(r)!r}"
        for s, r in RESAMPLE_RATES.items()
    ) + " ELSE 1.0 END"
    return f"""
        WITH r AS (
          SELECT doc_id, source,
                 (floor({rate}) + CASE WHEN {u} < {rate} - floor({rate})
                                       THEN 1 ELSE 0 END)::BIGINT AS n
          FROM documents
        )
        SELECT doc_id, source,
               unnest(generate_series(0, n - 1))::BIGINT AS copy_idx
        FROM r WHERE n > 0
    """


def _p_pack_cumsum_sql() -> str:
    return f"""
        WITH d AS (SELECT doc_id, source, len({_DW}) AS n_tok FROM documents)
        SELECT doc_id, source,
               floor(coalesce(sum(n_tok) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {PACK_MAX_TOKENS})::BIGINT AS bin
        FROM d
    """


def _p_pack_greedy_sql() -> str:
    """First-fit recurrence replayed as a recursive CTE: each recursion
    round advances every source by one document in id order."""
    m = PACK_MAX_TOKENS
    return f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, source, len({_DW}) AS n_tok FROM documents
        ),
        o AS (
          SELECT doc_id, source, n_tok,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM d
        ),
        packed AS (
          SELECT source, rn, doc_id, n_tok,
                 0::BIGINT AS bin, n_tok::BIGINT AS fill
          FROM o WHERE rn = 1
          UNION ALL
          SELECT o.source, o.rn, o.doc_id, o.n_tok,
                 CASE WHEN p.fill + o.n_tok <= {m} THEN p.bin ELSE p.bin + 1 END,
                 CASE WHEN p.fill + o.n_tok <= {m} THEN p.fill + o.n_tok
                      ELSE o.n_tok::BIGINT END
          FROM o JOIN packed p ON o.source = p.source AND o.rn = p.rn + 1
        )
        SELECT doc_id, source, bin FROM packed
    """


def _m_media_sql(bins: int = 16) -> str:
    """Byte-exact replay of multimodal.extract_features over the fake
    payload (text cast to binary): per-byte histogram of byte//16 bins,
    normalized — bytes recovered from hex(encode(text)) two chars at a
    time, so multi-byte characters are handled byte-for-byte."""
    width = 256 // bins
    cols = ", ".join(
        f"round(coalesce(sum(CASE WHEN byte // {width} = {i} THEN 1 ELSE 0 END), 0)"
        f" / greatest(any_value(n), 1), {_R}) AS f_{i}"
        for i in range(bins)
    )
    return f"""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        bytes AS (
          SELECT doc_id, n,
                 ('0x' || substr(h, 2 * unnest(generate_series(1, n)) - 1, 2))::INT AS byte
          FROM b
        )
        SELECT doc_id::VARCHAR AS media_id, any_value(n)::BIGINT AS n_bytes, {cols}
        FROM bytes GROUP BY doc_id
    """


def _m_frames_sql(n_frames: int = 4, bins: int = 16) -> str:
    """Replays multimodal.sample_frames for video payloads: portable-hash
    kind assignment, np.array_split chunk boundaries (first n%k chunks
    one byte longer), per-chunk byte histogram."""
    width = 256 // bins
    h = _DH.format(s="doc_id::VARCHAR")
    cols = ", ".join(
        f"round(coalesce(sum(CASE WHEN byte // {width} = {i} THEN 1 ELSE 0 END), 0)"
        f" / greatest(any_value(clen), 1), {_R}) AS f_{i}"
        for i in range(bins)
    )
    k = n_frames
    return f"""
        WITH v AS (
          SELECT doc_id::VARCHAR AS media_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents WHERE ({h}) % 3 = 2
        ),
        f AS (
          SELECT media_id, hx, n,
                 unnest(generate_series(0, {k - 1}))::INT AS frame_idx
          FROM v WHERE n > 0
        ),
        b AS (
          SELECT media_id, frame_idx, hx,
                 frame_idx * (n // {k}) + least(frame_idx, n % {k}) AS s,
                 (frame_idx + 1) * (n // {k}) + least(frame_idx + 1, n % {k}) AS e
          FROM f
        ),
        bytes AS (
          SELECT media_id, frame_idx, e - s AS clen,
                 ('0x' || substr(hx, 2 * unnest(generate_series(s + 1, e)) - 1, 2))::INT AS byte
          FROM b WHERE e > s
        )
        SELECT media_id, frame_idx, {cols}
        FROM bytes GROUP BY media_id, frame_idx
    """


def _d_minhash_pairs_sql(
    num_perms: int = 16, bands: int = 16, max_bucket: int = 200,
    threshold: float = 0.4, where: str = "",
) -> str:
    """Replays dedup.minhash_dedup_pairs exactly: portable-md5 shingle
    hashes -> affine MinHash signature -> banding -> bucket cap ->
    distinct pairs -> signature-agreement est_jaccard >= threshold."""
    h = _DH.format(s="s")
    elems = ", ".join(
        f"(list_min(list_transform(hs, h -> ((h % {HASH_PRIME}) * {a} + {b}) % {HASH_PRIME})))::BIGINT"
        for a, b in minhash_params(num_perms)
    )
    rpb = num_perms // bands
    band_exprs = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"sig[{i + 1}]" for i in range(b * rpb, (b + 1) * rpb))
        + ")"
        for b in range(bands)
    )
    return f"""
        WITH w AS (SELECT doc_id, text, {_DW} AS wl FROM documents {where}),
        sh AS (SELECT doc_id, text, {_D_SHINGLES} AS shl FROM w),
        hs AS (SELECT doc_id,
                 CASE WHEN len(shl) > 0 THEN list_transform(shl, s -> {h})
                      ELSE [{_DH.format(s='text')}] END AS hs FROM sh),
        sig AS (SELECT doc_id, [{elems}] AS sig FROM hs),
        banded AS (
          SELECT doc_id,
                 unnest(generate_series(0, {bands - 1})) AS band_id,
                 unnest([{band_exprs}]) AS band_key
          FROM sig
        ),
        counts AS (SELECT band_id, band_key, count(*) AS n FROM banded GROUP BY 1, 2),
        small AS (
          SELECT b.doc_id, b.band_id, b.band_key FROM banded b
          JOIN counts c ON b.band_id = c.band_id AND b.band_key = c.band_key
          WHERE c.n <= {max_bucket}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM small a JOIN small b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, est_jaccard FROM (
          SELECT p.id_a, p.id_b,
                 len(list_filter(generate_series(1, {num_perms}),
                                 i -> sa.sig[i] = sb.sig[i])) / {float(num_perms)!r}
                   AS est_jaccard
          FROM pairs p
          JOIN sig sa ON p.id_a = sa.doc_id
          JOIN sig sb ON p.id_b = sb.doc_id
        ) WHERE est_jaccard >= {float(threshold)!r}
    """


def _d_components_sql(where: str = "") -> str:
    """Replays dedup.connected_components over the MinHash pairs: a
    recursive-CTE transitive closure, component = min reachable id
    (singletons reach only themselves)."""
    return f"""
        WITH RECURSIVE p AS ({_d_minhash_pairs_sql(16, 16, 200, 0.4, where)}),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p
        ),
        reach(src, dst) AS (
          SELECT doc_id, doc_id FROM documents {where}
          UNION
          SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        )
        SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1
    """


# normalized DOUBLE[] embeddings — shared prefix of the ANN oracles
_S_UNIT = """
    n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    u AS (SELECT vec_id, v,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u
          FROM n)
"""


def _s_ann_sql(k: int = 5, n_planes: int = 4, seed: int = 7) -> str:
    """Replays similarity.ann_topk_blocked: seeded hyperplanes inlined as
    literals (raw-vector sign buckets), normalize-then-dot cosine rounded
    to 9dp before ranking, ties on neighbor id ascending."""
    planes = similarity.hyperplanes(EMB_DIM, n_planes, seed)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(float(x)) for x in p)}]) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"""
        WITH {_S_UNIT},
        b AS (SELECT vec_id, u, ({bucket}) AS bucket FROM u),
        p AS (
          SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                 round(list_dot_product(a.u, b2.u), 9) AS cosine
          FROM b a JOIN b b2
          ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
        ),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rank
          FROM p
        )
        SELECT id_a, id_b, rank, round(cosine, {_R}) AS cosine
        FROM r WHERE rank <= {k}
    """


def _s_ivf_sql(k: int = 5, n_clusters: int = 16, n_probe: int = 2) -> str:
    """Replays similarity.ivf_topk (lloyd_steps=0): centroids = the
    n_clusters lowest-id vectors (normalized), multiprobe to the n_probe
    most-similar cells (ties -> lowest cell), per-cell exact top-k, then
    global dedupe + re-rank."""
    return f"""
        WITH {_S_UNIT},
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, u AS cu
          FROM u ORDER BY vec_id LIMIT {n_clusters}
        ),
        sims AS (
          SELECT a.vec_id, c.cell, list_dot_product(a.u, c.cu) AS sim
          FROM u a CROSS JOIN cent c
        ),
        probes AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell, row_number() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS pr
            FROM sims
          ) WHERE pr <= {n_probe}
        ),
        members AS (
          SELECT p.cell, p.vec_id, u.u FROM probes p JOIN u USING (vec_id)
        ),
        cand AS (
          SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.u, b.u), 9) AS cosine
          FROM members a JOIN members b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ),
        cellk AS (
          SELECT id_a, id_b, cosine FROM (
            SELECT *, row_number() OVER (
              PARTITION BY cell, id_a ORDER BY cosine DESC, id_b ASC) AS rk
            FROM cand
          ) WHERE rk <= {k}
        ),
        merged AS (
          SELECT id_a, id_b, max(cosine) AS cosine FROM cellk GROUP BY 1, 2
        ),
        r AS (
          SELECT *, row_number() OVER (
            PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rank
          FROM merged
        )
        SELECT id_a, id_b, rank, round(cosine, {_R}) AS cosine
        FROM r WHERE rank <= {k}
    """


_D_GRID = f"""
    SELECT l.y, l.x, coalesce(a.value, 0.0) AS value
    FROM (
      SELECT yy.y, xx.x
      FROM (SELECT unnest(generate_series(0, {GRID_N - 1}))::INT AS y) yy
      CROSS JOIN (SELECT unnest(generate_series(0, {GRID_N - 1}))::INT AS x) xx
    ) l
    LEFT JOIN (
      SELECT (event_id % {GRID_N})::INT AS y,
             ((event_id // {GRID_N}) % {GRID_N})::INT AS x,
             avg(value) AS value
      FROM events GROUP BY 1, 2
    ) a ON l.y = a.y AND l.x = a.x
"""


def _g_tpi2d_sql() -> str:
    import numpy as np

    from topo_descriptors_spark.functions.kernels import circular_kernel

    k = circular_kernel(5)
    k[2, 2] = 0
    offs = [
        f"({dy - 2}, {dx - 2})"
        for dy in range(5)
        for dx in range(5)
        if k[dy, dx] > 0
    ]
    ksum = float(k.sum())
    return f"""
        WITH grid AS ({_D_GRID}),
        offs(dy, dx) AS (VALUES {', '.join(offs)}),
        conv AS (
          SELECT g.y, g.x, coalesce(sum(n.value), 0.0) AS s
          FROM grid g
          CROSS JOIN offs o
          LEFT JOIN grid n ON n.y = g.y + o.dy AND n.x = g.x + o.dx
          GROUP BY g.y, g.x
        )
        SELECT g.y, g.x, round(g.value - c.s / {ksum}, {_R}) AS tpi
        FROM grid g JOIN conv c ON g.y = c.y AND g.x = c.x
    """


def _reflect_idx(expr: str) -> str:
    """Symmetric (ndimage 'reflect') index mapping into [0, GRID_N)."""
    return (
        f"CASE WHEN ({expr}) < 0 THEN -({expr}) - 1 "
        f"WHEN ({expr}) >= {GRID_N} THEN {2 * GRID_N - 1} - ({expr}) "
        f"ELSE ({expr}) END"
    )


def _smooth_ctes(sigma: float, out: str = "sm") -> str:
    """CTE fragments computing the separable reflect-padded Gaussian of
    ``grid`` into ``{out}(y, x, v)`` — mirrors kernels.gaussian_filter
    (y pass then x pass, radius int(4*sigma+0.5))."""
    wts = gaussian_weights(sigma)
    r = len(wts) // 2
    kw_rows = ", ".join(f"({i - r}, {float(w)!r})" for i, w in enumerate(wts))
    return f"""
        kw_{out}(d, w) AS (VALUES {kw_rows}),
        py_{out} AS (
          SELECT g.y, g.x, sum(n.value * o.w) AS v
          FROM grid g CROSS JOIN kw_{out} o
          JOIN grid n ON n.x = g.x AND n.y = {_reflect_idx('g.y + o.d')}
          GROUP BY 1, 2
        ),
        {out} AS (
          SELECT g.y, g.x, sum(n.v * o.w) AS v
          FROM py_{out} g CROSS JOIN kw_{out} o
          JOIN py_{out} n ON n.y = g.y AND n.x = {_reflect_idx('g.x + o.d')}
          GROUP BY 1, 2
        )
    """


def _g_gaussian2d_sql(sigma: float = 1.5) -> str:
    return f"""
        WITH grid AS ({_D_GRID}),
        {_smooth_ctes(sigma)}
        SELECT y, x, round(v, {_R}) AS smooth FROM sm
    """


def _g_std2d_sql(size: int = 5) -> str:
    from topo_descriptors_spark.functions.kernels import circular_kernel

    k = circular_kernel(size)
    mid = int(size / 2)
    offs = [
        f"({dy - mid}, {dx - mid})"
        for dy in range(size)
        for dx in range(size)
        if k[dy, dx] > 0
    ]
    ksum = float(k.sum())
    return f"""
        WITH grid AS ({_D_GRID}),
        offs(dy, dx) AS (VALUES {', '.join(offs)}),
        conv AS (
          SELECT g.y, g.x,
                 coalesce(sum(n.value), 0.0) AS sd,
                 coalesce(sum(n.value * n.value), 0.0) AS sq
          FROM grid g
          CROSS JOIN offs o
          LEFT JOIN grid n ON n.y = g.y + o.dy AND n.x = g.x + o.dx
          GROUP BY 1, 2
        )
        SELECT y, x,
               round(sqrt(greatest((sq - sd * sd / {ksum!r}) / {ksum - 1.0!r}, 0.0)), {_R}) AS std
        FROM conv
    """


def _g_gradient2d_sql(sigma: float = 2.0) -> str:
    """np.gradient over the reflect-smoothed grid: central differences in
    the interior, one-sided at the global border (the tile kernel's
    border-doubling on the reflected array computes exactly this)."""
    n1 = GRID_N - 1
    return f"""
        WITH grid AS ({_D_GRID}),
        {_smooth_ctes(sigma)},
        d AS (
          SELECT g.y, g.x,
            CASE WHEN g.y = 0 THEN up.v - g.v
                 WHEN g.y = {n1} THEN g.v - dn.v
                 ELSE (up.v - dn.v) / 2 END AS dy,
            CASE WHEN g.x = 0 THEN rt.v - g.v
                 WHEN g.x = {n1} THEN g.v - lf.v
                 ELSE (rt.v - lf.v) / 2 END AS dx
          FROM sm g
          LEFT JOIN sm up ON up.x = g.x AND up.y = g.y + 1
          LEFT JOIN sm dn ON dn.x = g.x AND dn.y = g.y - 1
          LEFT JOIN sm rt ON rt.y = g.y AND rt.x = g.x + 1
          LEFT JOIN sm lf ON lf.y = g.y AND lf.x = g.x - 1
        )
        SELECT y, x, round(dx, {_R}) AS dx, round(dy, {_R}) AS dy,
               round(degrees(atan(sqrt(dx * dx + dy * dy))), {_R}) AS slope,
               round(fmod(180 + degrees(atan2(dx, dy)), 360.0), {_R}) AS aspect
        FROM d
    """


def _g_valley2d_sql(size: int = 7, angle_step: int = 30) -> str:
    """Replays tiles.valley_ridge_2d(mode='valley', score_round=6): the
    deterministic rotated kernel bank (functions/kernels.py, reference
    topo.py:466-531 math) is inlined as (angle, kernel, dy, dx, weight)
    literals; per-cell scores are zero-padded convolutions rounded to
    6dp, and the argmax fold resolves ties to the earliest angle —
    identical to the engine's strict-greater running fold."""
    from topo_descriptors_spark.functions import kernels as K

    base = K.valley_kernels(size)
    rows = []
    for angle in range(0, 180, angle_step):
        rot = K.rotate_kernels(base, float(angle))
        for ki, kk in enumerate(rot):
            ky, kx = kk.shape
            ry, rx = ky // 2, kx // 2
            for u in range(-ry, ky - ry):
                for v in range(-rx, kx - rx):
                    # convolution weight at offset (u, v): kernel flipped
                    w = float(kk[ky - 1 - ry - u, kx - 1 - rx - v])
                    if w != 0.0:
                        rows.append(f"({angle}, {ki}, {u}, {v}, {w!r})")
    return f"""
        WITH grid AS ({_D_GRID}),
        stats AS (SELECT avg(value) AS m, stddev_pop(value) AS s FROM grid),
        z AS (SELECT y, x, (value - stats.m) / stats.s AS z FROM grid, stats),
        offs(angle, ki, dy, dx, w) AS (VALUES {', '.join(rows)}),
        conv AS (
          SELECT g.y, g.x, o.angle, o.ki,
                 round(sum(coalesce(n.z, 0.0) * o.w), {_R}) AS score
          FROM z g CROSS JOIN offs o
          LEFT JOIN z n ON n.y = g.y + o.dy AND n.x = g.x + o.dx
          GROUP BY 1, 2, 3, 4
        ),
        best AS (SELECT y, x, angle, max(score) AS best FROM conv GROUP BY 1, 2, 3),
        pick AS (
          SELECT y, x, best, angle, row_number() OVER (
            PARTITION BY y, x ORDER BY best DESC, angle ASC) AS rn
          FROM best
        )
        SELECT y, x, round(greatest(best, 0.0), {_R}) AS index_norm,
               angle::DOUBLE AS index_dir
        FROM pick WHERE rn = 1
    """


def _g_sx2d_sql() -> str:
    import numpy as np

    from topo_descriptors_spark.functions.geometry import sx_distance, sx_offsets

    offsets, dists = sx_offsets(0.0, 200.0, 50.0, 50.0, height=10.0)
    # reference border-band width (topo.py:932) — matches operators.tiles.sx_2d
    window = int(sx_distance(200.0, 50.0, 50.0).shape[0] / 2)
    rows = ", ".join(
        f"({int(dy)}, {int(dx)}, {float(d)!r})"
        for (dy, dx), d in zip(offsets, dists)
    )
    return f"""
        WITH grid AS ({_D_GRID}),
        offs(dy, dx, dist) AS (VALUES {rows}),
        cand AS (
          SELECT g.y, g.x,
                 degrees(atan((n.value - g.value - 10.0) / o.dist)) AS ang
          FROM grid g
          CROSS JOIN offs o
          JOIN grid n ON n.y = g.y + o.dy AND n.x = g.x + o.dx
        ),
        m AS (SELECT y, x, max(ang) AS sx FROM cand GROUP BY 1, 2)
        SELECT g.y, g.x,
               round(CASE WHEN g.y < {window} OR g.y >= {GRID_N - window}
                          OR g.x < {window} OR g.x >= {GRID_N - window}
                     THEN 0.0 ELSE coalesce(m.sx, 0.0) END, {_R}) AS sx
        FROM grid g LEFT JOIN m ON g.y = m.y AND g.x = m.x
    """


def oracle_sql() -> dict[str, str]:
    gnum, gden = _gauss_terms()
    oracles = {
        "w_tpi_multiscale": f"""
            SELECT event_id, user_id,
                   {_tpi_sql(1, 'tpi_3').replace('w1', 'w1')},
                   {_tpi_sql(4, 'tpi_9')},
                   {_tpi_sql(12, 'tpi_25')}
            FROM events
            WINDOW
              w1 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING),
              w4 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING),
              w12 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        """,
        "w_rolling_std": f"""
            SELECT event_id, user_id,
                   round(stddev_samp(value) OVER w4, {_R}) AS std_9,
                   round(stddev_samp(value) OVER w12, {_R}) AS std_25
            FROM events
            WINDOW
              w4 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING),
              w12 AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        """,
        "w_gaussian_ma": f"""
            SELECT event_id, user_id,
                   round(CASE WHEN value IS NOT NULL THEN ({gnum}) / ({gden}) END, {_R}) AS smooth
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "w_gradient": f"""
            SELECT event_id, user_id,
              round(1000 * (coalesce(lead(value) OVER w, value) - coalesce(lag(value) OVER w, value))
                / (coalesce(epoch(lead(ts) OVER w), epoch(ts)) - coalesce(epoch(lag(ts) OVER w), epoch(ts))), {_R}) AS dvdt_k,
              round(degrees(atan(
                (coalesce(lead(value) OVER w, value) - coalesce(lag(value) OVER w, value))
                / (coalesce(epoch(lead(ts) OVER w), epoch(ts)) - coalesce(epoch(lag(ts) OVER w), epoch(ts)))
              )), {_R}) AS slope_deg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "w_backfill": f"""
            WITH base AS (
              SELECT *, {_NULLED} AS value_n, epoch(ts) AS t FROM events
            ), b AS (
              SELECT event_id, user_id, t,
                last_value(value_n IGNORE NULLS) OVER wp AS ffill,
                first_value(value_n IGNORE NULLS) OVER wf AS bfill,
                last_value(CASE WHEN value_n IS NOT NULL THEN t END IGNORE NULLS) OVER wp AS t_prev,
                first_value(CASE WHEN value_n IS NOT NULL THEN t END IGNORE NULLS) OVER wf AS t_next
              FROM base
              WINDOW
                wp AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                wf AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id, round(ffill, {_R}) AS ffill, round(bfill, {_R}) AS bfill,
              round(CASE WHEN bfill IS NULL OR (t_prev IS NOT NULL AND (t - t_prev) <= (t_next - t))
                    THEN ffill ELSE bfill END, {_R}) AS nearest_fill
            FROM b
        """,
        "w_sessionize": """
            SELECT event_id, user_id,
              (sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t > 21600 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
              )::BIGINT AS session_id
            FROM (
              SELECT *, lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
              FROM events
            )
        """,
        "w_sx_shelter": f"""
            SELECT event_id, user_id, round({_sx_terms()}, {_R}) AS sx
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "w_matched_filter": _mf_sql(),
        "w_tpi_chunked": f"""
            SELECT event_id, user_id,
                   round(value - (sum(value) OVER w - value) / (count(value) OVER w - 1), {_R}) AS tpi_9,
                   round(stddev_samp(value) OVER w, {_R}) AS std_9
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING)
        """,
        "j_asof_events": f"""
            SELECT c.event_id AS q_id, c.user_id, c.ts AS q_ts,
                   p.ts AS matched_ts, round(p.value, {_R}) AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "j_asof_tolerance": f"""
            WITH j AS (
              SELECT c.event_id AS q_id, c.user_id, c.ts AS q_ts,
                     p.ts AS m_ts, p.value AS pv
              FROM (SELECT * FROM events WHERE event_type = 'click') c
              ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
                ON c.user_id = p.user_id AND c.ts >= p.ts
            )
            SELECT q_id, user_id, q_ts,
              CASE WHEN epoch(q_ts) - epoch(m_ts) <= 21600 THEN m_ts END AS matched_ts,
              round(CASE WHEN epoch(q_ts) - epoch(m_ts) <= 21600 THEN pv END, {_R})
                AS purchase_value
            FROM j
        """,
        "t_repetition": f"""
            WITH w AS (SELECT doc_id, {_DW} AS wl FROM documents),
            b AS (
              SELECT doc_id, wl,
                CASE WHEN len(wl) >= 2
                     THEN list_transform(generate_series(1, len(wl) - 1),
                                         i -> wl[i] || ' ' || wl[i + 1])
                     ELSE [] END AS bl
              FROM w
            )
            SELECT doc_id, len(wl)::BIGINT AS n_words,
              round(CASE WHEN len(wl) > 0
                    THEN 1.0 - len(list_distinct(wl)) / len(wl)
                    ELSE 0.0 END, {_R}) AS dup_word_ratio,
              round(CASE WHEN len(wl) > 0
                    THEN list_max(list_transform(list_distinct(wl),
                           d -> len(list_filter(wl, x -> x = d)))) / len(wl)
                    ELSE 0.0 END, {_R}) AS top_word_ratio,
              round(CASE WHEN len(bl) > 0
                    THEN 1.0 - len(list_distinct(bl)) / len(bl)
                    ELSE 0.0 END, {_R}) AS dup_bigram_ratio
            FROM b
        """,
        "j_asof_orders_strict": f"""
            SELECT q.o_orderkey, q.o_custkey, s.o_orderdate AS matched_ts,
                   round(s.prev_price, {_R}) AS prev_price
            FROM orders q
            ASOF LEFT JOIN (
              SELECT o_custkey, o_orderdate, max(o_totalprice) AS prev_price
              FROM orders GROUP BY 1, 2
            ) s ON q.o_custkey = s.o_custkey AND q.o_orderdate > s.o_orderdate
        """,
        "a_top_event": f"""
            SELECT user_id, event_type, round(value, {_R}) AS top_value
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY value DESC, event_type DESC, event_id DESC
              ) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "a_quantile": f"""
            SELECT event_type,
                   round(quantile_cont(value, 0.05), {_R}) AS p05,
                   round(quantile_cont(value, 0.5), {_R}) AS p50,
                   round(quantile_cont(value, 0.95), {_R}) AS p95,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "a_znorm": f"""
            SELECT event_id, event_type,
                   round((value - avg(value) OVER w) / stddev_samp(value) OVER w, {_R}) AS z
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
        "j_dim_join": f"""
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), {_R}) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "w_session_stats": f"""
            WITH s AS (
              SELECT user_id, value, epoch(ts) AS t,
                (sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t > 21600 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                )::BIGINT AS session_id
              FROM (
                SELECT *, lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
                FROM events
              )
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), {_R}) AS sum_value,
                   round(max(t) - min(t), {_R}) AS duration_s
            FROM s GROUP BY user_id, session_id
        """,
        "a_rollup": f"""
            SELECT event_type, CAST(day AS VARCHAR) AS day, n, sum_value FROM (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     count(*) AS n, round(sum(value), {_R}) AS sum_value
              FROM events
              GROUP BY ROLLUP (event_type, day)
            )
        """,
        "a_pivot": f"""
            SELECT user_id,
                   round(sum(CASE WHEN event_type = 'click' THEN value END), {_R}) AS sum_click,
                   round(sum(CASE WHEN event_type = 'error' THEN value END), {_R}) AS sum_error,
                   round(sum(CASE WHEN event_type = 'purchase' THEN value END), {_R}) AS sum_purchase,
                   round(sum(CASE WHEN event_type = 'signup' THEN value END), {_R}) AS sum_signup,
                   round(sum(CASE WHEN event_type = 'view' THEN value END), {_R}) AS sum_view
            FROM events GROUP BY user_id
        """,
        "a_cube": f"""
            SELECT event_type, CAST(day AS VARCHAR) AS day, n, sum_value, gid FROM (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     count(*) AS n, round(sum(value), {_R}) AS sum_value,
                     GROUPING(event_type, day)::BIGINT AS gid
              FROM events
              GROUP BY CUBE (event_type, day)
            )
        """,
        "d_keep_best": f"""
            WITH RECURSIVE p AS ({_d_minhash_pairs_sql(16, 16, 200, 0.4, _DOCS_HALF_SQL)}),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM p
              UNION SELECT id_b, id_a FROM p
            ),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents {_DOCS_HALF_SQL}
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
            ranked AS (
              SELECT d.doc_id, c.component,
                     row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY length(d.text) DESC, d.doc_id ASC
                     ) AS cr
              FROM (SELECT * FROM documents {_DOCS_HALF_SQL}) d
              JOIN comp c ON d.doc_id = c.doc_id
            )
            SELECT r.doc_id, r.component,
                   min(CASE WHEN r2.cr = 1 THEN r2.doc_id END) AS canonical_id,
                   (r.cr = 1) AS is_canonical
            FROM ranked r JOIN ranked r2 ON r.component = r2.component
            GROUP BY r.doc_id, r.component, r.cr
        """,
        "p_chunk": f"""
            WITH w AS (SELECT doc_id, {_DW} AS wl FROM documents),
            t AS (SELECT doc_id,
                         list_transform(wl, w -> ({_DH.format(s='w')} % 32768)) AS toks,
                         len(wl) AS n
                  FROM w),
            nc AS (SELECT doc_id, toks, n,
                     CASE WHEN n <= 0 THEN 0
                          WHEN n <= 32 THEN 1
                          ELSE (n - 8 + 23) // 24 END AS n_chunks
                   FROM t),
            c AS (SELECT doc_id, toks,
                         unnest(generate_series(0, n_chunks - 1)) AS chunk_id
                  FROM nc WHERE n_chunks >= 1),
            s AS (SELECT doc_id, chunk_id,
                         list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32) AS ch
                  FROM c)
            SELECT doc_id, chunk_id::BIGINT AS chunk_id,
                   len(ch)::BIGINT AS n_tok_chunk,
                   ch[1]::BIGINT AS first_tok,
                   ch[-1]::BIGINT AS last_tok,
                   list_sum(ch)::BIGINT AS tok_sum
            FROM s
        """,
        "p_token_budget": f"""
            WITH d AS (SELECT doc_id, source, len({_DW})::BIGINT AS n_tok FROM documents),
            t AS (SELECT source, sum(n_tok)::DOUBLE AS tot FROM d GROUP BY source),
            r AS (SELECT source, least(1.0, 50000 / tot) AS rate FROM t)
            SELECT d.doc_id, d.source, d.n_tok,
                   round(r.rate, {_R}) AS rate,
                   ({_d_unit_hash("doc_id::VARCHAR", "budget")}) < r.rate AS keep
            FROM d JOIN r USING (source)
        """,
        "t_token_count": f"SELECT doc_id, len({_DW}) AS n_tokens FROM documents",
        "t_token_regex": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                     AS n_tokens_bpe
            FROM documents
        """,
        "t_lang_id": _d_lang_sql(),
        "t_quality": f"""
            WITH w AS (
              SELECT doc_id, length(text) AS n_chars,
                     list_transform({_DW}, x -> lower(x)) AS lw,
                     len({_DW}) AS n_tok,
                     length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS alnum
              FROM documents
            ), m AS (
              SELECT doc_id, n_tok AS n_tokens,
                CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END AS mean_word_len,
                CASE WHEN n_tok > 0 THEN {_d_markers(["the", "and", "of", "to", "is"])} / n_tok ELSE 0.0 END AS stopword_ratio,
                CASE WHEN n_chars > 0 THEN (n_chars - alnum) / n_chars ELSE 0.0 END AS symbol_ratio
              FROM w
            )
            SELECT doc_id, n_tokens,
                   round(mean_word_len, {_R}) AS mean_word_len,
                   round(stopword_ratio, {_R}) AS stopword_ratio,
                   round(symbol_ratio, {_R}) AS symbol_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 16 AND 4096 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN stopword_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
                     + (CASE WHEN symbol_ratio <= 0.1 THEN 0.25 ELSE 0.0 END), {_R}) AS quality
            FROM m
        """,
        "t_fingerprint": f"""
            WITH w AS (SELECT doc_id, text, {_DW} AS wl FROM documents),
            sh AS (SELECT doc_id, text, {_D_SHINGLES} AS shl FROM w)
            SELECT doc_id,
                   coalesce(
                     list_min(list_transform(shl, s -> {_DH.format(s='s')})),
                     {_DH.format(s='text')}
                   ) AS fingerprint
            FROM sh
        """,
        "d_exact_groups": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "d_minhash_sig": _d_minhash_sig_sql(8),
        "m_media_features": _m_media_sql(16),
        "m_frame_features": _m_frames_sql(4, 16),
        "p_hash_split": _p_split_sql(),
        "p_sample_mix": _p_mix_sql(),
        "p_pack_cumsum": _p_pack_cumsum_sql(),
        "p_pack_greedy": _p_pack_greedy_sql(),
        "p_resample": _p_resample_sql(),
        "w_packed_features": _w_packed_sql(),
        "f_json_extract": f"""
            SELECT event_id, event_type,
                   json_extract(props, '$.k')::INT AS k,
                   round(avg(json_extract(props, '$.k')::INT)
                         OVER (PARTITION BY event_type), {_R}) AS k_avg_type
            FROM events
        """,
        "d_minhash_pairs": _d_minhash_pairs_sql(16, 16, 200, 0.4, _DOCS_HALF_SQL),
        "s_ann_topk": _s_ann_sql(5, 4, 7),
        "s_ivf_topk": _s_ivf_sql(5, 16, 2),
        "s_rand_proj": _s_rand_proj_sql(RP_DIM, 11),
        "d_ngram_jaccard": f"""
            WITH w AS (SELECT doc_id, {_DW} AS wl FROM documents {_DOCS_HALF_SQL}),
            s0 AS (SELECT doc_id, {_D_SHINGLES} AS shl FROM w),
            sh AS (
              SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id, unnest(list_transform(shl, s -> {_DH.format(s='s')})) AS sh
                FROM s0
              )
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            freq AS (SELECT sh, count(*) AS df_ FROM sh GROUP BY 1),
            kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN freq f ON s.sh = f.sh WHERE f.df_ <= 100),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter / (na.n_sh + nb.n_sh - n_inter), {_R}) AS jaccard
            FROM inter
            JOIN sizes na ON inter.id_a = na.doc_id
            JOIN sizes nb ON inter.id_b = nb.doc_id
            WHERE n_inter / (na.n_sh + nb.n_sh - n_inter) >= 0.12
        """,
        "d_simhash": _d_simhash_sql(),
        "d_simhash_pairs": _d_simhash_pairs_sql(6, 500, _DOCS_HALF_SQL),
        "d_dedup_components": _d_components_sql(_DOCS_HALF_SQL),
        "t_pii_redact": f"""
            WITH p AS (SELECT doc_id, {_PII_DUCK} AS text FROM documents),
            e AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '{text.PII_EMAIL}'))::BIGINT AS n_emails,
                     regexp_replace(text, '{text.PII_EMAIL}', '<EMAIL>', 'g') AS t1
              FROM p
            )
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(t1, '{text.PII_PHONE}'))::BIGINT AS n_phones,
                   regexp_replace(t1, '{text.PII_PHONE}', '<PHONE>', 'g') AS text_redacted
            FROM e
        """,
        "d_decontaminate": f"""
            WITH w AS (SELECT doc_id, {_DW} AS wl FROM documents),
            sh AS (SELECT doc_id, {_d_shingles_n(5)} AS sl FROM w),
            corpus AS (
              SELECT doc_id, {_DH.format(s='unnest(sl)')} AS h FROM sh
            ),
            bench AS (
              SELECT DISTINCT {_DH.format(s='unnest(sl)')} AS h
              FROM sh WHERE doc_id % 10 = 0
            ),
            hits AS (
              SELECT c.doc_id, count(DISTINCT c.h)::BIGINT AS n_hits
              FROM corpus c JOIN bench b ON c.h = b.h
              GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   coalesce(h.n_hits, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "p_seeded_shuffle": f"""
            SELECT doc_id,
                   (row_number() OVER (
                      ORDER BY {_DH.format(s="'s42_' || doc_id::VARCHAR")}, doc_id
                   ) - 1)::BIGINT AS shuffle_pos
            FROM documents
        """,
        "t_vocab_topk": f"""
            WITH w AS (SELECT lower(unnest({_DW})) AS word FROM documents)
            SELECT word, count(*)::BIGINT AS n FROM w
            GROUP BY word ORDER BY n DESC, word LIMIT 100
        """,
        "t_unigram_logprob": f"""
            WITH w AS (SELECT doc_id, lower(unnest({_DW})) AS word FROM documents),
            freq AS (SELECT word, count(*)::DOUBLE AS cnt FROM w GROUP BY word),
            tot AS (SELECT sum(cnt) AS t FROM freq),
            fv AS (SELECT word, cnt FROM freq WHERE cnt >= 2),
            s AS (
              SELECT doc_id, -ln(coalesce(fv.cnt, 1.0) / t) AS lp
              FROM w LEFT JOIN fv USING (word) CROSS JOIN tot
            ),
            pd AS (
              SELECT doc_id, avg(lp) AS nlp, count(*)::BIGINT AS nw
              FROM s GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(pd.nw, 0)::BIGINT AS n_words,
                   round(pd.nlp, {_R}) AS neg_logprob
            FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        """,
        # the streaming stateful twin must equal the batch decayed
        # features row for row -> same oracle verbatim
        "w_decayed_stream": f"""
            WITH h AS (
              SELECT event_id, user_id, epoch(ts) AS t, value,
                     array_agg({{'t': epoch(ts), 'v': value}}) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 49 PRECEDING AND CURRENT ROW
                     ) AS hist
              FROM events
            )
            SELECT event_id, user_id,
                   round(list_sum(list_transform(hist,
                         s -> s.v * pow(0.5, (t - s.t) / 86400.0))), {_R})
                     AS decayed_sum,
                   round(list_sum(list_transform(hist,
                         s -> pow(0.5, (t - s.t) / 86400.0))), {_R})
                     AS decayed_count
            FROM h
        """,
        "e_target_encode": f"""
            WITH s AS (
              SELECT event_type, sum(value) AS cs, count(value) AS cn
              FROM events GROUP BY event_type
            ), g AS (
              SELECT sum(value) / count(value) AS gm FROM events
            )
            SELECT e.event_id, e.event_type,
                   round(CASE WHEN e.event_type IS NULL THEN g.gm ELSE
                     (coalesce(s.cs, 0) -
                      CASE WHEN e.value IS NOT NULL THEN e.value ELSE 0 END
                      + 20.0 * g.gm)
                     / (coalesce(s.cn, 0) -
                        CASE WHEN e.value IS NOT NULL THEN 1 ELSE 0 END
                        + 20.0) END, {_R}) AS te
            FROM events e LEFT JOIN s USING (event_type) CROSS JOIN g
        """,
        "e_count_encode": f"""
            WITH s AS (
              SELECT coalesce(cast(n_chars AS varchar), chr(0) || 'NULL') AS k,
                     count(*) AS c
              FROM documents GROUP BY 1
            )
            SELECT d.doc_id, s.c AS ce_count,
                   round(ln(1 + s.c), {_R}) AS ce_log,
                   s.c < 3 AS ce_rare,
                   d.n_chars IS NULL AS ce_null
            FROM documents d
            JOIN s ON coalesce(cast(d.n_chars AS varchar), chr(0) || 'NULL') = s.k
        """,
        "e_feature_hash": f"""
            WITH base AS (
              SELECT doc_id,
                ('0x' || substr(md5('lang=' || lang), 1, 15))::BIGINT AS hl,
                ('0x' || substr(md5('source=' || source), 1, 15))::BIGINT AS hs,
                ('0x' || substr(md5('n_chars'), 1, 15))::BIGINT AS hn,
                n_chars
              FROM documents
            ), p AS (
              SELECT doc_id, u.idx AS idx, u.val AS val FROM (
                SELECT doc_id, unnest([
                  {{'idx': hl % 16, 'val': CASE WHEN hl IS NULL THEN NULL
                     ELSE ((hl % 2) * 2 - 1)::DOUBLE END}},
                  {{'idx': hs % 16, 'val': CASE WHEN hs IS NULL THEN NULL
                     ELSE ((hs % 2) * 2 - 1)::DOUBLE END}},
                  {{'idx': hn % 16,
                    'val': ((hn % 2) * 2 - 1)::DOUBLE * n_chars}}
                ]) AS u
                FROM base) q
              WHERE u.val IS NOT NULL
            ), f AS (
              SELECT doc_id, idx, sum(val) AS val FROM p GROUP BY doc_id, idx
            ), agg AS (
              SELECT doc_id,
                     string_agg(cast(idx AS varchar), ',' ORDER BY idx) AS idx_s,
                     string_agg(cast(cast(val AS bigint) AS varchar), ','
                                ORDER BY idx) AS val_s
              FROM f GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.idx_s, '') AS idx_s,
                   coalesce(a.val_s, '') AS val_s
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "t_hash_vectorize": r"""
            WITH t AS (
              SELECT doc_id,
                coalesce(list_filter(
                  string_split_regex(trim(lower(text)), '\s+'),
                  x -> x <> ''), []) AS tk
              FROM documents
            ), g AS (
              SELECT doc_id, CASE WHEN len(tk) >= 3 THEN
                  list_transform(generate_series(1, len(tk) - 2),
                    i -> array_to_string(list_slice(tk, i, i + 2), ' '))
                ELSE [] END AS ng
              FROM t
            ), h AS (
              SELECT doc_id, list_transform(ng,
                x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 32) AS hb
              FROM g
            )
            SELECT doc_id,
                   array_to_string(list_transform(generate_series(0, 31),
                     b -> len(list_filter(hb, i -> i = b))), ',') AS vec_s
            FROM h
        """,
        "w_rolling_quantiles": f"""
            SELECT event_id, user_id,
                   round(quantile_cont(value, 0.25) OVER w, {_R}) AS rq_p25,
                   round(quantile_cont(value, 0.5) OVER w, {_R}) AS rq_p50,
                   round(quantile_cont(value, 0.75) OVER w, {_R}) AS rq_p75
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        """,
        "k_kmv_distinct": f"""
            WITH h AS (
              SELECT DISTINCT event_type,
                ('0x' || substr(md5(cast(user_id AS varchar)), 1, 15))::BIGINT AS h
              FROM events WHERE user_id IS NOT NULL
            ), r AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
              FROM h
            ), k AS (
              SELECT event_type, count(*) AS n_kept,
                     max(h / 1152921504606846976.0) AS hk
              FROM r WHERE rn <= 64 GROUP BY event_type
            )
            SELECT event_type, n_kept,
                   round(CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                         ELSE 63.0 / hk END, {_R}) AS est
            FROM k
        """,
        "a_quantile_bin": f"""
            WITH e AS (
              SELECT quantile_cont(value,
                [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
              FROM events
            )
            SELECT ev.event_id,
                   CASE WHEN ev.value IS NULL THEN NULL
                        ELSE len(list_filter(e.qs,
                               x -> ev.value > round(x, {_R}))) END AS bin
            FROM events ev CROSS JOIN e
        """,
        "a_corr_matrix": f"""
            SELECT col_a, col_b, round(c, {_R}) AS corr FROM (
              SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                     corr(l_quantity, l_extendedprice) AS c FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_discount',
                     corr(l_quantity, l_discount) FROM lineitem
              UNION ALL SELECT 'l_quantity', 'l_tax',
                     corr(l_quantity, l_tax) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_discount',
                     corr(l_extendedprice, l_discount) FROM lineitem
              UNION ALL SELECT 'l_extendedprice', 'l_tax',
                     corr(l_extendedprice, l_tax) FROM lineitem
              UNION ALL SELECT 'l_discount', 'l_tax',
                     corr(l_discount, l_tax) FROM lineitem
            ) u
        """,
        "a_impute": f"""
            WITH e AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 10 = 0 THEN NULL
                          ELSE value END AS v
              FROM events
            ), s AS (
              SELECT event_type, round(quantile_cont(v, 0.5), {_R}) AS f
              FROM e GROUP BY event_type
            ), g AS (
              SELECT round(quantile_cont(v, 0.5), {_R}) AS gf FROM e
            )
            SELECT e.event_id,
                   round(coalesce(e.v, s.f, g.gf), {_R}) AS value_filled,
                   e.v IS NULL AS value_was_null
            FROM e LEFT JOIN s USING (event_type) CROSS JOIN g
        """,
        "d_fuzzy_ed1": """
            WITH base AS (
              SELECT doc_id AS fid, substr(text, 1, 24) AS fs
              FROM documents WHERE text IS NOT NULL
            ), v AS (
              SELECT fid, fs, unnest(list_distinct(list_append(
                CASE WHEN length(fs) >= 1 THEN
                  list_transform(generate_series(1, length(fs)),
                    i -> substr(fs, 1, i - 1) || substr(fs, i + 1))
                ELSE [] END, fs))) AS var
              FROM base
            ), h AS (
              SELECT DISTINCT fid, fs,
                     ('0x' || substr(md5(var), 1, 15))::BIGINT AS vh
              FROM v
            ), hot AS (
              SELECT vh FROM (SELECT vh, count(*) AS c FROM h GROUP BY vh) t
              WHERE c > 100
            ), hh AS (
              SELECT * FROM h WHERE vh NOT IN (SELECT vh FROM hot)
            ), cand AS (
              SELECT DISTINCT a.fid AS id_a, b.fid AS id_b,
                     a.fs AS sa, b.fs AS sb
              FROM hh a JOIN hh b USING (vh) WHERE a.fid < b.fid
            )
            SELECT id_a, id_b, levenshtein(sa, sb)::BIGINT AS dist
            FROM cand WHERE levenshtein(sa, sb) <= 1
        """,
        "d_domain_cap": """
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC) AS rk
              FROM documents) t
            WHERE rk <= 5
        """,
        "p_weighted_sample": f"""
            SELECT doc_id, round(pr, {_R}) AS priority FROM (
              SELECT doc_id,
                     -ln({_d_unit_hash("doc_id::VARCHAR", "ws")})
                       / n_chars AS pr
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            ) t
            ORDER BY pr ASC, doc_id ASC LIMIT 100
        """,
        "t_bigram_logprob": f"""
            WITH tk AS (SELECT doc_id, {_DW} AS wl FROM documents),
            bg AS (
              SELECT doc_id, unnest(CASE WHEN len(wl) >= 2 THEN
                list_transform(generate_series(2, len(wl)),
                  i -> {{'p': lower(wl[i-1]), 'c': lower(wl[i])}})
                ELSE [] END) AS pc
              FROM tk
            ),
            b AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM bg),
            c2 AS (SELECT p, c, count(*)::DOUBLE AS c2 FROM b GROUP BY 1, 2),
            c1 AS (SELECT p, count(*)::DOUBLE AS c1 FROM b GROUP BY 1),
            v AS (SELECT count(DISTINCT c)::DOUBLE AS v FROM b),
            s AS (
              SELECT doc_id,
                     -ln((coalesce(c2.c2, 0) + 1.0)
                         / (coalesce(c1.c1, 0) + 1.0 * v.v)) AS lp
              FROM b LEFT JOIN c2 USING (p, c) LEFT JOIN c1 USING (p)
              CROSS JOIN v
            ),
            pd AS (SELECT doc_id, avg(lp) AS nlp, count(*)::BIGINT AS nb
                   FROM s GROUP BY doc_id)
            SELECT d.doc_id, coalesce(pd.nb, 0)::BIGINT AS n_bigrams,
                   round(pd.nlp, {_R}) AS neg_logprob2
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        # sequential-window funnel: stage i strictly after first-reach
        # of stage i-1; NULL comparisons prune exactly as in Spark
        "a_funnel": """
            WITH s1 AS (
              SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                        OVER (PARTITION BY user_id) AS t1
              FROM events
            ), s2 AS (
              SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS t2
              FROM s1
            ), s3 AS (
              SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                                 THEN ts END)
                        OVER (PARTITION BY user_id) AS t3
              FROM s2
            )
            SELECT DISTINCT user_id,
                   epoch_us(t1) AS t_view,
                   epoch_us(t2) AS t_click,
                   epoch_us(t3) AS t_purchase
            FROM s3
        """,
        "p_stratified_split": _p_strat_sql(),
        "a_robust_scale": f"""
            WITH s AS (
              SELECT event_type,
                     round(quantile_cont(value, 0.5), {_R}) AS med,
                     round(quantile_cont(value, 0.75)
                           - quantile_cont(value, 0.25), {_R}) AS iqr
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type,
                   round(CASE WHEN s.iqr > 0
                         THEN (e.value - s.med) / s.iqr END, {_R}) AS rz
            FROM events e LEFT JOIN s USING (event_type)
        """,
        "a_entropy": f"""
            WITH c AS (
              SELECT user_id, event_type, count(*) AS c
              FROM events GROUP BY 1, 2
            )
            SELECT user_id, sum(c)::BIGINT AS n_events,
                   round(ln(sum(c)) - sum(c * ln(c)) / sum(c), {_R})
                     AS entropy
            FROM c GROUP BY user_id
        """,
        # the bloom build (position -> 32-bit-packed words) and the
        # 2-hash probe replay bit-for-bit; FP rows are part of the gate
        "d_bloom_prune": """
            WITH bench AS (
              SELECT text FROM documents
              WHERE doc_id % 7 = 0 AND text IS NOT NULL
            ), pos AS (
              SELECT (('0x' || substr(md5(cast(i AS varchar) || ':' || text),
                       1, 15))::BIGINT % 1024) AS p
              FROM bench CROSS JOIN
                   (SELECT unnest(generate_series(0, 1)) AS i) t
            ), w AS (
              SELECT p // 32 AS w,
                     bit_or(1::BIGINT << cast(p % 32 AS int)) AS bits
              FROM pos GROUP BY 1
            ), bm AS (
              SELECT map_from_entries(array_agg({'k': w, 'v': bits})) AS wm
              FROM w
            ), bloom AS (
              SELECT list_transform(generate_series(0, 31),
                       x -> coalesce(map_extract(wm, x)[1], 0)) AS words
              FROM bm
            )
            SELECT d.doc_id,
              CASE WHEN d.text IS NULL THEN false ELSE
                ((words[cast(
                    (('0x' || substr(md5('0:' || d.text), 1, 15))::BIGINT
                     % 1024) // 32 AS int) + 1]
                  & (1::BIGINT << cast(
                    (('0x' || substr(md5('0:' || d.text), 1, 15))::BIGINT
                     % 1024) % 32 AS int))) <> 0)
                AND
                ((words[cast(
                    (('0x' || substr(md5('1:' || d.text), 1, 15))::BIGINT
                     % 1024) // 32 AS int) + 1]
                  & (1::BIGINT << cast(
                    (('0x' || substr(md5('1:' || d.text), 1, 15))::BIGINT
                     % 1024) % 32 AS int))) <> 0)
              END AS bloom_hit,
              d.doc_id % 7 = 0 AS exact_hit
            FROM documents d CROSS JOIN bloom
        """,
        "w_decayed": f"""
            WITH h AS (
              SELECT event_id, user_id, epoch(ts) AS t, value,
                     array_agg({{'t': epoch(ts), 'v': value}}) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 49 PRECEDING AND CURRENT ROW
                     ) AS hist
              FROM events
            )
            SELECT event_id, user_id,
                   round(list_sum(list_transform(hist,
                         s -> s.v * pow(0.5, (t - s.t) / 86400.0))), {_R})
                     AS decayed_sum,
                   round(list_sum(list_transform(hist,
                         s -> pow(0.5, (t - s.t) / 86400.0))), {_R})
                     AS decayed_count
            FROM h
        """,
        "t_tfidf": f"""
            WITH w AS (SELECT doc_id, lower(unnest({_DW})) AS word FROM documents),
            tf AS (SELECT doc_id, word, count(*)::BIGINT AS tf FROM w GROUP BY 1, 2),
            dfq AS (SELECT word, count(*) AS df_ FROM tf GROUP BY 1),
            n AS (SELECT count(*)::DOUBLE AS nd FROM documents),
            s AS (
              SELECT tf.doc_id, tf.word, tf.tf,
                     round(tf.tf * (ln((nd + 1) / (df_ + 1)) + 1), {_R}) AS score
              FROM tf JOIN dfq USING (word) CROSS JOIN n
            )
            SELECT doc_id, word, tf, score, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, word ASC
              ) AS rank FROM s
            ) WHERE rank <= 3
        """,
        "j_interval": """
            WITH s AS (
              SELECT event_id, user_id, ts,
                (sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t > 21600 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                )::BIGINT AS session_id
              FROM (
                SELECT *, lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
                FROM events
              )
            ),
            iv AS (
              SELECT user_id, session_id, min(epoch(ts)) AS t0, max(epoch(ts)) AS t1
              FROM s GROUP BY user_id, session_id
            )
            SELECT e.event_id, e.user_id, iv.session_id
            FROM events e
            JOIN iv ON e.user_id = iv.user_id
                   AND epoch(e.ts) >= iv.t0 AND epoch(e.ts) <= iv.t1
        """,
        "s_quantize": f"""
            WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) / 127 AS qscale
              FROM n
            ),
            q AS (
              SELECT vec_id, v, qscale,
                     CASE WHEN qscale > 0
                          THEN list_transform(v, x -> floor(x / qscale + 0.5)::BIGINT)
                          ELSE list_transform(v, x -> 0::BIGINT) END AS ql
              FROM s
            )
            SELECT vec_id, round(qscale, {_R}) AS qscale,
                   list_sum(ql)::BIGINT AS q_sum,
                   list_max(ql)::BIGINT AS q_max,
                   round(list_sum(list_transform(generate_series(1, len(v)),
                         i -> pow(ql[i] * qscale - v[i], 2))) / len(v), {_R}) AS recon_mse
            FROM q
        """,
        "t_line_dedup": f"""
            WITH p AS (SELECT doc_id, {_LINES_DUCK} AS text FROM documents),
            sl AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p),
            l AS (
              SELECT doc_id, unnest(ls) AS line,
                     unnest(generate_series(1, len(ls))) AS pos
              FROM sl
            ),
            c AS (SELECT line, count(*)::BIGINT AS df FROM l GROUP BY line),
            j AS (SELECT l.doc_id, l.pos, l.line, c.df FROM l JOIN c ON l.line = c.line)
            SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE df <= 1), '') AS text_dedup,
                   count(*) FILTER (WHERE df > 1)::BIGINT AS n_dropped
            FROM j GROUP BY doc_id
        """,
        # streaming sessionize drained availableNow == batch gap rule
        # (session_window breaks on gap >= 21600, hence >= not >)
        "w_sessionize_stream": f"""
            WITH l AS (
              SELECT user_id, ts, value,
                     lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
              FROM events
            ),
            s AS (
              SELECT user_id, ts, value,
                sum(CASE WHEN prev_t IS NULL OR epoch(ts) - prev_t >= 21600 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM l
            )
            SELECT user_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) + 21600000000 AS end_us,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), {_R}) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        # streaming dedup drained availableNow, keys-only projection ==
        # plain DISTINCT over the keys (arrival order cancelled out)
        "w_dedup_stream": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "s_near_dup_lsh": _s_near_dup_lsh_sql(0.3, 4, 7),
        "j_asof_fused": _j_asof_fused_sql(),
        "s_near_dup": f"""
            WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n)
            SELECT * FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), {_R}) AS cosine
              FROM nn a JOIN nn b ON a.vec_id < b.vec_id
            ) WHERE cosine >= 0.3
        """,
        "a_rank_ops": """
            SELECT event_id, event_type, rn, rk, drk, decile FROM (
              SELECT event_id, event_type,
                     row_number() OVER w AS rn,
                     rank() OVER w AS rk,
                     dense_rank() OVER w AS drk,
                     ntile(10) OVER w AS decile
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
            ) WHERE rn <= 100
        """,
        "g_tpi_2d": _g_tpi2d_sql(),
        "g_sx_2d": _g_sx2d_sql(),
        "g_valley_2d": _g_valley2d_sql(7, 30),
        "g_gaussian_2d": _g_gaussian2d_sql(1.5),
        "g_std_2d": _g_std2d_sql(5),
        "g_gradient_2d": _g_gradient2d_sql(2.0),
        "s_cosine_topk": f"""
            WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                       WHERE vec_id % 2 = 0),
            nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n),
            p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9) AS cosine
              FROM nn a JOIN nn b ON a.vec_id <> b.vec_id
            ),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rank
              FROM p
            )
            SELECT id_a, id_b, rank, round(cosine, {_R}) AS cosine FROM r WHERE rank <= 5
        """,
        "j_asof_forward": """
            SELECT c.event_id AS q_id, c.user_id, c.ts AS q_ts,
                   p.ts AS matched_ts, round(p.value, 6) AS next_purchase
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        """,
        "t_bm25": _bm25_sql(),
        "t_gopher": _gopher_sql(),
        "t_token_bigrams": f"""
            WITH t AS (SELECT {_DTOK} AS toks FROM documents),
            b AS (SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
                  FROM t, unnest(range(1, len(toks))) AS u(i)
                  WHERE len(toks) >= 2)
            SELECT tok_a, tok_b, count(*)::BIGINT AS n FROM b
            GROUP BY tok_a, tok_b ORDER BY n DESC, tok_a, tok_b LIMIT 100
        """,
        "d_token_prefix_dup": f"""
            WITH t AS (SELECT doc_id, ({_DTOK})[1:4] AS prefix FROM documents)
            SELECT min(doc_id) AS group_id, count(*)::BIGINT AS n_docs,
                   count(*) > 1 AS is_dup
            FROM t GROUP BY prefix
        """,
        "a_heavy_hitters": """
            WITH c AS (SELECT user_id, count(*)::BIGINT AS n FROM events
                       GROUP BY user_id),
            tot AS (SELECT count(*)::DOUBLE AS t FROM events),
            top AS (SELECT * FROM c ORDER BY n DESC, user_id LIMIT 20)
            SELECT user_id, n,
                   row_number() OVER (ORDER BY n DESC, user_id) AS rank,
                   round(n / t, 6) AS share,
                   round(sum(n) OVER (ORDER BY n DESC, user_id
                                      ROWS UNBOUNDED PRECEDING) / t, 6)
                     AS cum_share
            FROM top, tot
        """,
        "w_cum_distinct": """
            SELECT event_id, user_id,
                   count(DISTINCT event_type) OVER
                     (PARTITION BY user_id ORDER BY ts)::INT AS n_distinct
            FROM events
        """,
        "a_ohlc": f"""
            WITH e AS (SELECT user_id,
                              (floor(epoch(ts) / 86400) * 86400)::BIGINT
                                AS bucket_start,
                              value, ts, event_id
                       FROM events),
            w AS (SELECT user_id, bucket_start, value,
                    first_value(value) OVER fb AS o,
                    last_value(value) OVER fb AS c
                  FROM e
                  WINDOW fb AS (PARTITION BY user_id, bucket_start
                                ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING))
            SELECT user_id, bucket_start,
                   round(first(o), {_R}) AS open, round(max(value), {_R}) AS high,
                   round(min(value), {_R}) AS low, round(first(c), {_R}) AS close,
                   round(avg(value), {_R}) AS mean, count(*)::BIGINT AS n
            FROM w GROUP BY user_id, bucket_start
        """,
        "k_cms_counts": _cms_sql(),
        "w_window_counts_stream": """
            SELECT user_id,
                   (floor(epoch(ts) / 86400) * 86400 * 1000000)::BIGINT
                     AS start_us,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY user_id, start_us
        """,
        "s_cosine_topk_join": f"""
            WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                       WHERE vec_id % 10 = 0),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id % 10 <> 0),
            qn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM q
                   WHERE sqrt(list_dot_product(v, v)) > 0),
            cn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM c
                   WHERE sqrt(list_dot_product(v, v)) > 0),
            p AS (SELECT a.vec_id AS id_q, b.vec_id AS id_c,
                         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 9)
                           AS cosine
                  FROM qn a, cn b),
            r AS (SELECT *, row_number() OVER (PARTITION BY id_q
                                ORDER BY cosine DESC, id_c) AS rank FROM p)
            SELECT id_q, id_c, rank, round(cosine, {_R}) AS cosine
            FROM r WHERE rank <= 5
        """,
        "w_enrich_stream": """
            WITH dim AS (SELECT user_id, count(*)::BIGINT AS user_n_events
                         FROM events GROUP BY user_id)
            SELECT e.event_id, e.user_id, dim.user_n_events
            FROM events e LEFT JOIN dim USING (user_id)
        """,
        "j_asof_nearest": """
            SELECT c.event_id AS q_id, c.user_id, c.ts AS q_ts,
                   s.ts AS matched_ts, round(s.value, 6) AS nearest_purchase
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN LATERAL (
              SELECT p.ts, p.value
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              WHERE p.user_id = c.user_id
              ORDER BY abs(epoch(c.ts) - epoch(p.ts)), p.ts
              LIMIT 1
            ) s ON true
        """,
        "j_asof_nearest_strict": """
            SELECT c.event_id AS q_id, c.user_id, c.ts AS q_ts,
                   s.ts AS matched_ts, round(s.value, 6) AS nearest_purchase
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            LEFT JOIN LATERAL (
              SELECT p.ts, p.value
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              WHERE p.user_id = c.user_id AND p.ts <> c.ts
              ORDER BY abs(epoch(c.ts) - epoch(p.ts)), p.ts
              LIMIT 1
            ) s ON true
        """,
        "t_script_profile": """
            WITH c AS (SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]')) AS n_latin, len(regexp_extract_all(text, '[一-鿿぀-ヿ가-힯]')) AS n_cjk, len(regexp_extract_all(text, '[Ѐ-ӿ]')) AS n_cyrillic, len(regexp_extract_all(text, '[؀-ۿ]')) AS n_arabic, len(regexp_extract_all(text, '[ऀ-ॿ]')) AS n_devanagari FROM documents)
            SELECT doc_id, CASE WHEN n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari > 0 THEN round(n_latin::DOUBLE/(n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari),6) END AS latin_frac,
                   CASE WHEN n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari > 0 THEN round(n_cjk::DOUBLE/(n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari),6) END AS cjk_frac,
                   CASE WHEN n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari > 0 THEN round(n_cyrillic::DOUBLE/(n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari),6) END AS cyrillic_frac,
                   CASE WHEN n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari > 0 THEN round(n_arabic::DOUBLE/(n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari),6) END AS arabic_frac,
                   CASE WHEN n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari > 0 THEN round(n_devanagari::DOUBLE/(n_latin + n_cjk + n_cyrillic + n_arabic + n_devanagari),6) END AS devanagari_frac,
                   CASE WHEN n_devanagari > CASE WHEN n_arabic > CASE WHEN n_cyrillic > CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END THEN n_cyrillic ELSE CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END END THEN n_arabic ELSE CASE WHEN n_cyrillic > CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END THEN n_cyrillic ELSE CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END END END THEN 'devanagari' ELSE CASE WHEN n_arabic > CASE WHEN n_cyrillic > CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END THEN n_cyrillic ELSE CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END END THEN 'arabic' ELSE CASE WHEN n_cyrillic > CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN n_cjk ELSE CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END END THEN 'cyrillic' ELSE CASE WHEN n_cjk > CASE WHEN n_latin > 0 THEN n_latin ELSE 0 END THEN 'cjk' ELSE CASE WHEN n_latin > 0 THEN 'latin' ELSE 'und' END END END END END AS dominant_script
            FROM c
        """,
        "t_dataset_card": f"""
            SELECT count(*)::BIGINT AS n_docs,
                   sum(len({_DW}))::BIGINT AS total_words,
                   round(avg(len({_DW})), 6) AS mean_words,
                   round(avg(CASE WHEN coalesce(len(text),0) = 0
                             THEN 1.0 ELSE 0.0 END), 6) AS empty_frac,
                   round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*), 6)
                     AS dup_frac,
                   count(DISTINCT source)::BIGINT AS n_sources
            FROM documents
        """,
        "a_salted_agg": """
            SELECT user_id, count(value)::BIGINT AS value_count,
                   round(sum(value), 6) AS value_sum,
                   round(sum(value) / count(value), 6) AS value_avg,
                   round(min(value), 6) AS value_min,
                   round(max(value), 6) AS value_max
            FROM events GROUP BY user_id
        """,
        "p_temporal_split": """
            SELECT event_id, user_id,
                   CASE WHEN percent_rank() OVER
                          (PARTITION BY user_id ORDER BY ts) > 0.8
                        THEN 'valid' ELSE 'train' END AS split
            FROM events
        """,
    }
    # alternate physical paths share their logical twin's oracle: the
    # Arrow chunked Gaussian and the bucketed skew-proof as-of must be
    # value-identical to the expression/plain forms; merged queries kept
    # under their own contract key share their twin's oracle
    oracles["w_gaussian_arrow"] = oracles["w_gaussian_ma"]
    oracles["j_asof_bucketed"] = oracles["j_asof_events"]
    oracles["s_cosine_topk_join_blocked"] = oracles["s_cosine_topk_join"]
    oracles["d_components_star"] = oracles["d_dedup_components"]
    return oracles
