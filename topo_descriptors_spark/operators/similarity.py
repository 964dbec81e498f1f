"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and a deterministic
random-hyperplane LSH variant as the scale path.  Brute-force and
pair-threshold dot products are JVM array folds (``zip_with`` +
``aggregate``); the top-k retrieval forms score with one BLAS matmul per
Arrow batch (:func:`ann_topk_blocked`, :func:`cosine_topk_join_blocked`).

Scale design: brute force is O(n²·d) — correct but only for oracle-sized
inputs or per-bucket refinement.  At 10^9 vectors the LSH path buckets
by sign-pattern (b hyperplanes → up to 2^b buckets) so the self-join
touches only same-bucket pairs; multiprobe (hamming-1 neighbor buckets)
trades recall for fan-out.  The hyperplanes are a deterministic constant
(seeded numpy, built driver-side, inlined as literals — the broadcast-
kernel pattern of SURVEY.md J3).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from topo_descriptors_spark.functions.validate import require_cols

DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)


def dot_col(a: str, b: str) -> Column:
    return F.expr(DOT_SQL.format(a=a, b=b))


def _round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    """Vectorized round-half-AWAY-from-zero on binary doubles — DuckDB's
    ROUND convention, and one step closer to Spark's decimal HALF_UP
    than ``np.round``'s half-to-even (ADVICE r5).  Exact decimal-string
    HALF_UP is not vectorizable; values landing exactly on a rounding
    boundary under a different summation order may still differ by one
    ulp from ``F.round`` — see :func:`cosine_topk_join_blocked`."""
    p = 10.0 ** int(digits)
    return np.sign(x) * np.floor(np.abs(x) * p + 0.5) / p


def norm_col(vec: str) -> Column:
    return F.sqrt(F.expr(DOT_SQL.format(a=vec, b=vec)))


def with_norm(df: DataFrame, vec: str = "embedding", out: str = "_norm") -> DataFrame:
    return df.withColumn(out, norm_col(vec))


def _all_pairs_sides(
    df: DataFrame, op: str, id_col: str, vec: str, max_rows: int | None,
    scale_path: str,
) -> tuple[DataFrame, DataFrame]:
    """The two sides of a quarantined all-pairs self-join:
    ``(id_a, va, na)`` and ``(id_b, vb, nb)`` with the L2 norms.

    The ``max_rows`` guard raises on inputs larger than the bound
    instead of silently launching an O(n²) plan (the bounded
    ``limit(max+1).count()`` probe is the cost of the guard).
    Zero-norm vectors have no defined cosine (0/0 = NaN, and Spark
    orders NaN ABOVE every number, so a NaN would win a top-k or pass a
    ``>=`` threshold) — they are excluded from both sides up front.
    """
    require_cols(df, op, **{id_col: "atomic", vec: "array_numeric"})
    if max_rows is not None and df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{op}: input exceeds max_rows={max_rows} — the all-pairs "
            "baseline is quarantined to oracle-sized inputs; use "
            f"{scale_path} at scale, or pass max_rows=None to override"
        )
    normed = with_norm(df.select(id_col, vec), vec).where(F.col("_norm") > 0)
    return tuple(
        normed.select(
            F.col(id_col).alias(f"id_{s}"), F.col(vec).alias(f"v{s}"),
            F.col("_norm").alias(f"n{s}"),
        )
        for s in "ab"
    )


def cosine_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    round_digits: int = 9,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (brute force).

    Cosine is rounded to ``round_digits`` BEFORE ranking so the ranking
    is reproducible across engines/summation orders; ties then break on
    neighbor id ascending.

    QUARANTINED at scale: this is the O(n²·d) exactness baseline for the
    ANN paths (:func:`ann_topk_blocked`, :func:`ivf_topk`), never the
    production plan.  The ``max_rows`` guard enforces that — inputs
    larger than it raise instead of silently launching an all-pairs
    join; pass ``max_rows=None`` only when you really mean it.
    """
    a, b = _all_pairs_sides(df, "cosine_topk", id_col, vec, max_rows,
                            "ann_topk_blocked/ivf_topk")
    pairs = a.join(b, F.col("id_a") != F.col("id_b"))
    cos = F.round(
        dot_col("va", "vb") / (F.col("na") * F.col("nb")), round_digits
    ).alias("cosine")
    ranked = pairs.select("id_a", "id_b", cos).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("id_a").orderBy(
                F.col("cosine").desc(), F.col("id_b").asc()
            )
        ),
    )
    return ranked.where(F.col("rank") <= k)


def embedding_cosine_pairs_exact(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec: str = "embedding",
    round_digits: int | None = None,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact cosine pairs (id_a < id_b, cosine >= threshold) — brute
    force, the SQL-parity baseline for :func:`embedding_near_dup_pairs`.

    QUARANTINED at scale exactly like :func:`cosine_topk`: this is the
    only legitimate home for an all-pairs self-join, and the ``max_rows``
    guard raises on inputs larger than the bound.  Use the LSH-bucketed
    :func:`embedding_near_dup_pairs` at scale.

    The threshold is applied to the ROUNDED cosine when ``round_digits``
    is set, so engine-order float noise at the boundary cannot flip pair
    membership between engines.
    """
    a, b = _all_pairs_sides(df, "embedding_cosine_pairs_exact", id_col, vec,
                            max_rows, "embedding_near_dup_pairs")
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dot_col("va", "vb") / (F.col("na") * F.col("nb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= F.lit(float(threshold))
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> np.ndarray:
    """Deterministic unit hyperplanes (n_planes, dim)."""
    rng = np.random.RandomState(seed)
    p = rng.standard_normal((n_planes, dim))
    return p / np.linalg.norm(p, axis=1, keepdims=True)


def lsh_bucket_col(vec: str, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id (long) for a vector column."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        d = F.expr(
            DOT_SQL.format(a=vec, b=f"array({', '.join(repr(float(x)) for x in plane)})")
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return bucket


def ann_bucket_stats(
    df: DataFrame,
    vec: str = "embedding",
    n_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Sign-pattern bucket-size distribution for the ANN paths, for
    skew inspection.  Highly correlated embeddings (common after dedup
    or on single-domain corpora) collapse into few sign patterns;
    inspect this before choosing ``n_planes``/``max_bucket`` for
    :func:`ann_topk_blocked`.  Returns one row per occupied bucket:
    (bucket, count)."""
    require_cols(df, "ann_bucket_stats", **{vec: "array_numeric"})
    if dim is None:
        dim = len(df.select(vec).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    return (
        df.select(lsh_bucket_col(vec, planes).alias("bucket"))
        .groupBy("bucket")
        .count()
    )


def _group_topk(
    id_type: DataType, id_col: str, vec: str, k: int, round_digits: int,
    rank: bool,
) -> tuple[Callable[[pd.DataFrame], pd.DataFrame], StructType]:
    """The per-group exact cosine top-k kernel of the ANN paths and its
    ``applyInPandas`` output schema ``(id_a, id_b[, rank], cosine)``.

    Per group: normalize -> one BLAS matmul -> round to
    ``round_digits`` -> lexsort by cosine desc, neighbor id asc; each
    row keeps at most ``k`` neighbors (a 1-row group yields none).  The
    closure uses only numpy and pandas, so executors unpickle it
    without the package on their import path.
    """
    fields = [StructField("id_a", id_type), StructField("id_b", id_type)]
    if rank:
        fields.append(StructField("rank", IntegerType()))
    schema = StructType(fields + [StructField("cosine", DoubleType())])

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec].to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        c = np.round(m @ m.T, round_digits)
        np.fill_diagonal(c, -np.inf)
        n = len(ids)
        kk = max(min(k, n - 1), 0)
        # order: cosine desc, neighbor id asc (lexsort: last key primary)
        order = np.lexsort((np.broadcast_to(ids, c.shape), -c), axis=1)[:, :kk]
        out = {"id_a": np.repeat(ids, kk), "id_b": ids[order.ravel()]}
        if rank:
            out["rank"] = pd.Series(np.tile(np.arange(1, kk + 1), n), dtype="int32")
        out["cosine"] = c[np.repeat(np.arange(n), kk), order.ravel()]
        return pd.DataFrame(out)

    return topk, schema


def ann_topk_blocked(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_planes: int = 8,
    round_digits: int = 9,
    seed: int = 7,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors: candidates restricted to the
    same sign-pattern bucket (:func:`hyperplanes`), then exact cosine,
    rounded to ``round_digits`` before ranking, ties broken on neighbor
    id ascending.

    Arrow-vectorized: (1) assigns LSH buckets with one numpy matmul per
    Arrow batch (pandas_udf) and (2) computes the per-bucket cosine
    matrix + top-k with one BLAS matmul per bucket (applyInPandas).
    Spark's array higher-order functions (zip_with/aggregate) interpret
    the same scoring per element and measured 3x slower.  Recall is
    tested against :func:`cosine_topk`, exactness against a per-bucket
    numpy reference; pass ``dim`` to keep plan construction job-free.

    Scale: bucket count ~2^n_planes bounds per-task matrices; for
    billion-vector corpora raise n_planes so bucket sizes stay ~10^3-10^4
    (the per-bucket work is O(m^2 d / BLAS)).

    Skew guard: sign-pattern buckets can collapse when embeddings are
    highly correlated (one domain, post-dedup corpora) — inspect with
    :func:`ann_bucket_stats`.  With ``max_bucket`` set, buckets larger
    than it are deterministically SUB-SPLIT (salt = xxhash64(id) mod
    ceil(m/max_bucket)) so no single task ever materializes a matrix
    bigger than max_bucket² — recall inside an oversized bucket degrades
    (neighbors may land in a different salt shard) but the job cannot
    OOM or straggle on one hot pattern; the split is reported via the
    stats helper, never silent.
    """
    from pyspark.sql.functions import pandas_udf

    require_cols(df, "ann_topk_blocked", **{id_col: "atomic", vec: "array_numeric"})
    # zero-norm (and therefore empty-array) vectors have no defined
    # cosine — excluded up front exactly like cosine_topk/ivf_topk, so
    # the BLAS kernels never see a zero-norm normalization or a
    # raggedness-by-emptiness np.stack failure.  (NaN-element vectors
    # pass this filter — Spark orders NaN above numbers; a NaN cosine
    # is then the caller's data problem, ADVICE r8.)  Non-empty
    # wrong-dimension vectors still RAISE (guard, not truncate), the
    # documented policy of cosine_topk_join_blocked.
    df = df.where(norm_col(vec) > 0)
    topk_in_bucket, schema = _group_topk(
        df.schema[id_col].dataType, id_col, vec, k, round_digits, rank=True
    )
    if dim is None:  # schema-level fact; pass it to keep planning job-free
        first = df.select(vec).first()
        if first is None:  # nothing rankable survives the filter
            return df.sparkSession.createDataFrame([], schema)
        dim = len(first[0])
    planes = hyperplanes(dim, n_planes, seed)

    @pandas_udf(LongType())
    def bucket_udf(v: pd.Series) -> pd.Series:
        try:
            m = np.stack(v.to_numpy())
        except ValueError as e:
            raise ValueError(
                "ann_topk_blocked: embeddings must all have the same "
                f"dimension (expected {planes.shape[1]})"
            ) from e
        signs = (m @ planes.T) > 0
        return pd.Series((signs * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int64))

    bucketed = df.select(id_col, vec).withColumn("_bucket", bucket_udf(vec))
    group_keys = ["_bucket"]
    if max_bucket is not None:
        bcnt = F.count(F.lit(1)).over(Window.partitionBy("_bucket"))
        n_sub = F.ceil(bcnt / F.lit(int(max_bucket))).cast("long")
        bucketed = bucketed.withColumn(
            "_sub", F.pmod(F.xxhash64(F.col(id_col)), n_sub)
        )
        group_keys.append("_sub")
    return bucketed.groupBy(*group_keys).applyInPandas(topk_in_bucket, schema)


def ivf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 2,
    round_digits: int = 9,
    lloyd_steps: int = 0,
    sample_limit: int = 4096,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer + within-cell search.

    Centroids start as the ``n_clusters`` lowest-id vectors
    (deterministic — no RNG) and are optionally refined with
    ``lloyd_steps`` spherical-k-means iterations over the
    ``sample_limit`` lowest-id vectors (still fully deterministic: fixed
    sample, argmax ties to the lowest cell).  The fit is a bounded
    driver-side step — at lake scale the sample is a LIMIT over the
    sorted id index, never a full scan.  Every vector is replicated into
    its ``n_probe`` nearest cells (multiprobe — the IVF answer to LSH's
    missed-neighbor problem); exact cosine top-k runs per cell via one
    BLAS matmul, and a global top-k per query dedupes the probes.

    Shuffle profile: centroid table is broadcast (tiny); the only wide
    movement is the n_probe-fold replication grouped by cell — bounded,
    well-distributed keys.
    """
    from pyspark.sql.functions import pandas_udf

    require_cols(df, "ivf_topk", **{id_col: "atomic", vec: "array_numeric"})
    # zero-norm vectors have no defined cosine (their numpy
    # normalization would emit NaN rows) — excluded up front, matching
    # cosine_topk / the LSH paths
    df = df.where(norm_col(vec) > 0)
    n_fit = max(n_clusters, sample_limit) if lloyd_steps > 0 else n_clusters
    cent_rows = (
        df.select(id_col, vec).orderBy(id_col).limit(n_fit).collect()
    )
    sample = np.stack([np.asarray(r[1], dtype=np.float64) for r in cent_rows])
    sample = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    centroids = sample[:n_clusters].copy()
    for _ in range(lloyd_steps):
        assign = np.argmax(sample @ centroids.T, axis=1)  # ties -> lowest cell
        for c in range(n_clusters):
            members = sample[assign == c]
            if len(members):
                m = members.mean(axis=0)
                nrm = np.linalg.norm(m)
                if nrm > 0:
                    centroids[c] = m / nrm

    @pandas_udf(ArrayType(IntegerType()))
    def probe_cells(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sim = m @ centroids.T
        # stable sort: equal similarities tie to the LOWEST cell index,
        # matching the DuckDB oracle's ORDER BY sim DESC, cell ASC
        order = np.argsort(-sim, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    probed = (
        df.select(id_col, vec)
        .withColumn("_cell", F.explode(probe_cells(vec)))
    )
    candidates_in_cell, schema = _group_topk(
        df.schema[id_col].dataType, id_col, vec, k, round_digits, rank=False
    )
    cands = probed.groupBy("_cell").applyInPandas(candidates_in_cell, schema)
    # global top-k per query across probed cells (dedupe multiprobe hits)
    ranked = (
        cands.groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("id_a").orderBy(
                    F.col("cosine").desc(), F.col("id_b").asc()
                )
            ),
        )
        .where(F.col("rank") <= k)
    )
    return ranked


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
    round_digits: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), LSH-bucketed.  High thresholds pair with few planes:
    near-identical vectors almost always share the full sign pattern.
    Pass ``dim`` to keep plan construction job-free; ``round_digits``
    applies the threshold to the ROUNDED cosine so engine-order float
    noise at the boundary cannot flip pair membership (cross-engine
    reproducibility)."""
    require_cols(df, "embedding_near_dup_pairs",
                 **{id_col: "atomic", vec: "array_numeric"})
    if dim is None:
        dim = len(df.select(vec).first()[0])
    planes = hyperplanes(dim, n_planes)
    # zero-norm vectors → NaN cosine, which Spark orders above every
    # number — `>= threshold` would admit them; drop them up front
    withb = (
        with_norm(df.select(id_col, vec), vec)
        .where(F.col("_norm") > 0)
        .withColumn("_bucket", lsh_bucket_col(vec, planes))
    )
    a = withb.select(
        F.col(id_col).alias("id_a"), F.col(vec).alias("va"),
        F.col("_norm").alias("na"), F.col("_bucket").alias("ba"),
    )
    b = withb.select(
        F.col(id_col).alias("id_b"), F.col(vec).alias("vb"),
        F.col("_norm").alias("nb"), F.col("_bucket").alias("bb"),
    )
    pairs = a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
    cos = dot_col("va", "vb") / (F.col("na") * F.col("nb"))
    if round_digits is not None:
        cos = F.round(cos, round_digits)
    return pairs.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= F.lit(float(threshold))
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    vec: str = "embedding",
    seed: int = 11,
    dim: int | None = None,
    out: str = "proj",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: a deterministic seeded
    Gaussian matrix (scaled 1/sqrt(out_dim)) maps embeddings to
    ``out_dim`` dims with pairwise distances approximately preserved —
    the standard pre-reduction before ANN indexing / clustering at
    corpus scale.  Pure per-row JVM expressions (one array fold per
    output dim): no shuffle, no Python, and the matrix literals make the
    result exactly reproducible in SQL."""
    require_cols(df, "random_projection", **{vec: "array_numeric"})
    if dim is None:
        dim = len(df.select(vec).first()[0])
    rng = np.random.RandomState(seed)
    R = rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)
    comps = [
        F.expr(DOT_SQL.format(
            a=vec, b=f"array({', '.join(repr(float(x)) for x in row)})"
        ))
        for row in R
    ]
    return df.withColumn(out, F.array(*comps))


def quantize_embeddings(
    df: DataFrame,
    vec: str = "embedding",
    q_out: str = "q",
    scale_out: str = "qscale",
    bits: int = 8,
) -> DataFrame:
    """Symmetric integer quantization for embedding STORAGE/serving: per
    vector, scale = max|x| / (2^(bits-1) - 1) and
    q_i = floor(x_i / scale + 0.5) — 4x smaller than float32 at int8
    with bounded error |dequant - x| <= scale/2.

    floor(x + 0.5) is used instead of round(): explicit half-up is
    bit-portable across engines (Spark/DuckDB round() disagree on
    negative halves), so the DuckDB oracle replays quantization exactly.
    Pure per-row JVM folds — map-only, pipelines with the scan at any
    scale.  All-zero vectors quantize to zeros with scale 0.
    """
    require_cols(df, "quantize_embeddings", **{vec: "array_numeric"})
    qmax = float((1 << (bits - 1)) - 1)
    scale = F.expr(
        f"array_max(transform({vec}, x -> abs(cast(x as double)))) / {qmax!r}"
    )
    d = df.withColumn(scale_out, scale)
    q = F.expr(
        f"CASE WHEN {scale_out} > 0D THEN "
        f"transform({vec}, x -> cast(floor(cast(x as double) / {scale_out} + 0.5D) as int)) "
        f"ELSE transform({vec}, x -> 0) END"
    )
    return d.withColumn(q_out, q)


def dequantize_embeddings(
    df: DataFrame,
    q: str = "q",
    scale: str = "qscale",
    out: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x̂_i = q_i * scale."""
    require_cols(df, "dequantize_embeddings", **{q: "array_numeric"})
    return df.withColumn(
        out,
        F.expr(f"transform({q}, v -> cast(v as double) * {scale})"),
    )


def _check_retrieval_queries(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec: str,
    max_query_rows: int | None,
) -> None:
    """Entry guard for two-table retrieval: schema, bounded query side,
    and distinct query ids — all on ONE bounded count job (with
    ``max_query_rows=None`` the caller vouches for both)."""
    op = "cosine_topk_join_blocked"
    require_cols(queries, f"{op}(queries)",
                 **{id_col: "atomic", vec: "array_numeric"})
    require_cols(corpus, f"{op}(corpus)",
                 **{id_col: "atomic", vec: "array_numeric"})
    if max_query_rows is None:
        return
    sz = queries.limit(max_query_rows + 1).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.col(id_col)).alias("nn"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    ).first()
    if sz["n"] > max_query_rows:
        raise ValueError(
            f"{op}: query side exceeds max_query_rows="
            f"{max_query_rows} — broadcast retrieval needs a bounded "
            "query set; use the ANN paths for corpus-sized queries, "
            "or pass max_query_rows=None to override"
        )
    # guard-and-raise (engine convention): duplicate query ids would
    # silently interleave two result sets under one id_q ranking.
    # count_distinct ignores NULLs, so NULL ids get their own dedicated
    # error rather than a misleading "must be distinct" (ADVICE r5).
    if sz["nn"] != sz["n"]:
        raise ValueError(
            f"{op}: query ids must be non-null "
            f"({sz['n']} rows, {sz['n'] - sz['nn']} NULL {id_col!r})"
        )
    if sz["nd"] != sz["n"]:
        raise ValueError(
            f"{op}: query ids must be distinct "
            f"({sz['n']} rows, {sz['nd']} distinct {id_col!r})"
        )


def cosine_topk_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec: str = "embedding",
    round_digits: int = 9,
    max_query_rows: int | None = 100_000,
) -> DataFrame:
    """Two-table exact retrieval: for every QUERY vector, the top-k
    cosine neighbors from a separate CORPUS table — the RAG /
    seed-mining shape (:func:`cosine_topk` is the self-join special
    case).  Cosine is rounded to ``round_digits`` before ranking, ties
    break on corpus id ascending, and NULL or zero-norm embeddings on
    either side are excluded (cosine undefined).  Query ids must be
    non-null and distinct (guard-raised on the same bounded count job
    that enforces ``max_query_rows``; with ``max_query_rows=None`` the
    caller vouches for both).  For corpus-sized QUERY sets use the
    LSH/IVF paths instead (:func:`ann_topk_blocked`, :func:`ivf_topk`).

    Rounding: the kernel rounds half-away-from-zero on the binary double
    (DuckDB's ROUND, pinned by :func:`_round_half_away`'s tests); Spark's
    decimal HALF_UP ``F.round`` can differ by one ulp on a value landing
    exactly on a rounding boundary.  The oracle comparison rounds to 6
    digits, which is the practical contract.

    * scoring is ONE numpy matmul per Arrow batch (``mapInPandas`` over
      corpus partitions) — a per-element ``zip_with`` fold measured ~3x
      slower on the ANN path, and dense d-dim scoring is exactly the
      BLAS shape;
    * each batch emits only its PER-QUERY top-k partials (exact: a
      threshold at the k-th largest rounded cosine keeps every tie
      candidate, then lexsort with the id tie-break), so the final
      ranking window shuffles ``<= batches x n_query x k`` narrow rows
      instead of ``n_corpus x n_query`` scored triples (at sf1.0 the
      scoring join measured 464 s against 11 s for this form).  The
      corpus is scanned exactly once and never shuffled.

    The (bounded) query side is collected driver-side and shipped in
    the kernel closure — the broadcast-kernel pattern of SURVEY.md J3.
    Ragged or dimension-mismatched embeddings raise (guard, not
    truncate).
    """
    _check_retrieval_queries(queries, corpus, id_col, vec, max_query_rows)
    kk = int(k)
    rd = int(round_digits)
    # bounded collect (the guard above enforces the bound)
    q_ids: list = []
    q_rows: list = []
    for r in queries.select(id_col, vec).collect():
        if r[1] is None:
            continue
        a = np.asarray(r[1], dtype=np.float64)
        n = float(np.linalg.norm(a))
        if np.isfinite(n) and n > 0:
            q_ids.append(r[0])
            q_rows.append(a / n)
    schema = StructType(
        [
            StructField("id_q", queries.schema[id_col].dataType),
            StructField("id_c", corpus.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    if not q_rows:
        empty = corpus.sparkSession.createDataFrame([], schema)
        return empty.withColumn("rank", F.lit(1).cast("int")).where(F.lit(False))
    Q = np.stack(q_rows)
    qid_arr = np.asarray(q_ids, dtype=object)
    dim = Q.shape[1]

    pow10 = 10.0 ** rd

    def score(batches):
        # NOTE: this closure must stay SELF-CONTAINED (numpy/pandas
        # only, no module-level helpers) — executors deserialize it
        # without the package on sys.path unless --py-files shipped it
        for pdf in batches:
            # NULL corpus embeddings drop out silently like zero-norm
            # ones (ADVICE r5) — an unmasked NULL would make np.stack
            # raise a misleading "ragged lengths" error
            pdf = pdf[pdf[vec].notna()]
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            try:
                C = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            except ValueError as e:
                raise ValueError(
                    "cosine_topk_join_blocked: ragged embedding lengths "
                    f"in corpus batch: {e}"
                ) from e
            if C.shape[1] != dim:
                raise ValueError(
                    "cosine_topk_join_blocked: corpus dim "
                    f"{C.shape[1]} != query dim {dim}"
                )
            nrm = np.linalg.norm(C, axis=1)
            ok = np.isfinite(nrm) & (nrm > 0)
            if not ok.any():
                continue
            C = C[ok] / nrm[ok, None]
            ids = ids[ok]
            # half-away-from-zero (DuckDB ROUND; one step closer to
            # Spark's decimal HALF_UP than np.round's half-to-even —
            # semantics pinned by _round_half_away's unit test; inlined
            # here to keep the closure self-contained, ADVICE r5)
            M = C @ Q.T  # (n_corpus_batch, n_query)
            S = np.sign(M) * np.floor(np.abs(M) * pow10 + 0.5) / pow10
            n = len(ids)
            take = min(kk, n)
            oq, oc, os_ = [], [], []
            for j in range(S.shape[1]):
                sj = S[:, j]
                if n > take:
                    thr = np.partition(sj, n - take)[n - take]
                    cand = np.flatnonzero(sj >= thr)
                else:
                    cand = np.arange(n)
                order = np.lexsort((ids[cand], -sj[cand]))[:take]
                sel = cand[order]
                oq.extend([qid_arr[j]] * len(sel))
                oc.extend(ids[sel].tolist())
                os_.extend(sj[sel].tolist())
            yield pd.DataFrame({"id_q": oq, "id_c": oc, "cosine": os_})

    scored = corpus.select(id_col, vec).mapInPandas(score, schema)
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("id_q").orderBy(
                F.col("cosine").desc(), F.col("id_c").asc()
            )
        ),
    )
    return ranked.where(F.col("rank") <= kk)

