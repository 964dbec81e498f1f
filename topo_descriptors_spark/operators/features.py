"""Tabular feature-engineering operators: encodings, hashing, rolling
quantiles, sketches, binning, correlation.

The reference computes per-pixel terrain *features* from a neighborhood
(topo.py:24-77 dispatches a feature bank over scales); this module is
the tabular analog for ML feature pipelines — per-row features derived
from group-level or window-level statistics, built scale-first:

- group statistics are always VOCABULARY-sized aggregations (map-side
  combine collapses the corpus per partition before the shuffle) joined
  back with an explicit ``broadcast()`` — the corpus itself never
  shuffles;
- windowed features are single-``WindowExec``, frame-bounded plans
  (state per row is O(k), never the full partition);
- everything per-row is JVM-side column expressions (no Python UDFs).

Every operator validates its input schema at entry (SURVEY §2 P7) and
has an exact DuckDB replay at the driver gate.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.validate import require_cols, reserve_cols
from .pipeline import HASH_SPACE
from .text import HASH_PRIME, PORTABLE_HASH_SQL

__all__ = [
    "target_encode",
    "count_encode",
    "feature_hash",
    "hash_vectorize_text",
    "rolling_quantiles",
    "kmv_distinct",
    "quantile_bin",
    "corr_matrix",
    "funnel",
    "robust_scale",
    "group_entropy",
    "impute",
]

# ---------------------------------------------------------------------------
# encodings
# ---------------------------------------------------------------------------

def target_encode(
    df: DataFrame,
    category: str,
    target: str,
    smoothing: float = 20.0,
    out_col: str = "te",
    loo: bool = True,
    broadcast_stats: bool = True,
) -> DataFrame:
    """Smoothed target (mean) encoding with leave-one-out correction.

    For each row, encode ``category`` as the smoothed mean of ``target``
    over all OTHER rows of the same category (leave-one-out, the
    standard anti-leakage trick), shrunk toward the global mean by
    ``smoothing`` pseudo-observations:

        te = (cat_sum - own_y + m * global_mean) / (cat_n - own_1 + m)

    Rows whose target is NULL contribute nothing to the statistics and
    are encoded with the non-LOO smoothed mean.  NULL categories get the
    pure prior (the global mean).

    Scale: one vocabulary-sized ``groupBy(category)`` (map-side combine
    collapses the corpus per partition first), one single-row global
    aggregate, then a ``broadcast`` join back — the corpus itself never
    shuffles.  ``broadcast_stats=False`` is the escape for category
    cardinalities beyond driver memory (the join falls back to a
    shuffled hash join on the vocabulary key).
    """
    require_cols(df, "target_encode", **{category: "atomic", target: "numeric"})
    reserve_cols(df, "target_encode", "_cat_sum", "_cat_n", "_gmean")

    stats = df.groupBy(category).agg(
        F.sum(target).alias("_cat_sum"),
        F.count(target).alias("_cat_n"),
    )
    glob = df.agg(
        (F.sum(target) / F.count(target)).alias("_gmean")
    )
    if broadcast_stats:
        stats = F.broadcast(stats)
    out = df.join(stats, on=category, how="left").crossJoin(F.broadcast(glob))

    m = float(smoothing)
    y = F.col(target)
    csum = F.coalesce(F.col("_cat_sum"), F.lit(0.0))
    cn = F.coalesce(F.col("_cat_n"), F.lit(0.0)).cast("double")
    gmean = F.col("_gmean")
    if loo:
        # own-row removal only when this row actually contributed
        contrib = y.isNotNull()
        num = F.when(contrib, csum - y).otherwise(csum) + m * gmean
        den = F.when(contrib, cn - 1).otherwise(cn) + m
    else:
        num = csum + m * gmean
        den = cn + m
    enc = F.when(den > 0, num / den).otherwise(gmean)
    # NULL category never matches the left join (null-unsafe by design):
    # fall back to the prior
    enc = F.when(F.col(category).isNull(), gmean).otherwise(enc)
    return out.withColumn(out_col, enc).drop("_cat_sum", "_cat_n", "_gmean")


def count_encode(
    df: DataFrame,
    category: str,
    min_count: int = 5,
    out_prefix: str = "ce",
    broadcast_stats: bool = True,
) -> DataFrame:
    """Frequency encoding: per-category row count, its log1p, and a
    rare-category flag (``count < min_count`` — the bucket a pipeline
    would collapse into ``<RARE>`` before one-hot/embedding lookup).

    NULL categories count as their own group (encoded with their own
    frequency, flagged by ``{prefix}_null``).

    Scale: identical shape to :func:`target_encode` — vocabulary-sized
    aggregate, broadcast join back, zero corpus shuffles.
    """
    require_cols(df, "count_encode", **{category: "atomic"})
    reserve_cols(df, "count_encode", "_ck")
    cnt, lg, rare, isnull = (
        f"{out_prefix}_count", f"{out_prefix}_log", f"{out_prefix}_rare",
        f"{out_prefix}_null",
    )
    for c in (cnt, lg, rare, isnull):
        if c in df.columns:
            raise ValueError(f"count_encode: output column {c!r} already in input")

    # null-safe key so NULL categories form a countable group
    key = F.coalesce(F.col(category).cast("string"), F.lit("\x00NULL"))
    stats = (
        df.select(key.alias("_ck"))
        .groupBy("_ck")
        .agg(F.count(F.lit(1)).alias(cnt))
    )
    if broadcast_stats:
        stats = F.broadcast(stats)
    out = df.withColumn("_ck", key).join(stats, on="_ck", how="left").drop("_ck")
    return (
        out.withColumn(lg, F.log1p(F.col(cnt)))
        .withColumn(rare, F.col(cnt) < F.lit(int(min_count)))
        .withColumn(isnull, F.col(category).isNull())
    )


# ---------------------------------------------------------------------------
# hashing trick
# ---------------------------------------------------------------------------

def feature_hash(
    df: DataFrame,
    cols: Sequence[str],
    n_features: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """The hashing trick (sklearn ``FeatureHasher`` semantics) over a
    fixed set of columns, emitting a sparse vector as parallel
    ``idx``/``val`` arrays sorted by index.

    String/categorical column c with value v -> feature ``c=v`` with
    weight 1; numeric column c -> feature ``c`` with weight v.  Each
    feature f lands in bucket ``portable_hash(f) mod n_features`` with
    sign ``(hash mod 2)*2-1`` (the collision-unbiasing sign trick);
    colliding features SUM.  NULL values contribute nothing.

    Scale: pure map-side — per-row array construction and an
    O(k_distinct * k) in-row fold over the k = ``len(cols)`` feature
    pairs; no shuffle, no Python.  The portable md5 hash keeps the
    bucketing engine-independent (exactly replayable in DuckDB at the
    gate).
    """
    require_cols(df, "feature_hash", **{id_col: "atomic"})
    reserve_cols(df, "feature_hash", "_fh", "_fi")
    require_cols(df, "feature_hash", **{c: "atomic" for c in cols})
    n = int(n_features)
    if n <= 0:
        raise ValueError("feature_hash: n_features must be positive")

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    pair_exprs = []
    for c in cols:
        numeric = fields[c] in {
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal",
        } or fields[c].startswith("decimal")
        if numeric:
            token = f"'{c}'"
            val = f"cast(`{c}` as double)"
        else:
            token = f"concat('{c}', '=', cast(`{c}` as string))"
            val = f"if(`{c}` is null, cast(null as double), 1.0d)"
        h = PORTABLE_HASH_SQL.format(col=token)
        pair_exprs.append(
            f"named_struct('idx', cast(pmod({h}, {n}) as int), "
            f"'val', (cast(({h}) % 2 as double) * 2.0d - 1.0d) * ({val}))"
        )
    pairs = F.expr(
        "filter(array(" + ", ".join(pair_exprs) + "), p -> p.val is not null)"
    )
    out = df.withColumn("_fh", pairs)
    idxs = F.array_sort(F.array_distinct(F.expr("transform(_fh, p -> p.idx)")))
    out = out.withColumn("_fi", idxs)
    vals = F.expr(
        "transform(_fi, i -> aggregate(filter(_fh, p -> p.idx = i), "
        "cast(0.0 as double), (a, p) -> a + p.val))"
    )
    return (
        out.withColumn("idxs", F.col("_fi"))
        .withColumn("vals", vals)
        .drop("_fh", "_fi")
    )


def hash_vectorize_text(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_features: int = 32,
    ngram: int = 3,
    lowercase: bool = True,
) -> DataFrame:
    """Hashed n-gram count vectorizer over whitespace tokens: each word
    ``ngram``-gram hashes into one of ``n_features`` buckets (portable
    md5 hash); the output is the DENSE per-document bucket-count vector
    — the classic fixed-width text representation for dedup sketches /
    cheap classifiers at corpus scale.

    Docs with fewer than ``ngram`` tokens (or NULL text) produce the
    all-zero vector, never NULL — fixed-width contract for downstream
    matrix consumers.

    Scale: map-only — tokenize, slide, hash, and histogram entirely
    in-row with JVM array expressions (O(n_features * n_tokens) per
    row); no shuffle, no Python worker.  n_features is the bound on
    output width regardless of vocabulary size — that is the point of
    the hashing trick at 100 TB.
    """
    require_cols(df, "hash_vectorize_text", **{id_col: "atomic", text: "string"})
    reserve_cols(df, "hash_vectorize_text", "_tk", "_ng", "_hb")
    n = int(n_features)
    g = int(ngram)
    if n <= 0 or g <= 0:
        raise ValueError("hash_vectorize_text: n_features and ngram must be positive")
    src = f"lower(`{text}`)" if lowercase else f"`{text}`"
    toks = (
        f"filter(split(trim({src}), '\\\\s+'), t -> t <> '')"
    )
    d = df.withColumn("_tk", F.expr(toks))
    # sliding n-grams joined with a separator token
    d = d.withColumn(
        "_ng",
        F.expr(
            f"case when size(_tk) >= {g} then "
            f"transform(sequence(1, size(_tk) - {g} + 1), "
            f"i -> array_join(slice(_tk, i, {g}), ' ')) "
            "else array() end"
        ),
    )
    h = PORTABLE_HASH_SQL.format(col="x")
    d = d.withColumn(
        "_hb", F.expr(f"transform(_ng, x -> cast(pmod({h}, {n}) as int))")
    )
    # ONE fold over the bucket indices (md5 evaluated once per n-gram in
    # the _hb transform above); the per-bucket-filter formulation
    # (transform(sequence(0,n-1), b -> size(filter(_hb, ...)))) rescans —
    # and under expression inlining re-hashes — the array n_features
    # times per row: measured 22.7s -> ~2s at sf0.1
    vec = F.expr(
        f"aggregate(_hb, "
        f"transform(sequence(0, {n - 1}), x -> 0), "
        "(acc, b) -> transform(acc, (c, j) -> if(j = b, c + 1, c)))"
    )
    return d.withColumn("vec", vec).drop("_tk", "_ng", "_hb")


# ---------------------------------------------------------------------------
# rolling quantiles
# ---------------------------------------------------------------------------

def rolling_quantiles(
    df: DataFrame,
    entity: str,
    order: str,
    value: str,
    k: int,
    qs: Sequence[float] = (0.5,),
    tiebreak: str | None = None,
    prefix: str = "rq",
) -> DataFrame:
    """Exact rolling quantiles (linear interpolation, the
    ``quantile_cont`` definition) of ``value`` over each entity's
    trailing ``k`` rows — rolling median is ``qs=(0.5,)``.

    NULL values are skipped (the window shrinks); a window of all-NULLs
    yields NULL.  ``tiebreak`` makes the frame deterministic under
    ``order`` ties — REQUIRED for cross-engine equality because the
    frame's *membership* depends on row order.

    Scale: ONE shared ``WindowExec`` (one sort) for every quantile; the
    frame is row-bounded so per-row state is O(k).  The in-frame sort is
    O(k log k) JVM array_sort — fine for feature-sized k (10s-100s);
    for k in the 10^5+ range use two-pass t-digest style sketches
    instead (out of scope: exactness is the contract here).
    """
    require_cols(
        df, "rolling_quantiles",
        **{entity: "atomic", order: "orderable", value: "numeric"},
    )
    if k <= 0:
        raise ValueError("rolling_quantiles: k must be positive")
    reserve_cols(df, "rolling_quantiles", "_rqa")
    ob = [F.col(order)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(entity)
        .orderBy(*ob)
        .rowsBetween(-(int(k) - 1), Window.currentRow)
    )
    # one collect_list materialized once -> every quantile reads it
    out = df.withColumn(
        "_rqa", F.array_sort(F.collect_list(F.col(value).cast("double")).over(w))
    )
    nn = F.size("_rqa")
    for q in qs:
        qf = float(q)
        if not 0.0 <= qf <= 1.0:
            raise ValueError(f"rolling_quantiles: q={qf} outside [0,1]")
        # linear interpolation on the sorted array: pos = (n-1)*q
        pos = (nn - 1).cast("double") * F.lit(qf)
        lo = F.floor(pos).cast("int")
        frac = pos - lo.cast("double")
        vlo = F.element_at("_rqa", lo + 1)
        vhi = F.element_at("_rqa", F.least(lo + 2, nn))
        val = F.when(nn > 0, vlo + frac * (vhi - vlo))
        name = f"{prefix}_p{int(round(qf * 100)):02d}"
        out = out.withColumn(name, val)
    return out.drop("_rqa")


# ---------------------------------------------------------------------------
# KMV distinct sketch
# ---------------------------------------------------------------------------

def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_by: str | None = None,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    with the engine's portable hash, so the whole sketch — hashing,
    k-smallest selection, estimate — replays exactly in DuckDB.

    Each distinct value maps to a uniform hash in [0,1); the k-th
    smallest distinct hash ``h_k`` estimates the distinct count as
    ``(k-1)/h_k``.  When fewer than k distinct hashes exist the sketch
    is exact and reports the true count.  Output per group:
    ``n_kept`` (hashes retained, <= k), ``est`` (rounded estimate).

    Scale: the KMV merge is exact — the k smallest distinct hashes of a
    union are computable from per-partition k-smallest-distinct
    partials, so the plan is: map-side partial-distinct (the
    deduplicating partial aggregate collapses each partition first),
    shuffle only distinct (group, hash) pairs, rank within group, keep
    k.  The shuffle payload is bounded by distinct-cardinality, not
    corpus size; for extreme cardinalities the same operator composes
    with a pre-bucketed ``repartition`` — nothing here is all-rows.
    """
    require_cols(df, "kmv_distinct", **{col: "atomic"})
    if group_by is not None:
        require_cols(df, "kmv_distinct", **{group_by: "atomic"})
    if k < 2:
        raise ValueError("kmv_distinct: k must be >= 2")
    h = F.expr(PORTABLE_HASH_SQL.format(col=f"cast(`{col}` as string)"))
    gcol = group_by if group_by is not None else None
    keys = [gcol] if gcol else []
    hashes = (
        df.where(F.col(col).isNotNull())
        .select(*keys, h.alias("_h"))
        .dropDuplicates(keys + ["_h"])
    )
    if gcol:
        wr = Window.partitionBy(gcol).orderBy("_h")
    else:
        wr = Window.partitionBy(F.lit(1)).orderBy("_h")
    topk = hashes.withColumn("_rn", F.row_number().over(wr)).where(
        F.col("_rn") <= int(k)
    )
    grp = topk.groupBy(*keys) if keys else topk.groupBy()
    est = grp.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max(F.col("_h").cast("double") / F.lit(HASH_SPACE)).alias("_hk"),
    )
    return est.select(
        *keys,
        "n_kept",
        F.round(
            F.when(
                F.col("n_kept") < int(k), F.col("n_kept").cast("double")
            ).otherwise((F.lit(float(k - 1))) / F.col("_hk")),
            6,
        ).alias("est"),
    )


# ---------------------------------------------------------------------------
# quantile binning
# ---------------------------------------------------------------------------

def quantile_bin(
    df: DataFrame,
    value: str,
    n_bins: int = 4,
    out_col: str = "bin",
    round_dp: int = 6,
) -> DataFrame:
    """Equal-frequency (quantile) binning: assign each row the bin index
    of ``value`` among ``n_bins`` quantile buckets computed over the
    whole table — the discretization step of classic feature pipelines
    (quartile/decile features).

    Boundaries are the exact interior quantiles (``quantile_cont``
    definition), ROUNDED to ``round_dp`` before comparison so the bin
    edges are bit-identical across engines; assignment is
    ``sum(value > edge_i)``.  NULL values get NULL bins.

    Scale: one exact-percentile aggregate produces a SINGLE row of
    ``n_bins-1`` edges, broadcast onto the table — map-only assignment,
    zero corpus shuffles.  (Spark's exact ``percentile`` aggregates
    per-partition maps; for 100-TB inputs swap in approx_percentile with
    a documented tolerance — exactness is the gate contract here.)
    """
    require_cols(df, "quantile_bin", **{value: "numeric"})
    nb = int(n_bins)
    if nb < 2:
        raise ValueError("quantile_bin: n_bins must be >= 2")
    reserve_cols(df, "quantile_bin", "_qedges", out_col)
    qs = [i / nb for i in range(1, nb)]
    edges = df.agg(
        F.expr(
            f"transform(percentile(`{value}`, array({', '.join(map(str, qs))})), "
            f"e -> round(e, {int(round_dp)}))"
        ).alias("_qedges")
    )
    out = df.crossJoin(F.broadcast(edges))
    b = F.when(
        F.col(value).isNotNull(),
        F.expr(f"size(filter(_qedges, e -> `{value}` > e))"),
    )
    return out.withColumn(out_col, b).drop("_qedges")


# ---------------------------------------------------------------------------
# conversion funnel
# ---------------------------------------------------------------------------

def funnel(
    df: DataFrame,
    entity: str,
    order: str,
    event_col: str,
    stages: Sequence[str],
    out_prefix: str = "stage",
) -> DataFrame:
    """Ordered conversion funnel: per entity, the first ``order`` value
    at which each stage is reached, where stage i must occur STRICTLY
    after the entity's first-reach of stage i-1 (the classic
    view→click→purchase attribution rule).  One row per entity; a NULL
    stage timestamp means the funnel stopped there.

    Scale: ONE hash exchange on the entity key feeding a chain of
    unordered full-partition Window aggregates (no sort — the frame is
    the whole partition) and a final same-key dedup that reuses the
    partitioning (no second Exchange; pinned in pytest).  Nothing is
    collected per entity, so arbitrarily hot entities stay streaming.
    """
    require_cols(
        df, "funnel",
        **{entity: "atomic", order: "orderable", event_col: "atomic"},
    )
    if len(stages) < 2:
        raise ValueError("funnel: need at least 2 stages")
    cols = []
    out = df
    w = Window.partitionBy(entity)
    prev: str | None = None
    for i, s in enumerate(stages):
        cname = f"{out_prefix}{i + 1}_{s}"
        if cname in df.columns:
            raise ValueError(f"funnel: output column {cname!r} already in input")
        hit = F.col(event_col) == F.lit(s)
        if prev is not None:
            hit = hit & (F.col(order) > F.col(prev))
        out = out.withColumn(cname, F.min(F.when(hit, F.col(order))).over(w))
        cols.append(cname)
        prev = cname
    return out.select(entity, *cols).dropDuplicates([entity])


# ---------------------------------------------------------------------------
# robust scaling
# ---------------------------------------------------------------------------

def robust_scale(
    df: DataFrame,
    value: str,
    group_by: str | None = None,
    out_col: str = "rz",
    round_dp: int = 6,
) -> DataFrame:
    """Robust z-score: ``(x - median) / IQR`` per group (or globally) —
    the outlier-resistant scaler feature pipelines use where mean/std
    would chase heavy tails.  Zero IQR yields NULL.  Median and IQR are
    exact interpolated percentiles ROUNDED to ``round_dp`` before the
    division so the statistics are bit-identical across engines.

    Scale: one exact-percentile aggregate (group-cardinality-sized)
    broadcast back onto the table — map-only scaling, zero corpus
    shuffles (same shape as :func:`quantile_bin`).
    """
    require_cols(df, "robust_scale", **{value: "numeric"})
    if group_by is not None:
        require_cols(df, "robust_scale", **{group_by: "atomic"})
    reserve_cols(df, "robust_scale", "_med", "_iqr", out_col)
    dp = int(round_dp)
    pexpr = F.expr(f"percentile(`{value}`, array(0.25, 0.5, 0.75))")
    aggs = [
        F.round(pexpr[1], dp).alias("_med"),
        F.round(pexpr[2] - pexpr[0], dp).alias("_iqr"),
    ]
    if group_by is None:
        stats = df.agg(*aggs)
        out = df.crossJoin(F.broadcast(stats))
    else:
        stats = df.groupBy(group_by).agg(*aggs)
        out = df.join(F.broadcast(stats), on=group_by, how="left")
    rz = F.when(
        F.col("_iqr") > 0, (F.col(value) - F.col("_med")) / F.col("_iqr")
    )
    return out.withColumn(out_col, rz).drop("_med", "_iqr")


# ---------------------------------------------------------------------------
# categorical entropy
# ---------------------------------------------------------------------------

def group_entropy(
    df: DataFrame,
    entity: str,
    category: str,
    out_col: str = "entropy",
) -> DataFrame:
    """Shannon entropy (nats) of each entity's ``category``
    distribution — the diversity feature for behavioral profiling
    (H = ln N - Σ c·ln c / N over category counts c).  NULL categories
    count as their own outcome; single-category entities get exactly
    0.0.

    Scale: two aggregations, both with map-side combine — the first
    keys on (entity, category) [bounded by entities x alphabet], the
    second on entity.  The corpus is never joined back; output is one
    row per entity.
    """
    require_cols(df, "group_entropy", **{entity: "atomic", category: "atomic"})
    counts = df.groupBy(entity, category).agg(F.count(F.lit(1)).alias("_c"))
    n = F.sum("_c")
    clogc = F.sum(F.col("_c").cast("double") * F.log(F.col("_c").cast("double")))
    return counts.groupBy(entity).agg(
        n.alias("n_events"),
        (F.log(n.cast("double")) - clogc / n.cast("double")).alias(out_col),
    )


# ---------------------------------------------------------------------------
# correlation matrix
# ---------------------------------------------------------------------------

def corr_matrix(df: DataFrame, cols: Sequence[str], round_dp: int = 6) -> DataFrame:
    """Pairwise Pearson correlation of ``cols`` in ONE aggregation pass,
    emitted in long form (col_a, col_b, corr) for the upper triangle.

    Scale: a single map-side-combinable aggregate computes every
    pairwise moment simultaneously (one corpus scan, one 1-row result);
    the unpivot is driver-side on that single row.  This is the shape a
    feature-store profiling job wants at 100 TB — never one scan per
    pair.
    """
    require_cols(df, "corr_matrix", **{c: "numeric" for c in cols})
    if len(cols) < 2:
        raise ValueError("corr_matrix: need at least 2 columns")
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for b in list(cols)[i + 1:]:
            nm = f"{a}__{b}"
            names.append((a, b, nm))
            aggs.append(F.round(F.corr(a, b), int(round_dp)).alias(nm))
    one = df.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', `{nm}`" for a, b, nm in names)
    return one.select(
        F.expr(
            f"stack({len(names)}, {stack}) AS (col_a, col_b, corr)"
        )
    )


# ---------------------------------------------------------------------------
# imputation
# ---------------------------------------------------------------------------

def impute(
    df: DataFrame,
    value: str,
    group_by: str | None = None,
    strategy: str = "median",
    out_col: str | None = None,
    indicator: bool = True,
    round_dp: int = 6,
) -> DataFrame:
    """NULL imputation with the per-group median or mean plus the
    standard missing-indicator column — the fill step of every tabular
    feature pipeline, leakage-aware form (statistics from the SAME
    table; for train/serve splits compute stats on train and join them
    here via ``group_by``).

    The fill value is ROUNDED to ``round_dp`` (engine-exact, same rule
    as :func:`robust_scale`).  A group that is entirely NULL falls back
    to the GLOBAL statistic; if that is also NULL (all-null column) the
    row stays NULL — surfaced, not invented.

    Scale: one group-cardinality aggregate plus a single-row global
    aggregate, both broadcast back — map-only filling, zero corpus
    shuffles.
    """
    require_cols(df, "impute", **{value: "numeric"})
    out = out_col or f"{value}_filled"
    ind = f"{value}_was_null"
    reserve_cols(df, "impute", out, ind, "_fill", "_gfill")
    if group_by is not None:
        require_cols(df, "impute", **{group_by: "atomic"})
    if strategy not in ("median", "mean"):
        raise ValueError(f"impute: unknown strategy {strategy!r}")
    dp = int(round_dp)
    stat = (
        F.expr(f"percentile(`{value}`, 0.5)") if strategy == "median"
        else F.avg(value)
    )
    glob = df.agg(F.round(stat, dp).alias("_gfill"))
    res = df
    if group_by is not None:
        stats = df.groupBy(group_by).agg(F.round(stat, dp).alias("_fill"))
        res = res.join(F.broadcast(stats), on=group_by, how="left")
    else:
        res = res.withColumn("_fill", F.lit(None).cast("double"))
    res = res.crossJoin(F.broadcast(glob))
    filled = F.coalesce(F.col(value).cast("double"), F.col("_fill"),
                        F.col("_gfill"))
    res = res.withColumn(out, filled)
    if indicator:
        res = res.withColumn(ind, F.col(value).isNull())
    return res.drop("_fill", "_gfill")


def heavy_hitters(
    df: DataFrame,
    key_cols: Sequence[str] | str,
    k: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Key-skew profiler: the top-``k`` grouping keys by row count, with
    each key's share of the table and the running cumulative share —
    the diagnostic to run BEFORE any big join or groupBy ("is this key
    salt-worthy?"), and the evidence behind every skew mitigation in
    this engine (AQE skew-join, salting, bucket caps).

    Plan: one map-side-combined groupBy (shuffle carries the key
    vocabulary, not the table), a one-row total aggregated separately
    and broadcast, and a TakeOrderedAndProject top-k — the ranking
    window then runs over only ``k`` rows on a single task, so the
    "global" window is O(k), never a global sort of the key table.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    require_cols(df, "heavy_hitters", **{c: "atomic" for c in keys})
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    order = [F.col("n").desc()] + [F.col(c).asc() for c in keys]
    top = counts.orderBy(*order).limit(int(k))
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    rd = int(round_digits)
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .withColumn("share", F.round(F.col("n") / F.col("_total"), rd))
        .withColumn(
            "cum_share", F.round(F.sum("n").over(w) / F.col("_total"), rd)
        )
        .select(*keys, "n", "rank", "share", "cum_share")
    )


def resample_ohlc(
    df: DataFrame,
    bucket_seconds: int,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    tiebreak: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Time-bucket downsampling to OHLC bars: per (entity, bucket) the
    open (first value by time), high, low, close (last value by time),
    mean and row count — the canonical irregular→regular time-series
    reduction feeding lag/window features at a coarser grain.

    ``tiebreak`` (default: none) is a unique column appended to the
    ordering so open/close are deterministic when two rows share a
    timestamp; omit it only if (entity, order) is unique.

    Plan: ONE shuffle on (entity, bucket) — a window computes
    open/close over the full-bucket frame, and the following groupBy
    reuses the window's partitioning (no second exchange; the remaining
    aggregates are map-side-combinable min/max/sum/count).
    """
    from topo_descriptors_spark.functions.cols import axis_seconds

    require_cols(df, "resample_ohlc", **{value: "numeric", entity: "atomic"})
    reserve_cols(df, "resample_ohlc", "_bkt", "_open", "_close")
    bs = int(bucket_seconds)
    if bs <= 0:
        raise ValueError("bucket_seconds must be positive")
    d = df.withColumn(
        "_bkt", (F.floor(axis_seconds(df, order) / bs) * bs).cast("long")
    )
    ordering = [F.col(order).asc()] + (
        [F.col(tiebreak).asc()] if tiebreak else []
    )
    w = (
        Window.partitionBy(entity, "_bkt")
        .orderBy(*ordering)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    d = d.withColumn("_open", F.first(value).over(w)).withColumn(
        "_close", F.last(value).over(w)
    )
    rd = int(round_digits)
    return (
        d.groupBy(entity, F.col("_bkt").alias("bucket_start"))
        .agg(
            F.first("_open").alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.first("_close").alias("close"),
            F.round(F.avg(value), rd).alias("mean"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# above this many depth*width cells, cms_counts switches from plan
# literals to broadcast joins of the collected grid (ADVICE r5)
_CMS_LITERAL_CELLS = 16384


def cms_counts(
    df: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Count-min sketch frequency estimates for every distinct key — the
    fixed-memory counting structure for streaming/huge-cardinality
    frequency when an exact groupBy's key vocabulary no longer fits:
    ``est >= true`` always, overestimate bounded by collisions in a
    ``depth × width`` grid.

    The hash family is the engine's portable affine family over the
    31-bit prime field (same as MinHash), seeded from the portable md5
    hash of the key's string form — so the whole sketch, including its
    collisions, replays bit-for-bit in SQL and the estimates get an
    exact DuckDB oracle (deterministic ≠ inexact!).

    Plan: the sketch build is a map-side-combined groupBy whose shuffle
    carries at most ``depth × width`` cells per map partition — corpus
    size independent.  The finished grid (``<= depth x width`` rows
    regardless of corpus size) is collected to the driver in ONE job —
    the engine's bounded-collect pattern (same as the IVF centroid
    fit) — and embedded as per-row literal count arrays, so the
    estimate pass is a pure map-side projection over the distinct-key
    table: ``est = least_i(counts_i[b_i])``, zero joins, zero extra
    scans.  (The previous shape joined ``cells.where(i == k)`` once per
    sketch row, recomputing the full cell aggregation depth+1 times —
    ADVICE r4.)  Above ``_CMS_LITERAL_CELLS`` (16384) cells the grid is
    instead broadcast-joined per depth level — user-sized sketches like
    4 x 65536 would otherwise embed ~256k plan literals and bloat
    analysis/codegen (ADVICE r5).  EAGER: the grid collect runs a Spark
    job at CALL time, so the sketch is frozen at construction —
    ``n_true`` (and any re-read of a non-static source at action time)
    can observe newer data than the sketch did.  Returns (key, est,
    n_true) — n_true is an exact count for auditability; at true scale
    drop it and keep the sketch-only path.  NULL keys hash to NULL
    buckets and drop out of the estimate (identically in the SQL
    replay) — coalesce the key first if NULL should count as a value.
    """
    from topo_descriptors_spark.operators.dedup import minhash_params

    require_cols(df, "cms_counts", **{key: "atomic"})
    params = minhash_params(int(depth))
    kh = PORTABLE_HASH_SQL.format(col=f"cast({key} as string)")
    d = df.withColumn("_kh", F.expr(f"pmod({kh}, {HASH_PRIME})"))
    buckets = [
        F.expr(f"pmod({a}L * _kh + {b}L, {HASH_PRIME}) % {int(width)}").alias(
            f"_b{i}"
        )
        for i, (a, b) in enumerate(params)
    ]
    hashed = d.select(F.col(key), F.col("_kh"), *buckets)
    # sketch cells: explode the depth rows IN-ROW, then one tiny groupBy
    rows = F.array(*[
        F.struct(F.lit(i).alias("i"), F.col(f"_b{i}").alias("b"))
        for i in range(len(params))
    ])
    cells = (
        hashed.select(F.explode(rows).alias("_c"))
        .groupBy(F.col("_c.i").alias("i"), F.col("_c.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    keys = hashed.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_true"),
        *[F.first(f"_b{i}").alias(f"_b{i}") for i in range(len(params))],
    )
    # bounded collect: the grid is <= depth x width cells no matter the
    # corpus size (one Spark job, computed once); NULL keys hash to a
    # NULL bucket and never populate a cell
    grid: dict[int, dict[int, int]] = {i: {} for i in range(len(params))}
    for r in cells.collect():
        if r["i"] is not None and r["b"] is not None:
            grid[r["i"]][r["b"]] = r["cnt"]
    if int(depth) * int(width) <= _CMS_LITERAL_CELLS:
        # small grid: embed per-depth literal count arrays — the
        # estimate pass is a pure map-side projection, zero joins
        counts = [
            F.array(*[F.lit(grid[i].get(b, 0)) for b in range(int(width))])
            for i in range(len(params))
        ]
        # element_at is 1-based; bucket values are 0..width-1 by pmod
        ests = [
            F.element_at(counts[i], F.col(f"_b{i}").cast("int") + F.lit(1))
            for i in range(len(params))
        ]
        est = ests[0] if len(ests) == 1 else F.least(*ests)
        keyed = keys
    else:
        # user-sized grids (e.g. 4 x 65536) would bloat analysis and
        # codegen with depth*width plan literals (ADVICE r5) — instead
        # broadcast-join the already-collected grid, one tiny (<= width
        # row) broadcast per depth level, still zero re-aggregation and
        # zero corpus shuffle
        spark = df.sparkSession
        keyed = keys
        for i in range(len(params)):
            lvl = spark.createDataFrame(
                [(int(b), int(c)) for b, c in grid[i].items()] or [(-1, 0)],
                schema=f"_jb{i} long, _cnt{i} long",
            )
            keyed = keyed.join(
                F.broadcast(lvl),
                keyed[f"_b{i}"] == lvl[f"_jb{i}"],
                "left",
            ).drop(f"_jb{i}")
        ests = [
            F.coalesce(F.col(f"_cnt{i}"), F.lit(0))
            for i in range(len(params))
        ]
        est = ests[0] if len(ests) == 1 else F.least(*ests)
    # NULL keys hash to NULL buckets: drop them exactly as the former
    # inner cell-join did (and as the SQL oracle replays)
    return (
        keyed.where(F.col("_b0").isNotNull())
        .select(key, est.alias("est"), "n_true")
    )


def _xxhashable(dt) -> bool:
    """True when ``xxhash64`` accepts a column of this type at analysis
    time.  Maps (and anything nesting a map) are the unsupported case —
    hash expressions raise ``HASH_MAP_TYPE_EXPRESSIONS_ARE_NOT_ALLOWED``
    unless a legacy flag is set (ADVICE r5)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


# aggregate specs supported by the two-phase salted re-aggregation:
# partial name -> (partial agg fn, final combiner over partials)
_SALTED_AGGS = ("count", "sum", "min", "max", "avg")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str] | str,
    values: dict[str, Sequence[str]],
    salt_buckets: int = 32,
    salt_col: str | None = None,
) -> DataFrame:
    """Two-phase aggregation for SKEWED grouping keys: groupBy
    ``(keys, salt)`` first (the hot key's rows spread over
    ``salt_buckets`` reducers), then re-aggregate the per-salt partials
    by ``keys`` alone — a second, tiny shuffle of at most
    ``|distinct keys| × salt_buckets`` rows.

    When to use: AQE's skew handling splits oversized partitions for
    JOINS, but a hot grouping key still lands every row on one reducer
    in a plain hash aggregate's final stage once map-side partial
    aggregation stops helping (high-cardinality accumulators, or a
    single key carrying a double-digit fraction of the table — the
    exact shape `heavy_hitters` diagnoses).  Salting bounds the hottest
    reducer at ``rows(hot_key) / salt_buckets``.

    ``values`` maps column -> aggregate names from {count, sum, min,
    max, avg}; avg is re-aggregated correctly as sum-of-sums /
    sum-of-counts, never an average of averages.  Output column names
    are ``<col>_<agg>`` (``count`` ignores its column's nulls exactly
    like SQL COUNT(col)).  The salt must be DETERMINISTIC per row:
    shuffle keys derived from ``spark_partition_id`` /
    ``monotonically_increasing_id`` / ``rand`` re-bucket rows between
    task attempts on retry or stage recomputation, silently double- or
    under-counting stage-1 partials (the SPARK-23207 failure class) —
    exactly in the large skewed-agg setting this operator targets.  The
    default salt is ``pmod(xxhash64(<every hashable input column>),
    buckets)``: byte-identical rows co-locate in one salt bucket
    (harmless — a hot KEY is still spread across buckets by its varying
    value columns, and exact duplicate rows collapse in the map-side
    partial anyway), while retries replay the identical bucketing.
    Map-typed columns are excluded from the default salt (``xxhash64``
    rejects maps at analysis time); a schema whose ONLY columns are
    maps must pass ``salt_col``.  ``salt_col`` may name any existing
    deterministic column to salt by instead.

    The result is EXACTLY ``df.groupBy(keys).agg(...)`` (oracle-checked
    by the driver gate); only the physical shuffle layout differs.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    require_cols(df, "salted_agg", **{c: "atomic" for c in keys})
    if salt_buckets < 2:
        raise ValueError("salt_buckets must be >= 2")
    for col, aggs in values.items():
        bad = set(aggs) - set(_SALTED_AGGS)
        if bad:
            raise ValueError(
                f"salted_agg: unsupported aggregates {sorted(bad)} for "
                f"{col!r}; supported: {_SALTED_AGGS}"
            )
    if salt_col is None:
        # deterministic: hash every HASHABLE input column so the same
        # row maps to the same bucket on every task attempt (see
        # docstring); xxhash64 decorrelates the buckets from the
        # grouping keys.  Map-typed columns are skipped — xxhash64
        # rejects them at analysis time (ADVICE r5); their presence
        # only reduces bucket spread for rows identical elsewhere.
        hashable = [c for c, f in zip(df.columns, df.schema.fields)
                    if _xxhashable(f.dataType)]
        if not hashable:
            raise ValueError(
                "salted_agg: no xxhash64-hashable columns for the "
                "default deterministic salt (map-typed columns are "
                "unsupported) — pass salt_col naming an existing "
                "deterministic column to salt by"
            )
        d = df.withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in hashable]),
                F.lit(int(salt_buckets)),
            ),
        )
    else:
        d = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(int(salt_buckets)))
        )

    partials, finals = [], []
    for col, aggs in values.items():
        need_avg = "avg" in aggs
        for a in aggs:
            if a == "count":
                partials.append(F.count(F.col(col)).alias(f"_p_cnt_{col}"))
                finals.append(F.sum(f"_p_cnt_{col}").alias(f"{col}_count"))
            elif a == "sum":
                partials.append(F.sum(F.col(col)).alias(f"_p_sum_{col}"))
                finals.append(F.sum(f"_p_sum_{col}").alias(f"{col}_sum"))
            elif a == "min":
                partials.append(F.min(F.col(col)).alias(f"_p_min_{col}"))
                finals.append(F.min(f"_p_min_{col}").alias(f"{col}_min"))
            elif a == "max":
                partials.append(F.max(F.col(col)).alias(f"_p_max_{col}"))
                finals.append(F.max(f"_p_max_{col}").alias(f"{col}_max"))
        if need_avg:
            if not any(a == "sum" for a in aggs):
                partials.append(F.sum(F.col(col)).alias(f"_p_sum_{col}"))
            if not any(a == "count" for a in aggs):
                partials.append(F.count(F.col(col)).alias(f"_p_cnt_{col}"))
            finals.append(
                (F.sum(f"_p_sum_{col}") / F.sum(f"_p_cnt_{col}")).alias(
                    f"{col}_avg"
                )
            )
    # de-dup partials added twice (explicit sum/count + avg need)
    seen, uniq = set(), []
    for p in partials:
        n = p._jc.toString()
        if n not in seen:
            seen.add(n)
            uniq.append(p)
    stage1 = d.groupBy(*keys, "_salt").agg(*uniq)
    return stage1.groupBy(*keys).agg(*finals)
