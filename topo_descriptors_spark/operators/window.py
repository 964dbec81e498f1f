"""Windowed feature operators — the 1-D sequence recast of the
reference's multiscale descriptors (SURVEY.md §2.5).

Every operator here is a pure Spark SQL window expression over
``Window.partitionBy(entity).orderBy(order)`` — JVM-side, whole-stage
codegen, zero Python in the hot path — except :func:`gaussian_ma_arrow`,
the chunked-Arrow physical path :func:`gaussian_ma` auto-switches to
when the kernel radius would blow up the expression bank.  The 2-D grid
forms of the same descriptors live in
:mod:`topo_descriptors_spark.operators.tiles`; the zero-shuffle
packed-array forms in :mod:`topo_descriptors_spark.operators.packed`.

Scale notes (100 TB):

* All operators below share ONE window partitioning/ordering, so a
  multi-feature select compiles to a single ``WindowExec`` with a single
  shuffle+sort (see :func:`multiscale_features`).  Adding a scale adds an
  expression, not a pass — the engine's answer to the reference's
  per-scale loop (reference topo.py:132-141).
* Partition-by-entity windows put one entity on one task.  For skewed
  entities (one entity ≫ others) :func:`multiscale_features_chunked`
  runs the same feature bank on halo-padded (entity, chunk)
  sub-partitions (:func:`sequence_chunks_with_halo`) — task size bounded
  by chunk size regardless of entity skew.  It is slower on unskewed
  input and wins only past a hot entity of millions of rows (crossover
  in its docstring); the plain window is the default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from topo_descriptors_spark.functions.cols import axis_seconds
from topo_descriptors_spark.functions.planner import (
    frame_half_width,
    gaussian_weights,
)
from topo_descriptors_spark.functions.validate import require_cols, reserve_cols


def _check_seq(
    df: DataFrame, op: str, entity: str, order: str,
    value: str | None = None, axis: str = "orderable",
) -> None:
    """Entry-boundary schema check (P7, the check_dem analog): fail with
    a clear message before any plan is built."""
    kinds = {entity: "atomic", order: axis}
    if value is not None:
        kinds[value] = "numeric"
    require_cols(df, op, **kinds)


def entity_window(entity: str = "entity_id", order: str = "ts") -> WindowSpec:
    """The engine's canonical per-entity ordering."""
    return Window.partitionBy(entity).orderBy(order)


# ---------------------------------------------------------------------------
# W2 — TPI (topographic position index): value minus neighborhood mean,
# center excluded (reference topo.py:144-181: dem - conv(dem, disk)/sum).
# ---------------------------------------------------------------------------

def tpi_col(value: Column, k: int, w: WindowSpec) -> Column:
    """``value - (sum(frame) - value) / (count(frame) - 1)`` over
    rowsBetween(-k, k) — the center-excluded neighborhood-mean deviation.

    Sufficient-statistics form: one partial-aggregated sum + count per
    frame (Spark's WindowExec keeps a sliding frame, O(1) per row), the
    same algebra the reference gets from its 0/1-disk convolution
    (reference topo.py:168-170).  A frame whose only non-null sample is
    the center (isolated event / short entity) has no neighborhood mean:
    try_divide yields NULL there — the reference's 0/0 NaN — instead of
    an ANSI DIVIDE_BY_ZERO killing the stage.
    """
    frame = w.rowsBetween(-k, k)
    s = F.sum(value).over(frame)
    c = F.count(value).over(frame)
    return value - F.try_divide(s - value, c - F.lit(1))


def tpi(
    df: DataFrame,
    scales_pxl: list[int],
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    prefix: str = "tpi",
) -> DataFrame:
    """Multi-scale TPI in one WindowExec (one shuffle, one sort)."""
    _check_seq(df, "tpi", entity, order, value)
    w = entity_window(entity, order)
    v = F.col(value)
    cols = [
        tpi_col(v, frame_half_width(d), w).alias(f"{prefix}_{d}")
        for d in scales_pxl
    ]
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# W3 — rolling std (reference topo.py:272-307): sample std over the
# neighborhood.  Spark's stddev_samp is the same sufficient-statistics
# algebra (sum, sum², n) as the reference's variance trick (topo.py:300-305)
# without the int32-overflow bug.
# ---------------------------------------------------------------------------

def rolling_std_col(value: Column, k: int, w: WindowSpec) -> Column:
    return F.stddev_samp(value).over(w.rowsBetween(-k, k))


def rolling_std(
    df: DataFrame,
    scales_pxl: list[int],
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    prefix: str = "std",
) -> DataFrame:
    _check_seq(df, "rolling_std", entity, order, value)
    w = entity_window(entity, order)
    v = F.col(value)
    cols = [
        rolling_std_col(v, frame_half_width(d), w).alias(f"{prefix}_{d}")
        for d in scales_pxl
    ]
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# W1 — Gaussian moving average (reference topo.py:62-80 gaussian_filter).
# Null-aware: weights of null neighbors are dropped and the kernel is
# renormalized over what's present (also the boundary behavior — at the
# sequence edge the visible half-kernel is renormalized, the 1-D recast
# of scipy's boundary handling).
# ---------------------------------------------------------------------------

def gaussian_ma_col(value: Column, sigma: float, w: WindowSpec) -> Column:
    """Weighted moving average with Gaussian weights as a bank of
    lag/lead terms — stays in whole-stage codegen.

    For radius r = int(4*sigma + 0.5), emits 2r+1 lag expressions over a
    single window sort.  An expression bank wider than r ~ 64 stops
    being profitable — :func:`gaussian_ma` auto-switches to
    :func:`gaussian_ma_arrow` there.
    """
    weights = gaussian_weights(sigma)
    r = len(weights) // 2
    num = F.lit(0.0)
    den = F.lit(0.0)
    for i, wt in enumerate(weights):
        off = i - r
        v = F.lag(value, -off).over(w) if off != 0 else value
        num = num + F.when(v.isNotNull(), v * F.lit(float(wt))).otherwise(F.lit(0.0))
        den = den + F.when(v.isNotNull(), F.lit(float(wt))).otherwise(F.lit(0.0))
    return F.when(value.isNotNull(), num / den)


# above this kernel radius a lag-expression bank stops being profitable
# (codegen size, per-row expression count) — switch to the Arrow path
GAUSSIAN_EXPR_MAX_RADIUS = 64


def gaussian_ma(
    df: DataFrame,
    sigmas: list[float],
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    prefix: str = "smooth",
) -> DataFrame:
    """Gaussian MA with an automatic physical-path switch: small kernels
    run as a lag-expression bank (whole-stage codegen); kernels wider
    than ``GAUSSIAN_EXPR_MAX_RADIUS`` dispatch to
    :func:`gaussian_ma_arrow` (chunked numpy convolution over Arrow
    batches) — same semantics, parity pinned in tests/test_window.py."""
    _check_seq(df, "gaussian_ma", entity, order, value)
    radii = [len(gaussian_weights(s)) // 2 for s in sigmas]
    if radii and max(radii) > GAUSSIAN_EXPR_MAX_RADIUS:
        return gaussian_ma_arrow(df, sigmas, value, entity, order, prefix)
    w = entity_window(entity, order)
    v = F.col(value)
    cols = [
        gaussian_ma_col(v, s, w).alias(f"{prefix}_{str(s).replace('.', 'p')}")
        for s in sigmas
    ]
    return df.select("*", *cols)


def gaussian_ma_arrow(
    df: DataFrame,
    sigmas: list[float],
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    prefix: str = "smooth",
    chunk_size: int = 65536,
) -> DataFrame:
    """Large-sigma Gaussian MA: chunked halo windows + one numpy
    convolution per (entity, chunk) Arrow batch.

    Identical semantics to the expression bank: null neighbors drop out
    of both numerator and kernel mass (renormalization), sequence edges
    renormalize over the visible half-kernel, and rows whose own value is
    null stay null.  Cost: one row_number window (sort) + one shuffle to
    (entity, chunk) — bounded task size regardless of entity skew, and
    O(n·r) numpy work instead of 2r+1 codegen expressions per row.
    """
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    _check_seq(df, "gaussian_ma_arrow", entity, order, value)
    reserve_cols(df, "gaussian_ma_arrow", "_pos", "_chunk", "is_core")
    banks = {s: np.asarray(gaussian_weights(s), dtype=np.float64) for s in sigmas}
    names = {s: f"{prefix}_{str(s).replace('.', 'p')}" for s in sigmas}
    halo = max(len(w) // 2 for w in banks.values())
    if halo >= chunk_size:
        raise ValueError("kernel radius must be smaller than chunk_size")

    w0 = entity_window(entity, order)
    pos = (F.row_number().over(w0) - F.lit(1)).cast("long")
    d = df.withColumn("_pos", pos)
    chunked = sequence_chunks_with_halo(d, chunk_size, halo, entity, "_pos")

    out_fields = list(df.schema.fields) + [
        StructField(names[s], DoubleType()) for s in sigmas
    ]
    schema = StructType(out_fields)
    in_cols = list(df.columns)

    def run(pdf):
        pdf = pdf.sort_values("_pos")
        v = pdf[value].to_numpy(dtype=np.float64)
        present = ~np.isnan(v)
        vf = np.nan_to_num(v, nan=0.0)
        core = pdf["is_core"].to_numpy(dtype=bool)
        res = pdf.loc[core, in_cols].copy()
        n = len(vf)
        for s, bank in banks.items():
            # full-mode + centered slice: np.convolve(..., "same") returns
            # max(M, N) values, which breaks on chunks shorter than the
            # kernel (tail chunks of short entities)
            r = len(bank) // 2
            num = np.convolve(vf, bank, mode="full")[r : r + n]
            den = np.convolve(present.astype(np.float64), bank, mode="full")[r : r + n]
            sm = np.where(present & (den > 0), num / np.where(den > 0, den, 1.0), np.nan)
            res[names[s]] = sm[core]
        return res

    return chunked.groupBy(entity, "_chunk").applyInPandas(run, schema)


# ---------------------------------------------------------------------------
# W4 — gradient / slope (reference topo.py:597-644): central difference
# with one-sided differences at the partition edges (np.gradient
# semantics), over a possibly-irregular time axis.
# ---------------------------------------------------------------------------

def gradient_cols(
    value: Column, order_num: Column, w: WindowSpec
) -> tuple[Column, Column]:
    """(dv/dt, slope_deg): np.gradient over an irregular axis.

    Interior: (v[i+1] - v[i-1]) / (t[i+1] - t[i-1]); edges fall back to
    one-sided differences via coalesce — exactly np.gradient's edge rule
    (reference topo.py:631-635 uses the same shifts).  Single-row
    entities (np.gradient refuses <2 samples) and duplicate-timestamp
    neighbors have no defined gradient: try_divide yields NULL instead
    of an ANSI DIVIDE_BY_ZERO killing the stage.
    """
    v_next = F.coalesce(F.lead(value).over(w), value)
    v_prev = F.coalesce(F.lag(value).over(w), value)
    t_next = F.coalesce(F.lead(order_num).over(w), order_num)
    t_prev = F.coalesce(F.lag(order_num).over(w), order_num)
    dvdt = F.try_divide(v_next - v_prev, t_next - t_prev)
    slope = F.degrees(F.atan(dvdt))
    return dvdt, slope


def gradient(
    df: DataFrame,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    order_seconds: str | None = None,
) -> DataFrame:
    """Adds ``dvdt`` and ``slope_deg``.  ``order_seconds``: numeric column
    for the axis; defaults to unix seconds of ``order``."""
    _check_seq(df, "gradient", entity, order, value,
               axis="orderable" if order_seconds else "time_axis")
    w = entity_window(entity, order)
    t = F.col(order_seconds) if order_seconds else axis_seconds(df, order)
    dvdt, slope = gradient_cols(F.col(value), t, w)
    return df.select("*", dvdt.alias("dvdt"), slope.alias("slope_deg"))


# ---------------------------------------------------------------------------
# W7 — backfill / forward-fill / nearest fill (reference helpers.py:137-154
# interpolate_na method="nearest", fill_value="extrapolate").
# ---------------------------------------------------------------------------

def fill_cols(
    value: Column, order_num: Column, w: WindowSpec
) -> dict[str, Column]:
    """Returns {ffill, bfill, nearest_fill} columns.

    nearest_fill picks whichever non-null neighbor (previous vs next) is
    closer on the order axis, ties to the previous one; extrapolates at
    the edges (matches the reference's nearest+extrapolate fill).
    """
    past = w.rowsBetween(Window.unboundedPreceding, 0)
    future = w.rowsBetween(0, Window.unboundedFollowing)
    ffill = F.last(value, ignorenulls=True).over(past)
    bfill = F.first(value, ignorenulls=True).over(future)
    t_prev = F.last(
        F.when(value.isNotNull(), order_num), ignorenulls=True
    ).over(past)
    t_next = F.first(
        F.when(value.isNotNull(), order_num), ignorenulls=True
    ).over(future)
    nearest = F.when(
        bfill.isNull() | (t_prev.isNotNull() & ((order_num - t_prev) <= (t_next - order_num))),
        ffill,
    ).otherwise(bfill)
    return {"ffill": ffill, "bfill": bfill, "nearest_fill": nearest}


def backfill(
    df: DataFrame,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    order_seconds: str | None = None,
) -> DataFrame:
    _check_seq(df, "backfill", entity, order, value,
               axis="orderable" if order_seconds else "time_axis")
    w = entity_window(entity, order)
    t = F.col(order_seconds) if order_seconds else axis_seconds(df, order)
    cols = fill_cols(F.col(value), t, w)
    return df.select("*", *[c.alias(n) for n, c in cols.items()])


# ---------------------------------------------------------------------------
# W9 — sessionize: gap > threshold starts a new session; session id is the
# running count of gap flags (north-rule feature; no reference analog).
# ---------------------------------------------------------------------------

def sessionize(
    df: DataFrame,
    gap_seconds: float,
    entity: str = "entity_id",
    order: str = "ts",
    out: str = "session_id",
) -> DataFrame:
    """``session_id`` is 0-based per entity; a row starts a new session
    when it is the entity's first row or its gap to the previous row
    exceeds ``gap_seconds``.  Batch analog of F.session_window."""
    _check_seq(df, "sessionize", entity, order, axis="time_axis")
    w = entity_window(entity, order)
    t = axis_seconds(df, order)
    prev_t = F.lag(t).over(w)
    new_sess = F.when(
        prev_t.isNull() | ((t - prev_t) > F.lit(float(gap_seconds))), F.lit(1)
    ).otherwise(F.lit(0))
    sess = (
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        - F.lit(1)
    )
    return df.select("*", sess.cast("long").alias(out))


# ---------------------------------------------------------------------------
# Exponentially time-decayed features — the classic leak-free
# point-in-time aggregate of feature stores ("decayed activity count"):
# per row, sum over the trailing history of value·0.5^(Δt/half_life).
# No reference analog (north-rule feature family, like sessionize).
# ---------------------------------------------------------------------------

def decayed_features(
    df: DataFrame,
    half_life_seconds: float,
    entity: str = "entity_id",
    order: str = "ts",
    value: str = "value",
    lookback_rows: int = 100,
    tiebreak: str | None = None,
    out_sum: str = "decayed_sum",
    out_count: str = "decayed_count",
) -> DataFrame:
    """Exponentially time-decayed sum and count per entity, strictly
    backward-looking (zero temporal leakage — the frame ends at the
    CURRENT row):

        decayed_sum_t   = Σ_{i ≤ t}  v_i · 0.5^((t_t − t_i)/half_life)
        decayed_count_t = Σ_{i ≤ t}       0.5^((t_t − t_i)/half_life)

    truncated to the trailing ``lookback_rows`` rows — the tail beyond
    that contributes at most 0.5^(Δt/half_life) per row, and bounding
    the frame is what makes the state size O(lookback) per row instead
    of O(history).

    Physical plan: ONE window pass (the engine's canonical
    partitionBy(entity).orderBy sort — shared with every other frame
    feature computed in the same select), a frame-bounded
    ``collect_list(struct(t, v))``, then two JVM-side ``aggregate``
    folds over that array.  No Python, no extra shuffle; per-row memory
    is lookback_rows structs (~16 B each).  At 100 TB this pipelines
    inside the same WindowExec as TPI/std/lag features.

    Determinism: pass ``tiebreak`` (a unique column) whenever ``order``
    can tie — a ROWS frame over tied rows is otherwise
    arrival-order-dependent.  NULL values contribute 0 to the sum and
    are skipped by the count.
    """
    _check_seq(df, "decayed_features", entity, order, value, axis="time_axis")
    reserve_cols(df, "decayed_features", "_dh", "_tnow")
    ob = [F.col(order)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (
        Window.partitionBy(entity)
        .orderBy(*ob)
        .rowsBetween(-(int(lookback_rows) - 1), 0)
    )
    t = axis_seconds(df, order)
    hl = float(half_life_seconds)
    hist = F.collect_list(
        F.struct(t.alias("t"), F.col(value).cast("double").alias("v"))
    ).over(w)
    d = df.withColumn("_dh", hist).withColumn("_tnow", t)
    wsum = F.expr(
        f"aggregate(_dh, 0D, (a, s) -> a +"
        f" coalesce(s.v * pow(0.5D, (_tnow - s.t) / {hl!r}), 0D))"
    )
    wcnt = F.expr(
        f"aggregate(_dh, 0D, (a, s) -> a + (CASE WHEN s.v IS NULL THEN 0D"
        f" ELSE pow(0.5D, (_tnow - s.t) / {hl!r}) END))"
    )
    return (
        d.withColumn(out_sum, wsum)
        .withColumn(out_count, wcnt)
        .drop("_dh", "_tnow")
    )


# ---------------------------------------------------------------------------
# W6 — Sx 1-D: one-sided directional max of elevation angle
# (reference topo.py:775-858).  Each row looks strictly backward over
# offsets r_min..R and takes the max of atan((v[-k] - v - h) / dist(k)) —
# as-of semantics: never reads ahead.
# ---------------------------------------------------------------------------

def sx_1d_col(
    value: Column,
    w: WindowSpec,
    radius_steps: int,
    radius_min_steps: int = 1,
    height: float = 0.0,
    step_meters: float = 1.0,
) -> Column:
    """Bank of backward-lag terms reduced with GREATEST (null-ignoring,
    SQL semantics — the engine's F.max over the candidate set, reference
    topo.py:951 np.nanmax)."""
    terms = []
    for k in range(radius_min_steps, radius_steps + 1):
        dist = float(k) * float(step_meters)
        prev = F.lag(value, k).over(w)
        terms.append(F.degrees(F.atan((prev - value - F.lit(float(height))) / F.lit(dist))))
    if len(terms) == 1:
        return terms[0]
    return F.greatest(*terms)


def sx_1d(
    df: DataFrame,
    radius_steps: int,
    radius_min_steps: int = 1,
    height: float = 0.0,
    step_meters: float = 1.0,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    out: str = "sx",
) -> DataFrame:
    _check_seq(df, "sx_1d", entity, order, value)
    w = entity_window(entity, order)
    c = sx_1d_col(
        F.col(value), w, radius_steps, radius_min_steps, height, step_meters
    )
    return df.select("*", c.alias(out))


# ---------------------------------------------------------------------------
# W11 — multi-scale fan-out: every descriptor at every scale in ONE pass.
# ---------------------------------------------------------------------------

def _feature_bank(
    v: Column, w: WindowSpec, scales_pxl: list[int], sigmas: list[float] | None
) -> list[Column]:
    """TPI + rolling std per scale, then one Gaussian MA per sigma, all
    over ``w`` — the column list both multiscale forms select."""
    cols: list[Column] = []
    for d in scales_pxl:
        k = frame_half_width(d)
        cols.append(tpi_col(v, k, w).alias(f"tpi_{d}"))
        cols.append(rolling_std_col(v, k, w).alias(f"std_{d}"))
    for s in sigmas or []:
        cols.append(gaussian_ma_col(v, s, w).alias(f"smooth_{str(s).replace('.', 'p')}"))
    return cols


def multiscale_features(
    df: DataFrame,
    scales_pxl: list[int],
    sigmas: list[float] | None = None,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
) -> DataFrame:
    """TPI + rolling std (+ optional Gaussian MA) for every scale, one
    WindowExec: all frames share partitionBy(entity).orderBy(order), so
    Spark sorts once and streams every frame over the same sorted run —
    the engine's replacement for the reference's scale loop
    (reference topo.py:53-59, scripts:25-38)."""
    _check_seq(df, "multiscale_features", entity, order, value)
    w = entity_window(entity, order)
    return df.select("*", *_feature_bank(F.col(value), w, scales_pxl, sigmas))


# ---------------------------------------------------------------------------
# W5 (1-D recast) — matched-filter bank: the valley/ridge index as a
# bank of weight vectors correlated with the sequence window; per row,
# the best-scoring filter wins (running max/argmax, reference
# topo.py:441-447).  The 2-D rotated-kernel form lives in tiles.py.
# ---------------------------------------------------------------------------

def matched_filter_bank(
    df: DataFrame,
    filters: dict[str, list[float]],
    value: str = "value",
    entity: str = "entity_id",
    order: str = "ts",
    score_out: str = "mf_score",
    id_out: str = "mf_id",
) -> DataFrame:
    """Correlate each (z-normalized) filter in ``filters`` with the
    sequence neighborhood and keep the best (score, filter id) per row.

    Each filter of length L becomes a lag/lead expression bank over ONE
    shared window sort; the argmax across filters is a fold over structs
    (score DESC, id ASC tie-break) — all JVM-side.
    """
    import numpy as np

    _check_seq(df, "matched_filter_bank", entity, order, value)
    w = entity_window(entity, order)
    v = F.col(value)
    best = None
    for name in sorted(filters):
        weights = np.asarray(filters[name], dtype=np.float64)
        weights = (weights - weights.mean()) / weights.std()
        r = len(weights) // 2
        score = F.lit(0.0)
        for i, wt in enumerate(weights):
            off = i - r
            term = F.lag(v, -off).over(w) if off != 0 else v
            score = score + F.coalesce(term * F.lit(float(wt)), F.lit(0.0))
        cand = F.struct(score.alias("score"), F.lit(name).alias("fid"))
        best = (
            cand
            if best is None
            else F.when(cand["score"] > best["score"], cand).otherwise(best)
        )
    return df.select(
        "*", best["score"].alias(score_out), best["fid"].alias(id_out)
    )


# ---------------------------------------------------------------------------
# Skew handling: chunked bounded-frame windows for hot entities.
# A Window.partitionBy(entity) puts an entity's whole timeline in ONE
# task — fatal for a 10^9-row entity.  For bounded frames over DENSE
# integer positions (token sequences), split each timeline into chunks
# with a halo of the maximum frame reach (the 1-D form of the tile
# engine's halo exchange) and window per (entity, chunk): task size is
# bounded by chunk_size + 2*halo regardless of entity skew, and results
# are identical to the unchunked window (tested).
# ---------------------------------------------------------------------------

def sequence_chunks_with_halo(
    df: DataFrame,
    chunk_size: int,
    halo: int,
    entity: str = "entity_id",
    order: str = "pos",
) -> DataFrame:
    """Adds ``_chunk`` and ``is_core``; halo-band rows are duplicated into
    the neighboring chunk.  ``order`` must be a dense integer position
    (row distance == position distance) for frame equivalence."""
    if halo >= chunk_size:
        raise ValueError("halo must be smaller than chunk_size")
    reserve_cols(df, "sequence_chunks_with_halo", "_chunk", "is_core", "_off")
    c = F.lit(int(chunk_size))
    base = F.floor(F.col(order) / c)
    d = df.withColumn("_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
    d = d.withColumn("_chunk", base + F.col("_off"))
    in_chunk = (F.col(order) >= F.col("_chunk") * c - halo) & (
        F.col(order) < (F.col("_chunk") + 1) * c + halo
    )
    d = d.where(in_chunk & (F.col("_chunk") >= 0))
    return d.withColumn("is_core", F.col("_off") == 0).drop("_off")


def multiscale_features_chunked(
    df: DataFrame,
    scales_pxl: list[int],
    sigmas: list[float] | None = None,
    chunk_size: int = 65536,
    value: str = "value",
    entity: str = "entity_id",
    order: str = "pos",
) -> DataFrame:
    """Skew-proof :func:`multiscale_features`: identical output, but the
    window partition key is (entity, chunk) with halo rows — one hot
    entity spreads over len(timeline)/chunk_size tasks.

    Crossover (4 cores, interleaved reps): on ``w_tpi_chunked`` at sf0.1
    it takes 0.43 s against 0.38 s for the plain window; with one hot
    entity of 3M rows, 6.45 s against 14.30 s (a timing-only run: that
    input's order axis was not dense positions, so its rows were not
    compared).  Use it only when one entity's timeline would pin a task.
    """
    require_cols(df, "multiscale_features_chunked",
                 **{entity: "atomic", order: "numeric", value: "numeric"})
    halo = max(frame_half_width(max(scales_pxl)), 1)
    for s in sigmas or []:
        halo = max(halo, len(gaussian_weights(s)) // 2)
    chunked = sequence_chunks_with_halo(df, chunk_size, halo, entity, order)
    w = Window.partitionBy(entity, "_chunk").orderBy(order)
    out = chunked.select("*", *_feature_bank(F.col(value), w, scales_pxl, sigmas))
    return out.where(F.col("is_core")).drop("_chunk", "is_core")


# ---------------------------------------------------------------------------
# P3 — null-mask reimposition (reference topo.py:57,139,...: descriptors
# are NaN wherever the input was NaN, even after filling).
# ---------------------------------------------------------------------------

def reimpose_nulls(
    df: DataFrame, mask: str, feature_cols: list[str]
) -> DataFrame:
    """NULL out features where the original value was null — the carried
    boolean-mask version of the reference's (row, col) NaN-index replay.

    Public API: the reference's NaN replay, applied after filling."""
    exprs = [
        F.when(F.col(mask), F.lit(None)).otherwise(F.col(c)).alias(c)
        if c in feature_cols
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*exprs)


def cumulative_distinct(
    df: DataFrame,
    value: str,
    entity: str = "entity_id",
    order: str = "ts",
    out: str = "n_distinct",
) -> DataFrame:
    """Running count of DISTINCT values seen per entity up to each row —
    e.g. "how many distinct event types has this user produced so far",
    the classic engagement-breadth feature.

    Frame semantics match SQL's default window frame (RANGE UNBOUNDED
    PRECEDING .. CURRENT ROW): rows that tie on ``order`` are peers and
    see the same running count, so the result is deterministic even
    with duplicate timestamps and replays exactly as DuckDB's
    ``count(DISTINCT v) OVER (PARTITION BY e ORDER BY ts)``.

    Spark's window functions cannot express DISTINCT aggregates, so the
    plan keeps a ``collect_set`` as running state and takes its size —
    per-row state is O(|distinct values per entity|), fine for
    vocabulary-like columns (event types, categories, domains).  For
    high-cardinality values swap in the KMV sketch
    (features.kmv_distinct) instead; this operator is the exact form.
    NULLs are ignored (not a distinct value), matching SQL COUNT.
    """
    _check_seq(df, "cumulative_distinct", entity, order)  # value may be any
    require_cols(df, "cumulative_distinct", **{value: "atomic"})  # atomic type
    w = Window.partitionBy(entity).orderBy(order)
    return df.withColumn(out, F.size(F.collect_set(F.col(value)).over(w)))
