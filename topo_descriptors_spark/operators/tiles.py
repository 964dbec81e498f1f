"""2-D tile engine: halo-padded grid kernels over ``applyInPandas``.

This is the engine's custom physical operator — the distributed recast
of the reference's ``dask map_overlap`` path (reference topo.py:177-178,
``depth=size*2, boundary="none"``):

1. every grid row is duplicated into each neighboring tile whose halo
   band contains it (an ``explode`` over at most 9 tile offsets — O(halo/
   tile_size) duplication, ~13% for 256-tiles with halo 16);
2. one shuffle groups rows by ``(tile_y, tile_x)`` — bounded-size
   partitions regardless of grid shape or skew;
3. an Arrow-batched pandas kernel assembles the dense (T+2h)² array,
   runs whole-array numpy (functions/kernels.py), and emits features for
   CORE cells only (halo rows are context, never output);
4. original-null cells are re-imposed as NULL right in the kernel
   (the reference's NaN-index replay, topo.py:57).

Boundary exactness: the reference mixes paddings — Gaussian smoothing
reflects at the global domain edge (ndimage default) while
``signal.convolve`` zero-pads, and Sx leaves a zero border band
(topo.py:940-941).  Each kernel therefore receives the LOCAL bounds of
the valid domain inside its tile array and reproduces the right padding
(reflect-fill or zero-fill) before computing, so a tile at the global
border produces bit-identical results to the whole-grid computation —
verified in tests/test_tiles.py.

Null handling mirrors the reference pipeline (scripts:19): fill nulls
BEFORE the kernel (:func:`operators.window.backfill` on the long table —
the distributed equivalent of helpers.py:137-154), carry
``is_orig_null``, and the kernel re-imposes.

No per-row Python anywhere: the only Python is one vectorized numpy
call per tile over an Arrow batch.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from topo_descriptors_spark.functions import kernels as K
from topo_descriptors_spark.functions.geometry import sx_distance, sx_offsets
from topo_descriptors_spark.functions.planner import gaussian_weights
from topo_descriptors_spark.functions.validate import require_cols

# kernel(dense_array, (ly0, ly1, lx0, lx1), (origin_y, origin_x)) ->
# {name: feature_plane}; bounds = the tile array's intersection with the
# domain (local indices), origin = global coordinate of local cell (0, 0).
GridKernel = Callable[
    [np.ndarray, tuple[int, int, int, int], tuple[int, int]], dict[str, np.ndarray]
]


def zero_outside(a: np.ndarray, b: tuple[int, int, int, int]) -> np.ndarray:
    """Zero padding semantics: outside-domain cells (and any interior NaN)
    become 0 — matches signal.convolve's zero-extension."""
    y0, y1, x0, x1 = b
    out = np.zeros_like(a)
    out[y0:y1, x0:x1] = np.nan_to_num(a[y0:y1, x0:x1], nan=0.0)
    return out


def reflect_outside(a: np.ndarray, b: tuple[int, int, int, int]) -> np.ndarray:
    """Reflect padding semantics: mirror the valid domain region outward —
    matches ndimage's 'reflect' at the global domain edge."""
    y0, y1, x0, x1 = b
    region = a[y0:y1, x0:x1]
    return np.pad(
        region, ((y0, a.shape[0] - y1), (x0, a.shape[1] - x1)), mode="symmetric"
    )


def tile_grid_with_halo(
    df: DataFrame,
    tile_size: int = 256,
    halo: int = 16,
    y: str = "y",
    x: str = "x",
) -> DataFrame:
    """Assign rows to tiles, duplicating halo-band rows into neighbors.

    Adds ``tile_y, tile_x, is_core``.  A row is shipped to neighbor tile
    (ty+dy, tx+dx) iff it falls inside that tile's halo-extended extent —
    the explicit materialization of dask's halo exchange.
    """
    if halo >= tile_size:
        raise ValueError("halo must be smaller than tile_size")
    t = F.lit(tile_size)
    ty = F.floor(F.col(y) / t)
    tx = F.floor(F.col(x) / t)
    offsets = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    d = df.withColumn("_o", F.explode(offsets))
    d = d.withColumn("tile_y", ty + F.col("_o.dy")).withColumn(
        "tile_x", tx + F.col("_o.dx")
    )
    in_y = (F.col(y) >= F.col("tile_y") * t - halo) & (
        F.col(y) < (F.col("tile_y") + 1) * t + halo
    )
    in_x = (F.col(x) >= F.col("tile_x") * t - halo) & (
        F.col(x) < (F.col("tile_x") + 1) * t + halo
    )
    d = d.where(in_y & in_x & (F.col("tile_y") >= 0) & (F.col("tile_x") >= 0))
    return d.withColumn(
        "is_core", (F.col("_o.dy") == 0) & (F.col("_o.dx") == 0)
    ).drop("_o")


def apply_grid_kernel(
    df: DataFrame,
    kernel: GridKernel,
    out_cols: list[str],
    grid_shape: tuple[int, int],
    tile_size: int = 256,
    halo: int = 16,
    y: str = "y",
    x: str = "x",
    value: str = "value",
    null_mask: str | None = "is_orig_null",
) -> DataFrame:
    """Run a whole-array numpy kernel per halo-padded tile.

    ``grid_shape`` is the global (ny, nx) domain extent — needed so
    border tiles can reproduce the reference's global-edge padding.
    Output: one row per core input cell with (y, x, *out_cols); cells
    null in the original input yield NULL features.
    """
    require_cols(df, "apply_grid_kernel",
                 **{y: "numeric", x: "numeric", value: "numeric"})
    ny_g, nx_g = grid_shape
    has_mask = null_mask is not None and null_mask in df.columns
    cols = [y, x, value] + ([null_mask] if has_mask else [])
    tiled = tile_grid_with_halo(df.select(*cols), tile_size, halo, y, x)

    schema = StructType(
        [StructField(y, IntegerType()), StructField(x, IntegerType())]
        + [StructField(c, DoubleType()) for c in out_cols]
    )
    n = tile_size + 2 * halo

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ty, tx = int(key[0]), int(key[1])
        y0 = ty * tile_size - halo
        x0 = tx * tile_size - halo
        arr = np.full((n, n), np.nan, dtype=np.float64)
        yy = pdf[y].to_numpy(dtype=np.int64) - y0
        xx = pdf[x].to_numpy(dtype=np.int64) - x0
        arr[yy, xx] = pdf[value].to_numpy(dtype=np.float64)
        # local rectangle of the tile array that lies inside the domain
        bounds = (
            max(0, -y0),
            min(n, ny_g - y0),
            max(0, -x0),
            min(n, nx_g - x0),
        )
        feats = kernel(arr, bounds, (y0, x0))
        core = pdf[pdf["is_core"]]
        if len(core) == 0:
            return pd.DataFrame(
                {c: pd.Series(dtype="float64") for c in [y, x, *out_cols]}
            )
        cy = core[y].to_numpy(dtype=np.int64) - y0
        cx = core[x].to_numpy(dtype=np.int64) - x0
        out = {y: core[y].to_numpy(), x: core[x].to_numpy()}
        orig_null = (
            core[null_mask].to_numpy(dtype=bool)
            if has_mask
            else np.zeros(len(core), dtype=bool)
        )
        for c in out_cols:
            plane = feats[c][cy, cx].astype(np.float64)
            out[c] = np.where(orig_null, np.nan, plane)
        return pd.DataFrame(out)

    return tiled.groupBy("tile_y", "tile_x").applyInPandas(run, schema)


# ---------------------------------------------------------------------------
# descriptor front-ends (driver-side planning -> closure-shipped constants)
# ---------------------------------------------------------------------------

def _halo_for(size: int = 0, sigma: float | None = None, extra: int = 0) -> int:
    h = int(size) + extra
    if sigma:
        h += len(gaussian_weights(sigma)) // 2
    return max(h, 1)


def _smooth(a, bounds, sigma):
    """Reference smoothing semantics: reflect at the global edge."""
    return K.gaussian_filter(reflect_outside(a, bounds), sigma) if sigma else a


def gaussian_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    sigma: float,
    tile_size: int = 256,
    out_col: str = "smooth",
    **kw,
) -> DataFrame:
    """2-D Gaussian smoothing (W1): separable kernel, reflect padding at
    the GLOBAL domain edge (ndimage default — reference topo.py:172,
    631-635).  Interior tiles see real halo data, so only border tiles
    reflect — bit-identical to the whole-grid computation."""
    halo = _halo_for(0, sigma)

    def kern(a, b, _o):
        return {out_col: K.gaussian_filter(reflect_outside(a, b), sigma)}

    return apply_grid_kernel(df, kern, [out_col], grid_shape, tile_size, halo, **kw)


def tpi_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    size: int,
    sigma: float | None = None,
    tile_size: int = 256,
    **kw,
) -> DataFrame:
    halo = _halo_for(size, sigma)
    kernel = K.circular_kernel(size)
    kernel[int(size / 2), int(size / 2)] = 0
    ksum = float(np.sum(kernel))

    def kern(a, b, _o):
        s = _smooth(a, b, sigma)
        conv = K.convolve2d_same(zero_outside(s, b), kernel)
        return {"tpi": s - conv / ksum}

    return apply_grid_kernel(df, kern, ["tpi"], grid_shape, tile_size, halo, **kw)


def std_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    size: int,
    sigma: float | None = None,
    tile_size: int = 256,
    **kw,
) -> DataFrame:
    halo = _halo_for(size, sigma)
    kernel = K.circular_kernel(size)
    ksum = float(np.sum(kernel))

    def kern(a, b, _o):
        s = zero_outside(_smooth(a, b, sigma), b)
        sum_dem = K.convolve2d_same(s, kernel)
        sum_sq = K.convolve2d_same(s**2, kernel)
        var = (sum_sq - sum_dem**2 / ksum) / (ksum - 1)
        return {"std": np.sqrt(np.clip(var, 0, None))}

    return apply_grid_kernel(df, kern, ["std"], grid_shape, tile_size, halo, **kw)


def gradient_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    sigma: float,
    res_x: float = 1.0,
    res_y: float = 1.0,
    sig_ratio: float = 1.0,
    tile_size: int = 256,
    **kw,
) -> DataFrame:
    halo = _halo_for(4, sigma * max(1.0, sig_ratio) if sigma else None, extra=2)
    ny_g, nx_g = grid_shape

    def kern(a, b, origin):
        r = reflect_outside(a, b)
        if sigma <= 1:
            dx, dy = K.sobel_gradients(r)
        elif sig_ratio == 1:
            dy, dx = np.gradient(K.gaussian_filter(r, sigma))
        else:
            sp = sigma * sig_ratio
            dx = np.gradient(K.gaussian_filter(r, (sp, sigma)), axis=1)
            dy = np.gradient(K.gaussian_filter(r, (sigma, sp)), axis=0)
        if sigma > 1:
            # np.gradient is ONE-SIDED at the global array edge; on the
            # reflected array the central difference there computes exactly
            # half of it (f(-1) == f(0)) — double the global-border rows/cols
            oy, ox = origin
            rows_g = np.arange(a.shape[0]) + oy
            cols_g = np.arange(a.shape[1]) + ox
            dy[(rows_g == 0) | (rows_g == ny_g - 1), :] *= 2.0
            dx[:, (cols_g == 0) | (cols_g == nx_g - 1)] *= 2.0
        dx = dx / res_x
        dy = dy / res_y
        slope = np.degrees(np.arctan(np.sqrt(dx**2 + dy**2)))
        aspect = (180 + np.degrees(np.arctan2(dx, dy))) % 360
        return {"dx": dx, "dy": dy, "slope": slope, "aspect": aspect}

    return apply_grid_kernel(
        df, kern, ["dx", "dy", "slope", "aspect"], grid_shape, tile_size, halo, **kw
    )


def valley_ridge_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    size: int,
    mode: str = "valley",
    flat_list=(0, 0.15, 0.3),
    sigma: float | None = None,
    angle_step: int = 15,
    tile_size: int = 256,
    mean: float = 0.0,
    std: float = 1.0,
    score_round: int | None = None,
    **kw,
) -> DataFrame:
    """Valley/ridge index per tile.

    The reference z-normalizes with the GLOBAL dem mean/std after
    smoothing (topo.py:426-429): ``mean``/``std`` must be the statistics
    of the SMOOTHED grid when ``sigma`` is set (of the raw grid
    otherwise) so every tile normalizes identically — compute them with
    ``df.agg(avg, stddev_pop)`` over the sigma-smoothed values (e.g. a
    prior :func:`gaussian_2d` pass), exactly as tests/test_tiles.py does.
    The rotated-canvas reach sets the halo.

    ``score_round`` rounds every convolution score to that many decimals
    BEFORE the max/argmax fold, making the angle argmax reproducible
    across engines (ties resolve to the earliest angle on both sides) —
    used by the driver-gate oracle.
    """
    halo = _halo_for(int(math.ceil(size * math.sqrt(2) / 2)) + 1, sigma)
    kernels = (
        K.valley_kernels(size, flat_list)
        if mode == "valley"
        else K.ridge_kernels(size, flat_list)
    )
    rotated = [
        K.rotate_kernels(kernels, float(angle)) for angle in range(0, 180, angle_step)
    ]
    angles = list(range(0, 180, angle_step))

    def kern(a, b, _o):
        s = _smooth(a, b, sigma)
        z = (s - mean) / std
        z = zero_outside(z, b)
        norm = np.full(z.shape, -np.inf, dtype=np.float64)
        direction = np.empty(z.shape, dtype=np.float64)
        for angle, rot in zip(angles, rotated):
            best = None
            for k in rot:
                conv = K.convolve2d_same(z, k)
                if score_round is not None:
                    conv = np.round(conv, score_round)
                best = conv if best is None else np.maximum(best, conv)
            better = best > norm
            norm[better] = best[better]
            direction[better] = angle
        return {"index_norm": np.clip(norm, 0, None), "index_dir": direction}

    return apply_grid_kernel(
        df, kern, ["index_norm", "index_dir"], grid_shape, tile_size, halo, **kw
    )


def sx_2d(
    df: DataFrame,
    grid_shape: tuple[int, int],
    azimuth: float,
    radius: float,
    res_x: float = 1.0,
    res_y: float = 1.0,
    height: float = 10.0,
    azimuth_arc: float = 10.0,
    azimuth_steps: int = 15,
    radius_min: float = 0.0,
    tile_size: int = 256,
    **kw,
) -> DataFrame:
    """Sx wind shelter per tile: the Bresenham offset fan is planned once
    on the driver (functions/geometry.py, reference topo.py:832-853) and
    shipped in the kernel closure — the broadcast-join pattern.  The
    reference's untouched zero border band (topo.py:940-941) is
    reproduced from the global bounds."""
    offsets, dists = sx_offsets(
        azimuth, radius, res_x, res_y, height, azimuth_arc, azimuth_steps, radius_min
    )
    # untouched border band width = half the reference's distance window
    # (topo.py:932, 940-941) — for non-axis-aligned azimuths this is
    # WIDER than max|offset|, so deriving it from the offsets would
    # compute values where the reference outputs 0
    window = int(sx_distance(radius, res_x, res_y).shape[0] / 2)
    halo = max(int(np.abs(offsets).max()) if len(offsets) else 1, 1)
    ny_g, nx_g = grid_shape

    def kern(a, b, origin):
        oy, ox = origin
        sx = K.sx_grid(a, offsets, dists, height)
        sx = np.nan_to_num(sx, nan=0.0)
        # zero the global border band of width `window`
        # (global coordinate of local row i is oy + i)
        rows_g = np.arange(a.shape[0]) + oy
        cols_g = np.arange(a.shape[1]) + ox
        border_y = (rows_g < window) | (rows_g >= ny_g - window)
        border_x = (cols_g < window) | (cols_g >= nx_g - window)
        sx[border_y, :] = 0.0
        sx[:, border_x] = 0.0
        return {"sx": sx}

    return apply_grid_kernel(df, kern, ["sx"], grid_shape, tile_size, halo, **kw)
