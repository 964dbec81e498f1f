"""Tile-engine parity: the distributed halo-tile path must reproduce the
whole-grid numpy computation exactly (halo sufficiency + boundary
semantics at the global edges), mirroring the reference's map_overlap
guarantee (reference topo.py:177-178)."""

import numpy as np
import pandas as pd
import pytest

from topo_descriptors_spark.functions import kernels as K
from topo_descriptors_spark.operators import tiles as T

NY, NX = 64, 64
TILE = 32  # 2x2 tiles -> interior + border tiles both exercised


@pytest.fixture(scope="module")
def grid():
    yy, xx = np.mgrid[:NY, :NX].astype(np.float64)
    arr = 100 * np.sin(xx / 7.0) * np.cos(yy / 5.0) + 0.01 * xx * yy
    return arr


@pytest.fixture(scope="module")
def grid_df(spark, grid):
    yy, xx = np.mgrid[:NY, :NX]
    pdf = pd.DataFrame(
        {
            "y": yy.ravel().astype(np.int32),
            "x": xx.ravel().astype(np.int32),
            "value": grid.ravel(),
        }
    )
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df


def _to_plane(pdf, col):
    plane = np.full((NY, NX), np.nan)
    plane[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = pdf[col].to_numpy()
    return plane


def test_tile_assignment_counts(grid_df):
    tiled = T.tile_grid_with_halo(grid_df, tile_size=TILE, halo=4)
    n = tiled.count()
    core = tiled.where("is_core").count()
    assert core == NY * NX  # every cell exactly once as core
    assert n > core  # halo duplication happened
    # interior duplication factor stays modest
    assert n < NY * NX * 2


def test_tpi_2d_matches_whole_grid(grid_df, grid):
    for sigma in (None, 1.5):
        out = T.tpi_2d(
            grid_df, (NY, NX), size=9, sigma=sigma, tile_size=TILE
        ).toPandas()
        got = _to_plane(out, "tpi")
        expect = K.tpi_grid(grid, 9, sigma)
        assert np.allclose(got, expect, atol=1e-9), f"sigma={sigma}"


def test_gaussian_2d_matches_whole_grid(grid_df, grid):
    for sigma in (1.0, 2.5):
        out = T.gaussian_2d(grid_df, (NY, NX), sigma=sigma, tile_size=TILE).toPandas()
        got = _to_plane(out, "smooth")
        expect = K.gaussian_filter(grid, sigma)
        assert np.allclose(got, expect, atol=1e-9), f"sigma={sigma}"


def test_valley_ridge_score_round_parity(grid_df, grid):
    """score_round=6 must equal the whole-grid fold with the same rounding."""
    mean, std = grid.mean(), grid.std()
    out = T.valley_ridge_2d(
        grid_df, (NY, NX), size=7, mode="valley", angle_step=45,
        tile_size=TILE, mean=mean, std=std, score_round=6,
    ).toPandas()
    z = (grid - mean) / std
    kernels = K.valley_kernels(7)
    norm = np.full(z.shape, -np.inf)
    direction = np.empty(z.shape)
    for angle in range(0, 180, 45):
        rot = K.rotate_kernels(kernels, float(angle))
        best = None
        for k in rot:
            conv = np.round(K.convolve2d_same(z, k), 6)
            best = conv if best is None else np.maximum(best, conv)
        better = best > norm
        norm[better] = best[better]
        direction[better] = angle
    assert np.allclose(_to_plane(out, "index_norm"), np.clip(norm, 0, None), atol=1e-9)
    assert np.allclose(_to_plane(out, "index_dir"), direction, atol=1e-9)


def test_std_2d_matches_whole_grid(grid_df, grid):
    out = T.std_2d(grid_df, (NY, NX), size=9, tile_size=TILE).toPandas()
    got = _to_plane(out, "std")
    expect = K.std_grid(grid, 9)
    assert np.allclose(got, expect, atol=1e-9)


def test_gradient_2d_matches_whole_grid(grid_df, grid):
    out = T.gradient_2d(
        grid_df, (NY, NX), sigma=2.0, res_x=50.0, res_y=50.0, tile_size=TILE
    ).toPandas()
    dx, dy, slope, aspect = K.gradient_grid(grid, 2.0, 50.0, 50.0)
    assert np.allclose(_to_plane(out, "dx"), dx, atol=1e-9)
    assert np.allclose(_to_plane(out, "dy"), dy, atol=1e-9)
    assert np.allclose(_to_plane(out, "slope"), slope, atol=1e-9)
    assert np.allclose(_to_plane(out, "aspect"), aspect, atol=1e-9)


def test_gradient_2d_sobel_path(grid_df, grid):
    out = T.gradient_2d(grid_df, (NY, NX), sigma=1.0, tile_size=TILE).toPandas()
    dx, dy, slope, aspect = K.gradient_grid(grid, 1.0)
    assert np.allclose(_to_plane(out, "dx"), dx, atol=1e-9)
    assert np.allclose(_to_plane(out, "slope"), slope, atol=1e-9)


def test_valley_ridge_2d_matches_whole_grid(grid_df, grid):
    # global stats of the smoothed dem (reference topo.py:427-429)
    s = K.gaussian_filter(grid, 1.0)
    mean, std = s.mean(), s.std()
    out = T.valley_ridge_2d(
        grid_df, (NY, NX), size=7, mode="valley", sigma=1.0,
        angle_step=30, tile_size=TILE, mean=mean, std=std,
    ).toPandas()
    # whole-grid oracle with the same rotated bank (norm comes clipped)
    norm, direction = K.valley_ridge_grid(grid, 7, sigma=1.0, angle_step=30)
    assert np.allclose(_to_plane(out, "index_norm"), np.clip(norm, 0, None), atol=1e-9)
    assert np.allclose(_to_plane(out, "index_dir"), direction, atol=1e-9)


def test_valley_direction_semantics(spark):
    # synthetic E-W valley (low band along a row) -> direction near 0/180
    yy, xx = np.mgrid[:48, :48].astype(np.float64)
    arr = np.abs(yy - 24) * 10.0  # V-shaped valley running E-W
    pdf = pd.DataFrame(
        {"y": yy.ravel().astype(np.int32), "x": xx.ravel().astype(np.int32),
         "value": arr.ravel()}
    )
    df = spark.createDataFrame(pdf)
    out = T.valley_ridge_2d(
        df, (48, 48), size=9, mode="valley", angle_step=15, tile_size=32,
        mean=arr.mean(), std=arr.std(),
    ).toPandas()
    center = out[(out.y == 24) & (out.x.between(15, 33))]
    # the valley floor scores positive and is oriented E-W (0 deg)
    assert (center["index_norm"] > 0).all()
    assert ((center["index_dir"] % 180) <= 15).all() or (
        (center["index_dir"] % 180) >= 165
    ).all()


@pytest.mark.parametrize("azimuth", [0.0, 30.0])
def test_sx_2d_matches_whole_grid(grid_df, grid, azimuth):
    from topo_descriptors_spark.functions.geometry import sx_distance, sx_offsets

    out = T.sx_2d(
        grid_df, (NY, NX), azimuth=azimuth, radius=300.0, res_x=50.0,
        res_y=50.0, height=10.0, tile_size=TILE,
    ).toPandas()
    got = _to_plane(out, "sx")
    offsets, dists = sx_offsets(azimuth, 300.0, 50.0, 50.0, height=10.0)
    # reference semantics (topo.py:932, 940-941): the untouched zero band
    # is half the DISTANCE window — wider than max|offset| for
    # non-axis-aligned azimuths
    window = int(sx_distance(300.0, 50.0, 50.0).shape[0] / 2)
    assert window >= int(np.abs(offsets).max()) or azimuth == 0.0
    expect = np.nan_to_num(K.sx_grid(grid, offsets, dists, 10.0), nan=0.0)
    expect[:window, :] = 0
    expect[-window:, :] = 0
    expect[:, :window] = 0
    expect[:, -window:] = 0
    assert np.allclose(got, expect, atol=1e-9)


def test_null_reimposition(spark, grid):
    yy, xx = np.mgrid[:NY, :NX]
    vals = grid.copy().ravel()
    nulls = np.zeros(vals.shape, dtype=bool)
    nulls[::97] = True
    pdf = pd.DataFrame(
        {
            "y": yy.ravel().astype(np.int32),
            "x": xx.ravel().astype(np.int32),
            # nulls pre-filled (engine fills before kernels); mask carried
            "value": vals,
            "is_orig_null": nulls,
        }
    )
    df = spark.createDataFrame(pdf)
    out = T.tpi_2d(df, (NY, NX), size=5, tile_size=TILE).toPandas()
    merged = out.merge(pdf[["y", "x", "is_orig_null"]], on=["y", "x"])
    assert merged.loc[merged.is_orig_null, "tpi"].isna().all()
    assert merged.loc[~merged.is_orig_null, "tpi"].notna().all()
