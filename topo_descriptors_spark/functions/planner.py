"""Scale/frame planners — meters→pixels→window-frame bounds.

Re-derivations (not ports) of the reference's driver-side planning math:
``round_up_to_odd`` (reference helpers.py:108-111), ``scale_to_pixel``
(helpers.py:68-105) and ``get_sigmas`` (helpers.py:114-134).  In the
engine these produce the ``rowsBetween(-k, k)`` frame half-widths and
Gaussian sigmas consumed by :mod:`topo_descriptors_spark.operators.window`.

Golden-value parity with the reference's own pytest suite is pinned in
``tests/test_planner.py`` (reference test/test_helpers.py:6-11).
"""

from __future__ import annotations

import numpy as np

from topo_descriptors_spark.config import CFG


def round_up_to_odd(f) -> np.ndarray:
    """Nearest odd integer(s) for float input, as int64.

    Semantics pinned by reference test/test_helpers.py:6-11: uses
    banker's rounding on (f-1)/2 — e.g. 2.2 -> 3, 0.8 -> 1, 4.4 -> 5.
    """
    half = np.round((np.asarray(f, dtype=np.float64) - 1.0) / 2.0)
    return (half * 2 + 1).astype(np.int64)


def grid_resolution(coords: np.ndarray) -> np.ndarray:
    """Per-point resolution of a monotone coordinate vector.

    Equivalent of ``np.gradient`` over the coordinate axis (reference
    helpers.py:100-101): central differences in the interior, one-sided
    at the edges.  Works on 1-D vectors.
    """
    c = np.asarray(coords, dtype=np.float64)
    if c.size < 2:
        return np.zeros_like(c)
    res = np.empty_like(c)
    res[1:-1] = (c[2:] - c[:-2]) / 2.0
    res[0] = c[1] - c[0]
    res[-1] = c[-1] - c[-2]
    return res


def frame_half_width(scale_pxl: int) -> int:
    """Odd pixel diameter → symmetric frame half-width k for rowsBetween(-k, k)."""
    return int(scale_pxl) // 2


def get_sigmas(smth_factors, scales_pxl) -> list[float | None]:
    """Smoothing factors × scales → Gaussian sigmas (None/0 factor → None).

    sigma = factor * scale_pxl / CFG.scale_std (reference helpers.py:114-134,
    conf:5 — scale_std = 4).
    """
    out: list[float | None] = []
    for fact, scale in zip(smth_factors, scales_pxl):
        if fact is None or fact == 0:
            out.append(None)
        else:
            out.append(float(fact) * float(scale) / CFG.scale_std)
    return out


def utm_from_latlon(lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """WGS84 lat/lon (degrees) -> UTM easting/northing (meters).

    Pure-numpy transverse-Mercator series (standard public UTM formulas,
    WGS84 ellipsoid, k0=0.9996) — the stand-in for the ``utm`` package
    the reference calls for geographic grids (reference helpers.py:89-96);
    accuracy is millimetric within a zone, ample for resolution
    estimation.  Zone per point from longitude (no polar special cases).
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    K0, R = 0.9996, 6378137.0
    E = 0.00669438
    E2, E3 = E * E, E * E * E
    E_P2 = E / (1 - E)
    M1 = 1 - E / 4 - 3 * E2 / 64 - 5 * E3 / 256
    M2 = 3 * E / 8 + 3 * E2 / 32 + 45 * E3 / 1024
    M3 = 15 * E2 / 256 + 45 * E3 / 1024
    M4 = 35 * E3 / 3072

    lat_r = np.radians(lat)
    zone = np.floor((lon + 180.0) / 6.0) + 1
    central = np.radians((zone - 1) * 6 - 180 + 3)
    lon_r = np.radians(lon)

    sin_l, cos_l, tan_l = np.sin(lat_r), np.cos(lat_r), np.tan(lat_r)
    n = R / np.sqrt(1 - E * sin_l**2)
    c = E_P2 * cos_l**2
    t = tan_l**2
    a = cos_l * (lon_r - central)
    m = R * (
        M1 * lat_r
        - M2 * np.sin(2 * lat_r)
        + M3 * np.sin(4 * lat_r)
        - M4 * np.sin(6 * lat_r)
    )
    easting = (
        K0
        * n
        * (
            a
            + (1 - t + c) * a**3 / 6
            + (5 - 18 * t + t**2 + 72 * c - 58 * E_P2) * a**5 / 120
        )
        + 500000.0
    )
    northing = K0 * (
        m
        + n
        * tan_l
        * (
            a**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * a**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * E_P2) * a**6 / 720
        )
    )
    northing = np.where(lat < 0, northing + 10000000.0, northing)
    return easting, northing


def scale_to_pixel(
    scales_m, x_coords: np.ndarray, y_coords: np.ndarray, crs: str = "epsg:21781"
) -> tuple[list[int], dict[str, np.ndarray]]:
    """meters -> odd pixel diameters from grid coordinate vectors.

    Mirrors reference helpers.py:68-105: WGS84 ('epsg:4326' in crs) grids
    are reprojected to UTM first; resolution = mean |gradient| of the
    coordinate fields; returns (odd pixel diameters, per-point resolution
    arrays {"x", "y"}).
    """
    x = np.asarray(x_coords, dtype=np.float64)
    y = np.asarray(y_coords, dtype=np.float64)
    if "epsg:4326" in crs.lower():
        xx, yy = np.meshgrid(x, y)
        xx, yy = utm_from_latlon(yy, xx)
        x_res = np.gradient(xx.astype(np.float32), axis=1)
        y_res = np.gradient(yy.astype(np.float32), axis=0)
    else:
        x_res = grid_resolution(x)
        y_res = grid_resolution(y)
    mean_res = np.mean(np.abs([x_res.mean(), y_res.mean()]))
    scales_pxl = round_up_to_odd(np.asarray(scales_m, dtype=np.float64) / mean_res)
    return [int(s) for s in np.atleast_1d(scales_pxl)], {"x": x_res, "y": y_res}


def gaussian_weights(sigma: float, truncate: float = 4.0) -> np.ndarray:
    """Normalized 1-D Gaussian weights, radius = int(truncate*sigma + 0.5).

    Pure-numpy equivalent of the scipy gaussian_filter1d kernel (order 0)
    that the reference smooths with (reference topo.py:631-635); scipy is
    not available in this environment so the kernel is rebuilt from the
    definition.  Returned array has length 2*radius+1 and sums to 1.
    """
    radius = int(truncate * float(sigma) + 0.5)
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    w = np.exp(-0.5 * (x / float(sigma)) ** 2)
    return w / w.sum()
