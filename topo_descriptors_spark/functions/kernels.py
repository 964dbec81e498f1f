"""Pure-numpy 2-D kernels — the compute cores of the tile operators.

Re-derivations of the reference's grid descriptors (scipy/numba are not
available in this environment, so every scipy primitive the reference
calls is rebuilt from its definition):

* ``convolve2d_same``       — scipy.signal.convolve(mode="same") (zero
  padding, kernel flipped), with an FFT path for large kernels — the
  strategy switch scipy makes internally (reference topo.py:175).
* ``ndimage_convolve``      — scipy.ndimage.convolve (reflect padding,
  kernel flipped) for the Sobel path (reference topo.py:679-683).
* ``gaussian_filter``       — separable Gaussian, reflect padding,
  radius = int(truncate*sigma + 0.5) (reference topo.py:172, 631-635).
* ``tpi_grid``/``std_grid`` — disk-kernel neighborhood deviation / std
  (reference topo.py:144-181, 272-307).  std accumulates in float64
  instead of replicating the reference's int32 squaring, which overflows
  for |value| > ~46k (topo.py:300) — results match within float32 eps.
* ``gradient_grid``         — smooth + np.gradient + slope/aspect
  (reference topo.py:597-644).
* ``valley_ridge_grid``     — V/U matched-filter bank over 180 rotations
  with running max/argmax (reference topo.py:389-531).  Kernel rotation
  uses bilinear interpolation (order=1) rather than scipy's order-2
  spline — scipy is absent; the rotated kernels are re-normalized and
  masked exactly like the reference (topo.py:521-531), and our pytest
  oracle pins THIS implementation.
* ``sx_grid``               — vectorized Sx: per precomputed line offset
  a shifted difference plane, then a running nanmax — replaces the
  numba per-pixel loop (topo.py:928-953) with whole-array numpy.
"""

from __future__ import annotations

import numpy as np

from topo_descriptors_spark.functions.planner import gaussian_weights

FFT_AREA_THRESHOLD = 225  # kernel cells above which FFT convolution wins


# ---------------------------------------------------------------------------
# padding + convolution primitives
# ---------------------------------------------------------------------------

def _pad(a: np.ndarray, ry: int, rx: int, mode: str) -> np.ndarray:
    if mode == "reflect":  # scipy ndimage default: (d c b a | a b c d | d c b a)
        return np.pad(a, ((ry, ry), (rx, rx)), mode="symmetric")
    return np.pad(a, ((ry, ry), (rx, rx)), mode="constant", constant_values=0.0)


def _correlate2d(a: np.ndarray, k: np.ndarray, mode: str) -> np.ndarray:
    """Direct 'same' correlation via stride tricks (no scipy)."""
    ky, kx = k.shape
    ry, rx = ky // 2, kx // 2
    p = _pad(a.astype(np.float64), ry, rx, mode)
    win = np.lib.stride_tricks.sliding_window_view(p, (ky, kx))
    # even-sized kernels: scipy centers the kernel with the extra row/col
    # hanging low; slicing from 0 keeps 'same' size
    win = win[: a.shape[0], : a.shape[1]]
    return np.einsum("ijkl,kl->ij", win, k.astype(np.float64))


def _fft_convolve_same(a: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Zero-padded 'same' convolution through rfft2."""
    ay, ax = a.shape
    ky, kx = k.shape
    fy, fx = ay + ky - 1, ax + kx - 1
    fa = np.fft.rfft2(a.astype(np.float64), (fy, fx))
    fk = np.fft.rfft2(k.astype(np.float64), (fy, fx))
    full = np.fft.irfft2(fa * fk, (fy, fx))
    sy, sx = (ky - 1) // 2, (kx - 1) // 2
    return full[sy : sy + ay, sx : sx + ax]


def convolve2d_same(a: np.ndarray, k: np.ndarray) -> np.ndarray:
    """signal.convolve(a, k, mode='same'): zero padding, true convolution
    (kernel flipped); picks FFT for large kernels like scipy's auto mode."""
    if k.size > FFT_AREA_THRESHOLD:
        return _fft_convolve_same(a, k)
    return _correlate2d(a, np.flip(k), mode="constant")


def ndimage_convolve(a: np.ndarray, k: np.ndarray) -> np.ndarray:
    """ndimage.convolve: reflect padding, true convolution."""
    return _correlate2d(a, np.flip(k), mode="reflect")


def gaussian_filter(a: np.ndarray, sigma, truncate: float = 4.0) -> np.ndarray:
    """Separable 2-D Gaussian with reflect padding (ndimage default).
    ``sigma`` may be a scalar or (sigma_y, sigma_x)."""
    sy, sx = (sigma, sigma) if np.isscalar(sigma) else sigma
    out = a.astype(np.float64)
    if sy and sy > 0:
        ky = gaussian_weights(sy, truncate)[:, None]
        out = _correlate2d(out, ky, mode="reflect")
    if sx and sx > 0:
        kx = gaussian_weights(sx, truncate)[None, :]
        out = _correlate2d(out, kx, mode="reflect")
    return out


# ---------------------------------------------------------------------------
# descriptor kernels (grid -> feature planes)
# ---------------------------------------------------------------------------

def circular_kernel(size: int) -> np.ndarray:
    """0/1 disk of diameter ``size`` (square for size < 5) — mirrors
    reference topo.py:191-213 including the size<5 square fallback."""
    middle = int(size / 2)
    if size < 5:
        return np.ones((size, size), dtype=np.float32)
    yy, xx = np.mgrid[:size, :size]
    return (((yy - middle) ** 2 + (xx - middle) ** 2) <= middle**2).astype(np.float32)


def tpi_grid(dem: np.ndarray, size: int, sigma: float | None = None) -> np.ndarray:
    kernel = circular_kernel(size)
    kernel[int(size / 2), int(size / 2)] = 0
    if sigma:
        dem = gaussian_filter(dem, sigma)
    conv = convolve2d_same(dem, kernel)
    return dem - conv / np.sum(kernel)


def std_grid(dem: np.ndarray, size: int, sigma: float | None = None) -> np.ndarray:
    kernel = circular_kernel(size)
    ksum = float(np.sum(kernel))
    if sigma:
        dem = gaussian_filter(dem, sigma)
    dem = dem.astype(np.float64)
    sum_dem = convolve2d_same(dem, kernel)
    sum_sq = convolve2d_same(dem**2, kernel)
    var = (sum_sq - sum_dem**2 / ksum) / (ksum - 1)
    return np.sqrt(np.clip(var, 0, None))


def sobel_gradients(dem: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    k = np.array([[1, 0, -1], [2, 0, -2], [1, 0, -1]], dtype=np.float64)
    k /= np.sum(np.abs(k))
    return ndimage_convolve(dem, k), ndimage_convolve(dem, k.T)


def gradient_grid(
    dem: np.ndarray,
    sigma: float,
    res_x: float = 1.0,
    res_y: float = 1.0,
    sig_ratio: float = 1.0,
) -> list[np.ndarray]:
    """[dx, dy, slope_deg, aspect_deg] — reference topo.py:597-644."""
    if sigma <= 1:
        dx, dy = sobel_gradients(dem)
    elif sig_ratio == 1:
        dy, dx = np.gradient(gaussian_filter(dem, sigma))
    else:
        sp = sigma * sig_ratio
        dx = np.gradient(gaussian_filter(dem, (sp, sigma)), axis=1)
        dy = np.gradient(gaussian_filter(dem, (sigma, sp)), axis=0)
    dx = dx / res_x
    dy = dy / res_y
    slope = np.degrees(np.arctan(np.sqrt(dx**2 + dy**2)))
    aspect = (180 + np.degrees(np.arctan2(dx, dy))) % 360
    return [dx, dy, slope, aspect]


# ---------------------------------------------------------------------------
# valley / ridge kernel bank
# ---------------------------------------------------------------------------

def valley_kernels(size: int, flat_list=(0, 0.15, 0.3)) -> np.ndarray:
    """V/U-shaped kernel stack, z-normalized per slice — mirrors reference
    topo.py:466-499 exactly, including the whole-stack renormalization
    inside the flat loop."""
    middle = int(np.floor(size / 2))
    ramp = np.broadcast_to(np.arange(0, middle + 1), (size, middle + 1)).T
    vshape = np.concatenate((np.flip(ramp[1:, :], axis=0), ramp), axis=0)
    kernels = np.broadcast_to(
        vshape.astype(np.float32), (len(flat_list), size, size)
    ).copy()
    for ind, flat in enumerate(flat_list):
        halfwidth = int(np.floor(np.floor(size * flat / 2) + 0.5))
        kernels[ind, middle - halfwidth : middle + halfwidth + 1, :] = kernels[
            ind, middle - halfwidth, 0
        ]
        kernels = (kernels - np.mean(kernels, axis=(1, 2), keepdims=True)) / np.std(
            kernels, axis=(1, 2), keepdims=True
        )
    return kernels


def ridge_kernels(size: int, flat_list=(0, 0.15, 0.3)) -> np.ndarray:
    return valley_kernels(size, flat_list) * -1


def rotate2d_bilinear(a: np.ndarray, angle_deg: float, cval: float) -> np.ndarray:
    """Rotate a 2-D array by ``angle_deg`` (counterclockwise, like
    ndimage.rotate) with reshape=True and bilinear interpolation.

    Out-of-bounds samples get ``cval`` (sentinel for masking).  This is
    the order-1 stand-in for scipy's order-2 spline rotate; the engine's
    oracle pins this implementation (scipy is unavailable here).
    """
    theta = np.deg2rad(angle_deg)
    c, s = np.cos(theta), np.sin(theta)
    ny, nx = a.shape
    # output canvas size for reshape=True
    oy = int(np.ceil(abs(ny * c) + abs(nx * s)))
    ox = int(np.ceil(abs(nx * c) + abs(ny * s)))
    cy_in, cx_in = (ny - 1) / 2.0, (nx - 1) / 2.0
    cy_out, cx_out = (oy - 1) / 2.0, (ox - 1) / 2.0
    yy, xx = np.mgrid[:oy, :ox].astype(np.float64)
    yr = yy - cy_out
    xr = xx - cx_out
    # inverse rotation mapping output -> input
    src_y = c * yr + s * xr + cy_in
    src_x = -s * yr + c * xr + cx_in
    y0 = np.floor(src_y).astype(np.int64)
    x0 = np.floor(src_x).astype(np.int64)
    fy = src_y - y0
    fx = src_x - x0
    out = np.full((oy, ox), float(cval), dtype=np.float64)
    valid = (src_y >= 0) & (src_y <= ny - 1) & (src_x >= 0) & (src_x <= nx - 1)
    y0c = np.clip(y0, 0, ny - 1)
    x0c = np.clip(x0, 0, nx - 1)
    y1c = np.clip(y0 + 1, 0, ny - 1)
    x1c = np.clip(x0 + 1, 0, nx - 1)
    interp = (
        a[y0c, x0c] * (1 - fy) * (1 - fx)
        + a[y0c, x1c] * (1 - fy) * fx
        + a[y1c, x0c] * fy * (1 - fx)
        + a[y1c, x1c] * fy * fx
    )
    out[valid] = interp[valid]
    return out


def rotate_kernels(kernels: np.ndarray, angle: float) -> np.ndarray:
    """Rotate a kernel stack and re-z-normalize over the valid (rotated-in)
    support, masked cells set to 0 — mirrors reference topo.py:521-531."""
    rotated = np.stack(
        [rotate2d_bilinear(k, angle, cval=-9999.0) for k in kernels]
    )
    mask = rotated == -9999.0
    m = np.ma.masked_array(rotated, mask=mask)
    m = (m - m.mean(axis=(1, 2), keepdims=True)) / m.std(axis=(1, 2), keepdims=True)
    return np.ma.filled(m, 0.0).astype(np.float32)


def valley_ridge_grid(
    dem: np.ndarray,
    size: int,
    mode: str = "valley",
    flat_list=(0, 0.15, 0.3),
    sigma: float | None = None,
    angle_step: int = 1,
) -> list[np.ndarray]:
    """[index_norm (clipped >= 0), index_dir (0-179 deg)] — running
    max/argmax over the rotated matched-filter bank (reference
    topo.py:389-453)."""
    if mode not in ("valley", "ridge"):
        raise ValueError(f"Unknown mode {mode!r}")
    if sigma:
        dem = gaussian_filter(dem, sigma)
    dem = (dem - dem.mean()) / dem.std()
    kernels = valley_kernels(size, flat_list) if mode == "valley" else ridge_kernels(
        size, flat_list
    )
    norm = np.full(dem.shape, -np.inf, dtype=np.float64)
    direction = np.empty(dem.shape, dtype=np.float64)
    for angle in range(0, 180, angle_step):
        rot = rotate_kernels(kernels, float(angle))
        best = None
        for k in rot:
            conv = convolve2d_same(dem, k)
            best = conv if best is None else np.maximum(best, conv)
        better = best > norm
        norm[better] = best[better]
        direction[better] = angle
    return [np.clip(norm, 0, None), direction]


# ---------------------------------------------------------------------------
# Sx — vectorized directional max
# ---------------------------------------------------------------------------

def sx_grid(
    dem: np.ndarray,
    offsets: np.ndarray,
    distances: np.ndarray,
    height: float = 10.0,
) -> np.ndarray:
    """Max elevation angle (degrees) from each cell toward the cells at
    ``offsets`` (dy, dx) with ground ``distances``.

    Vectorized: one shifted plane per offset, running nanmax.  Cells
    whose entire candidate fan falls outside the array yield NaN; the
    driver zeroes the global border to mirror the reference's untouched
    border band (topo.py:940-941).
    """
    ny, nx = dem.shape
    out = np.full((ny, nx), np.nan, dtype=np.float64)
    demf = dem.astype(np.float64)
    for (dy, dx), dist in zip(offsets, distances):
        if dist <= 0:
            continue
        # source plane value at (y+dy, x+dx) for each target (y, x)
        ty0, ty1 = max(0, -dy), min(ny, ny - dy)
        tx0, tx1 = max(0, -dx), min(nx, nx - dx)
        if ty0 >= ty1 or tx0 >= tx1:
            continue
        src = demf[ty0 + dy : ty1 + dy, tx0 + dx : tx1 + dx]
        tgt = demf[ty0:ty1, tx0:tx1]
        ang = np.degrees(np.arctan((src - tgt - height) / dist))
        region = out[ty0:ty1, tx0:tx1]
        out[ty0:ty1, tx0:tx1] = np.where(
            np.isnan(region), ang, np.fmax(region, ang)
        )
    return out
