"""Output-column naming conventions — parity with the reference's
per-descriptor array names so downstream consumers of the reference can
find the same feature names here (reference topo.py:83-85, 184-188,
310-314, 456-463, 647-655, 956-960; uppercased at write time by
helpers.py:55).
"""

from __future__ import annotations


def _smth(smth_factor) -> str:
    return f"_SMTHFACT{smth_factor:.3g}" if smth_factor else ""


def dem_name(scale_m) -> str:
    """Public API: the reference's smoothed-DEM output name."""
    return f"DEM_{scale_m}M"


def tpi_name(scale_m, smth_factor=None) -> str:
    """Public API: the reference's TPI output name."""
    return f"TPI_{scale_m}M{_smth(smth_factor)}"


def std_name(scale_m, smth_factor=None) -> str:
    """Public API: the reference's STD output name."""
    return f"STD_{scale_m}M{_smth(smth_factor)}"


def valley_ridge_names(scale_m, mode: str, smth_factor=None) -> list[str]:
    """Public API: the reference's valley/ridge output names."""
    add = _smth(smth_factor)
    return [f"{mode}_NORM_{scale_m}M{add}", f"{mode}_DIR_{scale_m}M{add}"]


def gradient_names(scale_m, sig_ratio=1) -> list[str]:
    """Public API: the reference's gradient output names."""
    tail = f"{scale_m}M_SIGRATIO{sig_ratio:.3g}"
    return [
        f"WE_DERIVATIVE_{tail}",
        f"SN_DERIVATIVE_{tail}",
        f"SLOPE_{tail}",
        f"ASPECT_{tail}",
    ]


def sx_name(radius_m, azimuth_deg) -> str:
    """Public API: the reference's Sx output name."""
    return f"SX_RADIUS{int(radius_m)}_AZIMUTH{int(azimuth_deg)}"
