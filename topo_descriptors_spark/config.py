"""Engine configuration.

The reference's two config knobs (reference
config/topo_descriptors.conf:1-5, loaded in __init__.py:15) are the whole
config: values at or below ``min_elevation`` are nulled at load, and
Gaussian smoothing sigma is ``scale_pxl / scale_std``.  Here they are
plain Python — job-level params that flow into Catalyst as literals, not
a config file dependency.  Spark session settings are ``get_spark``
arguments; scan and state partition sizing lives in ``sources.io``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    # Values <= min_elevation are nulled at scan time (reference helpers.py:31).
    min_elevation: float = -100.0
    # Number of standard deviations per unit scale (reference conf:5).
    scale_std: float = 4.0


CFG = EngineConfig()
