"""Engine configuration.

Mirrors the reference's two config knobs (reference
config/topo_descriptors.conf:1-5, loaded in __init__.py:15): values at or
below ``min_elevation`` are nulled at load, and Gaussian smoothing sigma is
``scale_pxl / scale_std``.  Here they are plain Python — job-level params
that flow into Catalyst as literals, not a config file dependency.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    # Values <= min_elevation are nulled at scan time (reference helpers.py:31).
    min_elevation: float = -100.0
    # Number of standard deviations per unit scale (reference conf:5).
    scale_std: float = 4.0
    # Default tile side (rows/positions per tile partition) for 2-D kernels.
    tile_size: int = 256
    # Default salt fan-out for skewed entity buckets.
    default_salt: int = 8
    # Kernel area above which the tile convolution switches to FFT
    # (the reference lets scipy.signal.convolve choose; topo.py:175).
    fft_kernel_area_threshold: int = 225
    # Spark tuning defaults (applied by session.get_spark).
    shuffle_partitions: int = 32
    max_partition_bytes: str = "128m"
    spark_extra: dict = field(default_factory=dict)
    # Scan parallelization (sources/io.read_table): a parquet input whose
    # row-group count is below the cluster's core count cannot feed more
    # scan tasks than it has row groups — every scan-stage expression
    # (tokenize, md5 shingles, hash folds) then runs on a handful of
    # cores while the rest idle (guide §2.5 "input skew: one huge
    # unsplittable file ... repartition immediately after the read").
    # read_table therefore round-robin repartitions such inputs to
    # ``scan_repartition_factor × defaultParallelism`` slices.  All three
    # knobs are scale-adaptive, not tuned to local[32]: at production
    # scale a 100-TB table has orders of magnitude more row groups than
    # cores, the trigger condition (row_groups < cores) is false, and the
    # repartition never fires.  Tiny dims (< scan_repartition_min_bytes)
    # are skipped — a broadcast-sized side is cheaper to read serially
    # than to shuffle.  Set scan_repartition_factor=0 to disable.
    scan_repartition_factor: int = 3
    scan_repartition_min_bytes: int = 262_144
    # Row floor per produced slice: the slice count is capped at
    # n_rows / this, and the repartition is skipped entirely below
    # scan_repartition_min_slices slices.  Without the floor a small
    # table (sf0.1 embeddings: 2,000 rows) is shredded into
    # factor x cores ~20-row slivers whose per-task Python/Arrow
    # overhead swamps the fan-out (measured r9: blocked cosine 0.61 s
    # -> 1.81 s, ANN 0.51 -> 1.13 s at sf0.1).  At scale the cap is a
    # no-op: 50k docs / 512 = 97 slices, already above factor x 32.
    scan_repartition_min_rows_per_slice: int = 512
    scan_repartition_min_slices: int = 4
    # Auto mode also requires this many compressed bytes/row: thin-row
    # fact tables decode fast and almost always flow straight into a
    # hash exchange, making a prior round-robin exchange pure cost;
    # wide (text/embedding) rows carry the expression work that wants
    # fan-out.  A thin-row opt-in (per-row md5 of a thin key) measured
    # slower at every scale in the r9 A/B, so there is none.
    scan_repartition_min_row_bytes: int = 64


CFG = EngineConfig()
