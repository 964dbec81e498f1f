"""Table IO — parquet now, Iceberg-ready interface.

The engine's scan/sink layer (SURVEY.md §2.1).  In this sandbox there is
no Iceberg catalog, so tables are parquet directories behind the same
narrow interface the Iceberg implementation would use (`read_table` /
`write_table` with a `format` switch); swapping the format string and a
catalog config is the only change needed on a real cluster.

Scan-side rules encoded here:

* the min-elevation floor filter is applied AT SCAN TIME so Catalyst
  pushes it into the parquet reader (reference helpers.py:31, conf:2);
* cropping for windowed computation must keep halo context: filter to
  crop ∪ halo before computing, exact-crop after (the reference computes
  on the full domain and crops at write — helpers.py:59, topo.py:138-140;
  pruning to the crop alone silently changes boundary results);
* partition sizing — the scan fan-out (``read_table``) and the state
  partitions of stateful streaming drains (``state_partitions_for``) —
  follows the table's own footer stats from the memoized
  ``_parquet_meta``, not a settings object.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from topo_descriptors_spark.config import CFG

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# metadata memo for the scan-parallelization decision: (total bytes,
# row groups, rows) per (parquet path, path mtime_ns) — a rewrite at the
# same path changes the mtime and misses the memo.  Footer metadata only
# — never row data — so this is a planning cache, not a result cache.
_SCAN_META: dict[tuple[str, int], tuple[int, int, int]] = {}


def _parquet_meta(path: str, big_cutoff: int) -> tuple[int, int, int]:
    """(total_bytes, total_row_groups, total_rows) of a parquet file or
    directory.

    Inputs larger than ``big_cutoff`` bytes short-circuit with a
    sentinel row-group count of 10**9 WITHOUT reading any footer: a
    big input either already has enough splits or is far too heavy to
    round-robin, and walking thousands of footers is driver-side work
    the decision does not need (guide §5: the driver should do almost
    no data work)."""
    import os

    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        return (0, 0, 0)  # not a local path: no footer stats
    if key in _SCAN_META:
        return _SCAN_META[key]
    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            files += [os.path.join(root, f) for f in names
                      if f.endswith(".parquet")]
    elif os.path.isfile(path):
        files = [path]
    total = sum(os.path.getsize(f) for f in files)
    if total > big_cutoff:
        _SCAN_META[key] = (total, 10**9, 0)
        return _SCAN_META[key]
    n_rg = 0
    n_rows = 0
    try:
        import pyarrow.parquet as pq

        for f in files:
            md = pq.ParquetFile(f).metadata
            n_rg += md.num_row_groups
            n_rows += md.num_rows
    except Exception:
        # no pyarrow / unreadable footer: assume one split per file
        n_rg = len(files)
    _SCAN_META[key] = (total, max(n_rg, 1) if files else 0, n_rows)
    return _SCAN_META[key]


# Scan parallelization (read_table): a parquet input whose row-group
# count is below the cluster's core count cannot feed more scan tasks
# than it has row groups — every scan-stage expression (tokenize, md5
# shingles, hash folds) then runs on a handful of cores while the rest
# idle (guide §2.5 "input skew: one huge unsplittable file ...
# repartition immediately after the read").  read_table therefore
# round-robin repartitions such inputs to ``SCAN_REPARTITION_FACTOR ×
# defaultParallelism`` slices.  All three gates are scale-adaptive, not
# tuned to local[32]: at production scale a 100-TB table has orders of
# magnitude more row groups than cores, the trigger condition
# (row_groups < cores) is false, and the repartition never fires.  Tiny
# dims (< SCAN_REPARTITION_MIN_BYTES) are skipped — a broadcast-sized
# side is cheaper to read serially than to shuffle.
# ``read_table(parallelize=False)`` disables it.
SCAN_REPARTITION_FACTOR = 3
SCAN_REPARTITION_MIN_BYTES = 262_144
# Row floor per produced slice: the slice count is capped at
# n_rows / this, and the repartition is skipped entirely below
# SCAN_REPARTITION_MIN_SLICES slices.  Without the floor a small table
# (sf0.1 embeddings: 2,000 rows) is shredded into factor x cores
# ~20-row slivers whose per-task Python/Arrow overhead swamps the
# fan-out (measured r9: blocked cosine 0.61 s -> 1.81 s, ANN 0.51 ->
# 1.13 s at sf0.1).  At scale the cap is a no-op: 50k docs / 512 = 97
# slices, already above factor x 32.
SCAN_REPARTITION_MIN_ROWS_PER_SLICE = 512
SCAN_REPARTITION_MIN_SLICES = 4
# Auto mode also requires this many compressed bytes/row: thin-row fact
# tables decode fast and almost always flow straight into a hash
# exchange, making a prior round-robin exchange pure cost; wide
# (text/embedding) rows carry the expression work that wants fan-out.
# A thin-row opt-in (per-row md5 of a thin key) measured slower at
# every scale in the r9 A/B, so there is none.
SCAN_REPARTITION_MIN_ROW_BYTES = 64
# spark.sql.files.maxPartitionBytes (applied by session.get_spark); an
# input above cores x this skips the footer reads (see _parquet_meta).
MAX_PARTITION_BYTES = 128 * 2**20


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fmt: str = "parquet",
    parallelize: bool | None = None,
) -> DataFrame:
    """Scan a table, parallelizing row-group-starved parquet inputs.

    A parquet split only reads row groups whose midpoint falls inside
    it, so a file with R row groups feeds at most R non-empty scan
    tasks no matter what ``maxPartitionBytes`` says.  When R is below
    the core count, every scan-stage expression (tokenize, md5
    shingles, array folds) serializes on R cores — the guide §2.5
    "unsplittable input" case — so such inputs are round-robin
    repartitioned to ``SCAN_REPARTITION_FACTOR x defaultParallelism``
    slices right after the read.  The shuffle moves the raw payload
    once (bounded: the trigger requires the input to be smaller than
    cores x maxPartitionBytes-ish); filters still push down to the scan
    (Catalyst pushes predicates through round-robin Repartition).  At
    production scale row groups far outnumber cores and this is a
    no-op; tiny broadcast-sized dims (< SCAN_REPARTITION_MIN_BYTES) are
    also left alone.

    ``parallelize``: ``None`` (auto) additionally requires wide rows
    (>= SCAN_REPARTITION_MIN_ROW_BYTES compressed bytes/row) —
    thin-row tables (numeric event/fact rows) decode fast and usually
    flow straight into a hash exchange (window/as-of/groupBy), where a
    prior round-robin exchange is pure cost (measured r9: events-window
    queries +0.3-1.5 s each, text/embedding queries 5-12x faster).
    ``False`` never repartitions, for callers whose heavy work runs
    after their own exchange.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.format(fmt).load(path)
    if fmt == "parquet" and parallelize is not False:
        target = spark.sparkContext.defaultParallelism
        total_bytes, n_rg, n_rows = _parquet_meta(
            path, target * MAX_PARTITION_BYTES)
        # row floor: never shred a small table into slivers — each
        # slice must carry >= SCAN_REPARTITION_MIN_ROWS_PER_SLICE rows
        # (per-task Python/Arrow overhead is amortized over the slice),
        # and fewer than SCAN_REPARTITION_MIN_SLICES slices is not
        # enough fan-out to pay for the exchange at all (measured r9:
        # sf0.1 embeddings at factor x cores slivers cost 2-3x).
        n_slices = min(SCAN_REPARTITION_FACTOR * target,
                       n_rows // SCAN_REPARTITION_MIN_ROWS_PER_SLICE)
        if (total_bytes >= SCAN_REPARTITION_MIN_BYTES
                and 0 < n_rg < target
                and n_rows > 0
                and total_bytes / n_rows >= SCAN_REPARTITION_MIN_ROW_BYTES
                and n_slices >= SCAN_REPARTITION_MIN_SLICES
                and n_slices > n_rg):
            df = df.repartition(n_slices)
    return df


def state_partitions_for(
    spark: SparkSession, path: str, light_state: bool = False
) -> int:
    """State-partition count for a stateful streaming drain over the
    parquet table at ``path``, sized to its bytes on disk (r9 A/B,
    interleaved medians): at gate scale the fixed per-partition
    state-store commit cost dominates and 8 partitions is best (sf0.1:
    4.41s total @8 vs 6.22s @32 across the four stateful drains —
    consistent with the r6 512->8 measurement), while at sf1.0+ the
    per-event state kernel dominates and wants full core fan-out
    (w_decayed_stream 9.25s @8 -> 4.69s @32).

    ``light_state``: drains whose per-event state work is O(1) and tiny
    (dropDuplicates' key-set insert) never amortize the commit cost at
    these input sizes — the dedup drain measured 2.37s @32 vs 1.41s @8
    on the 10x corpus (r9 interleaved A/B) while the kernel-heavy
    drains all preferred @32 there — so the fan-out threshold is 16x
    higher for them.  Cluster-safe: scales with defaultParallelism,
    never a hard-coded core count.

    The size comes from ``_parquet_meta`` (same cutoff as read_table,
    so both share one memo entry), which sums every parquet file of a
    directory-shaped table.  No stat-able parquet file at ``path``
    (e.g. a non-local path) fails open to full fan-out."""
    target = spark.sparkContext.defaultParallelism
    fan_out = max(8, target)
    total_bytes, n_rg, _rows = _parquet_meta(path, target * MAX_PARTITION_BYTES)
    if n_rg == 0:
        return fan_out
    if total_bytes < (128 if light_state else 8) * 2**20:
        return 8
    return fan_out


ZORDER_BITS = 12  # 4096 buckets per dimension — plenty for file-level stats


def zorder_col(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Morton (Z-order) curve value over 2+ numeric columns, pure JVM
    expressions: each column is linearly bucketed into ``2^bits`` bins
    between its min and max (one tiny scalar aggregate, broadcast back),
    then the bucket ids' bits are interleaved.  Sorting by the result
    places rows close in EVERY dimension into the same files, so
    parquet min/max footer stats prune scans filtered on ANY of the
    columns — lexicographic sort only ever prunes the leading one.

    Returns ``(df_with_stats, zcol)``; NULLs in any dimension sort
    first (bucket 0).  Linear binning assumes roughly bounded ranges
    (fine for ids/timestamps/coords); for heavy-tailed columns bucket a
    rank or log transform instead.
    """
    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 columns; use cluster_by for 1")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_zmin_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"_zmax_{c}") for c in cols],
    )
    d = df.crossJoin(F.broadcast(stats))
    n = len(cols)
    buckets = []
    hi = (1 << bits) - 1
    for c in cols:
        span = F.col(f"_zmax_{c}") - F.col(f"_zmin_{c}")
        frac = F.when(
            span > 0, (F.col(c).cast("double") - F.col(f"_zmin_{c}")) / span
        ).otherwise(F.lit(0.0))
        b = F.least(
            F.lit(hi),
            F.greatest(F.lit(0), F.floor(frac * (1 << bits)).cast("long")),
        )
        buckets.append(F.coalesce(b, F.lit(0)))
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, b in enumerate(buckets):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return d, z


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    n_files: int | None = None,
) -> None:
    """Table sink.  ``cluster_by`` range-partitions the data on those
    columns and sorts within each output file, so each file covers a
    narrow, non-overlapping key range — parquet min/max footer stats
    then let later range/equality scans SKIP whole files (the poor
    man's clustering an Iceberg sort-order would give).  ``zorder_by``
    does the same along a Morton curve over MULTIPLE columns (the
    Delta/Iceberg OPTIMIZE ZORDER analog): files stay narrow in every
    listed dimension, so filters on any one of them skip files —
    mutually exclusive with ``cluster_by``.  ``n_files`` bounds the
    file count for either clustered layout."""
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if zorder_by:
        d, z = zorder_col(df, zorder_by)
        d = d.withColumn("_zval", z)
        if n_files:
            d = d.repartitionByRange(int(n_files), F.col("_zval"))
        else:
            d = d.repartitionByRange(F.col("_zval"))
        df = d.sortWithinPartitions("_zval").drop(
            "_zval", *[f"_zmin_{c}" for c in zorder_by],
            *[f"_zmax_{c}" for c in zorder_by],
        )
    elif cluster_by:
        cols = [F.col(c) for c in cluster_by]
        if n_files:
            df = df.repartitionByRange(int(n_files), *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def scan_values(
    df: DataFrame, value: str = "value", min_value: float | None = None
) -> DataFrame:
    """Null out values at/below the floor (reference helpers.py:31).

    Public API: the reference's min-elevation floor rule as a scan step.

    Expressed as a column rewrite (value -> NULL) rather than a row
    filter so positions survive for the null-mask replay; the predicate
    inside `when` still prunes parquet row groups via min/max stats when
    used as a filter variant.
    """
    floor = CFG.min_elevation if min_value is None else min_value
    return df.withColumn(
        value, F.when(F.col(value) > F.lit(floor), F.col(value))
    ).withColumn("is_orig_null", F.col(value).isNull())


def crop_with_halo(
    df: DataFrame,
    order: str,
    lo,
    hi,
    halo,
    compute,
) -> DataFrame:
    """Compute-on-crop with correct boundary context.

    Public API: the reference's crop rule (crop only after computing).

    Prunes the scan to [lo-halo, hi+halo] (partition/row-group pruning
    still applies — the predicate is a plain range filter), runs
    ``compute``, then exact-crops to [lo, hi].  This is the ordering rule
    the reference encodes by cropping only at write time
    (reference topo.py:138-140, helpers.py:59).
    """
    pruned = df.where(F.col(order).between(F.lit(lo - halo), F.lit(hi + halo)))
    return compute(pruned).where(F.col(order).between(F.lit(lo), F.lit(hi)))
