"""Deterministic Bloom filter: build a bitset over a key set, broadcast
it, and prune a corpus map-side.

This is the 100-TB companion to ``dedup.decontaminate``: that operator
broadcasts the EXACT benchmark hash set (fine for eval-set-sized
dims).  When the filter side grows past broadcastable (a blocklist of
10^9 URLs, a seen-before fingerprint registry), the scale move is a
Bloom bitset: ``m`` bits cost ``m/8`` bytes regardless of key count,
membership is a map-side bitwise test, and the price is a bounded
false-positive rate ``(1 - e^{-g*n/m})^g`` — callers re-verify hits
exactly (semi-join on the hit subset only, which is tiny when the true
hit rate is low).

Everything is deterministic and engine-portable: bit positions come
from the repo's portable md5 hash (text.py:23) seeded per hash
function, 32 bits packed per 64-bit word (so ``1 << pos`` never touches
the sign bit under ANSI), so the whole filter — build, pack, probe —
replays exactly in DuckDB at the driver gate.

Spark has a builtin BloomFilterAggregate (DataFrameStatFunctions), but
its bit layout is JVM-private — unverifiable cross-engine and unusable
from pure SQL engines reading the same lakehouse; this one is a
portable spec.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.validate import require_cols
from .text import PORTABLE_HASH_SQL

__all__ = ["bloom_build", "bloom_prune", "bloom_fp_rate"]


def _pos_expr(col_sql: str, i: int, m_bits: int) -> str:
    """Bit position of hash function ``i`` for key expression ``col_sql``."""
    token = f"concat('{i}', ':', cast({col_sql} as string))"
    return f"pmod({PORTABLE_HASH_SQL.format(col=token)}, {int(m_bits)})"


def bloom_fp_rate(n_keys: int, m_bits: int, g_hashes: int) -> float:
    """Expected false-positive rate for ``n_keys`` inserted keys."""
    return (1.0 - math.exp(-g_hashes * n_keys / float(m_bits))) ** g_hashes


def bloom_build(
    keys: DataFrame,
    col: str,
    m_bits: int = 1 << 15,
    g_hashes: int = 3,
) -> DataFrame:
    """Build the filter: a ONE-ROW DataFrame with column ``words`` =
    ``array<bigint>`` of ``m_bits/32`` words, 32 bits used per word.

    Scale: explode is linear in keys x g; the aggregation keys on word
    index (at most ``m_bits/32`` distinct values), so map-side combine
    collapses every partition to <= W rows before the single tiny
    shuffle — the build cost is one pass over the key column regardless
    of key cardinality.  NULL keys are skipped.
    """
    require_cols(keys, "bloom_build", **{col: "atomic"})
    m = int(m_bits)
    g = int(g_hashes)
    if m % 32 != 0 or m <= 0:
        raise ValueError("bloom_build: m_bits must be a positive multiple of 32")
    if g < 1:
        raise ValueError("bloom_build: g_hashes must be >= 1")
    n_words = m // 32
    pos_arr = F.array(
        *[F.expr(_pos_expr(f"`{col}`", i, m)) for i in range(g)]
    )
    words = (
        keys.where(F.col(col).isNotNull())
        .select(F.explode(pos_arr).alias("p"))
        .select(
            (F.col("p") / 32).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(p % 32 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    return words.groupBy().agg(
        F.collect_list(F.struct("w", "bits")).alias("_wb")
    ).select(
        F.expr(
            f"transform(sequence(0, {n_words - 1}), "
            "i -> coalesce(element_at(map_from_entries(_wb), i), 0L))"
        ).alias("words")
    )


def bloom_prune(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 15,
    g_hashes: int = 3,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Probe: mark each row of ``df`` whose ``col`` might be in the
    filter (``out_col`` boolean; false is DEFINITELY absent).  NULL keys
    probe false.

    Scale: the one-row filter is broadcast onto the corpus
    (BroadcastNestedLoopJoin on a single row = a closure constant); the
    probe itself is a per-row bitwise expression — zero corpus
    shuffles, whole-stage-codegen friendly.  ``m_bits``/``g_hashes``
    MUST match the build call (a portable filter spec, not
    self-describing — deliberately, so pure-SQL engines can probe the
    same words).
    """
    require_cols(df, "bloom_prune", **{col: "atomic"})
    if "words" not in bloom.columns:
        raise ValueError("bloom_prune: bloom must be a bloom_build() result")
    if out_col in df.columns or "words" in df.columns:
        raise ValueError(f"bloom_prune: column collision with {out_col!r}/'words'")
    m = int(m_bits)
    g = int(g_hashes)
    checks = []
    for i in range(g):
        p = _pos_expr(f"`{col}`", i, m)
        checks.append(
            f"(element_at(words, cast(({p}) / 32 as int) + 1) & "
            f"shiftleft(1L, cast(({p}) % 32 as int))) <> 0L"
        )
    hit = F.expr("(" + ") AND (".join(checks) + ")")
    out = df.crossJoin(F.broadcast(bloom))
    return out.withColumn(
        out_col,
        F.when(F.col(col).isNull(), F.lit(False)).otherwise(hit),
    ).drop("words")
