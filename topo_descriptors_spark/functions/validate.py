"""Schema validation at API entry — the engine's ``check_dem`` analog
(reference helpers.py:171-189, which raises on a non-Dataset input,
wrong dims, or missing crs).  SURVEY.md §2 row P7.

A wrong-schema table should fail AT THE OPERATOR BOUNDARY with a message
naming the operator, the column, and the expected vs actual type — not
three plan transformations later with a Catalyst resolution error.  All
checks are driver-side schema inspections: no job, no data read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    DataType,
    DateType,
    NumericType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)


class SchemaError(ValueError):
    """Input table does not conform to the operator's data model."""


def _is_numeric(dt: DataType) -> bool:
    return isinstance(dt, NumericType)


def _is_orderable(dt: DataType) -> bool:
    return isinstance(
        dt, (NumericType, DateType, TimestampType, TimestampNTZType, StringType)
    )


def _is_time_axis(dt: DataType) -> bool:
    """A column usable as a numeric order axis (gaps, gradients)."""
    return isinstance(dt, (NumericType, DateType, TimestampType, TimestampNTZType))


# kind -> (predicate, human-readable expectation)
_KINDS = {
    "numeric": (_is_numeric, "a numeric type"),
    "orderable": (_is_orderable, "an orderable type (numeric/date/timestamp/string)"),
    "time_axis": (_is_time_axis, "a numeric, date or timestamp type"),
    "string": (lambda dt: isinstance(dt, StringType), "string"),
    "array_numeric": (
        lambda dt: isinstance(dt, ArrayType) and _is_numeric(dt.elementType),
        "array<numeric>",
    ),
    "atomic": (lambda dt: isinstance(dt, AtomicType), "an atomic (non-nested) type"),
    "any": (lambda dt: True, "any type"),
}


def require_cols(df: DataFrame, op: str, **cols: str) -> None:
    """Assert each ``column=kind`` exists in ``df`` with a compatible
    type; raise :class:`SchemaError` naming the operator otherwise.

    Kinds: numeric, orderable, time_axis, string, array_numeric, atomic,
    any.  Driver-side only — inspects ``df.schema``, never runs a job.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for col, kind in cols.items():
        pred, want = _KINDS[kind]
        if col not in fields:
            problems.append(
                f"missing column {col!r} (expected {want}); "
                f"present: {sorted(fields)}"
            )
        elif not pred(fields[col]):
            problems.append(
                f"column {col!r} has type {fields[col].simpleString()}, "
                f"expected {want}"
            )
    if problems:
        raise SchemaError(f"{op}: " + "; ".join(problems))


def check_table(
    df: DataFrame, expected: StructType, name: str = "input", strict: bool = False
) -> None:
    """Assert ``df`` carries every field of ``expected`` with the exact
    type (the table-level contract check — the engine's ``check_dem``).

    ``strict=True`` additionally rejects columns not in ``expected``
    (the 2-D-field-only analog of check_dem's dims check).

    Public API: the reference's ``check_dem`` input contract.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    problems = []
    for f in expected.fields:
        if f.name not in fields:
            problems.append(f"missing column {f.name!r} ({f.dataType.simpleString()})")
        elif fields[f.name] != f.dataType:
            problems.append(
                f"column {f.name!r} has type {fields[f.name].simpleString()}, "
                f"expected {f.dataType.simpleString()}"
            )
    if strict:
        extra = sorted(set(fields) - {f.name for f in expected.fields})
        if extra:
            problems.append(f"unexpected columns {extra}")
    if problems:
        raise SchemaError(f"{name}: " + "; ".join(problems))


def reserve_cols(df: DataFrame, op: str, *names: str) -> None:
    """Assert none of the operator's internal temp-column ``names`` is
    already present in ``df`` — an input that carries e.g. ``_bkt``
    would otherwise be silently clobbered by ``withColumn`` and dropped
    from the output (VERDICT r4).  Every temp-column operator applies
    this one check.  Driver-side only: inspects ``df.columns``.
    """
    clash = [n for n in names if n in df.columns]
    if clash:
        raise SchemaError(
            f"{op}: input already contains reserved internal column"
            f"{'s' if len(clash) > 1 else ''} {clash} — rename before "
            "calling (the operator uses these as scratch space)"
        )
