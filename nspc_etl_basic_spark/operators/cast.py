"""Typed cast + validity split (SURVEY.md §2 B2, G1, G2).

The reference converts values row-by-row with a keep-string-on-failure rule
(loader.py:1108-1140); a Spark column cannot change type per row, so the
engine's contract (SURVEY.md §4.2, documented deviation) is:

  - inference decides the column type;
  - a value that fails its column's cast makes the ROW invalid;
  - ``strict`` mode: any invalid row rejects the whole file (G1,
    loader.py:976-981);
  - ``tolerant`` mode: invalid rows beyond ``max-row-errors`` reject the
    file, otherwise the valid split is written and the invalid split goes
    to the error sink (G2, loader.py:1014-1068);
  - NOT NULL config columns are validated explicitly (the reference relies
    on database constraint errors, SURVEY.md §7.2 item 2).

Everything is a single Catalyst projection + two complementary filters —
whole-stage-codegen, no Python in the row path. The validity predicate and
the cast share subexpressions, so the scan is read once per split (or once
total if the caller caches). The frame both splits filter is returned too,
so the row and reject counts come from ONE aggregate over it
(``validation_counts``) instead of a count per split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nspc_etl_basic_spark.functions.casting import (
    null_normalized,
    parse_datetime_col,
)

#: name of the struct column carrying per-row error details on the invalid side
ERROR_COL = "__errors"


def _cast_expr(col: Column, dtype: T.DataType) -> Column:
    """B2 per-type cast with B9 null normalization."""
    if isinstance(dtype, T.TimestampType):
        return parse_datetime_col(col)
    c = null_normalized(col)
    if isinstance(dtype, T.LongType):
        # Python int() strictness: no '1.0' (B5)
        return F.when(
            F.trim(c).rlike(r"^[+-]?[0-9]+$"), F.trim(c).try_cast("long")
        ).otherwise(F.lit(None).cast("long"))
    if isinstance(dtype, T.DecimalType):
        return F.trim(c).try_cast(dtype.simpleString())
    if isinstance(dtype, T.StringType):
        return c.cast("string")
    # existing-table schemas may carry any type (int, double, bool, date…):
    # null-on-failure cast, counted as a validation error by the split
    return F.trim(c).try_cast(dtype.simpleString())


def cast_and_split(
    df: DataFrame, schema: T.StructType, keep_extra_cols: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Project/cast ``df`` (all-string) onto ``schema``; return
    ``(valid, invalid, checked)``.

    ``valid`` has exactly the schema's columns with target types (plus any
    passthrough ``__``-prefixed engine columns when ``keep_extra_cols``).
    ``invalid`` keeps the ORIGINAL string values plus an ``__errors``
    array<string> column naming each failed column — the error-log sink
    (H9) consumes it. ``checked`` is ``df`` plus that ``__errors`` column,
    unfiltered: the frame both splits are filters of, which
    ``validation_counts`` aggregates.

    A row is invalid when:
      * a non-null input value cast to NULL for an INT/DECIMAL column (the
        reference keeps the raw string and the database rejects it,
        loader.py:1136-1138 + DB layer — our equivalent observable), or
      * a NOT NULL column is null after cast (explicit constraint check).

    Datetime parse failures are NOT errors: the reference's
    ``_parse_datetime`` returns None without raising (loader.py:1142-1167),
    so unparseable dates degrade silently to NULL (FIXTURES.md invariant 2).
    """
    casted: dict[str, Column] = {}
    error_msgs: list[Column] = []
    for f in schema.fields:
        raw = F.col(f.name)
        cc = _cast_expr(raw, f.dataType)
        casted[f.name] = cc
        raw_nn = null_normalized(raw).isNotNull()
        if isinstance(f.dataType, T.TimestampType):
            type_fail = F.lit(False)  # silent-null semantics
        else:
            type_fail = raw_nn & cc.isNull()
        if not f.nullable:
            null_fail = ~raw_nn | cc.isNull()
            failed = type_fail | null_fail
            msg = F.format_string(
                "column '%s' failed cast to %s or NOT NULL", F.lit(f.name),
                F.lit(f.dataType.simpleString()),
            )
        else:
            failed = type_fail
            msg = F.format_string(
                "column '%s' failed cast to %s", F.lit(f.name),
                F.lit(f.dataType.simpleString()),
            )
        error_msgs.append(F.when(failed, msg))

    errors = F.array_compact(F.array(*error_msgs))
    extra = [c for c in df.columns if c.startswith("__")] if keep_extra_cols else []

    with_err = df.withColumn(ERROR_COL, errors)
    valid = (
        with_err.filter(F.size(ERROR_COL) == 0)
        .select(*[casted[f.name].alias(f.name) for f in schema.fields], *extra)
    )
    invalid = with_err.filter(F.size(ERROR_COL) > 0).select(
        *[F.col(f.name) for f in schema.fields], *extra, F.col(ERROR_COL)
    )
    return valid, invalid, with_err


def validation_counts(checked: DataFrame) -> tuple[int, int]:
    """``(rows, invalid rows)`` of a ``cast_and_split`` build in ONE
    aggregate job over its ``checked`` frame — the pre-sink numbers the
    strict and tolerant gates need, without a count per split."""
    row = checked.agg(
        F.count(F.lit(1)), F.count_if(F.size(ERROR_COL) > 0)
    ).first()
    return int(row[0]), int(row[1])
