"""Canonical value normalization and row checksums, rendered as Spark SQL text.

This is the Spark re-expression of the reference's NormalizeAsString /
Checksum layer (/root/reference/data_diff/databases/base.py:808-896 and
:411-421). Every value is rendered to one canonical string so that two
physically different encodings of the same logical value (timestamp
precisions, decimal vs double, boolean vs int) compare equal.

The recipes follow the reference's own Spark-SQL dialect
(/root/reference/data_diff/databases/databricks.py:87-116), which makes our
checksums bit-identical with every reference dialect (DuckDB, Postgres, ...)
— verified by the golden test against tests/common.py:117-127
(str_to_checksum) and by the DuckDB oracle queries.

SQL text is the single recipe. ``normalize_sql`` is the one type dispatch;
``fingerprint_sql`` and ``md5_as_int_sql`` assemble checksums from it, and
``normalized_sql`` renders a schema's columns with backtick-quoted
identifiers. Operators put these strings into one ``selectExpr``/``F.expr``
per projection. The Column-returning helpers (``normalize_as_string``,
``row_checksum``, ...) are one-line ``F.expr`` wrappers over the same
renderers, so no recipe exists twice. Every operand is a SQL expression; a
plain column name is one, other names need ``quote_ident``.

Why text and not Column calls: each ``pyspark.sql.functions`` call is a py4j
round trip, and PySpark 4's call-site capture adds five or more per call.
Building join_diff's plan for a 9-column type-skewed pair node by node sent
2,215 py4j commands and took 0.3-0.4 s before Spark ran anything; the same
plan parsed from one SQL string per projection sends about 60.
Catalyst parses the text into the same expression trees, so the optimized
plans (and every checksum) are unchanged.

Only identifiers, type parameters and fixed constants are ever put into the
SQL text — never data values.

Everything here evaluates JVM-side, whole-stage codegen'd, with no Python
in the hot path.
"""

from __future__ import annotations

from typing import Iterable, List, Mapping, Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_diff_spark.constants import (
    CHECKSUM_OFFSET,
    CHECKSUM_SUBSTR_POS,
    DEFAULT_DATETIME_PRECISION,
    DEFAULT_NUMERIC_PRECISION,
    FINGERPRINT_SEP,
    NULL_LITERAL,
)

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for Spark SQL (embedded backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _str_lit(s: str) -> str:
    """A fixed constant as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fraction_pattern(precision: int, what: str) -> str:
    """'S' per kept fractional digit, '0' padding to six: truncate-then-pad."""
    p = int(precision)
    if not 0 <= p <= 6:
        raise ValueError(f"{what} precision must be in [0, 6], got {precision}")
    return "S" * p + "0" * (6 - p)


def normalize_sql(
    operand: str,
    data_type: T.DataType,
    precision: Optional[int] = None,
    kind: Optional[str] = None,
) -> str:
    """SQL text rendering ``operand`` to its canonical comparison string —
    the NormalizeAsString dispatch (reference base.py:866-896).

    kind selects a semantic normalization the Spark type cannot express:
      'uuid'  trim whitespace, keep casing (reference base.py:848-852);
      'json'  parse to VariantType and re-serialize: minified, number forms
              normalized, without leaving the JVM (reference base.py:858-860
              compares minified JSON with a Python-side fallback);
      'time'  a time of day as 'HH:MM:SS.FFFFFF' — the reference's `Time`
              type (database_types.py:157-161), which Spark lacks. The
              operand is either a TimestampType at the epoch day (what
              spark.read.jdbc yields for SQL TIME; the time-only pattern
              drops the date) or a DayTimeIntervalType (converted through
              its exact microsecond count). A schema cannot tell TIME from
              these types' ordinary uses, so callers opt in per column —
              where the reference reads it from the remote schema.
    Any other kind (e.g. refine.py's 'alphanum', detection parity only)
    falls through to the type dispatch.

    Numbers cast to decimal(38, p) (HALF_UP, matching DuckDB/Postgres) and
    render as plain fixed-point text — for p <= 6 by the remote dialects'
    norm_sql recipe (a cast to string), for larger p by format_number with
    the grouping commas removed, since the cast is plain only under ANSI
    mode at those scales. try_cast, not cast: a double past the envelope
    (|x| >= 1e32 at p=6) must fingerprint as '<null>' deterministically;
    under Spark 4's ANSI default a plain cast would abort the whole diff
    with NUMERIC_VALUE_OUT_OF_RANGE, and under non-ANSI it is NULL anyway.
    The SQLite dnorm mirror clamps identically (operators/remote.py).
    """
    x = operand
    if kind == "uuid":
        return f"trim({x})"
    if kind == "json":
        return f"to_json(try_parse_json({x}))"
    if kind == "time":
        p = DEFAULT_DATETIME_PRECISION if precision is None else precision
        fmt = "HH:mm:ss." + _fraction_pattern(p, "time")
        if isinstance(data_type, T.DayTimeIntervalType):
            # exact: decimal(20,6) carries the full µs resolution of the interval
            x = f"timestamp_micros(cast(cast({x} as decimal(20,6)) * 1000000 as bigint))"
        return f"date_format({x}, '{fmt}')"
    if isinstance(data_type, (T.TimestampType, T.TimestampNTZType)):
        p = DEFAULT_DATETIME_PRECISION if precision is None else precision
        fmt = "yyyy-MM-dd HH:mm:ss." + _fraction_pattern(p, "timestamp")
        return f"date_format({x}, '{fmt}')"
    if isinstance(data_type, T.DateType):
        return f"date_format({x}, 'yyyy-MM-dd')"
    if isinstance(data_type, _INTEGRAL):
        return f"cast({x} as string)"
    if isinstance(data_type, (T.DecimalType, T.FloatType, T.DoubleType)):
        if precision is None:
            precision = (data_type.scale if isinstance(data_type, T.DecimalType)
                         else DEFAULT_NUMERIC_PRECISION)
        p = int(precision)
        d = f"try_cast({x} as decimal(38,{p}))"
        if p <= 6:
            return f"cast({d} as string)"
        # Decimal-to-string casts print plain text only under ANSI; without
        # it Spark uses BigDecimal.toString, which turns scientific once the
        # adjusted exponent drops below -6 (0 at scale 8 prints '0E-8').
        # Scale <= 6 can never reach that; larger scales use format_number.
        return f"replace(format_number({d}, {p}), ',', '')"
    if isinstance(data_type, T.BooleanType):
        return f"cast(cast({x} as int) as string)"  # '0' / '1' (databricks.py:115-116)
    if isinstance(data_type, T.StringType):
        return x
    if isinstance(data_type, T.BinaryType):
        return f"lower(hex({x}))"
    if isinstance(data_type, (T.ArrayType, T.MapType, T.StructType)):
        # Arrays/structs are compared as their JSON string (reference
        # base.py:858-864, bigquery.py:209-214).
        return f"to_json({x})"
    # UnknownColType fallback (reference database_types.py:303-308).
    return f"cast({x} as string)"


def normalized_sql(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
    aliased: bool = False,
) -> List[str]:
    """normalize_sql of each named column per its schema type (identifiers
    quoted), with the unified precisions (unify.py) and the refined string
    kinds (refine.py / the reference's _refine_coltypes) applied.
    aliased=True names each result after its column (a selectExpr list)."""
    by_name = {f.name: f for f in schema.fields}
    overrides = precision_overrides or {}
    kinds = kind_overrides or {}
    out = []
    for c in columns:
        q = quote_ident(c)
        s = normalize_sql(q, by_name[c].dataType, overrides.get(c), kinds.get(c))
        out.append(f"{s} AS {q}" if aliased else s)
    return out


def null_safe_sql(expr: str) -> str:
    """coalesce(expr, '<null>'): NULL renders as a literal distinct from ''."""
    return f"coalesce({expr}, {_str_lit(NULL_LITERAL)})"


def fingerprint_sql(normalized: Sequence[str]) -> str:
    """Concatenate normalized column strings: coalesce(x, '<null>') joined by '|'.

    Exact concat semantics of the reference's Checksum node
    (base.py:411-421, 423-443): NULL → '<null>', separator '|'.
    """
    parts = [null_safe_sql(s) for s in normalized]
    if not parts:
        raise ValueError("row_fingerprint needs at least one column")
    if len(parts) == 1:
        return parts[0]
    return f"concat_ws({_str_lit(FINGERPRINT_SEP)}, {', '.join(parts)})"


def md5_as_int_sql(s: str, sql_type: str = "decimal(38,0)") -> str:
    """Low 12 hex digits of md5, as an integer centered at 0.

    Reference Spark-SQL recipe databricks.py:87-88:
        cast(conv(substr(md5(s), 21), 16, 10) as decimal(38, 0)) - OFFSET
    sql_type='bigint' gives the same value as a long (48-bit terms), for
    callers that sum in 64 bits like the remote dialects do.
    """
    raw = f"conv(substring(md5({s}), {CHECKSUM_SUBSTR_POS}, 1000), 16, 10)"
    return f"(cast({raw} as {sql_type}) - cast({CHECKSUM_OFFSET} as {sql_type}))"


def row_checksum_sql(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
) -> str:
    """md5_as_int(fingerprint(normalized columns)) as SQL text."""
    normd = normalized_sql(schema, columns, precision_overrides, kind_overrides)
    return md5_as_int_sql(fingerprint_sql(normd))


# ---- Column wrappers: one F.expr each over the renderers above ------------


def normalize_time(
    col: str,
    precision: int = DEFAULT_DATETIME_PRECISION,
    data_type: Optional[T.DataType] = None,
) -> Column:
    """'HH:MM:SS.FFFFFF' of a TIME column (see normalize_sql kind='time');
    pass data_type=DayTimeIntervalType() for the interval encoding."""
    return F.expr(normalize_sql(col, data_type or T.TimestampType(), precision, "time"))


def normalize_number(col: str, precision: int = DEFAULT_NUMERIC_PRECISION) -> Column:
    """Fixed-point string with ``precision`` fractional digits."""
    return F.expr(normalize_sql(col, T.DoubleType(), precision))


def normalize_as_string(col: str, data_type: T.DataType, precision: Optional[int] = None) -> Column:
    return F.expr(normalize_sql(col, data_type, precision))


def row_fingerprint(normalized: Iterable[str]) -> Column:
    return F.expr(fingerprint_sql(list(normalized)))


def md5_as_int(col: str) -> Column:
    return F.expr(md5_as_int_sql(col))


def row_checksum(
    schema: T.StructType,
    columns: Sequence[str],
    precision_overrides: Optional[Mapping[str, int]] = None,
    kind_overrides: Optional[Mapping[str, str]] = None,
) -> Column:
    """Per-row checksum column: sum() of it over any row set is the
    reference's segment checksum (table_segment.py:239-258); equal row
    multisets ⇒ equal sums. decimal(38,0) never overflows for any realistic
    row count (48-bit terms leave ~10^23 headroom)."""
    return F.expr(row_checksum_sql(schema, columns, precision_overrides, kind_overrides))
