"""Column-level scalar helpers (SURVEY.md §2.6-2.7).

Each helper reproduces a reference semantic (cited) using built-in,
codegen-friendly expressions. The only Python UDF retained is the
mixed-format date parser underlying ``calculate_age`` — the reference
itself uses a UDF there (ProcessETLUtils.scala:481-489) because the
fallback rules (-1 / "no-data") are awkward declaratively; we provide a
declarative variant too.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Truthy value set of the reference (ProcessETLUtils.scala:509-517).
TRUTHY_VALUES = ["true", "yes", "y", "1", "t"]

# Candidate input date patterns (reference EtlUtils.scala:9-27 tries
# d/M/yyyy, dd/MM/yyyy, M/d/yyyy, MM/dd/yyyy via SimpleDateFormat).
DATE_PATTERNS = ["d/M/yyyy", "dd/MM/yyyy", "M/d/yyyy", "MM/dd/yyyy"]


def not_null_col(col: Column, default: str = "no-data") -> Column:
    """``when(c.isNotNull, c).otherwise('no-data')``
    (reference: ProcessETLUtils.scala:491-493)."""
    return F.when(col.isNotNull(), col).otherwise(F.lit(default))


def is_not_blank(col: Column) -> Column:
    """Non-null and non-empty after trim
    (reference: ProcessETLUtils.scala:495-497)."""
    return col.isNotNull() & (F.trim(col) != F.lit(""))


def truthy_bool(col: Column) -> Column:
    """Case-insensitive membership in the truthy value set → boolean
    (reference: ProcessETLUtils.scala:509-517)."""
    return F.lower(F.trim(col)).isin(TRUTHY_VALUES)


def display_name(name: Column, code: Column) -> Column:
    """``"Name (CODE)"`` display formatting
    (reference: ProcessETLUtils.scala:284-288)."""
    return F.concat(name, F.lit(" ("), code, F.lit(")"))


def parse_date_multi(col: Column) -> Column:
    """First successful parse among the candidate patterns, else null.

    Declarative replacement for the reference's SimpleDateFormat loop
    (EtlUtils.scala:9-27): ``try_to_date`` per pattern + ``coalesce``
    stays inside whole-stage codegen instead of a Python UDF.
    """
    return F.coalesce(*[F.try_to_date(col, fmt) for fmt in DATE_PATTERNS])


def calculate_age(dob: Column, to: Column) -> Column:
    """Whole years between two string dates; -1 when either fails to parse
    (reference: ProcessETLUtils.scala:481-489)."""
    start, end = parse_date_multi(dob), parse_date_multi(to)
    years = F.floor(F.months_between(end, start) / 12).cast("int")
    return F.when(start.isNull() | end.isNull(), F.lit(-1)).otherwise(years)


def age_at_recruitment(dob: Column, recruit: Column) -> Column:
    """Age as a *string* column with a "no-data" fallback — the reference
    mixes Int and String here so the column is StringType in practice
    (reference: ProcessETLUtils.scala:519-526)."""
    return F.when(
        dob.isNull() | recruit.isNull(), F.lit("no-data")
    ).otherwise(calculate_age(dob, recruit).cast("string"))
