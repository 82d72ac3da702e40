"""Reusable native-Spark column functions (the scalar-function library of
SURVEY.md section 2.8) — locale-free by construction."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F  # noqa: N812

from ..kernel import FR_MONTHS

# month-name <-> number as explicit expressions, never process locale
# (the reference's global setlocale at ocr_cezam.py:26-31 is the
# determinism hazard this replaces)


def fr_month_number(name: Column) -> Column:
    """French month name -> 1..12 (null if unknown)."""
    expr = F.lit(None).cast("int")
    for i, m in enumerate(reversed(FR_MONTHS)):
        expr = F.when(F.lower(name) == m, F.lit(len(FR_MONTHS) - i)).otherwise(expr)
    return expr


def fr_month_name(num: Column) -> Column:
    expr = F.lit(None).cast("string")
    for i, m in enumerate(reversed(FR_MONTHS)):
        expr = F.when(num == len(FR_MONTHS) - i, F.lit(m)).otherwise(expr)
    return expr


def parse_fr_date(s: Column) -> Column:
    """'12 mars 2024' -> date (F5 analog, locale-free).

    ANSI-safe: regexp misses yield '' which must not be cast (Spark 4 ANSI
    throws on ''::int), and invalid day/month combos must yield null, so
    everything funnels through try_* expressions."""
    def rx(pattern: str) -> Column:
        return F.nullif(F.regexp_extract(s, pattern, 1), F.lit(""))

    # ONE fully-anchored pattern (the kernel's _DATE_FR twin): three
    # independently-anchored extractions would accept junk between the
    # components ('12 mars truc 2024') that the kernel rejects. \p{L}
    # instead of \w because Java/RE2 \w is ASCII-only ('février').
    _full = r"^(\d{1,2}) (\p{L}+) (\d{4})$"
    day = F.nullif(F.regexp_extract(s, _full, 1), F.lit("")).try_cast("int")
    month = fr_month_number(
        F.nullif(F.regexp_extract(s, _full, 2), F.lit(""))
    )
    year = F.nullif(F.regexp_extract(s, _full, 3), F.lit("")).try_cast("int")
    iso = F.concat(
        year.cast("string"),
        F.lit("-"),
        F.lpad(month.cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(day.cast("string"), 2, "0"),
    )
    # try_to_date also rejects impossible calendar dates (31 fevrier)
    return F.try_to_date(iso, "yyyy-MM-dd")


def format_fr_date(d: Column) -> Column:
    """date -> '%d %B %Y' French (F6 analog)."""
    return F.concat(
        F.lpad(F.dayofmonth(d).cast("string"), 2, "0"),
        F.lit(" "),
        fr_month_name(F.month(d)),
        F.lit(" "),
        F.year(d).cast("string"),
    )
