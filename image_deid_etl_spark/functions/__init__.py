"""Scalar column-expression surface (SURVEY.md §2.2 / §2.8).

Each helper re-expresses one reference projection/filter idiom as a native
Catalyst expression (JVM-side, whole-stage codegen — never per-row Python).
Reference citations are to /root/reference/src/image_deid_etl/image_deid_etl/.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zero_pad(col: Column | str, width: int = 8) -> Column:
    """P1 — MRN zero-pad (`custom_etl.py:28-39`)."""
    return F.lpad(F.col(col) if isinstance(col, str) else col, width, "0")


def zero_strip(col: Column | str) -> Column:
    """P2 — strip leading zeros (`custom_etl.py:68`, `:287`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "^0+", "")


def norm_name(col: Column | str) -> Column:
    """P3 — lowercase + trim normalization (`custom_etl.py:288-291`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


def path_part(col: Column | str, idx: int, sep: str = "/") -> Column:
    """P4 — path-parse projection (`custom_etl.py:62-72`); 1-based idx."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.split(c, sep), idx)


def classify_by_contains(col: Column, rules: list[tuple[str, str]], default: str) -> Column:
    """P5 — substring-rule classifier (`custom_etl.py:74-126`): first
    matching (needle, label) rule wins, as a native CASE WHEN chain."""
    expr = None
    lowered = F.lower(col)
    for needle, label in rules:
        cond = lowered.contains(needle.lower())
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return (expr.otherwise(default)) if expr is not None else F.lit(default)


def time_suffix(col: Column) -> Column:
    """P8 — `HHMM…` → `_HHhMMm`, guard len<4 (`custom_etl.py:156-159`)."""
    return F.when(F.length(col) < 4, F.lit("")).otherwise(
        F.concat(F.lit("_"), F.substring(col, 1, 2), F.lit("h"), F.substring(col, 3, 2), F.lit("m"))
    )


def empty_sentinel_fix(col: Column, sentinel: str = "[]", repl: str = " ") -> Column:
    """P9 — `[]` sentinel → blank (`custom_etl.py:328-330`)."""
    return F.when(col == F.lit(sentinel), F.lit(repl)).otherwise(col)


def scrub_quotes(col: Column) -> Column:
    """P10 — `'` → `_` in labels (`custom_etl.py:557`, `:577-597`)."""
    return F.regexp_replace(col, "'", "_")


def strip_tz_suffix(col: Column) -> Column:
    """P12 — drop `:`-suffixed timezone tails like `... :EDT`
    (`custom_etl.py:625-682`)."""
    return F.when(
        col.rlike("(EDT|EST|PDT|PST)$"), F.element_at(F.split(col, ":"), 1)
    ).otherwise(col)


def session_label(dob: Column, imaging_date: Column, body_part: Column, time_str: Column) -> Column:
    """P6 — `{days}d_{part}{_HHhMMm}` session label (`custom_etl.py:128-175`)."""
    days = F.abs(F.datediff(imaging_date, dob))
    return F.concat(
        F.concat_ws("_", days.cast("string"), body_part), time_suffix(time_str)
    )


def is_date(col: Column, fmt: str = "yyyy-MM-dd") -> Column:
    """P15 — fuzzy date detection (`custom_etl.py:611-623`): try-parse,
    null ⇒ not a date. `try_to_date`-style, never throws."""
    return F.try_to_timestamp(col, F.lit(fmt)).isNotNull()
