"""Column repair / casting functions (SURVEY §2.2 P9-P13).

The reference passes Scala ``Column => Column`` prepare-functions into its
casting driver (``advancedCasting`` — ``utils.scala:94-96``); here they are
plain Python callables ``Column -> Column`` — compile-time composition, zero
serialization cost, no UDFs anywhere.

Parity notes:
- comma-decimal repair: ``regexp_replace(col, ",", ".")`` + cast double
  (``studyGrScalaA.scala:71-73``).
- boolean-from-string: ``lower(string(c)) = "prawda"`` — NULL stays NULL,
  any other string becomes false (``booleanCastingIfString`` —
  ``utils.scala:104-108``). This NULL semantics is load-bearing for the
  true-count aggregates (SURVEY §7 hard-part 2).
- boolean-from-0/1: plain ``cast("boolean")`` (``contrGrScalaA.scala:39-41``).
- date parse: ``to_date`` (``studyGrScalaA.scala:80-81``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def identity(c: Column) -> Column:
    return c


def comma_decimal(c: Column) -> Column:
    """Repair European comma decimals: "4,7" → 4.7 (still needs .cast)."""
    return F.regexp_replace(c.cast("string"), ",", ".")


def to_date(c: Column) -> Column:
    return F.to_date(c)


def boolean_from_string(c: Column, true_string: str = "prawda") -> Column:
    """NULL-propagating string equality: NULL→NULL, match→true, else false."""
    return F.lower(c.cast("string")) == F.lit(true_string.lower())


def boolean_from_yes_no(c: Column, yes: str = "tak") -> Column:
    return boolean_from_string(c, yes)


def boolean_from_int(c: Column) -> Column:
    return c.cast("boolean")


def normalize_labels(c: Column, mapping: dict[str, str]) -> Column:
    """Categorical value normalization (P16 — ``HypothesisTestingPrediction.
    scala:107-115`` uses nested regexp_replace; a literal-map lookup is exact
    and cheaper). Unmapped values pass through unchanged."""
    if not mapping:
        return c
    expr = None
    for old, new in mapping.items():
        cond = c == F.lit(old)
        expr = F.when(cond, F.lit(new)) if expr is None else expr.when(cond, F.lit(new))
    return expr.otherwise(c)
