"""Query registry shared by all query modules.

Each registered query pairs a Spark DataFrame program ``(spark, sf_dir) ->
DataFrame`` with an optional DuckDB-runnable ANSI-SQL oracle. Conventions
(the driver's hash-compare is order-insensitive but name/value exact):

- every computed column aliased identically on both sides;
- float aggregates rounded to 4 decimals on both sides so the value hash is
  insensitive to summation order; counts cast to BIGINT on both sides;
- deterministic tie-breakers on every top-k / window ordering;
- session timezone pinned to UTC before timestamp arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from azure_medicine_data_engineering_spark.session import ensure_utc

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator registering a query (and its oracle SQL twin, if any).

    Duplicate names RAISE: a silent overwrite destroys the earlier
    query's oracle and breaks the driver's cumulative per-name ledger
    (a round-9 duplicate of the round-7 runs test slipped through
    exactly this way before the guard existed)."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"query {name!r} is already registered "
                f"({QUERIES[name].__module__}.{QUERIES[name].__qualname__}); "
                f"pick a distinct name instead of overwriting"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Scale-proof money/metric aggregates (shared by query modules).
#
# A raw double SUM over 2-decimal values drifts past the 4-decimal display
# round once a group accumulates millions of rows (running-sum ulp random
# walk ~1e-3 measured at the 10×-sf0.1 replica, round 7), and
# ROUND(SUM(x), 2) only survives while the accumulated error < 0.005.
# These forms sum on the integer cents grid (BIGINT, order-free, exact)
# and divide once — mirror the SQL twins verbatim in oracle text.
# ---------------------------------------------------------------------------


def cents_sum(col: str, digits: int = 4):
    """Spark column: exact sum of a 2-decimal column, rounded for display."""
    from pyspark.sql import functions as F

    return F.round(
        F.sum(F.round(F.col(col) * 100).cast("long")).cast("double") / 100, digits
    )


def cents_avg(col: str, digits: int = 4):
    """Spark column: mean of a 2-decimal column over its exact cents sum."""
    from pyspark.sql import functions as F

    return F.round(
        F.sum(F.round(F.col(col) * 100).cast("long")).cast("double")
        / 100
        / F.count(F.col(col)),
        digits,
    )


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with a canonical microsecond TIMESTAMP ``ts``.

    The driver has shipped this table with two physical types across rounds,
    so the accessor adapts to what is actually stored:

    - INT64 TIMESTAMP(NANOS): Spark 4 rejects it outright
      (PARQUET_TYPE_ILLEGAL); the session-wide ``nanosAsLong`` conf
      (``session.DEFAULT_CONF``, re-asserted here for foreign sessions)
      reads it as raw nanos longs, truncated to micros with integer
      division — exactly what DuckDB's µs-native timestamp does.
    - TIMESTAMP(MICROS) with isAdjustedToUTC=false: Spark 4 infers
      TIMESTAMP_NTZ; cast to session-zone TIMESTAMP (UTC is pinned) so the
      wall-clock values match DuckDB's naive-µs reading bit-for-bit.
    """
    ensure_utc(spark)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)  # sql confs always resolve (typed default)
    spark.conf.set(key, "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):  # raw nanos via nanosAsLong
        # the conf must stay on for this query's lifetime: the scan re-reads
        # footers at EXECUTION time, so restoring it here would fail the job
        # with PARQUET_TYPE_ILLEGAL. Sessions built via session.get_spark
        # already declare it in DEFAULT_CONF; only foreign sessions observe
        # this set, and only when the stored type actually requires it.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # micros-typed file: the conf was irrelevant — restore the caller's
    # setting so the accessor leaves no session-conf side effect
    spark.conf.set(key, prev)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
