"""Table-level data quality: constraint suites and column profiles.

A constraint is one aggregate observation checked against optional
bounds (the Deequ ``VerificationSuite`` shape); :func:`check_constraints`
evaluates a whole suite in one pass. :func:`profile_columns` computes a
per-column profile (rows, nulls, distincts, numeric min/max) in one
pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ue_big_data_project_spark.session import local_relation


class Constraint:
    """A named table-level data-quality constraint: one aggregate
    observation (a double) checked against optional [lo, hi] bounds —
    the Deequ ``VerificationSuite`` shape. Build instances with the
    ``c_*`` constructors below; evaluate a suite with
    :func:`check_constraints`."""

    __slots__ = ("name", "observe", "lo", "hi")

    def __init__(
        self,
        name: str,
        observe: Column,
        lo: float | None = None,
        hi: float | None = None,
    ) -> None:
        self.name = name
        self.observe = observe
        self.lo = lo
        self.hi = hi


def _ratio(num: Column) -> Column:
    """num / total rows as double — exact integer counts divided once,
    so the ratio is bit-identical in any engine."""
    return num.cast("double") / F.count(F.lit(1)).cast("double")


def c_row_count(
    lo: float | None = None, hi: float | None = None, name: str = "row_count"
) -> Constraint:
    return Constraint(name, F.count(F.lit(1)).cast("double"), lo, hi)


def c_completeness(col: str, lo: float = 1.0) -> Constraint:
    """Fraction of rows with ``col`` non-null."""
    return Constraint(
        f"completeness({col})",
        _ratio(F.count_if(F.col(col).isNotNull())),
        lo,
        None,
    )


def c_distinct_ratio(col: str, lo: float = 1.0) -> Constraint:
    """Exact distinct values / rows — 1.0 means the column is unique.
    (Named for what it measures; Deequ's 'uniqueness' divides values
    occurring exactly once instead.)"""
    return Constraint(
        f"distinct_ratio({col})", _ratio(F.countDistinct(F.col(col))), lo, None
    )


def c_min(col: str, lo: float) -> Constraint:
    return Constraint(f"min({col})", F.min(F.col(col)).cast("double"), lo, None)


def c_max(col: str, hi: float) -> Constraint:
    return Constraint(
        f"max({col})", F.max(F.col(col)).cast("double"), None, hi
    )


def c_mean(col: str, lo: float | None, hi: float | None) -> Constraint:
    """Mean of a numeric column via DECIMAL-exact sum (float addition
    is partition-order-dependent; the decimal sum is associative), cast
    back to double, divided once, rounded at 6 dp."""
    from ue_big_data_project_spark.functions import pround

    return Constraint(
        f"mean({col})",
        pround(
            F.sum(F.col(col).cast("decimal(27,6)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ),
        lo,
        hi,
    )


def c_in_set(col: str, allowed: list, lo: float = 1.0) -> Constraint:
    """Fraction of rows whose value is in ``allowed``."""
    return Constraint(
        f"in_set({col})",
        _ratio(F.count_if(F.col(col).isin(list(allowed)))),
        lo,
        None,
    )


def c_matches(col: str, pattern: str, lo: float = 1.0) -> Constraint:
    """Fraction of rows matching an anchored regex. Keep patterns in
    the POSIX-common subset — the check must mean the same thing to
    Java regex (Spark) and RE2-style engines (oracle portability)."""
    return Constraint(
        f"matches({col})",
        _ratio(F.count_if(F.col(col).rlike(pattern))),
        lo,
        None,
    )


def check_constraints(
    df: DataFrame, constraints: list[Constraint]
) -> DataFrame:
    """Evaluate a constraint suite in ONE pass over ``df``:
    ``(constraint, observed, passed)``, one row per constraint in
    suite order.

    All observations compute side by side in a single aggregate (each
    is partial-aggregating, so the shuffle carries one scalar per
    constraint — except exact distincts, which Spark plans via Expand;
    swap those for ``approx_count_distinct`` bounds at the
    :func:`profile_columns` scale the way that docstring describes).
    The scalar row then unpivots through a literal stack and the
    bounds ride a broadcast literal table — no second scan, no
    per-constraint jobs, which is the entire point at 100 TB: the
    verification costs what one aggregation of the ingest already
    costs.

    A NULL observation (min/mean of an empty table) FAILS its
    constraint — an unevaluable check must not wave a drop through
    (the :func:`split_by_expectations` null-hostility, table-level).
    Row-level dead-lettering is that function's job; this one renders
    the table-level verdict a pipeline gates a source drop on.
    """
    names = [c.name for c in constraints]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names in suite: {names}")
    row = df.agg(
        *[c.observe.alias(f"_o{i}") for i, c in enumerate(constraints)]
    )
    pairs: list[Column] = []
    for i, c in enumerate(constraints):
        pairs += [F.lit(c.name), F.col(f"_o{i}")]
    long = row.select(
        F.stack(F.lit(len(constraints)), *pairs).alias(
            "constraint", "observed"
        )
    )
    bounds = local_relation(
        df.sparkSession,
        [(c.name, c.lo, c.hi) for c in constraints],
        "constraint string, _lo double, _hi double",
    )
    return (
        long.join(F.broadcast(bounds), "constraint")
        .select(
            "constraint",
            "observed",
            (
                F.col("observed").isNotNull()
                & (F.col("_lo").isNull() | (F.col("observed") >= F.col("_lo")))
                & (F.col("_hi").isNull() | (F.col("observed") <= F.col("_hi")))
            ).alias("passed"),
        )
    )


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """One-pass table profile: per column, the row count, null count,
    distinct count, and (numeric columns) min/max as doubles —
    the pre-ingest audit a 100 TB pipeline runs before trusting a new
    source drop.

    One scan computes every column's aggregates side by side (count /
    count_if / count_distinct are all partial-aggregating, so the
    shuffle carries a handful of scalars per column), then the scalar
    row unpivots to one row per column via a literal stack — no second
    pass, no per-column jobs. Non-numeric columns report null min/max
    (rendering min/max of strings/timestamps portably is a formatting
    contract, not a profiling one).

    ``approx_distinct=True`` swaps the exact ``count_distinct`` for the
    JVM-side HLL++ ``approx_count_distinct`` (rsd 2%). This is the
    at-scale switch: k exact distincts in one aggregate force an
    Expand — the scan re-emits every row k times and each distinct
    shuffles its full value set — while the HLL sketches partial-
    aggregate flat (plan pinned by tests). The estimate is NOT
    cross-engine deterministic, so the oracle-paired ``pipeline_profile``
    query keeps the exact form; the approx profile is an audit tool,
    like the portable-sketch operators but engine-internal.
    """
    from pyspark.sql import types as T

    cols = columns or df.columns
    numeric = {
        c
        for c in cols
        if isinstance(df.schema[c].dataType, T.NumericType)
    }
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count_if(F.col(c).isNull()).alias(f"__null_{c}"),
            (
                F.approx_count_distinct(F.col(c), rsd=0.02)
                if approx_distinct
                else F.countDistinct(F.col(c))
            ).alias(f"__dist_{c}"),
            (
                F.min(F.col(c)).cast("double")
                if c in numeric
                else F.lit(None).cast("double")
            ).alias(f"__min_{c}"),
            (
                F.max(F.col(c)).cast("double")
                if c in numeric
                else F.lit(None).cast("double")
            ).alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_num"),
                F.col(f"__max_{c}").alias("max_num"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")
