"""Reusable analytic operators (SURVEY.md §2.4-§2.6).

The reference's signature pattern is *top-1-per-group*: a row_number
window over (partition, order desc) followed by ``filter(rn == 1)``
(mount.py:239-242, 282-286, 323-327 — W1+P7 in SURVEY.md). It appears in
3 of the 8 canonical queries. Here it is one operator, with a mandatory
deterministic tiebreak (row_number over ties is engine-dependent;
SURVEY.md §7 hard-part 4).

Scale notes:
  * ``top_per_group`` shuffles once on the partition keys. When the
    input is already partitioned by those keys (e.g. the groupBy that
    produced the counts), Catalyst reuses the exchange — check
    ``.explain`` shows a single Exchange.
  * ``global_top`` deliberately avoids a single-partition window
    (the reference's W2, mount.py:295-299, which funnels ALL rows into
    one task): ``ORDER BY ... LIMIT k`` is executed by Spark as
    TakeOrderedAndProject — a per-partition top-k + tiny merge, no
    global shuffle.
  * ``median_by`` exposes both the exact ``percentile`` (used for
    oracle-checked correctness) and ``percentile_approx`` (the scale
    path; a single-pass sketch).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    DISTINCT_RSD,
    PERCENTILE_ACCURACY,
    distinct_exact,
    percentile_exact,
)


def top_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int = 1,
) -> DataFrame:
    """Top-k rows per group (reference W1+P7). Caller must include a
    deterministic tiebreak in ``order_by``."""
    rn = "__rn"
    while rn in df.columns:  # never clobber a caller column
        rn += "_"
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .filter(F.col(rn) <= k)
        .drop(rn)
    )


def global_top(df: DataFrame, order_by: Sequence[Column], k: int = 1) -> DataFrame:
    """Global top-k without a single-partition window.

    The reference used ``Window.orderBy(desc)`` with no partition
    (mount.py:295-299) — correct but anti-scalable (one task sorts
    everything). ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject: per-partition heap + driver merge of k rows.
    """
    return df.orderBy(*order_by).limit(k)


def median_expr(
    value: str | Column, exact: bool | None = None, accuracy: int | None = None
) -> Column:
    """The engine's median aggregate (reference A4:
    ``percentile_approx(col, 0.5)``, mount.py:357,408,431,443).

    exact (default: ``config.percentile_exact()``, i.e. the
    ``SPARK_GRAFT_PERCENTILE_MODE`` env switch):
      * True  → ``percentile`` — exact interpolated, matches DuckDB
        ``quantile_cont`` bit-for-bit. Oracle mode. Buffers per-group
        values in an ObjectHashAggregate → unbounded per-group state;
        fine at test scale, a scale-killer on 100 TB groups.
      * False → ``percentile_approx`` — single-pass KLL-style sketch,
        bounded memory, mergeable partials (map-side combine works).
        The 100 TB mode; rank error ≤ 1/accuracy.
    """
    if exact is None:
        exact = percentile_exact()
    if exact:
        return F.percentile(value, 0.5)
    return F.percentile_approx(value, 0.5, accuracy or PERCENTILE_ACCURACY)


def distinct_count_expr(
    value: str | Column, exact: bool | None = None, rsd: float | None = None
) -> Column:
    """The engine's distinct-count aggregate, mirror of
    :func:`median_expr`'s exact-vs-sketch switch
    (``SPARK_GRAFT_DISTINCT_MODE``):

      * exact → ``count(DISTINCT col)`` — the oracle mode. Spark plans
        it as a two-phase expand + aggregate; per-group memory grows
        with group cardinality.
      * approx → ``approx_count_distinct`` — HyperLogLog++ sketch:
        single pass, O(1/rsd²) bytes per group regardless of
        cardinality, partials merge map-side. The 100 TB mode for
        distinct-user metrics.
    """
    if exact is None:
        exact = distinct_exact()
    if exact:
        return F.count_distinct(F.col(value) if isinstance(value, str) else value)
    return F.approx_count_distinct(value, rsd or DISTINCT_RSD)


def median_by(
    df: DataFrame,
    group_by: Sequence[str],
    value_col: str | Column,
    alias: str,
    exact: bool | None = None,
    accuracy: int | None = None,
) -> DataFrame:
    """Group-wise median via :func:`median_expr` (see there for the
    exact-vs-sketch scale tradeoff and the env switch)."""
    return df.groupBy(*group_by).agg(median_expr(value_col, exact, accuracy).alias(alias))


def bucketize(col: Column, edges: Sequence[tuple[float, float, str]], otherwise: str) -> Column:
    """CASE/WHEN bucketing (reference P12: age groups, mount.py:313-318).

    ``edges`` is [(lo, hi, label)] with inclusive bounds, evaluated in
    order (first match wins, like chained ``when``).
    """
    expr: Column | None = None
    for lo, hi, label in edges:
        cond = col.between(lo, hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return expr.otherwise(otherwise)

