"""Per-partition / per-group column statistics — boon's
``minimum``/``maximum``/``required``/``uniqueItems`` semantics
(reference ``src/validator.rs:520-536,214-219,351-356``) lifted to
column-level metrics (SURVEY.md §2.6).

Everything is a single ``groupBy().agg()`` with map-side partial
aggregation; ``approx_count_distinct`` is Spark's built-in HyperLogLog++
(relative sd configurable), so the distinct estimate never shuffles raw
values — only fixed-size sketches.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_stats(df: DataFrame, columns: Sequence[str], *,
                 by: Optional[Sequence[str]] = None,
                 rsd: float = 0.05,
                 exact_distinct: bool = False) -> DataFrame:
    """One row per group with min/max/null_rate/approx-distinct per column.

    Output columns: ``<col>_min, <col>_max, <col>_null_rate,
    <col>_distinct`` plus ``n_rows``.  ``exact_distinct=True`` swaps HLL
    for an exact count (used by the DuckDB-oracle tests; HLL in prod).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.min(col).alias(f"{c}_min"),
            F.max(col).alias(f"{c}_max"),
            F.avg(col.isNull().cast("double")).alias(f"{c}_null_rate"),
            (F.countDistinct(col) if exact_distinct
             else F.approx_count_distinct(col, rsd)).alias(f"{c}_distinct"),
        ]
    if by:
        return df.groupBy(*by).agg(*aggs)
    return df.agg(*aggs)


def value_quantiles(df: DataFrame, column: str,
                    qs: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99),
                    *, by: Optional[str] = None) -> DataFrame:
    """EXACT discrete quantiles for a bounded-cardinality column,
    scale-safely: ``(q_ppm, value)`` (plus the group column with
    ``by=``) where ``value`` is the smallest column value whose
    cumulative count reaches the quantile — SQL ``percentile_disc``
    semantics.

    Why not the built-ins, at 10^12 rows: ``percentile`` (exact)
    buffers every value per group in one aggregation state — the OOM
    shape; ``percentile_approx`` is scale-safe but approximate AND
    engine-specific (its KLL/GK sketch is not reproducible in DuckDB,
    so it can never be oracle-paired).  For columns with bounded
    distinct values (lengths, counts, scores, ages — the audit
    columns), the histogram route is exact and cheap: one
    ``groupBy(value).count`` whose shuffle carries only DISTINCT values
    (the boundedness contract), then a cumulative window over that tiny
    counts frame.

    The quantile test is integer-exact in any engine: value v is the
    q-quantile iff ``cum(v) * 1_000_000 >= q_ppm * N`` (qs are
    floored to ppm; int64-safe for N up to ~9.2e12 rows per group).
    NULLs are excluded (SQL aggregate semantics, both engines).
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    ppms = []
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
        ppms.append(int(q * 1_000_000))
    from pyspark.sql import Window
    keys = [by] if by else []
    counts = (df.filter(F.col(column).isNotNull())
              .groupBy(*keys, F.col(column).alias("_v"))
              .agg(F.count(F.lit(1)).cast("long").alias("_n")))
    w = (Window.partitionBy(*keys) if keys else Window.partitionBy()) \
        .orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy(*keys) if keys else Window.partitionBy()
    cum = (counts.withColumn("_cum", F.sum("_n").over(w))
           .withColumn("_tot", F.sum("_n").over(wt)))
    qdf = df.sparkSession.createDataFrame(
        [(p,) for p in ppms], "q_ppm long")
    hit = (cum.crossJoin(F.broadcast(qdf))
           .filter(F.col("_cum") * F.lit(1_000_000)
                   >= F.col("q_ppm") * F.col("_tot"))
           .groupBy(*keys, "q_ppm")
           .agg(F.min("_v").alias("value")))
    return hit.select(*keys, "q_ppm", "value")


def value_quantiles_oracle_sql(column: str,
                               qs: Sequence[float] = (0.25, 0.5, 0.75,
                                                      0.9, 0.99),
                               *, by: Optional[str] = None,
                               table: str = "documents") -> str:
    """DuckDB query reproducing :func:`value_quantiles` bit-for-bit
    (same ppm flooring, same integer threshold test)."""
    ppms = ", ".join(f"({int(q * 1_000_000)})" for q in qs)
    key_sel = f"{by}, " if by else ""
    key_grp = f"{by}, " if by else ""
    part = f"PARTITION BY {by} " if by else ""
    return f"""
        WITH counts AS (
          SELECT {key_sel}{column} AS _v,
                 CAST(count(*) AS BIGINT) AS _n
          FROM {table} WHERE {column} IS NOT NULL
          GROUP BY {key_grp}{column}),
        cum AS (
          SELECT *,
                 CAST(sum(_n) OVER ({part}ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS _cum,
                 CAST(sum(_n) OVER ({part.rstrip() or ''}) AS BIGINT)
                   AS _tot
          FROM counts),
        q(q_ppm) AS (VALUES {ppms})
        SELECT {key_sel}CAST(q_ppm AS BIGINT) AS q_ppm,
               min(_v) AS value
        FROM cum, q
        WHERE _cum * 1000000 >= q_ppm * _tot
        GROUP BY {key_grp}q_ppm
    """


def quantile_thresholds(df: DataFrame, column: str,
                        n_buckets: int = 4) -> list:
    """Equal-frequency bucket thresholds: the exact j/n-quantile values
    (``value_quantiles`` semantics) for j = 1..n, collected to the
    driver (n tiny ints — a fit step, like every fit/apply operator).
    The last threshold is the exact column max (q = 1.0), so bucket
    assignment needs no fallback arm."""
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    qs = [j / n_buckets for j in range(1, n_buckets + 1)]
    rows = value_quantiles(df, column, qs).collect()
    by_ppm = {r["q_ppm"]: r["value"] for r in rows}
    return [by_ppm[int(q * 1_000_000)] for q in qs]


def assign_quantile_bucket(df: DataFrame, column: str, thresholds: list,
                           *, bucket_col: str = "bucket") -> DataFrame:
    """``df`` plus a 1-based equal-frequency ``bucket_col``: the
    smallest j with value <= thresholds[j-1].  A codegen'd CASE chain —
    zero shuffle at apply time (the fit/apply split every deterministic
    operator here uses).  NULL values bucket NULL."""
    expr = F.lit(None).cast("long")
    for j, t in reversed(list(enumerate(thresholds, 1))):
        expr = F.when(F.col(column) <= F.lit(t),
                      F.lit(j)).otherwise(expr)
    return df.withColumn(bucket_col, expr.cast("long"))


def quantile_bucket_stats(df: DataFrame, column: str,
                          n_buckets: int = 4) -> DataFrame:
    """Fit + apply + audit in one call: ``(bucket, n, lo, hi)`` per
    equal-frequency bucket — the stratification audit (equal-frequency
    binning is how mixing/eval sets stratify on length-like columns)."""
    thr = quantile_thresholds(df, column, n_buckets)
    assigned = assign_quantile_bucket(
        df.filter(F.col(column).isNotNull()), column, thr)
    return (assigned.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min(column).cast("long").alias("lo"),
                 F.max(column).cast("long").alias("hi")))


def quantile_bucket_stats_oracle_sql(column: str, n_buckets: int = 4,
                                     *, table: str = "documents") -> str:
    """DuckDB reproduction of :func:`quantile_bucket_stats` — computes
    the SAME thresholds with the shared ppm rule, assigns the same
    min-j bucket."""
    ppms = ", ".join(
        f"({j}, {int((j / n_buckets) * 1_000_000)})"
        for j in range(1, n_buckets + 1))
    return f"""
        WITH counts AS (
          SELECT {column} AS _v, CAST(count(*) AS BIGINT) AS _n
          FROM {table} WHERE {column} IS NOT NULL GROUP BY {column}),
        cum AS (
          SELECT *,
                 CAST(sum(_n) OVER (ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS _cum,
                 CAST(sum(_n) OVER () AS BIGINT) AS _tot
          FROM counts),
        q(j, q_ppm) AS (VALUES {ppms}),
        thr AS (
          SELECT j, min(_v) AS t FROM cum, q
          WHERE _cum * 1000000 >= q_ppm * _tot GROUP BY j),
        assigned AS (
          SELECT {column} AS v,
                 (SELECT min(j) FROM thr WHERE v <= t) AS bucket
          FROM {table} WHERE {column} IS NOT NULL)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(v) AS BIGINT) AS lo,
               CAST(max(v) AS BIGINT) AS hi
        FROM assigned GROUP BY bucket
    """


def robust_outlier_summary(df: DataFrame, column: str) -> DataFrame:
    """Median/MAD outlier audit, integer-exact: one row ``(med, mad,
    n_total, n_flagged)`` where a value flags iff ``2·|v − med| >
    3·mad`` (the 1.5-MAD rule kept integral — no float multiplier).
    med and mad are exact discrete quantiles (``percentile_disc``
    semantics via :func:`value_quantiles`), so the whole audit
    reproduces bit-exactly in any engine.  The robust center/spread
    pair is the outlier rule that survives the heavy tails a mean/std
    rule dies on at web scale."""
    med_row = value_quantiles(df, column, [0.5]).first()
    if med_row is None:  # ADVICE r6: empty/all-NULL column crashed with
        # an opaque 'NoneType is not subscriptable' — raise loudly
        raise ValueError(
            f"robust_outlier_summary: column {column!r} has no non-NULL "
            f"values — median/MAD are undefined")
    med = med_row["value"]
    dev = df.filter(F.col(column).isNotNull()).select(
        F.abs(F.col(column) - F.lit(med)).alias("_d"))
    mad = value_quantiles(dev, "_d", [0.5]).first()["value"]
    base = df.filter(F.col(column).isNotNull())
    return base.agg(
        F.lit(int(med)).cast("long").alias("med"),
        F.lit(int(mad)).cast("long").alias("mad"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(2 * F.abs(F.col(column) - F.lit(med))
                     > 3 * F.lit(int(mad)), 1).otherwise(0))
        .cast("long").alias("n_flagged"))


def robust_outlier_summary_oracle_sql(column: str, *,
                                      table: str = "documents") -> str:
    """DuckDB reproduction of :func:`robust_outlier_summary` — the 0.5
    ppm rule reduces to ``2·cum >= tot`` for both the median and the
    MAD median."""
    return f"""
        WITH counts AS (
          SELECT {column} AS _v, CAST(count(*) AS BIGINT) AS _n
          FROM {table} WHERE {column} IS NOT NULL GROUP BY {column}),
        cum AS (
          SELECT *, CAST(sum(_n) OVER (ORDER BY _v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS _cum,
                 CAST(sum(_n) OVER () AS BIGINT) AS _tot
          FROM counts),
        med AS (SELECT min(_v) AS m FROM cum WHERE 2 * _cum >= _tot),
        devc AS (
          SELECT abs({column} - (SELECT m FROM med)) AS _d,
                 CAST(count(*) AS BIGINT) AS _n
          FROM {table} WHERE {column} IS NOT NULL GROUP BY _d),
        devcum AS (
          SELECT *, CAST(sum(_n) OVER (ORDER BY _d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS _cum,
                 CAST(sum(_n) OVER () AS BIGINT) AS _tot
          FROM devc),
        mad AS (SELECT min(_d) AS d FROM devcum WHERE 2 * _cum >= _tot)
        SELECT CAST((SELECT m FROM med) AS BIGINT) AS med,
               CAST((SELECT d FROM mad) AS BIGINT) AS mad,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN 2 * abs({column} - (SELECT m FROM med))
                                  > 3 * (SELECT d FROM mad)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        FROM {table} WHERE {column} IS NOT NULL
    """


def compaction_plan(df: DataFrame, *, partition_col: str,
                    bytes_col: str, target_bytes: int) -> DataFrame:
    """File-compaction plan per partition: ``(partition, n_rows,
    total_bytes, n_files, rows_per_file)`` with ``n_files =
    ceil(total/target)`` and ``rows_per_file = ceil(rows/n_files)`` —
    exact integer ceilings (``(a + b - 1) div b``).

    The small-files planner every lakehouse maintenance job needs at
    10^12 rows: ONE partially-aggregated shuffle over (partition,
    sum) pairs produces the whole plan; the plan is then fed to
    per-partition ``repartition(n_files)`` writes.  ``bytes_col`` is
    whatever byte proxy the table carries (physical file sizes,
    serialized row sizes, or a content-length column)."""
    if target_bytes < 1:
        raise ValueError(
            f"target_bytes must be >= 1, got {target_bytes}")
    t = int(target_bytes)
    agg = (df.groupBy(partition_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.coalesce(F.sum(F.col(bytes_col).cast("long")),
                           F.lit(0)).cast("long").alias("total_bytes")))
    return (agg
            .withColumn("n_files",
                        F.greatest(F.lit(1),
                                   F.expr(f"(total_bytes + {t} - 1) "
                                          f"div {t}")).cast("long"))
            .withColumn("rows_per_file",
                        F.expr("(n_rows + n_files - 1) div n_files")
                        .cast("long")))
