"""Per-row token-array equality vs a reference table — boon's deep
``equals`` (reference ``src/util.rs:348-388``) applied row-wise at table
scale (the input_hint invariant).

Scale notes: an equi-join on the key.  At 10^12 rows both sides are big —
this is a sort-merge/shuffled-hash join on ``doc_id`` (high-cardinality,
skew-free).  If both tables are bucketed by the key on disk (Iceberg
bucket(doc_id, N)), Spark elides the shuffle entirely — recommend that
layout in production.  The array comparison itself is a single JVM-side
``==`` on array columns (no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import violation_rows
from ..plans.builder import concat_violations, row_pointer
from .invariants import violation


def check_equality(cur: DataFrame, ref: DataFrame, *, key: str = "doc_id",
                   columns: list[str] | None = None) -> DataFrame:
    """Violation rows where ``cur`` and ``ref`` disagree on ``columns``
    (default: all shared non-key columns), plus keys missing from ``ref``
    (reported once per row as ``/x-equality/_missing`` — an explicit
    ref-side marker, because ``~eqNullSafe(NULL, NULL)`` is false and a
    missing row whose compared columns are all NULL would otherwise pass
    silently)."""
    if columns is None:
        columns = [c for c in cur.columns
                   if c in set(ref.columns) and c != key]
    r = ref.select(key, F.lit(True).alias("_ref_present"),
                   *[F.col(c).alias(f"_ref_{c}") for c in columns])
    joined = cur.select(key, *columns).join(r, on=key, how="left")

    present = F.col("_ref_present").isNotNull()
    row = row_pointer(key)
    checks = [violation(~present, row, "/x-equality/_missing",
                        "key missing from reference")]
    for c in columns:
        mismatch = present & ~F.col(c).eqNullSafe(F.col(f"_ref_{c}"))
        checks.append(violation(
            mismatch, F.concat(row, F.lit(f"/{c}")), f"/x-equality/{c}",
            f"value differs from reference for column '{c}'"))
    return violation_rows(
        joined.select(concat_violations(checks).alias("violations")))


def snapshot_diff(old: DataFrame, new: DataFrame, *, key: str = "doc_id",
                  columns: list[str] | None = None) -> DataFrame:
    """One-row snapshot delta between two versions of a table:
    ``(n_old, n_new, n_added, n_removed, n_changed, n_unchanged)`` —
    the pipeline-ops question ("what did this refresh actually do?")
    answered before anything downstream reruns.

    ``columns`` (default: all shared non-key columns) define "changed":
    a key present on both sides whose compared columns differ
    (NULL-safe, so NULL→NULL is unchanged and NULL→value is a change;
    the digest is fixed-width per-column md5 blocks, so separator
    injection cannot alias two different rows).  Scale shape: each side
    reduces to ``(key, 16-byte content digest)`` row-locally, then ONE full-outer join on the key — the
    same high-cardinality skew-free shuffle as :func:`check_equality`,
    shuffle-free under key-bucketed table layouts.  Duplicate keys are
    the caller's invariant (validate with the uniqueness operator
    first); rows joining many-to-many would double-count here.
    """
    if columns is None:
        columns = sorted(c for c in new.columns
                         if c in set(old.columns) and c != key)
    if not columns:
        raise ValueError("no shared non-key columns to compare")

    def digest(df: DataFrame, side: str) -> DataFrame:
        # fixed-width per-column blocks: each column contributes its own
        # md5 (32 hex chars) or the non-hex sentinel 'N'*32 for NULL, so
        # no value can shift bytes into a neighbor — a separator-based
        # concatenation is injectable (value containing the separator)
        parts = [F.coalesce(F.md5(F.col(c).cast("string")),
                            F.lit("N" * 32)) for c in columns]
        return df.select(F.col(key).alias("_k"),
                         F.md5(F.concat(*parts)).alias(side))

    o = digest(old, "_ho")
    n = digest(new, "_hn")
    j = o.join(n, "_k", "full_outer")
    return j.agg(
        F.sum(F.col("_ho").isNotNull().cast("long")).alias("n_old"),
        F.sum(F.col("_hn").isNotNull().cast("long")).alias("n_new"),
        F.sum((F.col("_ho").isNull() & F.col("_hn").isNotNull())
              .cast("long")).alias("n_added"),
        F.sum((F.col("_ho").isNotNull() & F.col("_hn").isNull())
              .cast("long")).alias("n_removed"),
        F.sum((F.col("_ho").isNotNull() & F.col("_hn").isNotNull()
               & (F.col("_ho") != F.col("_hn"))).cast("long"))
        .alias("n_changed"),
        F.sum((F.col("_ho").isNotNull() & F.col("_hn").isNotNull()
               & (F.col("_ho") == F.col("_hn"))).cast("long"))
        .alias("n_unchanged")).select(
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
          for c in ("n_old", "n_new", "n_added", "n_removed",
                    "n_changed", "n_unchanged")])


def snapshot_diff_oracle_sql(*, key: str = "doc_id",
                             columns: list[str],
                             old_sql: str, new_sql: str) -> str:
    """DuckDB query reproducing :func:`snapshot_diff` bit-for-bit.
    ``old_sql``/``new_sql`` are SELECTs producing the two versions."""
    parts = " || ".join(
        f"coalesce(md5(CAST({c} AS VARCHAR)), repeat('N', 32))"
        for c in sorted(columns))
    return f"""
        WITH snap_o AS (SELECT {key} AS _k, md5({parts}) AS _ho
                        FROM ({old_sql})),
        snap_n AS (SELECT {key} AS _k, md5({parts}) AS _hn
                   FROM ({new_sql})),
        j AS (SELECT snap_o._ho, snap_n._hn
              FROM snap_o FULL OUTER JOIN snap_n
                ON snap_o._k = snap_n._k)
        SELECT
          CAST(coalesce(sum(CASE WHEN _ho IS NOT NULL THEN 1 END), 0)
               AS BIGINT) AS n_old,
          CAST(coalesce(sum(CASE WHEN _hn IS NOT NULL THEN 1 END), 0)
               AS BIGINT) AS n_new,
          CAST(coalesce(sum(CASE WHEN _ho IS NULL AND _hn IS NOT NULL
               THEN 1 END), 0) AS BIGINT) AS n_added,
          CAST(coalesce(sum(CASE WHEN _ho IS NOT NULL AND _hn IS NULL
               THEN 1 END), 0) AS BIGINT) AS n_removed,
          CAST(coalesce(sum(CASE WHEN _ho IS NOT NULL AND _hn IS NOT NULL
               AND _ho <> _hn THEN 1 END), 0) AS BIGINT) AS n_changed,
          CAST(coalesce(sum(CASE WHEN _ho IS NOT NULL AND _hn IS NOT NULL
               AND _ho = _hn THEN 1 END), 0) AS BIGINT) AS n_unchanged
        FROM j
    """
