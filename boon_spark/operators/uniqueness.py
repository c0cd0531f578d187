"""Table-level uniqueness — boon's ``uniqueItems``
(reference ``src/validator.rs:351-356``) lifted from array to table.

boon reports the first duplicate pair ``(i, j)`` (``UniqueItems { got: [i,
j] }``, ``src/lib.rs:503-505``); at table scale we report *every* occurrence
of every duplicated key, each violation naming the duplicate count and the
other occurrences' row ids — strictly more information, same contract.

Scale notes: one hash shuffle on the key.  Counting and example
collection run as window functions over that exchange, so only the first
``max_examples`` row ids per key ever enter an aggregation buffer — a
pathological hot key (the all-NULL key at web scale) sorts and spills
instead of materializing millions of ids in one reducer (the follow-up
groupBy reuses the window's partitioning: still one shuffle total).
doc_id-style keys are high-cardinality → naturally well-distributed; no
salting needed here (contrast drift.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def check_unique(df: DataFrame, cols: list[str], *,
                 row_id: Optional[str] = None,
                 max_examples: int = 5) -> DataFrame:
    """Violation rows for duplicated key tuples.

    Returns ``(instance_location, keyword_location, error, dup_count)``.

    NULLs follow boon/JSON's ``null == null``: all-NULL keys form one
    duplicate group (two such rows: ``dup_count`` 2).  SQL ``UNIQUE``
    treats NULLs as distinct, and the embedded uniqueness of ICDE 2019
    ("Entity Integrity, Referential Integrity, and Query Optimization
    with Embedded Uniqueness Constraints") holds on total keys only.
    """
    if isinstance(cols, str):
        cols = [cols]
    # GROUPING key: a struct of the raw values — collision-free (a
    # concat_ws key would conflate ('x|y','z') with ('x','y|z'), and a
    # NULL sentinel with the literal sentinel string).  The DISPLAY key
    # keeps the readable joined form for instance_location only.
    key = F.struct(*[F.col(c) for c in cols])
    display = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("␀"))
               for c in cols])
    kw_loc = "/x-unique/" + ",".join(cols)
    ids = F.col(row_id) if row_id else F.col(cols[0])
    w = Window.partitionBy("_key")
    wo = w.orderBy("_rid")
    ranked = (df
              .select(key.alias("_key"), display.alias("_disp"),
                      ids.cast("string").alias("_rid"))
              .withColumn("dup_count", F.count(F.lit(1)).over(w))
              .withColumn("_rn", F.row_number().over(wo))
              .filter((F.col("dup_count") > 1)
                      & (F.col("_rn") <= max_examples)))
    grouped = (ranked.groupBy("_key")
               .agg(F.first("_disp").alias("_key_disp"),
                    F.first("dup_count").alias("dup_count"),
                    F.sort_array(F.collect_list("_rid")).alias("_rids")))
    return grouped.select(
        F.concat(F.lit("/"), F.col("_key_disp")).alias("instance_location"),
        F.lit(kw_loc).alias("keyword_location"),
        F.concat(F.lit("duplicate key: "), F.col("dup_count").cast("string"),
                 F.lit(" rows share this key (e.g. rows "),
                 F.array_join("_rids", ", "), F.lit(")")).alias("error"),
        F.col("dup_count"))
