"""Referential-integrity check — boon's ``enum``
(reference ``src/validator.rs:134-139``) with a table-valued value list.

Implemented as a **broadcast** left-anti join: the dimension is small by
construction (it's an enum), so no shuffle touches the fact table — the
check is a map-side hash probe that scales linearly with input splits.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.builder import row_pointer


def check_referential(df: DataFrame, column: str, dim: DataFrame, *,
                      dim_column: Optional[str] = None,
                      row_id: Optional[str] = None) -> DataFrame:
    """Violation rows for fact values absent from the dimension.

    A NULL fact value matches no dimension key, a NULL one included: it
    is a violation with ``value`` NULL and error "value 'null' not
    present ...".  A SQL ``MATCH SIMPLE`` foreign key passes NULL
    instead (ICDE 2019, cited in :func:`check_unique`).
    """
    dcol = dim_column or column
    dim_keys = dim.select(F.col(dcol).alias(column)).dropDuplicates([column])
    missing = df.join(F.broadcast(dim_keys), on=column, how="left_anti")
    return missing.select(
        F.concat(row_pointer(row_id),
                 F.lit(f"/{column}")).alias("instance_location"),
        F.lit(f"/x-references/{column}").alias("keyword_location"),
        F.concat(F.lit(f"value '"), F.coalesce(F.col(column).cast("string"),
                                               F.lit("null")),
                 F.lit(f"' not present in dimension for {column}"))
        .alias("error"),
        F.col(column).cast("string").alias("value"))
