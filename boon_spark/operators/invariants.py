"""Row-level invariant checks expressed as SQL predicates.

The flagship use is the input_hint invariant ``n_tok == size(tokens)`` —
a row-local expression that rides the same single projection as the
keyword checks (no shuffle, codegen'd).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import violation_rows
from ..plans.builder import concat_violations, row_pointer


def violation(fail: Column, iloc: Column, keyword_location: str,
              error: str) -> Column:
    """A one-row violation array when ``fail``, else the empty array.
    Never an array holding NULL, so no filter lambda has to strip one
    and the projection stays in whole-stage codegen."""
    return F.when(fail, F.array(F.struct(
        iloc.alias("instance_location"),
        F.lit(keyword_location).alias("keyword_location"),
        F.lit(error).alias("error")))).otherwise(F.array().cast(
            "array<struct<instance_location:string,"
            "keyword_location:string,error:string>>"))


def check_invariants(df: DataFrame, invariants: list[dict], *,
                     row_id: Optional[str] = None) -> DataFrame:
    """``invariants``: list of ``{"name": str, "expr": sql_bool_expr}``.
    Returns violation rows (one per failed invariant per row)."""
    iloc = row_pointer(row_id)
    return violation_rows(df.select(concat_violations([
        violation(~F.coalesce(F.expr(inv["expr"]), F.lit(False)), iloc,
                  f"/x-invariants/{inv['name']}",
                  f"invariant failed: {inv['expr']}")
        for inv in invariants]).alias("violations")))
