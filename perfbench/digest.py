"""Order-insensitive output digests, computed by Spark in one aggregate.

A digest is `rows:h1:h2`, where h1 and h2 are sums of the low and high
32 bits of each row's xxhash64. Doubles are rounded to 6 decimals first
(and -0.0 folded into 0.0), the float normalization the repo's oracle
compare uses, so a last-bit difference in a float sum is not a mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, FloatType

MASK = 0xFFFFFFFF


def _norm(field):
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, (DoubleType, FloatType)):
        r = F.round(c.cast("double"), 6)
        return F.when(r == 0, F.lit(0.0)).otherwise(r)
    return c


def digest_exprs(df: DataFrame) -> list:
    """The digest's aggregate columns, usable in `agg` or `observe`."""
    h = F.xxhash64(*[_norm(f) for f in df.schema.fields])
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(F.lit(MASK))), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)).alias("hi"),
    ]


def render(row) -> str:
    return f"{row['n']}:{row['lo']}:{row['hi']}"


def frame_digest(df: DataFrame) -> str:
    return render(df.agg(*digest_exprs(df)).collect()[0])


def rollup_digest(df: DataFrame) -> str:
    """Digest of a rollup table on its keys, counts and 2-decimal sums
    (events.value sits on a 2-decimal grid, so the exact sum does too;
    avg_value is sum/count and adds nothing)."""
    return frame_digest(
        df.select(
            "window_start",
            "window_end",
            "event_type",
            "n_events",
            "n_values",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )
