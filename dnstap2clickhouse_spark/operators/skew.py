"""Skew-resistant aggregation (salting).

The reference never needs this — a single process has no shuffle — but a
100 TB deployment does: a hot grouping key (one identity producing most
traffic, one viral question name) concentrates a shuffle partition on one
reducer. Salting is the standard Spark remedy alongside AQE skew-join:

- **salted aggregation**: stage 1 aggregates on (keys, salt) so a hot
  key's rows spread over ``buckets`` reducers; stage 2 merges the
  partials on the real keys. Associative aggregates (sum/count/min/max)
  are exactly invariant under the two-stage split, so results are
  bit-identical to the direct groupBy — the oracle is the plain SQL.

The salt is ``xxhash64(all columns) pmod buckets`` — deterministic per
row (replay-safe), uniform for non-identical rows, and correct even for
fully duplicate rows (they just share a bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"

def with_salt(df: DataFrame, buckets: int = 16) -> DataFrame:
    """Deterministic row salt in [0, buckets)."""
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets))
    )

def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-spread aggregation.

    ``aggs``: {column: fn} with fn in sum/count/min/max (associative —
    exact under re-aggregation). Returns one row per key group, names
    preserved, values identical to ``df.groupBy(keys).agg(...)``.
    """
    bad = {fn for fn in aggs.values()} - {"sum", "count", "min", "max"}
    if bad:
        # non-associative fns (avg, stddev, ...) silently merge wrong in
        # the two-stage split — refuse rather than return plausible garbage
        raise ValueError(f"salted_agg supports sum/count/min/max only, got {sorted(bad)}")
    merge_fn = {"count": "sum"}  # partial counts merge by summing
    stage1 = (
        with_salt(df, buckets)
        .groupBy(*keys, SALT_COL)
        .agg(*[getattr(F, fn)(c).alias(c) for c, fn in aggs.items()])
    )
    return stage1.groupBy(*keys).agg(
        *[getattr(F, merge_fn.get(fn, fn))(c).alias(c) for c, fn in aggs.items()]
    )
