"""As-of join — a custom temporal operator Spark has no native form of.

For each left row, find the single nearest right row on the same key with
``right_ts <= left_ts`` (backward); left rows with no such right row are
dropped (inner, DuckDB ``ASOF JOIN``). The reference engine has no such
operator; it belongs to the beyond-reference temporal surface (same
family as the J1 interval join, ``operators/join.py``) and is table
stakes for event attribution / point-in-time feature lookup in a
training-data pipeline.

Spark-first plan — the *union + running-last* form, NOT a range
cross-join:

1. tag both sides and ``unionByName`` them into one stream of
   ``(key, ts, side, right-payload)`` rows;
2. one shuffle: ``Window.partitionBy(key).orderBy(ts, side, payload)``
   with an unbounded-preceding frame;
3. ``last(right_payload, ignorenulls=True)`` carries the most recent
   right row forward onto every left row; filter back to left rows.

Cost: ONE shuffle of |L|+|R| rows and a per-partition sort — the same
shape as a sort-merge join but with no join explosion and no
range-predicate cross product. At 100 TB this is the only viable shape:
a naive ``L.join(R, key AND r.ts <= l.ts)`` + ``max`` builds an
all-pairs intermediate that is quadratic per key.

Determinism: ties on ``(key, right_ts)`` are broken by the greatest
right payload struct (orderBy includes the struct). Oracle note: DuckDB
``ASOF JOIN`` leaves that tie unspecified, so oracle-checked queries
should deduplicate the right side per (key, ts) first.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """All left columns plus each right non-key column as ``right_<name>``,
    for the left rows that have a match."""
    on = list(on)
    right_payload = [c for c in right.columns if c not in on]

    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn(
        "__right", F.lit(None).cast(f"struct<{_struct_ddl(right, right_payload)}>")
    )
    r_tagged = (
        right.withColumn("__ts", F.col(right_ts))
        .withColumn("__right", F.struct(*right_payload))
        .select(*on, "__ts", "__right")
    )
    # left columns absent on the right become nulls in the union
    for c in left.columns:
        if c not in on and c not in ("__ts", "__right"):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(dict(l_tagged.dtypes)[c]))
    # at equal ts the right row must sort BEFORE the left row so that
    # <= (not strict <) semantics hold; __side encodes that
    l_tagged = l_tagged.withColumn("__side", F.lit(1))
    r_tagged = r_tagged.withColumn("__side", F.lit(0))
    u = l_tagged.unionByName(r_tagged.select(*l_tagged.columns))

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__right").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        u.withColumn("__asof", F.last("__right", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
        .drop("__right", "__side", "__ts")
        .filter(F.col("__asof").isNotNull())
    )
    out_cols = [F.col(c) for c in left.columns]
    out_cols += [F.col("__asof").getField(c).alias(f"right_{c}") for c in right_payload]
    return matched.select(*out_cols)

def _struct_ddl(df: DataFrame, cols: Sequence[str]) -> str:
    dtypes = dict(df.dtypes)
    return ", ".join(f"`{c}` {dtypes[c]}" for c in cols)
