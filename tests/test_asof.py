"""Semantics tests for the generic as-of join (operators/asof.py,
backward/inner): unmatched left rows, equal timestamps, right-side ties,
and a property test against a naive reference model — the cases the
oracle query (`events_asof_attribution`) doesn't exercise."""

from __future__ import annotations

import datetime as dt

from dnstap2clickhouse_spark.operators.asof import asof_join

def _ts(s: float) -> dt.datetime:
    return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)

def _frames(spark):
    left = spark.createDataFrame(
        [("u1", _ts(10), "L10"), ("u1", _ts(20), "L20"), ("u2", _ts(5), "L5")],
        "key string, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [("u1", _ts(8), "R8"), ("u1", _ts(15), "R15"), ("u3", _ts(1), "R1")],
        "key string, ts timestamp, rlbl string",
    )
    return left, right

def test_backward_inner(spark):
    left, right = _frames(spark)
    got = {
        r.lbl: r.right_rlbl
        for r in asof_join(left, right, on=["key"]).collect()
    }
    # u2 has no right rows at all -> dropped under inner
    assert got == {"L10": "R8", "L20": "R15"}

def test_equal_ts_matches_backward(spark):
    left = spark.createDataFrame([("k", _ts(8), "L")], "key string, ts timestamp, lbl string")
    right = spark.createDataFrame([("k", _ts(8), "R")], "key string, ts timestamp, rlbl string")
    rows = asof_join(left, right, on=["key"]).collect()
    assert [r.right_rlbl for r in rows] == ["R"]

def test_tie_on_right_ts_is_greatest_payload(spark):
    left = spark.createDataFrame([("k", _ts(10), "L")], "key string, ts timestamp, lbl string")
    right = spark.createDataFrame(
        [("k", _ts(5), "A"), ("k", _ts(5), "B")], "key string, ts timestamp, rlbl string"
    )
    rows = asof_join(left, right, on=["key"]).collect()
    assert [r.right_rlbl for r in rows] == ["B"]  # greatest struct wins, deterministically

# ------------------------- property: asof_join vs naive reference model

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_h

    _rows = st_h.lists(
        st_h.tuples(
            st_h.sampled_from(["a", "b", "c"]),          # key
            st_h.integers(min_value=0, max_value=50),    # seconds offset
            st_h.integers(min_value=0, max_value=9),     # payload id
        ),
        min_size=0,
        max_size=12,
    )

    def _naive_backward(left, right):
        """Reference model: per left row, the right row with the greatest
        (ts, payload) among same-key rows with ts <= left ts."""
        out = {}
        for lk, lt, li in left:
            cands = [(rt, ri) for rk, rt, ri in right if rk == lk and rt <= lt]
            out[(lk, lt, li)] = max(cands) if cands else None
        return out

    @given(_rows, _rows)
    @settings(max_examples=12, deadline=None)
    def test_asof_matches_naive_model(left_rows, right_rows):
        # hypothesis can't inject fixtures: grab the shared session
        from dnstap2clickhouse_spark.session import get_spark

        spark = get_spark("test")
        left = spark.createDataFrame(
            [(k, _ts(t), i) for k, t, i in left_rows] or [("zz", _ts(0), 0)],
            "key string, ts timestamp, lid int",
        )
        right = spark.createDataFrame(
            [(k, _ts(t), i) for k, t, i in right_rows] or [("zz", _ts(-999), 0)],
            "key string, ts timestamp, rid int",
        )
        got = {
            (r.key, (r.ts - dt.datetime(2026, 1, 1)).total_seconds(), r.lid): (
                (r.right_ts - dt.datetime(2026, 1, 1)).total_seconds(),
                r.right_rid,
            )
            for r in asof_join(left, right, on=["key"]).collect()
        }
        # inner: left rows the model finds no match for are dropped
        want = {
            (k, float(t), i): (float(v[0]), v[1])
            for (k, t, i), v in _naive_backward(
                left_rows or [("zz", 0, 0)], right_rows or [("zz", -999, 0)]
            ).items()
            if v is not None
        }
        assert got == want

except ImportError:  # pragma: no cover
    pass
