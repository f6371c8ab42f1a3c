"""Property tests for the round-7 semantics, DuckDB-backed so hypothesis
can afford many examples (no JVM in the loop; the Spark side of each
form is separately pinned bit-equal to DuckDB in
`tests/test_round7_fixes.py`).

- kmeans_k mirror: the Python mirror that tests and sizing tools use
  must equal the in-SQL ``kk`` derivation for ANY corpus size — if they
  drift, a test's expected k contradicts the plan's own.
- equidepth NULL law: with the portable nulls-last rank key, NULL
  values always occupy the top ranks (the last bucket region) and the
  bucket sizes are the exact equidepth partition of n (each floor(n/K)
  or ceil(n/K)) for ANY nullable corpus.
- median NULL law: the length-outlier nearest-rank median under
  nulls-last ordering equals the pure-Python replay (the (n+1)//2-th
  non-null length when enough non-nulls exist, else NULL) for ANY mix
  of NULL and real texts.
- ab_test guard law: for any corpus and any bound, returned rows have
  ``chi2_exact == (n1 + n2 <= safe_nt)`` and ``significant`` is NULL
  exactly when the guard tripped; the count/rate columns never depend
  on the bound.
"""

from __future__ import annotations

import duckdb
from hypothesis import given, settings, strategies as st

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as ev


# ------------------------------------------------- kmeans_k mirror law


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=20_000_000))
def test_kmeans_k_mirror_matches_in_sql_derivation(n):
    occ, kmin = fsim.KMEANS_TARGET_OCCUPANCY, fsim.KMEANS_MIN_K
    con = duckdb.connect()
    got = con.execute(
        f"SELECT greatest(CAST({kmin} AS BIGINT),"
        f" CAST(({n} + {occ - 1}) // {occ} AS BIGINT))"
    ).fetchone()[0]
    assert got == fsim.kmeans_k(n)


# --------------------------------------------- equidepth NULL/size law


def _events_con(values):
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?)", list(enumerate(values)))
    return con


_val = st.one_of(st.none(), st.integers(min_value=-50, max_value=50).map(float))


@settings(max_examples=50, deadline=None)
@given(st.lists(_val, min_size=1, max_size=60))
def test_equidepth_nulls_last_and_exact_partition(values):
    con = _events_con(values)
    rows = con.execute(ev.equidepth_histogram_sql()).fetchall()
    n, k = len(values), ev.EQD_BUCKETS
    # exact equidepth partition: bucket b holds ranks with
    # (r-1)*K div n == b -> sizes differ by at most 1
    sizes = {b: c for b, c, _, _, _ in rows}
    assert sum(sizes.values()) == n
    assert all(c in (n // k, n // k + 1) for c in sizes.values()) or n < k
    # nulls-last: every NULL row ranks above every non-null row, so
    # only the HIGHEST occupied bucket region may have NULL lo/hi
    n_null = sum(1 for v in values if v is None)
    if n_null and n > n_null:
        null_buckets = [b for b, _, lo, hi, nd in rows if lo is None and nd == 0]
        nonnull_buckets = [b for b, _, lo, _, _ in rows if lo is not None]
        assert all(b > max(nonnull_buckets) for b in null_buckets)


# ------------------------------------------------- median NULL law


_text = st.one_of(
    st.none(),
    st.integers(min_value=1, max_value=12).map(lambda k: " ".join(["w"] * k)),
)


@settings(max_examples=50, deadline=None)
@given(st.lists(_text, min_size=1, max_size=25))
def test_length_outlier_median_nulls_last_replay(texts):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    rows = con.execute(ftext.length_outliers_sql()).fetchall()
    n = len(texts)
    lens = sorted(len(t.split(" ")) for t in texts if t is not None)
    rank = (n + 1) // 2  # nearest-rank over ALL rows, nulls ranked last
    want = lens[rank - 1] if rank <= len(lens) else None
    if want is None:
        # the reference form joins through a NULL median: every
        # median/outlier column is NULL, doc rows are preserved
        assert all(r[2] is None for r in rows)
    else:
        assert rows and all(r[2] == want for r in rows)


# --------------------------------------------------- ab_test guard law


_user = st.integers(min_value=0, max_value=30)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.tuples(_user, st.booleans()), min_size=1, max_size=40),
    st.integers(min_value=1, max_value=50),
)
def test_ab_guard_flag_law(events, safe_nt):
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1)
    rows = []
    for i, (u, conv) in enumerate(events):
        rows.append((2 * i, "signup", 1.0, u, t0 + dt.timedelta(minutes=i)))
        if conv:  # purchase inside the attribution window
            rows.append(
                (2 * i + 1, "purchase", 1.0, u, t0 + dt.timedelta(minutes=i, seconds=30))
            )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, event_type VARCHAR,"
        " value DOUBLE, user_id BIGINT, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    guarded = con.execute(ev.ab_test_sql("duckdb", safe_nt=safe_nt)).fetchall()
    base = con.execute(ev.ab_test_sql("duckdb")).fetchall()
    # same arm rows; count/rate columns never depend on the bound
    assert [r[:4] for r in guarded] == [r[:4] for r in base]
    for r in guarded:
        variant, n_users, n_conv, conv_e6, significant, chi2_exact = r
        nt = sum(x[1] for x in guarded)  # total users across arms
        assert chi2_exact == (nt <= safe_nt)
        assert (significant is None) == (not chi2_exact)
