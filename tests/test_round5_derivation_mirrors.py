"""SQL ↔ python-mirror agreement for the round-5 corpus-derived
constants, exercised at widths the shipped corpora never reach.

The tests and sizing tools rely on `kmeans_k`, `lsh_bits`, and
`lsh_buckets` mirroring the in-plan derivations (the `kk`/`lb` CTEs).
The real tables only derive k=4 / nb=4, so a silent mirror drift at
other widths would go unnoticed — these tests register SYNTHETIC
embeddings views sized to force k=6 and nb=5 and compare the executed
SQL against the mirrors row by row.
"""

from __future__ import annotations

from dnstap2clickhouse_spark.functions import similarity as fsim


def _register_synthetic(spark, n: int) -> None:
    """Deterministic 64-dim pseudo-embeddings (sin lattice, mixed sign)."""
    spark.range(n).selectExpr(
        "id AS vec_id",
        "CAST(id % 7 AS STRING) AS label",
        "transform(sequence(1, 64), d -> sin(CAST((id + 1) * d AS DOUBLE))) AS embedding",
    ).createOrReplaceTempView("embeddings")


def test_kmeans_k_sql_matches_mirror_beyond_floor(spark):
    """n=2600 derives k=6 (past the floor-4 regime every shipped corpus
    sits in): the executed assignment must emit exactly the mirror's
    cluster-id domain, with every seed present as its own cluster."""
    n = 2600
    _register_synthetic(spark, n)
    k = fsim.kmeans_k(n)
    assert k == 6  # the regime under test, not the corpus floor
    rows = spark.sql(fsim.kmeans_assign_sql("spark")).collect()
    assert len(rows) == n
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(k))
    assert len(clusters) > 1


def test_lsh_bucket_sql_matches_mirror_at_wider_width(spark):
    """n=2600 derives nb=5 (the shipped corpora never leave nb=4): the
    in-plan masked buckets must equal `lsh_buckets` for every vector —
    pinning both the width CASE and the wide-dim bit layout."""
    n = 2600
    _register_synthetic(spark, n)
    assert fsim.lsh_bits(n) == 5
    buckets = ", ".join(
        f"{fsim._bucket_expr('embedding', t, 'spark')} AS b{t}"
        for t in range(fsim.LSH_TABLES)
    )
    rows = spark.sql(
        f"WITH {fsim._lsh_bits_cte('spark')} "
        f"SELECT vec_id, embedding, {buckets} "
        "FROM embeddings CROSS JOIN lb"
    ).collect()
    assert len(rows) == n
    for r in rows:
        want = fsim.lsh_buckets(r.embedding, n)
        got = [r[f"b{t}"] for t in range(fsim.LSH_TABLES)]
        assert got == want, (r.vec_id, got, want)
        assert all(0 <= b < 32 for b in got)  # 2^5 buckets/table
    # nb=5 actually uses the 5th bit somewhere (width > 4 is exercised)
    assert any(r[f"b{t}"] >= 16 for r in rows for t in range(fsim.LSH_TABLES))
