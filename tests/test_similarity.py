"""The k-means family in ``functions/similarity.py``: the shared argmin
(`_argmin_over`) and the two-level (coarse-pruned, IVF-style)
nearest-seed assignment behind the ``sim_kmeans_twolevel`` entry.

Argmin shape. The Spark dialect computes every nearest-centroid argmin
as a ``min_by(cand, struct(d, cand))`` HASH AGGREGATE (map-side partial
combine — the n·k scored rows are never sort-shuffled), while DuckDB
keeps the historical min-over-window + exact-equality-filter form
byte-for-byte (oracle stability). Same for `_ivf_cell_ctes`'s ``assign``
(``max_by`` over the cell affinities). Certified here:

- string shape: the Spark strings carry no window argmin, the DuckDB
  strings carry no ``min_by``/``max_by``;
- executed-plan shape: ``kmeans_assign_sql('spark')`` runs ZERO Window
  operators, and ``sim_ivf_topk``'s plan keeps at most two (the
  query-side probe ranking — whose corpus scan must carry the pushed
  ``vec_id < N_QUERIES`` filter — and the final top-k);
- tie-break equivalence: on a corpus whose k seed embeddings are ALL
  exact duplicates (every distance ties on every vector), the aggregate
  form still picks the window form's answer — Spark (min_by) == DuckDB
  (window) bit-for-bit.

Two-level assignment. Certified here:

- exhaustive equivalence: when nprobe >= k1 (true at every oracle scale:
  k1=2, nprobe=2) the result EQUALS the flat nearest-seed argmin
  bit-for-bit — the pruning machinery adds no arithmetic drift;
- valid partition: every vector assigned exactly once to a fine seed id,
  also when exact-duplicate coarse seeds leave a probed cell with no
  fine seed;
- structure: the in-cell candidate join is an equi-join on the coarse
  id — the corpus never cross-joins the full fine-seed table.

Replica-scale quality (k1=3, probing 2/3 cells on ISOTROPIC vectors —
the hardest case for coarse pruning): measured 78.8% agreement with the
flat argmin, above the ~67% random-probe ceiling; recorded in SCALING.md
§Round 5.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np

from dnstap2clickhouse_spark.functions import similarity as fsim
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------- argmin shape

def test_spark_argmin_is_aggregate_duckdb_is_window():
    for build in (fsim.kmeans_assign_sql, fsim.kmeans_assign_twolevel_sql, fsim.ood_centroid_sql):
        s, k = build("spark"), build("duckdb")
        assert "min_by" in s and "FILTER (WHERE d = md)" not in s
        assert "min_by" not in k and "FILTER (WHERE d = md)" in k
    frag_s = fsim._ivf_cell_ctes("spark")
    frag_d = fsim._ivf_cell_ctes("duckdb")
    assert "max_by(label, struct(ccos, -label))" in frag_s
    assert "max_by" not in frag_d and "WHERE rn = 1" in frag_d


def _windows(plan: str) -> int:
    return len(re.findall(r"\bWindow \[", plan))


def test_flat_kmeans_plan_runs_zero_windows(spark):
    fsim._register(spark, SF)
    df = spark.sql(fsim.kmeans_assign_sql("spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _windows(plan) == 0
    # the argmin survives optimization as an aggregate, not a sort
    assert "min_by" in plan


def test_ivf_plan_windows_bounded_and_probe_scan_pruned(spark):
    fsim._register(spark, SF)
    df = spark.sql(fsim.ivf_topk_sql("spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # probe ranking (query rows only) + final top-k — never a third,
    # corpus-sized window (the pre-restructure plan ran it twice more)
    assert _windows(plan) <= 2
    # the probe branch's corpus scan carries the pushed query filter
    assert re.search(rf"vec_id#\d+L? < {fsim.N_QUERIES}", plan)


def test_all_ties_aggregate_matches_window_form(spark):
    # every embedding identical to vec 0 among the first k=4 seeds →
    # all k distances tie exactly on every vector → the tie-break (min
    # cluster id) decides EVERY assignment; non-seed vectors are spread
    # so the update step still produces distinct centroids
    n, dims = 24, fsim.KMEANS_DIMS
    rows = []
    for i in range(n):
        base = 0 if i < 4 else i
        vec = [((base * 7 + d * 13) % 23) / 23.0 for d in range(dims)]
        rows.append((i, vec))
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).createOrReplaceTempView("embeddings")
    got = {
        r.vec_id: r.cluster for r in spark.sql(fsim.kmeans_assign_sql("spark")).collect()
    }
    assert sorted(got) == list(range(n))
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    oracle = dict(con.execute(fsim.kmeans_assign_sql("duckdb")).fetchall())
    assert got == oracle
    # the tie actually bound: the first Lloyd round's seed distances all
    # tie, so every first-round assignment collapsed to cluster 0 — the
    # final result must still be a pure function of the shared tie-break
    assert 0 in set(got.values())


# ------------------------------------------------ two-level assignment

def _flat_nearest_seed(emb: dict[int, np.ndarray], k: int) -> dict[int, int]:
    """Reference flat argmin over the e9-quantized seeds (ties to the
    lowest id), mirroring the module's exact distance contract."""
    out = {}
    seeds = {s: emb[s] for s in range(k)}
    for v, q in emb.items():
        ds = {s: float(np.sum((q - sv) ** 2)) for s, sv in seeds.items()}
        md = min(ds.values())
        out[v] = min(s for s, d in ds.items() if d == md)
    return out


def test_twolevel_equals_flat_when_probes_cover_all_cells(spark):
    rows = fsim.kmeans_assign_twolevel(spark, SF).collect()
    emb = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1e9)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    n = len(emb)
    k = fsim.kmeans_k(n)
    k1 = max(2, -(-n // fsim.KMEANS_COARSE_OCCUPANCY))
    assert fsim.KMEANS_COARSE_NPROBE >= k1  # this scale: probes = cells
    two = {r.vec_id: r.cluster for r in rows}
    assert len(two) == n  # exactly one row per vector
    assert set(two.values()) <= set(range(k))
    flat = _flat_nearest_seed(emb, k)
    assert two == flat  # exhaustive probes ⇒ bit-identical to flat


def test_twolevel_contract_corpus_unchanged_by_fallback(spark):
    """On the real corpus (no duplicate seeds) the candidate-union is a
    pure no-op: every returned row is the flat nearest-seed argmin
    under exhaustive probes (k1=2 <= nprobe at this scale)."""
    rows = fsim.kmeans_assign_twolevel(spark, SF).collect()
    emb = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1e9)
        for r in load_table(spark, SF, "embeddings").collect()
    }
    flat = _flat_nearest_seed(emb, fsim.kmeans_k(len(emb)))
    for r in rows:
        assert r.cluster == flat[r.vec_id]


def test_twolevel_plan_never_crossjoins_fine_table(spark):
    """Structural pin: the final scoring join is an equi-join on the
    coarse id — the only CROSS JOINs in the plan are against the
    k1-row coarse table (bounded), never the fine table against the
    corpus."""
    df = fsim.kmeans_assign_twolevel(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the in-cell join must appear as an equi-join condition on coarse
    assert "coarse" in plan
    # physical: no corpus-sized nested loop — every join against q is
    # either the broadcast coarse table or coarse-keyed
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys


def _dup_seed_embeddings(n: int, dims: int) -> list[tuple[int, list[float]]]:
    """Deterministic corpus where coarse seeds 0, 2 and 3 are EXACT
    duplicates (seed 1 distinct): the fine/coarse assignment drains
    seeds 2 and 3 into cell 0, leaving cells 2 and 3 with zero fine
    seeds."""
    rows = []
    for i in range(n):
        base = 0 if i in (2, 3) else i  # exact duplicates of vec 0
        vec = [((base * 7 + d * 13) % 23) / 23.0 for d in range(dims)]
        rows.append((i, vec))
    return rows


def test_twolevel_duplicate_seeds_every_vector_assigned(spark, monkeypatch):
    # shrink the coarse occupancy so the 16-vector corpus derives k1=4
    # (= genuine pruning at nprobe=2) without a 24k-row fixture
    monkeypatch.setattr(fsim, "KMEANS_COARSE_OCCUPANCY", 4)
    n, dims = 16, fsim.KMEANS_DIMS
    rows = _dup_seed_embeddings(n, dims)
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).createOrReplaceTempView("embeddings")
    got = {
        r.vec_id: r.cluster
        for r in spark.sql(fsim.kmeans_assign_twolevel_sql("spark")).collect()
    }
    # completeness: one row per vector, no silent drops from empty cells
    assert sorted(got) == list(range(n))
    assert set(got.values()) <= set(range(4))  # valid fine-seed ids

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    oracle = dict(con.execute(fsim.kmeans_assign_twolevel_sql("duckdb")).fetchall())
    assert got == oracle
