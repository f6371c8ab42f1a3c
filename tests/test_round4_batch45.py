"""Round-4 batch-45 operators: decontamination k-sweep, pipeline
version diff, supplier HHI. Pins: the sweep's monotone-in-k law and a
replay of the k=8 point against the production gate; the structural
diff laws (added == 0 since v3 only adds a gate; dropped == the
SemDeDup-rejected mass; retention identity); and the HHI replay plus
its boundary laws (monopoly -> 1e6, even split -> 1e6/n).
"""

from __future__ import annotations

from collections import defaultdict

from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import curation as pcur
from dnstap2clickhouse_spark.plans import tpch
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ------------------------------------------------ decontam sweep


def test_decontam_sweep_monotone_and_matches_gate(spark):
    out = {r.k: (r.n_eval_grams, r.n_dropped)
           for r in ftext.decontam_sweep(spark, SF).collect()}
    assert sorted(out) == sorted(ftext.DECON_SWEEP_KS)
    ks = sorted(out)
    for k1, k2 in zip(ks, ks[1:]):
        assert out[k1][1] >= out[k2][1]  # bigger grams drop fewer docs
    # the k=DECONTAM_K point must equal the production gate's count
    gate_dropped = sum(r.contaminated
                       for r in ftext.decontaminate(spark, SF).collect())
    assert out[ftext.DECONTAM_K][1] == gate_dropped


# ------------------------------------------------ version diff


def test_version_diff_structural_laws(spark):
    out = pcur.version_diff(spark, SF).collect()
    v2 = pcur.curate_corpus_v2(spark, SF).collect()
    v3 = pcur.curate_corpus_v3(spark, SF).collect()
    v2_by: dict = defaultdict(int)
    v3_by: dict = defaultdict(int)
    for r in v2:
        v2_by[r.split] += 1
    for r in v3:
        v3_by[r.split] += 1
    for r in out:
        assert r.added_by_v3 == 0  # v3 only ADDS a gate
        assert r.kept_by_both == v3_by[r.split]
        assert r.kept_by_both + r.dropped_by_v3 == v2_by[r.split]
        assert r.retention_e6 == (r.kept_by_both * 1_000_000
                                  // (r.kept_by_both + r.dropped_by_v3))
    assert sum(r.dropped_by_v3 for r in out) == len(v2) - len(v3)


# ------------------------------------------------ supplier HHI


def test_hhi_python_replay(spark):
    lines = load_table(spark, SF, "lineitem").selectExpr(
        "l_suppkey", "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
        " AS BIGINT) AS cents").collect()
    supp = {r.s_suppkey: r.s_nationkey
            for r in load_table(spark, SF, "supplier").collect()}
    nations = {r.n_nationkey: r.n_name
               for r in load_table(spark, SF, "nation").collect()}
    cost: dict = defaultdict(int)
    for r in lines:
        cost[(supp[r.l_suppkey], r.l_suppkey)] += r.cents
    by_nation: dict = defaultdict(dict)
    for (nk, sk), c in cost.items():
        by_nation[nk][sk] = c
    out = {r.nation: r for r in tpch.supplier_hhi(spark, SF).collect()}
    for nk, supps in by_nation.items():
        tot = sum(supps.values())
        shares = {sk: c * 1_000_000 // tot for sk, c in supps.items()}
        hhi = sum(s * s for s in shares.values()) // 1_000_000
        r = out[nations[nk]]
        assert (r.n_suppliers, r.total_cents) == (len(supps), tot)
        assert r.top_share_e6 == max(shares.values())
        assert r.hhi_e6 == hhi
        assert r.concentrated == (hhi >= 250_000)


def test_hhi_boundary_laws(spark):
    li = load_table(spark, SF, "lineitem")
    su = load_table(spark, SF, "supplier")

    def run(line_rows, supp_rows):
        spark.createDataFrame(
            line_rows,
            "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
            " l_extendedprice DOUBLE, l_discount DOUBLE",
        ).createOrReplaceTempView("lineitem")
        spark.createDataFrame(
            supp_rows, "s_suppkey BIGINT, s_nationkey BIGINT"
        ).createOrReplaceTempView("supplier")
        return {r.nation: r for r in
                spark.sql(tpch.supplier_hhi_sql("spark")).collect()}

    try:
        # nation 0: monopoly; nation 1: four equal suppliers
        lines = [(1, 1, 10, 100.0, 0.0)] * 3
        lines += [(2, 1, s, 100.0, 0.0) for s in (20, 21, 22, 23)]
        supps = [(10, 0)] + [(s, 1) for s in (20, 21, 22, 23)]
        got = run(lines, supps)
    finally:
        li.createOrReplaceTempView("lineitem")
        su.createOrReplaceTempView("supplier")
    mono = [r for n, r in got.items() if r.n_suppliers == 1][0]
    even = [r for n, r in got.items() if r.n_suppliers == 4][0]
    assert mono.hhi_e6 == 1_000_000 and mono.concentrated
    assert abs(even.hhi_e6 - 250_000) <= 1 and even.top_share_e6 == 250_000
