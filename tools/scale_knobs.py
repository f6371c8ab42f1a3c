"""Measure the two documented scale knobs at the 10x replica.

Round 5 made BOTH knobs this script used to monkey-patch part of the
shipped plans: the k-means cell count (the `kk` CTE, k = ceil(n /
KMEANS_TARGET_OCCUPANCY)) and the sign-LSH bucket width (the `lb` CTE,
nb = smallest width holding LSH_TARGET_OCCUPANCY). Each section now just
times the SAME audited SQL at sf0.1 and the replica, so "constant
occupancy restores linearity" stays a measurement, not an argument.

Usage:  python tools/scale_knobs.py [replica_dir]
Prints one line per (query, setting): runtime + output size.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICA = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_sf1"
SF01 = "/root/testdata/sf0.1"


def main() -> None:
    from dnstap2clickhouse_spark.functions import similarity as fsim
    from dnstap2clickhouse_spark.session import get_spark

    spark = get_spark("scale_knobs")
    spark.sparkContext.setLogLevel("ERROR")

    def run(sql: str, sf_dir: str, label: str) -> None:
        fsim._register(spark, sf_dir)
        times = []
        for _ in range(2):
            t = time.time()
            n = spark.sql(sql).count()
            times.append(time.time() - t)
        print(f"{label}: min {min(times):.1f}s rows={n}", flush=True)

    # --- SemDeDup: k is corpus-derived IN the SQL since round 5 ---
    # (k = ceil(n / KMEANS_TARGET_OCCUPANCY), the kk CTE in kmeans_assign_sql)
    # so the SAME audited SQL runs at both scales and occupancy stays
    # constant: the knob this script used to monkey-patch is the plan.
    run(fsim.semantic_dedup_sql("spark"), SF01, "sf0.1  dedup_semantic k=derived")
    run(fsim.semantic_dedup_sql("spark"), REPLICA, "sf1    dedup_semantic k=derived")

    # --- embedding LSH: bucket width is corpus-derived IN the SQL too
    # (round 5: the lb CTE masks the wide sign bucket to nb = f(count);
    # 4 bits at sf0.1, 8 bits at the replica) — same audited SQL at both
    # scales, occupancy constant, candidate count near-linear.
    run(fsim.embedding_lsh_dups_sql("spark"), SF01, "sf0.1  dedup_embedding_lsh nb=derived")
    run(fsim.embedding_lsh_dups_sql("spark"), REPLICA, "sf1    dedup_embedding_lsh nb=derived")

    spark.stop()


if __name__ == "__main__":
    main()
