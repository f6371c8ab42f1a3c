"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on a deliberately VANILLA SparkSession (no
``session.py`` configs — mirroring the driver harness) and the matching
``oracle_sql()`` on DuckDB over the same parquet, then compares row count,
schema (column names), and values (columns sorted by name, rows sorted by
all columns) at sf0.01 by default.

Usage:
    python tools/check_correctness.py [sf_dir] [only_query ...] [--sampled]

``--sampled`` (replica-scale sweeps, r7 verdict item 4): entries whose
full compare degraded at the 10x replica — the quadratic pair relation
``dedup_simhash_pairs`` (182M rows, count-only) and
``dedup_minhash_recall`` (whose all-pairs ground-truth CTE runs DuckDB
out of disk) — are compared on a DETERMINISTIC hash-mod sample of the
pair key, applied identically in both engines BEFORE materialization,
converting both degrades into value evidence without the quadratic
round-trip. sf0.01 driver-parity runs stay byte-identical without the
flag.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

_argv = [a for a in sys.argv[1:] if a != "--sampled"]
SAMPLED = "--sampled" in sys.argv[1:]
SF_DIR = _argv[0] if _argv else "/root/testdata/sf0.01"
ONLY = set(_argv[1:])

#: above this, value comparison degrades to a count-only check (printed
#: as PASS* COUNT-ONLY): pandas canonicalization of a 100M+-row
#: verifier output is a harness limit, not an engine check. Far above
#: anything the sf0.01 driver gate produces — full value compare there.
MAX_COMPARE_ROWS = 20_000_000

#: --sampled keeps 1/SAMPLE_MOD of pairs: (doc_a, doc_b) through a
#: Knuth-multiplier mix, mod taken on the BIGINT product (doc ids are
#: < 2^24 even at the 10x replica, so the product is < 2^58 — no
#: overflow in either engine). 97 turns the replica's 182M-row pair
#: relation into a ~1.9M-row full value compare.
SAMPLE_MOD = 97
SAMPLE_PRED = f"(doc_a * 2654435761 + doc_b) % {SAMPLE_MOD} = 0"

#: entries whose OUTPUT is the pair relation: sample the output rows
#: identically on both sides (predicate over the result columns; both
#: optimizers push it below the final projection/sort).
SAMPLED_OUTPUT = frozenset({"dedup_simhash_pairs"})


def sampled_minhash_recall_sql(dialect: str) -> str:
    """Recall-over-a-pair-sample variant of ``minhash_recall_sql``,
    composed by substituting the two pair CTE bodies of the PRODUCTION
    SQL (same aggregation tail verbatim). The sample predicate lands on
    the pair key before the recall join/aggregate; both engines push it
    through the jaccard aggregation onto its group keys, so the oracle's
    spill state shrinks by ~SAMPLE_MOD x — the disk death was the
    ground-truth CTE's pair aggregate, not the scan. The substitution
    asserts the inner strings still match production, so SQL drift in
    dedup.py fails loudly here instead of silently diverging."""
    from dnstap2clickhouse_spark.functions import dedup as dd

    full = dd.minhash_recall_sql(dialect)
    exact = dd.ngram_jaccard_pairs_sql(dialect).replace("ORDER BY doc_a, doc_b", "")
    lsh = dd._lsh_verified_sql(dialect)
    for inner in (exact, lsh):
        assert inner in full, "recall SQL drifted; update sampled composition"
        full = full.replace(
            inner, f"SELECT * FROM ({inner}\n) __samp WHERE {SAMPLE_PRED}", 1
        )
    return full


#: entries replaced wholesale under --sampled: (spark_fn, oracle_sql)
#: built from the same production SQL with the sample pred injected into
#: the pair CTEs on BOTH sides.
def _sampled_recall_spark(spark, sf_dir):
    from dnstap2clickhouse_spark.functions import dedup as dd

    dd._register(spark, sf_dir)
    return spark.sql(sampled_minhash_recall_sql("spark"))


SAMPLED_VARIANT = {
    "dedup_minhash_recall": (
        _sampled_recall_spark,
        lambda: sampled_minhash_recall_sql("duckdb"),
    ),
}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Driver-strict canonicalization.

    The r2 verdict showed the old ``%.10g`` float rounding and list
    stringification made this gate LOOSER than the driver's: an int64 310
    vs float64 310.0 oracle drift passed locally and failed at the driver,
    and array-typed cells (which crash the driver's canonicalizer) were
    silently papered over. Rules now: full-precision ``repr`` for floats
    (so int-vs-float dtype drift is visible: '310' != '310.0'), and
    list/array cells RAISE — mirroring the driver's 'unhashable type'
    error — instead of being joined into a string.
    """
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, np.generic):
            v = v.item()
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple, dict, set, np.ndarray)):
            raise TypeError(
                f"unhashable cell type {type(v).__name__}: the driver's "
                "canonicalizer rejects array-typed output columns"
            )
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        return str(v)

    out = df.apply(lambda col: col.map(cell))
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    # deliberately vanilla — no engine session.py involvement
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check-correctness")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        # replica-scale sweeps: a handful of entries return corpus-scale
        # relations (pair verifiers); the COMPARE collects them, and the
        # default 1g result cap kills the sweep harness, not the engine
        .config("spark.driver.maxResultSize", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        # replica corpora (tools/make_scale_data.py) are parquet
        # DIRECTORIES of part files; the driver corpus is single files
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        rec: dict = {}
        t0 = time.time()
        persisted = None
        sql_override = None
        if SAMPLED and name in SAMPLED_VARIANT:
            fn, sql_fn = SAMPLED_VARIANT[name]
            sql_override = sql_fn()
            rec["sampled"] = True
        try:
            sdf_spark = fn(spark, SF_DIR)
            if SAMPLED and name in SAMPLED_OUTPUT:
                from pyspark.sql import functions as _F

                sdf_spark = sdf_spark.where(_F.expr(SAMPLE_PRED))
                sql_override = (
                    f"SELECT * FROM ({oracles[name]}\n) __samp WHERE {SAMPLE_PRED}"
                )
                rec["sampled"] = True
            # persist so the count() probe and the value collect observe ONE
            # execution: a nondeterministic plan (the global_prefix_sum class
            # round 6 fixed) must not contribute its row count from one run
            # and its values from another, and the >MAX_COMPARE_ROWS degrade
            # must compare counts of the same execution the oracle sees
            persisted = sdf_spark.persist()
            n_spark = persisted.count()
            if n_spark > MAX_COMPARE_ROWS:
                # replica-scale sweeps: a data-quadratic verifier output
                # (10 near-copies per doc family at the 10x replica ->
                # 182M candidate pairs) cannot round-trip the driver;
                # degrade HONESTLY to a count-only compare and say so.
                # With no oracle SQL there is nothing to count against,
                # but the full result must still not round-trip the
                # driver (r7 ADVICE): record rows-only with the value
                # canonicalization explicitly skipped.
                sql_big = sql_override or oracles.get(name)
                rec["count_only"] = True
                rec["spark_rows"] = n_spark
                if sql_big is not None:
                    n_oracle = con.execute(
                        f"SELECT count(*) FROM ({sql_big})"
                    ).fetchone()[0]
                    rec["oracle_rows"] = n_oracle
                    rec["rows_match"] = n_spark == n_oracle
                    # stamped AFTER the oracle count so COUNT-ONLY entry
                    # durations include the oracle side like every other
                    # entry's do (r8 ADVICE)
                    rec["secs"] = round(time.time() - t0, 2)
                    tag = "PASS*" if rec["rows_match"] else "FAIL "
                    print(
                        f"{tag} {name}: COUNT-ONLY (> {MAX_COMPARE_ROWS} rows)"
                        f" spark={n_spark} oracle={n_oracle} ({rec['secs']}s)"
                    )
                else:
                    rec["rows_only"] = True
                    rec["secs"] = round(time.time() - t0, 2)
                    print(
                        f"ROWS  {name}: {n_spark} rows, COUNT-ONLY "
                        f"(> {MAX_COMPARE_ROWS} rows; canon skipped) "
                        f"({rec['secs']}s)"
                    )
                results[name] = rec
                persisted.unpersist()
                persisted = None
                continue
            sdf = persisted.toPandas()
            rec["spark_rows"] = len(sdf)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark: {type(e).__name__}: {e}"
            results[name] = rec
            print(f"ERR   {name}: {rec['err'][:200]}")
            continue
        finally:
            if persisted is not None:
                persisted.unpersist()
        sql = sql_override or oracles.get(name)
        if sql is None:
            # rows-only entries still go through the strict canonicalizer:
            # the driver canonicalizes BEFORE the oracle check, so an
            # unhashable column errs there even without an oracle
            try:
                canon(sdf)
            except TypeError as e:
                rec["err"] = f"canon: {e}"
                results[name] = rec
                print(f"ERR   {name}: {rec['err'][:200]}")
                continue
            rec["rows_only"] = True
            rec["secs"] = round(time.time() - t0, 2)
            results[name] = rec
            print(f"ROWS  {name}: {rec['spark_rows']} rows ({rec['secs']}s)")
            continue
        try:
            odf = con.execute(sql).df()
            rec["oracle_rows"] = len(odf)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"oracle: {type(e).__name__}: {e}"
            results[name] = rec
            print(f"ERR   {name}: {rec['err'][:300]}")
            continue
        rec["rows_match"] = len(sdf) == len(odf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        if rec["rows_match"] and rec["schema_match"]:
            try:
                cs, co = canon(sdf), canon(odf)
            except TypeError as e:
                rec["err"] = f"canon: {e}"
                results[name] = rec
                print(f"ERR   {name}: {rec['err'][:200]}")
                continue
            rec["hash_match"] = cs.equals(co)
            if not rec["hash_match"]:
                diff = (cs != co).any(axis=1)
                rec["first_diff"] = {
                    "spark": cs[diff].head(3).to_dict("records"),
                    "oracle": co[diff].head(3).to_dict("records"),
                }
        else:
            rec["hash_match"] = False
            rec["cols"] = {"spark": sorted(sdf.columns), "oracle": sorted(odf.columns)}
        rec["secs"] = round(time.time() - t0, 2)
        status = "PASS" if rec["hash_match"] else "FAIL"
        print(f"{status}  {name}: spark={rec.get('spark_rows')} oracle={rec.get('oracle_rows')} ({rec['secs']}s)")
        if status == "FAIL":
            print(json.dumps({k: rec[k] for k in rec if k in ("cols", "first_diff")}, default=str)[:1500])
        results[name] = rec

    n_pass = sum(1 for r in results.values() if r.get("hash_match"))
    n_rows = sum(1 for r in results.values() if r.get("rows_only"))
    n_fail = sum(1 for r in results.values() if r.get("hash_match") is False)
    n_err = sum(1 for r in results.values() if "err" in r)
    print(f"\nTOTAL: {len(results)}  PASS={n_pass}  ROWS-ONLY={n_rows}  FAIL={n_fail}  ERR={n_err}")
    with open("/tmp/check_correctness.json", "w") as f:
        json.dump(results, f, indent=1, default=str)


if __name__ == "__main__":
    main()
