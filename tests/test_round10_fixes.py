"""Round-10 fixes (r9 verdict items 1/2/4, r9 ADVICE).

1. Bench artifact parseability: the driver records only the last ~2,000
   chars of stdout and parses the last JSON line in them; BENCH_r09.json
   went parsed:null when the flagship-embedded single line outgrew that
   window. bench.py now prints the FULL artifact on an earlier line (and
   writes bench_full.json) and ENDS with a compact <=1500-char summary
   line carrying both tiers.
2. compare_bench: robust to multi-line redirected logs, explicit
   calibration presence (0.0 is invalid, not absent), and the flagship
   recipe guard refuses on a MISSING recipe instead of treating
   None == None as a match.
3. Ground-truth residue join precondition: the (a*K+b)%M decomposition
   assumes non-negative ids — pinned against the real corpora so a
   data-generator change cannot silently skew the sampled verifiers.
4. graph_kcore oracle tail: the DuckDB dialect materializes the shared
   edge CTEs so the 4-round peel stops re-evaluating the lineitem
   self-join per round (r9 sf1 sweep: 778 s, worst entry by 280 s).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(HERE, "tools"))

import bench

SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
COMPARE = os.path.join(HERE, "tools", "compare_bench.py")


def _fake_full_artifact() -> dict:
    """A realistic full artifact: every HEADLINE query with runs, host
    block, and an embedded flagship block — the exact shape whose single-
    line form blew the r9 capture window."""
    queries = {q: 1.234 for q in bench.HEADLINE}
    runs = {q: [1.234, 1.456, 1.345] for q in bench.HEADLINE}
    return {
        "metric": "headline_total_runtime",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "runs": runs,
        "sf": 0.1,
        "corpus_id": "96cd06a003069e75",
        "host": {
            "calib_sec": 0.852,
            "calib_runs": [0.852, 0.876, 0.891],
            "loadavg_pre": [19.0, 18.5, 17.9],
            "loadavg_post": [21.2, 19.4, 18.3],
            "cpus": 32,
        },
        "protocol": "min over 3 fresh-session passes; ...",
        "flagship": {
            "value": 8.904,
            "unit": "sec",
            "queries": {q: 1.781 for q in bench.FLAGSHIP},
            "runs": {q: [1.781, 1.932, 1.873] for q in bench.FLAGSHIP},
            "sf_dir": bench.FLAGSHIP_SF_DIR,
            "recipe": bench.FLAGSHIP_RECIPE,
            "corpus_id": "abcdef0123456789",
            "calib_sec": 0.861,
            "calib_runs": [0.861, 0.869, 0.874],
        },
    }


# --------------------------------------------------- compact final line

def test_compact_line_bounded_and_complete():
    out = _fake_full_artifact()
    compact = bench._compact(out)
    line = json.dumps(compact)
    assert len(line) <= bench.MAX_FINAL_LINE, len(line)
    # everything compare_bench needs to judge a round, both tiers
    assert compact["queries"] == out["queries"]
    assert compact["corpus_id"] == out["corpus_id"]
    assert compact["calib_sec"] == out["host"]["calib_sec"]
    assert compact["flagship"]["queries"] == out["flagship"]["queries"]
    assert compact["flagship"]["recipe"] == bench.FLAGSHIP_RECIPE
    assert compact["flagship"]["calib_sec"] == 0.861
    # the bulky evidence stays OUT of the driver-parsed line
    assert "runs" not in compact and "runs" not in compact["flagship"]
    assert "host" not in compact and "protocol" not in compact


def test_compact_line_with_skipped_flagship():
    out = _fake_full_artifact()
    out["flagship"] = {"skipped": "replica corpus missing at /tmp/scale_sf1 — build it"}
    compact = bench._compact(out)
    assert "skipped" in compact["flagship"]
    assert len(json.dumps(compact)) <= bench.MAX_FINAL_LINE


def test_main_emits_full_then_compact(monkeypatch, capsys, tmp_path):
    """End-to-end through main(): the LAST stdout line is the bounded
    compact summary (what the driver's tail capture parses), the full
    artifact precedes it and lands in bench_full.json."""
    runs = {q: [1.234, 1.456, 1.345] for q in bench.HEADLINE}
    monkeypatch.setattr(bench, "_collect_passes", lambda sf, fl: (runs, [0.852, 0.876, 0.891]))
    monkeypatch.setattr(bench, "corpus_id", lambda d: "96cd06a003069e75")
    monkeypatch.setattr(
        bench, "_flagship_block",
        lambda: {k: v for k, v in _fake_full_artifact()["flagship"].items()},
    )
    monkeypatch.setattr(bench, "FULL_ARTIFACT_PATH", str(tmp_path / "bench_full.json"))
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    bench.main()
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    assert len(lines) == 2
    full, compact = json.loads(lines[0]), json.loads(lines[1])
    assert "runs" in full and "host" in full
    assert len(lines[1]) <= bench.MAX_FINAL_LINE
    assert compact["queries"] == full["queries"]
    assert compact["flagship"]["queries"] == full["flagship"]["queries"]
    on_disk = json.load(open(tmp_path / "bench_full.json"))
    assert on_disk == full


def test_standalone_flagship_carries_recipe(monkeypatch, capsys, tmp_path):
    """r9 ADVICE medium: `bench.py --flagship` output records the replica
    recipe so compare_bench's guard never sees None == None."""
    runs = {q: [1.781, 1.932, 1.873] for q in bench.FLAGSHIP}
    monkeypatch.setattr(bench, "_collect_passes", lambda sf, fl: (runs, [0.861]))
    monkeypatch.setattr(bench, "corpus_id", lambda d: "abcdef0123456789")
    monkeypatch.setattr(bench, "FULL_ARTIFACT_PATH", str(tmp_path / "bench_full.json"))
    monkeypatch.setattr(sys, "argv", ["bench.py", "--flagship"])
    bench.main()
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    compact = json.loads(lines[-1])
    assert compact["recipe"] == bench.FLAGSHIP_RECIPE
    assert compact["metric"] == "flagship_total_runtime"
    assert len(lines[-1]) <= bench.MAX_FINAL_LINE


def test_driver_tail_capture_parses_final_line(monkeypatch, capsys, tmp_path):
    """The driver keeps the LAST ~2,000 chars of stdout and parses the
    last JSON line within them. Model that capture exactly over main()'s
    real output: the truncated tail must still contain one complete,
    parseable JSON line carrying both tiers (the r9 failure mode was the
    full line being clipped MID-JSON)."""
    runs = {q: [1.234, 1.456, 1.345] for q in bench.HEADLINE}
    monkeypatch.setattr(bench, "_collect_passes", lambda sf, fl: (runs, [0.852, 0.876, 0.891]))
    monkeypatch.setattr(bench, "corpus_id", lambda d: "96cd06a003069e75")
    monkeypatch.setattr(
        bench, "_flagship_block",
        lambda: {k: v for k, v in _fake_full_artifact()["flagship"].items()},
    )
    monkeypatch.setattr(bench, "FULL_ARTIFACT_PATH", str(tmp_path / "bench_full.json"))
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    bench.main()
    out = capsys.readouterr().out
    tail = out[-2000:]
    lines = [l for l in tail.splitlines() if l.strip().startswith("{")]
    parsed = json.loads(lines[-1])  # raises on a clipped line
    assert parsed["metric"] == "headline_total_runtime"
    assert set(parsed["queries"]) == set(bench.HEADLINE)
    assert set(parsed["flagship"]["queries"]) == set(bench.FLAGSHIP)


# ------------------------------------------------------- compare_bench

def _run_compare(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, COMPARE, *argv], capture_output=True, text=True
    )


def test_compare_bench_reads_redirected_two_line_log(tmp_path):
    """A `python bench.py > f` log now holds TWO JSON lines; compare_bench
    takes the last parseable one instead of failing json.load."""
    full = _fake_full_artifact()
    compact = bench._compact(full)
    log = tmp_path / "log.json"
    log.write_text(json.dumps(full) + "\n" + json.dumps(compact) + "\n")
    plain = tmp_path / "plain.json"
    plain.write_text(json.dumps(
        {"corpus_id": full["corpus_id"], "queries": {q: v * 1.1 for q, v in full["queries"].items()},
         "calib_sec": 0.9}
    ))
    r = _run_compare(str(log), str(plain))
    assert r.returncode == 0, r.stdout + r.stderr
    assert "1.10" in r.stdout


def test_compare_bench_compact_flagship_block(tmp_path):
    """The compact final line's flagship sub-block is judgeable against
    BASELINE_flagship.json directly."""
    ref = json.load(open(os.path.join(HERE, "BASELINE_flagship.json")))
    compact = bench._compact(_fake_full_artifact())
    compact["flagship"]["queries"] = {q: v * 1.2 for q, v in ref["queries"].items()}
    compact["flagship"]["recipe"] = ref["recipe"]
    a, b = tmp_path / "ref.json", tmp_path / "new.json"
    a.write_text(json.dumps(ref))
    b.write_text(json.dumps(compact))
    r = _run_compare(str(a), str(b), "--flagship")
    assert r.returncode == 0, r.stdout + r.stderr


def test_compare_bench_refuses_missing_recipe(tmp_path):
    ref = json.load(open(os.path.join(HERE, "BASELINE_flagship.json")))
    new = {
        "metric": "flagship_total_runtime",
        "corpus_id": "x",
        "queries": dict(ref["queries"]),
        "calib_sec": 0.9,
        # no recipe
    }
    a, b = tmp_path / "ref.json", tmp_path / "new.json"
    a.write_text(json.dumps(ref))
    b.write_text(json.dumps(new))
    r = _run_compare(str(a), str(b), "--flagship")
    assert r.returncode == 2 and "recipe missing" in r.stdout, r.stdout
    # --force still allows an explicit override
    r = _run_compare(str(a), str(b), "--flagship", "--force")
    assert r.returncode == 0, r.stdout + r.stderr


def test_compare_bench_refuses_parsed_null_wrapper(tmp_path):
    """A driver BENCH_r*.json whose parsed is null (the r9 clipped-line
    artifact) refuses with a message — even under --force — instead of
    a KeyError."""
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps({"n": 9, "rc": 0, "tail": "...", "parsed": None}))
    b.write_text(json.dumps({"corpus_id": "c", "queries": {"q": 1.0}}))
    for extra in ([], ["--force"]):
        r = _run_compare(str(a), str(b), *extra)
        assert r.returncode == 2 and "no per-query data" in r.stdout, r.stdout + r.stderr


def test_compare_bench_rejects_zero_calibration(tmp_path):
    """r9 ADVICE low: calib_sec 0.0 is INVALID (division guard), not
    absent — and presence is tested explicitly, never by truthiness."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"corpus_id": "c", "queries": {"q": 1.0}, "calib_sec": 0.0}))
    b.write_text(json.dumps({"corpus_id": "c", "queries": {"q": 1.0}, "calib_sec": 0.9}))
    r = _run_compare(str(a), str(b), "--normalize")
    assert r.returncode == 2 and "invalid calibration" in r.stdout, r.stdout


# -------------------------------- corpus-B byte-regenerability contract

def test_bench_corpus_regeneration_is_byte_stable(tmp_path):
    """BASELINE.md's r8 'this id IS regenerable' claim was false: the
    anchor fingerprinted a Spark part directory whose filename UUID,
    coalesce(1) row order, and parquet-mr footer (JVM-hash-ordered
    encodings set) change per run. The r10 writer (full-row sort +
    single plain file + parquet-cpp canonicalization, timestamps
    coerced to micros) must produce the IDENTICAL fingerprint on two
    independent regenerations — pinned here at sf0.001 so the contract
    can never silently regress again."""
    tool = os.path.join(HERE, "tools", "make_bench_corpus.py")
    src = "/root/testdata/sf0.001"
    ids = []
    for d in ("b1", "b2"):
        out = tmp_path / d
        r = subprocess.run(
            [sys.executable, tool, str(out), src],
            capture_output=True, text=True, timeout=600,
        )
        assert r.returncode == 0, r.stdout[-1000:] + r.stderr[-1000:]
        assert not any(os.path.isdir(out / f) for f in os.listdir(out)), (
            "every table must be a single plain file, not a part directory"
        )
        ids.append(bench.corpus_id(str(out)))
    assert ids[0] == ids[1], ids


# ------------------------------------- ground-truth id precondition

def test_ground_truth_ids_nonnegative():
    """The residue equi-join key equals the (a*K+b)%M gate predicate only
    for non-negative ids (r9 ADVICE low). Pin the precondition on the
    real corpora so a future generator change fails HERE, loudly, instead
    of silently skewing the sampled verifiers."""
    import duckdb

    con = duckdb.connect()
    mins = con.execute(
        f"""
        SELECT
          (SELECT min(doc_id) FROM read_parquet('{SF_ORACLE}/documents.parquet')),
          (SELECT min(vec_id) FROM read_parquet('{SF_ORACLE}/embeddings.parquet'))
        """
    ).fetchone()
    assert mins[0] is not None and mins[0] >= 0, mins
    assert mins[1] is not None and mins[1] >= 0, mins
