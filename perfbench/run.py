"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|stream|library \
        --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process: it makes its
inputs from ``--seed``, sets up, measures for ``--seconds``, checks the
engine's outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, and
the run also writes its spans, per-layer self times and the tracing
overhead (against the newest untraced run of the same workload) to
``.bench_work/results/``. A per-layer metric of a layer the workload does
not run reads 0. Every input, work file and result stays under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "stream", "library")


def hygiene(work: str) -> None:
    """Runner settings, fixed for every run; no engine setting changes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the engine's 16g default is above a 15 GB host's RAM
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # the JVM's perf counters stay in its own memory instead of a
        # file under the system /tmp, which is outside the checkout
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # the contract module asks git for history; never look above the checkout
        "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT),
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, traced: bool, work: str):
    from perfbench.trace import RssSampler, Tracer

    tracer = Tracer(traced)
    if workload == "ingest":
        from perfbench import ingest

        # peak RSS is the bridge process's own high-water mark
        with tracer.span("run.ingest", seed=seed):
            e2e, layer, attempted, failed, inputs = ingest.run(work, seed, seconds, tracer)
        return tracer, e2e, layer, attempted, failed, inputs

    from perfbench import spark_work

    with RssSampler() as rss, tracer.span(f"run.{workload}", seed=seed):
        work_fn = spark_work.stream_workload if workload == "stream" else spark_work.library_workload
        e2e, layer, attempted, failed, inputs = work_fn(work, seed, seconds, tracer, T_PROC)
    e2e["peak_rss_mb"] = rss.peak / 2**20
    return tracer, e2e, layer, attempted, failed, inputs


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    bench = spec()
    results = os.path.join(ROOT, ".bench_work", "results")
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    hygiene(work)
    try:
        tracer, e2e, layer, attempted, failed, inputs = run(
            a.workload, a.seed, a.seconds, bool(a.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "inputs": inputs, "end_to_end": e2e}
    stamp = f"{a.workload}-{a.seed}-{int(time.time())}"
    if a.trace:
        info["per_layer"] = layer
        info["self_s"] = tracer.self_times()
        info["overhead"] = overhead(results, a.workload, e2e)
        tracer.write(os.path.join(results, f"trace-{stamp}.json"), info)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        with open(os.path.join(results, f"e2e-{stamp}.json"), "w") as f:
            json.dump(info, f)
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({k: info[k] for k in ("workload", "seed", "inputs", "trace")}
                     | ({"overhead": info["overhead"]} if a.trace else {})), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def overhead(results: str, workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the newest
    untraced result of the same workload in ``results``."""
    runs = sorted(glob.glob(os.path.join(results, f"e2e-{workload}-*.json")), key=os.path.getmtime)
    if not runs:
        return {"note": "no untraced run of this workload yet"}
    with open(runs[-1]) as f:
        base = json.load(f)["end_to_end"]
    return {k: {"traced": v, "untraced": base[k], "delta": v - base[k],
                "share": (v - base[k]) / base[k] if base[k] else None}
            for k, v in traced.items() if k in base}


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - any failure ends the run without a result line
        traceback.print_exc()
        sys.exit(1)
