"""``ingest`` workload: fstrm dnstap frames into a ``SocketBridge``.

Three kinds of process, so that none takes another's interpreter lock:

- ``bridge``: one ``sources.bridge.SocketBridge`` (2 readers, 1000-row
  flush, the defaults) writing chunk files; reports its counters, CPU time
  and high-water RSS when told to stop;
- ``gen``: the load generator, one thread per fstrm connection, sending
  seeded ``protobuf:dnstap.Dnstap`` frames, either as fast as the bridge
  takes them (closed loop) or on a fixed schedule (open loop);
- ``observe``: polls the chunk directory and records when each chunk file
  first appears.

Each frame carries its connection and sequence number in its Dnstap
``identity``, which reaches the chunk row, so every row is matched to the
frame that made it and to the time that frame was due.

Run as ``python3 -m perfbench.ingest bridge|gen|observe ARGS_JSON`` (the
parent does this); ``run`` below drives one whole workload run.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import subprocess
import sys
import threading
import time

from . import gen
from .trace import median, percentile

CORPUS_FRAMES = 20_000  # distinct frames; the generator cycles through them
SEND_BATCH = 64  # frames per sendall in the closed loop
PACED_FPS = 5_000  # open-loop offered rate, all connections together
CONNS = 2  # the bridge's default reader count
#: frames sent on a connection of their own before the measured ones, so
#: the bridge's first chunk writes (one-time library set-up, ~0.3 s)
#: happen in set-up, as they do once in a long-running daemon
WARMUP_FRAMES = 2_500


# ------------------------------------------------------------ processes


def frame_for(corpus: list[bytes], phase: str, conn: int, k: int) -> bytes:
    tag = f"{phase}.{conn}.{k}".encode()
    return gen.tag_frame(tag, corpus[(conn * 7919 + k) % len(corpus)])


def write_corpus(path: str, corpus: list[bytes]) -> None:
    """The frame corpus as one file of length-prefixed frames, made once
    per run before any timing, so no helper spends set-up time making it."""
    import struct

    with open(path, "wb") as f:
        f.write(b"".join(struct.pack(">I", len(x)) + x for x in corpus))


def read_corpus(path: str) -> list[bytes]:
    with open(path, "rb") as f:
        data = f.read()
    out, off = [], 0
    while off < len(data):
        n = int.from_bytes(data[off:off + 4], "big")
        out.append(data[off + 4:off + 4 + n])
        off += 4 + n
    return out


def bridge_main(args: dict) -> None:
    import resource

    from dnstap2clickhouse_spark.sources.bridge import SocketBridge

    b = SocketBridge(args["socket"], args["out_dir"])
    b.start()
    t0 = os.times()  # CPU from here on is serving, not interpreter start-up
    print("ready", flush=True)
    sys.stdin.readline()  # "stop" (or EOF: the parent went away)
    b.stop()
    alive = sum(t.is_alive() for t in b._threads)
    t = os.times()
    chunks = [os.path.join(args["out_dir"], f) for f in os.listdir(args["out_dir"])]
    print(
        json.dumps(
            {
                "frames_read": b.frames_read,
                "cpu_s": t.user + t.system - t0.user - t0.system,
                "maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                "chunks": len(chunks),
                "bytes_written": sum(os.path.getsize(c) for c in chunks),
                "threads_alive": alive,
            }
        ),
        flush=True,
    )


def _connect(path: str):
    import socket

    from dnstap2clickhouse_spark.sources import bridge as br

    for _ in range(100):
        try:
            c = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            c.connect(path)
            break
        except OSError:
            c.close()
            time.sleep(0.05)
    else:
        raise ConnectionError(f"cannot connect to {path}")
    ct = b"protobuf:dnstap.Dnstap"
    c.sendall(br.encode_control_frame(br.FSTRM_READY, (ct,)))
    ctype, cts = br._recv_control(c)
    if ctype != br.FSTRM_ACCEPT or ct not in cts:
        raise ConnectionError(f"bridge refused {ct!r}")
    c.sendall(br.encode_control_frame(br.FSTRM_START, (ct,)))
    return c


def _finish(c) -> float:
    from dnstap2clickhouse_spark.sources import bridge as br

    c.sendall(br.encode_control_frame(br.FSTRM_STOP))
    ctype, _ = br._recv_control(c, timeout=60.0)
    if ctype != br.FSTRM_FINISH:
        raise ConnectionError(f"expected FINISH, got {ctype}")
    return time.monotonic()


def gen_main(args: dict) -> None:
    """Open the connections, wait for ``go`` on stdin, send, report."""
    import struct

    hdr = struct.Struct(">I").pack
    corpus = read_corpus(args["corpus"])
    phase, seconds, rate = args["phase"], args["seconds"], args.get("rate")
    warm = _connect(args["socket"])
    warm.sendall(b"".join(
        hdr(len(f)) + f for f in (frame_for(corpus, "w" + phase, 0, k) for k in range(WARMUP_FRAMES))
    ))
    _finish(warm)
    warm.close()
    conns = [_connect(args["socket"]) for _ in range(args["conns"])]
    print("ready", flush=True)
    sys.stdin.readline()
    res = [dict() for _ in conns]
    t0 = time.monotonic() + 0.05
    barrier = threading.Barrier(len(conns))

    def closed(i: int, c) -> None:
        k, blocked = 0, 0.0
        barrier.wait()
        time.sleep(max(0.0, t0 - time.monotonic()))  # count no frame sent before t0
        end = t0 + seconds
        while time.monotonic() < end:
            buf = b"".join(
                hdr(len(f)) + f for f in (frame_for(corpus, phase, i, k + j) for j in range(SEND_BATCH))
            )
            s = time.monotonic()
            c.sendall(buf)
            blocked += time.monotonic() - s
            k += SEND_BATCH
        res[i].update(sent=k, blocked_s=blocked, finish=_finish(c))

    def paced(i: int, c) -> None:
        per_conn = rate / len(conns)
        k, blocked, late = 0, 0.0, 0.0
        barrier.wait()
        total = int(seconds * per_conn)
        while k < total:
            now = time.monotonic()
            due = min(total, int((now - t0) * per_conn) + 1)
            if due > k:
                late = max(late, now - (t0 + k / per_conn))
                buf = b"".join(hdr(len(f)) + f for f in (frame_for(corpus, phase, i, j) for j in range(k, due)))
                s = time.monotonic()
                c.sendall(buf)
                blocked += time.monotonic() - s
                k = due
            nxt = t0 + k / per_conn
            delay = nxt - time.monotonic()
            if delay > 0:
                time.sleep(delay)
        res[i].update(sent=k, blocked_s=blocked, late_s=late, finish=_finish(c))

    loop = paced if rate else closed
    threads = [threading.Thread(target=loop, args=(i, c)) for i, c in enumerate(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for c in conns:
        c.close()
    print(json.dumps({"t0": t0, "conns": res}), flush=True)


def observe_main(args: dict) -> None:
    seen: dict[str, float] = {}
    stop = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.readline(), stop.set()), daemon=True).start()
    print("ready", flush=True)
    while not stop.is_set():
        now = time.monotonic()
        for e in os.scandir(args["out_dir"]):
            if e.name not in seen:
                seen[e.name] = now
        time.sleep(0.002)
    print(json.dumps(seen), flush=True)


# --------------------------------------------------------------- parent


class Child:
    """A helper process speaking line-JSON on stdin/stdout."""

    def __init__(self, role: str, args: dict, cpus: set[int] | None) -> None:
        self.p = subprocess.Popen(
            [sys.executable, "-m", "perfbench.ingest", role, json.dumps(args)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if cpus:
            os.sched_setaffinity(self.p.pid, cpus)

    def expect_ready(self) -> None:
        line = self.p.stdout.readline()
        if line.strip() != "ready":
            raise RuntimeError(f"helper failed to start: {line!r}")

    def tell(self, msg: str) -> None:
        self.p.stdin.write(msg + "\n")
        self.p.stdin.flush()

    def result(self, timeout: float = 60.0) -> dict:
        out, _ = self.p.communicate(timeout=timeout)
        if self.p.returncode != 0:
            raise RuntimeError(f"helper exited with {self.p.returncode}")
        return json.loads(out.strip().splitlines()[-1])

    def kill(self) -> None:
        if self.p.poll() is None:
            self.p.kill()
        self.p.wait()


def _cpu_split() -> tuple[set[int] | None, set[int] | None]:
    """Generator and observer on one core, the bridge on all the others
    (never on a single core: that would hide the reader pool's lock
    convoy). No pinning below three cores."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 3:
        return None, None
    return set(cpus[:-1]), {cpus[-1]}


def run_phase(work: str, corpus_path: str, phase: str, conns: int, seconds: float,
              rate: float | None, observe: bool) -> dict:
    out_dir = os.path.join(work, f"chunks-{phase}")
    sock = os.path.join(work, f"{phase}.sock")
    os.makedirs(out_dir, exist_ok=True)
    bridge_cpus, gen_cpus = _cpu_split()
    kids: list[Child] = []
    try:
        t_setup = time.perf_counter()
        bridge = Child("bridge", {"socket": sock, "out_dir": out_dir}, bridge_cpus)
        kids.append(bridge)
        bridge.expect_ready()
        g = Child("gen", {"socket": sock, "corpus": corpus_path, "conns": conns, "phase": phase,
                          "seconds": seconds, "rate": rate}, gen_cpus)
        kids.append(g)
        obs = None
        if observe:
            obs = Child("observe", {"out_dir": out_dir}, gen_cpus)
            kids.append(obs)
            obs.expect_ready()
        g.expect_ready()
        setup_s = time.perf_counter() - t_setup
        t_wall = time.time()
        g.tell("go")
        gres = g.result(timeout=seconds + 120)
        t_stop = time.monotonic()
        bridge.tell("stop")
        bres = bridge.result()
        seen = {}
        if obs is not None:
            obs.tell("stop")
            seen = obs.result()
    finally:
        for k in kids:
            k.kill()
    return {"phase": phase, "dir": out_dir, "setup_s": setup_s, "gen": gres,
            "bridge": bres, "seen": seen, "t_stop": t_stop, "t_wall": t_wall,
            "conns": conns, "rate": rate}


def _key(row: dict, cols: list[str]) -> tuple:
    return tuple(tuple(v) if isinstance(v, list) else v for v in (row[c] for c in cols))


def check_phase(ph: dict, corpus: list[bytes], tracer) -> tuple[int, int, dict[str, list[str]]]:
    """(frames attempted, frames failed, row identities by chunk file):
    the chunk rows must equal ``decode_dnstap_protobuf`` of the sent
    frames, as a multiset. Rows with no sent frame count as failures too.
    Every sent frame has its own identity, so the two sides, sorted by
    identity, are equal exactly when the multisets are; only when they
    are not are the differing rows counted one by one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dnstap2clickhouse_spark.sources.bridge import SocketBridge, decode_dnstap_protobuf

    schema = SocketBridge._DNSTAP_SCHEMA
    sent = [("w" + ph["phase"], 0, k) for k in range(WARMUP_FRAMES)] + [
        (ph["phase"], i, k) for i, c in enumerate(ph["gen"]["conns"]) for k in range(c["sent"])
    ]
    with tracer.span("check.decode_expected"):
        rows = [decode_dnstap_protobuf(frame_for(corpus, *f)) for f in sent]
        # the bridge's own row-dicts-to-Arrow step
        want = pa.Table.from_pylist(rows).select(schema.names).cast(schema)
    with tracer.span("check.read_chunks"):
        files = sorted(os.listdir(ph["dir"]))
        tables = {f: pq.read_table(os.path.join(ph["dir"], f)) for f in files}
        got = pa.concat_tables(tables.values()).select(schema.names).cast(schema)
    by_file = {f: t.column("identity").to_pylist() for f, t in tables.items()}
    if got.num_rows == want.num_rows and got.sort_by("identity").equals(want.sort_by("identity")):
        return len(sent), 0, by_file
    want_n = collections.Counter(_key(r, schema.names) for r in want.to_pylist())
    got_n = collections.Counter(_key(r, schema.names) for r in got.to_pylist())
    return len(sent), sum((want_n - got_n).values()) + sum((got_n - want_n).values()), by_file


def latencies_ms(ph: dict, by_file: dict[str, list[str]]) -> list[float]:
    """Due time -> chunk visible, per frame of the open-loop phase. Chunks
    first seen after the generator finished are the final flush at bridge
    stop and are left out: their wait is set by the run's end."""
    per_conn = ph["rate"] / ph["conns"]
    t0, out = ph["gen"]["t0"], []
    for f, idents in by_file.items():
        seen = ph["seen"].get(f)
        if seen is None or seen > ph["t_stop"]:
            continue
        for ident in idents:
            phase, conn, k = ident.split(".")
            if phase == ph["phase"]:
                out.append((seen - (t0 + int(k) / per_conn)) * 1000.0)
    return out


def replay_us(fn, items: list) -> float:
    """Single-thread replay: microseconds per item through ``fn``."""
    t = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t) / len(items) * 1e6


def run(work: str, seed: int, seconds: float, tracer):
    """Returns (end-to-end metrics, per-layer metrics, attempted, failed,
    input fingerprint)."""
    with tracer.span("gen.corpus"):
        corpus = gen.dnstap_frames(seed, CORPUS_FRAMES)
        corpus_path = os.path.join(work, "corpus.bin")
        write_corpus(corpus_path, corpus)
    inputs = hashlib.sha256(b"".join(corpus)).hexdigest()[:16]
    # two saturated phases, each with a fresh bridge: the reader pool's
    # throughput differs from one bridge process to the next
    sat = []
    for phase in ("s", "t"):
        with tracer.span("ingest.saturated", conns=CONNS):
            sat.append(run_phase(work, corpus_path, phase, CONNS, seconds * 0.3, None, observe=False))
    with tracer.span("ingest.paced", conns=CONNS, rate=PACED_FPS):
        paced = run_phase(work, corpus_path, "p", CONNS, seconds * 0.4, PACED_FPS, observe=True)
    phases = sat + [paced]
    if tracer.enabled:
        with tracer.span("ingest.saturated_1conn", conns=1):
            one = run_phase(work, corpus_path, "o", 1, seconds * 0.3, None, observe=False)
        phases.append(one)
    attempted = failed = 0
    lat: list[float] = []
    with tracer.span("ingest.check"):
        for ph in phases:
            a, f, by_file = check_phase(ph, corpus, tracer)
            attempted, failed = attempted + a, failed + f
            if ph is paced:
                lat = latencies_ms(ph, by_file)
    for ph in phases:
        if ph["bridge"]["threads_alive"]:
            failed += 1  # a reader that did not stop is a lost reader

    def fps(*phs: dict) -> float:
        """Frames the bridge took (FINISH answered) per second of sending."""
        sent = sum(c["sent"] for ph in phs for c in ph["gen"]["conns"])
        return sent / sum(max(c["finish"] for c in ph["gen"]["conns"]) - ph["gen"]["t0"] for ph in phs)

    e2e = {
        "setup_s": median([ph["setup_s"] for ph in phases]),
        "peak_rss_mb": max(ph["bridge"]["maxrss_mb"] for ph in phases),
        "items_per_s": fps(*sat),
        "latency_p50_ms": percentile(lat, 50),
        "latency_p99_ms": percentile(lat, 99),
    }
    layer: dict[str, float] = {}
    if tracer.enabled:
        from dnstap2clickhouse_spark.sources import bridge as br
        from dnstap2clickhouse_spark.sources import dnstap_proto, dnswire

        frames = [frame_for(corpus, "r", 0, k) for k in range(len(corpus))]
        with tracer.span("replay.dnstap_proto.decode_dnstap"):
            layer["dnstap_proto.decode_us"] = replay_us(dnstap_proto.decode_dnstap, frames)
        payloads = [m for m in (dnstap_proto.decode_dnstap(f)["dnsMessage"] for f in frames) if m]
        with tracer.span("replay.dnswire.decode_message"):
            layer["dnswire.decode_us"] = replay_us(dnswire.decode_message, payloads)
        with tracer.span("replay.bridge.decode_dnstap_protobuf"):
            layer["bridge.decode_dnstap_protobuf_us"] = replay_us(br.decode_dnstap_protobuf, frames)
        b_sat, b_all = [ph["bridge"] for ph in sat], [ph["bridge"] for ph in sat + [paced]]
        rows_in_chunks = sum(b["frames_read"] for b in b_all)
        chunks = sum(b["chunks"] for b in b_all)
        cpu_s = sum(b["cpu_s"] for b in b_sat)
        layer.update({
            "bridge.cpu_s": cpu_s,
            "bridge.cpu_us_per_frame": cpu_s / max(1, sum(b["frames_read"] for b in b_sat)) * 1e6,
            "bridge.frames_read": rows_in_chunks,
            "bridge.chunks": chunks,
            "bridge.rows_per_chunk": rows_in_chunks / max(1, chunks),
            "bridge.bytes_written": sum(b["bytes_written"] for b in b_all),
            "bridge.fps_1conn": fps(one),
            "gen.blocked_s": sum(c["blocked_s"] for ph in sat + [paced] for c in ph["gen"]["conns"]),
            "gen.late_ms_max": max(c["late_s"] for c in paced["gen"]["conns"]) * 1000.0,
            "ingest.latency_samples": len(lat),
        })
    return e2e, layer, attempted, failed, inputs


if __name__ == "__main__":
    role, arg = sys.argv[1], json.loads(sys.argv[2])
    {"bridge": bridge_main, "gen": gen_main, "observe": observe_main}[role](arg)
