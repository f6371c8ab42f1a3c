"""Round-4 batch-33 operators: M4 chart downsampling, audio VAD
windows, blocked Levenshtein linkage. Pins: full Python replays of all
three (bucketing/extreme selection, digest-byte energies, DP edit
distance), the M4 rendering invariant, the VAD >=1-voiced guarantee,
and a fixture proving the fuzzy matcher's catch/no-catch boundary.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from dnstap2clickhouse_spark.functions import multimodal as fmm
from dnstap2clickhouse_spark.functions import text as ftext
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _e6(v: float) -> int:
    """Spark/DuckDB round(x*1e6): exact double, ties away from zero."""
    return int((Decimal(v) * 1_000_000).quantize(Decimal(1), ROUND_HALF_UP))


# ------------------------------------------------ M4 downsampling


def _m4_replay(rows):
    lo = min(r[0] for r in rows)
    hi = max(r[0] for r in rows)
    W = evan.M4_WIDTH
    buckets: dict = defaultdict(list)
    for us, eid, ve6 in rows:
        buckets[(us - lo) * W // (hi - lo + 1)].append((us, eid, ve6))
    out = {}
    for b, pts in buckets.items():
        first = min(pts)
        last = max(pts)
        out[b] = (
            len(pts), first[0], first[2], last[0], last[2],
            min(p[2] for p in pts), max(p[2] for p in pts),
        )
    return out


def test_m4_python_replay(spark):
    ev = load_table(spark, SF, "events").selectExpr(
        "unix_micros(ts) AS us", "event_id", "value"
    ).collect()
    expect = _m4_replay([(r.us, r.event_id, _e6(r.value)) for r in ev])

    out = evan.m4_downsample(spark, SF).collect()
    assert len(out) == len(expect)
    for r in out:
        assert (
            r.n, r.t_first_us, r.v_first_e6, r.t_last_us, r.v_last_e6,
            r.v_min_e6, r.v_max_e6,
        ) == expect[r.bucket]
    assert sum(r.n for r in out) == len(ev)  # every point in one bucket


def test_m4_rendering_invariant(spark):
    """The property that makes M4 pixel-perfect: within each column the
    kept extremes bound every kept point, and time orders first<=last."""
    for r in evan.m4_downsample(spark, SF).collect():
        assert r.t_first_us <= r.t_last_us
        assert r.v_min_e6 <= min(r.v_first_e6, r.v_last_e6)
        assert max(r.v_first_e6, r.v_last_e6) <= r.v_max_e6


# ------------------------------------------------ audio VAD


def _vad_replay(doc_id: int, text: str):
    h = hashlib.md5(text.encode()).hexdigest() * 2
    samples = [int(h[2 * i : 2 * i + 2], 16) - 128 for i in range(32)]
    per = 32 // fmm.VAD_WINDOWS
    wins = [
        sum(s * s for s in samples[w * per : (w + 1) * per])
        for w in range(fmm.VAD_WINDOWS)
    ]
    total = sum(wins)
    return [
        (doc_id, w, e, total, e * fmm.VAD_WINDOWS >= total)
        for w, e in enumerate(wins)
    ]


def test_audio_vad_python_replay(spark):
    docs = load_table(spark, SF, "documents").collect()
    expect = []
    for d in docs:
        if d.doc_id % 3 == 1:  # audio mime rows only
            expect.extend(_vad_replay(d.doc_id, d.text))
    expect.sort()

    out = [
        (r.doc_id, r.win, r.energy, r.total_energy, r.voiced)
        for r in fmm.audio_vad(spark, SF).collect()
    ]
    assert sorted(out) == expect


def test_audio_vad_always_has_voiced_window(spark):
    """energy*W >= total is satisfiable by at least the argmax window,
    so no track can come back all-silence (the trim would drop it)."""
    voiced_by_doc: dict = defaultdict(int)
    for r in fmm.audio_vad(spark, SF).collect():
        voiced_by_doc[r.doc_id] += int(r.voiced)
    assert voiced_by_doc and all(n >= 1 for n in voiced_by_doc.values())


# ------------------------------------------------ fuzzy match


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_match_python_replay(spark):
    docs = load_table(spark, SF, "documents").collect()
    titles = {d.doc_id: d.text[: ftext.FUZZY_TITLE_CHARS] for d in docs}
    blocks: dict = defaultdict(list)
    for did, t in titles.items():
        blocks[t[: ftext.FUZZY_BLOCK_CHARS]].append(did)
    expect = []
    for ids in blocks.values():
        for a in ids:
            for b in ids:
                if a < b:
                    d = _lev(titles[a], titles[b])
                    if d <= ftext.FUZZY_MAX_DIST:
                        expect.append((a, b, d))
    expect.sort()

    out = [(r.doc_a, r.doc_b, r.edit_dist)
           for r in ftext.fuzzy_match(spark, SF).collect()]
    assert out == expect
    assert out  # the corpus's near-dup titles must surface


def test_fuzzy_match_catch_boundary(spark):
    """One in-threshold edit is caught; an edit past FUZZY_MAX_DIST and
    an in-threshold edit INSIDE the blocking prefix are both missed —
    the documented single-pass recall boundary, pinned exactly."""
    docs = load_table(spark, SF, "documents")
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "en", "s0", len(base)),
        (2, base[:30] + "XY", "en", "s0", 32),       # dist 2, same block
        (3, base[:26] + "QQQQQQ", "en", "s0", 32),   # dist 6: past max
        (4, "ZZZ" + base[3:], "en", "s0", len(base)),  # dist 3, block differs
    ]
    try:
        spark.createDataFrame(
            rows,
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).createOrReplaceTempView("documents")
        got = [(r.doc_a, r.doc_b, r.edit_dist)
               for r in spark.sql(ftext.fuzzy_match_sql("spark")).collect()]
    finally:
        docs.createOrReplaceTempView("documents")
    assert got == [(1, 2, 2)]
