"""Round-4 batch-16 operators: CollapsingMergeTree sign-collapse and
qname DGA triage. These pin the operators' meaning: the changelog
synthesis + telescoping collapse replayed in Python (including the
2k-1 row-count law and the certificate), and the full lexical feature
vector + ranking recomputed from the raw names.
"""

from __future__ import annotations

from dnstap2clickhouse_spark.operators import analytics as an
from dnstap2clickhouse_spark.operators import prep
from dnstap2clickhouse_spark.plans import events_analytics as evan
from dnstap2clickhouse_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# ---------------------------------------------- sign collapse


def test_collapsing_state_python_replay(spark):
    ev = load_table(spark, SF, "events").selectExpr(
        "user_id", "ts", "event_id", "CAST(round(value * 100) AS BIGINT) AS ve2"
    ).collect()
    per_user: dict = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        per_user.setdefault(r.user_id, []).append(r.ve2)

    out = evan.collapsing_state(spark, SF).collect()
    assert {r.user_id for r in out} == set(per_user)
    for r in out:
        vals = per_user[r.user_id]
        # k inserts + (k-1) cancels
        assert r.n_rows == 2 * len(vals) - 1
        assert r.net_sign == 1
        assert r.ve2_final == vals[-1]  # telescoping identity
        assert r.collapsed_ok


def test_collapsing_certificate_detects_lost_cancel(spark):
    """Drop one cancel row from the changelog (the unbalanced-sign
    failure CollapsingMergeTree documents) — net_sign leaves 1 and the
    certificate must go false for that key."""
    sql = evan.collapsing_state_sql("spark")
    ev = load_table(spark, SF, "events")
    # pick a user with >= 2 events so it has at least one cancel row
    uid = (
        ev.groupBy("user_id").count().where("count >= 2")
        .orderBy("user_id").limit(1).collect()[0].user_id
    )
    tampered = sql.replace(
        "SELECT user_id, prev_ve2, CAST(-1 AS BIGINT) FROM ordered WHERE prev_ve2 IS NOT NULL",
        "SELECT user_id, prev_ve2, CAST(-1 AS BIGINT) FROM ordered "
        "WHERE prev_ve2 IS NOT NULL AND NOT (user_id = {u} "
        "AND rn_desc = 1)".format(u=uid),
        1,
    )
    assert tampered != sql
    ev.createOrReplaceTempView("events")
    rows = spark.sql(tampered).collect()
    bad = {r.user_id for r in rows if not r.collapsed_ok}
    assert bad == {uid}
    byu = {r.user_id: r for r in rows}
    assert byu[uid].net_sign == 2  # the lost cancel shows up as surplus sign


# ------------------------------------------------ qname features


def test_qname_features_python_replay(spark):
    frames = prep.decode_frames(prep.raw_frames(spark, SF), "CLIENT_QUERY")
    counts: dict = {}
    for r in frames.select("questionName", "counter").collect():
        counts[r.questionName] = counts.get(r.questionName, 0) + r.counter

    feats = []
    for name, n in counts.items():
        ln = len(name)
        nd = sum(c.isdigit() for c in name)
        nl = name.count(".")
        fl = name.index(".")
        share = nd * 1_000_000 // ln
        score = share * 2 + (300_000 if fl >= 12 else 0) + 1_000_000 // (nl + 1)
        feats.append((score, n, name, ln, nd, nl, fl, share))
    # entry order: score desc, n_queries desc, qname asc
    feats.sort(key=lambda t: (-t[0], -t[1], t[2]))
    expect = feats[: an.QNAME_TOP]

    out = an.qname_features(frames).collect()
    assert len(out) == len(expect)
    for r, (score, n, name, ln, nd, nl, fl, share) in zip(out, expect):
        assert (
            r.qname, r.n_queries, r.name_len, r.n_digits,
            r.n_labels, r.first_label_len, r.digit_share_e6, r.score_e6,
        ) == (name, n, ln, nd, nl, fl, share, score)


def test_qname_score_is_integer_and_bounded(spark):
    frames = prep.decode_frames(prep.raw_frames(spark, SF), "CLIENT_QUERY")
    rows = an.qname_features(frames).collect()
    assert 0 < len(rows) <= an.QNAME_TOP
    for r in rows:
        assert isinstance(r.score_e6, int)
        assert 0 <= r.digit_share_e6 <= 1_000_000
        assert r.n_labels >= 2  # every synthetic name is at least x.y.
