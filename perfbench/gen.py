"""Seeded benchmark inputs.

Everything the engine receives in a benchmark run is made here from the
run's ``--seed``: the same seed gives byte-identical inputs. Tables follow
the shape of the repository's sf0.1 test corpus (same schemas, key ranges
and value distributions), scaled by a row factor:

- ``events``: ids 0..n-1 in time order over 30 days, 1500 users, five
  event types, exponential values, ``{"k": n}`` props;
- ``documents``: word salad over a 30-word vocabulary, 5% near-duplicates
  of an earlier document (a few words swapped, a ``dup`` token added);
- ``embeddings``: 64-dim unit vectors around ten weak label centroids;
- ``orders`` / ``lineitem``: ~4 lines per order, 20k parts, 1k suppliers.

The ``ingest`` frame corpus maps each event row to one
``protobuf:dnstap.Dnstap`` frame with the public encoders
(``dnstap_proto.encode_dnstap`` + ``dnswire.encode_message``), following
the decode chain's synthetic frame mapping (``operators.prep``), edge mix
included: non-MESSAGE frames, foreign message types, payload-less frames,
absent time and port, and two-question messages.

``fingerprint`` hashes generated files, the ``bench.corpus_id`` scheme, so
every result names the inputs it was measured on.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dnstap2clickhouse_spark.sources import dnstap_proto, dnswire

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def rng_for(seed: int, salt: str) -> np.random.Generator:
    """One independent stream per (seed, table) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, int(hashlib.sha256(salt.encode()).hexdigest()[:8], 16)])


# --------------------------------------------------------------- tables


def events_table(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "events")
    ts = EPOCH_US + np.sort(r.integers(0, 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(np.round(np.minimum(r.exponential(50.0, n), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 20 and r.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 25)):
                words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
            words.insert(int(r.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[k] for k in r.integers(0, len(VOCAB), int(r.integers(10, 110)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    r = rng_for(seed, "embeddings")
    centroids = r.normal(0.0, 1.0, (10, dim))
    labels = r.integers(0, 10, n).astype(np.int32)
    vecs = r.normal(0.0, 1.0, (n, dim)) + 0.5 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def order_tables(seed: int, n_orders: int) -> tuple[pa.Table, pa.Table]:
    r = rng_for(seed, "orders")
    base = 788_918_400_000_000  # 1995-01-01
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, 15_000, n_orders, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[r.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(r.uniform(1e3, 4e5, n_orders), 2)),
            "o_orderdate": pa.array(base + r.integers(0, 2500, n_orders) * DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    r.integers(0, 5, n_orders)
                ]
            ),
        }
    )
    n = 4 * n_orders
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, 20_000, n, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, 1_000, n, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(r.uniform(900.0, 1e5, n), 2)),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n)]),
            "l_shipdate": pa.array(base + r.integers(0, 2500, n) * DAY_US, pa.timestamp("us")),
        }
    )
    return orders, lineitem


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def fingerprint(paths: list[str]) -> str:
    """Content fingerprint (``bench.corpus_id`` scheme): name, size and
    first/last 64 KiB of each file, in sorted order."""
    h = hashlib.sha256()
    for path in sorted(paths):
        size = os.path.getsize(path)
        h.update(f"{os.path.basename(path)}:{size}:".encode())
        with open(path, "rb") as f:
            h.update(f.read(65536))
            if size > 65536:
                f.seek(max(65536, size - 65536))
                h.update(f.read(65536))
    return h.hexdigest()[:16]


def files_under(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]


# ------------------------------------------------------- stream backlog


def write_backlog(out_dir: str, seed: int, n_base: int, replicas: int, chunk_rows: int) -> int:
    """The ``stream`` catch-up backlog: ``n_base`` events replicated
    ``replicas`` times with per-replica id and one-day time offsets (the
    ``tools/make_scale_data.py`` recipe), written in time order as
    bridge-schema events chunks of ``chunk_rows`` rows. Returns rows."""
    base = events_table(seed, n_base)
    parts = []
    for i in range(replicas):
        t = base.set_column(0, "event_id", pa.array(base["event_id"].to_numpy() + i * n_base))
        ts = base["ts"].cast(pa.int64()).to_numpy() + i * DAY_US
        parts.append(t.set_column(1, "ts", pa.array(ts, pa.timestamp("us", tz="UTC"))))
    rows = pa.concat_tables(parts).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    os.makedirs(out_dir, exist_ok=True)
    for k, off in enumerate(range(0, rows.num_rows, chunk_rows)):
        pq.write_table(
            rows.slice(off, chunk_rows), os.path.join(out_dir, f"chunk-{k:06d}.parquet")
        )
    return rows.num_rows


# ---------------------------------------------------- dnstap frame corpus

_QTYPE = {"click": 1, "error": 28, "purchase": 15, "signup": 2, "view": 16}


def dnstap_frames(seed: int, n: int) -> list[bytes]:
    """``n`` ``protobuf:dnstap.Dnstap`` frames without identity, one per
    event row, with the decode chain's edge mix (see module docstring).
    Callers prepend a per-frame identity field to tag each frame."""
    t = events_table(seed, n)
    ts_us = t["ts"].cast(pa.int64()).to_pylist()
    cols = zip(t["event_id"].to_pylist(), ts_us, t["user_id"].to_pylist(), t["event_type"].to_pylist())
    frames = []
    for eid, us, user, etype in cols:
        if eid % 89 == 0:
            mtype = "FORWARDER_QUERY"
        elif eid % 2 == 0:
            mtype = "CLIENT_QUERY"
        else:
            mtype = "CLIENT_RESPONSE"
        rcode = {1: 3, 3: 2, 5: 5}.get(eid % 20, 0)
        q1 = f"host{eid % 1000}.example.com."
        questions = [(q1, _QTYPE[etype])]
        if eid % 10 == 0:
            questions.append((f"alt{eid % 100}.example.org.", _QTYPE[etype]))
        payload = b""
        if eid % 83 != 0:
            payload = dnswire.encode_message(
                eid % 65536, questions, is_response=mtype.endswith("_RESPONSE"), rcode=rcode
            )
        frames.append(
            dnstap_proto.encode_dnstap(
                message_type=mtype,
                query_address=bytes([10, 0, user % 32, user % 251]),
                query_port=0 if eid % 53 == 0 else 1024 + eid % 60000,
                time_sec=None if eid % 101 == 0 else us // 1_000_000,
                time_nsec=None if eid % 101 == 0 else (us % 1_000_000) * 1000,
                dns_message=payload,
                dnstap_type=2 if eid % 97 == 0 else dnstap_proto.DNSTAP_TYPE_MESSAGE,
            )
        )
    return frames


def tag_frame(tag: bytes, frame: bytes) -> bytes:
    """Prepend a Dnstap ``identity`` (field 1) carrying ``tag``: protobuf
    fields may come in any order, and the identity reaches the chunk row,
    so every landed row names the frame it came from."""
    return b"\x0a" + dnstap_proto.encode_varint(len(tag)) + tag + frame
