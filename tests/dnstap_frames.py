"""Seeded ``protobuf:dnstap.Dnstap`` frames for the bridge and daemon tests.

Frame ``k`` is one half of query/response pair ``k // 2``: an even ``k`` is
the CLIENT_QUERY, the odd ``k`` after it the CLIENT_RESPONSE. Identity,
address, port and DNS id derive from the pair, so both halves share the
reference's join key (aggregator.go:179-184). The decode chain's edges
ride along: every 10th pair asks two questions (P6), pairs 1/3/5 of every
20 answer NXDOMAIN/SERVFAIL/REFUSED (F5 keeps those), and every 17th frame
is an AUTH_QUERY/AUTH_RESPONSE, which F2 drops.
"""

from __future__ import annotations

from dnstap2clickhouse_spark.sources.dnstap_proto import encode_dnstap
from dnstap2clickhouse_spark.sources.dnswire import encode_message

BASE_US = 1_760_000_000_000_000
QTYPES = (1, 28, 15, 2, 16)  # A, AAAA, MX, NS, TXT
RCODES = {1: 3, 3: 2, 5: 5}  # pair % 20 -> NXDOMAIN, SERVFAIL, REFUSED


def dnstap_frame(k: int, t_us: int, *, clients: int = 5, names: int = 50) -> bytes:
    """Frame ``k``, sent at ``t_us``. Identity and address cycle over
    ``clients`` values, question name and type over ``names``."""
    pair, is_response = divmod(k, 2)
    kind = "AUTH" if k % 17 == 16 else "CLIENT"
    client, name = pair % clients, pair % names
    questions = [(f"host{name}.example.com.", QTYPES[name % len(QTYPES)])]
    if pair % 10 == 0:
        questions.append((f"alt{name}.example.org.", 1))
    return encode_dnstap(
        message_type=f"{kind}_{'RESPONSE' if is_response else 'QUERY'}",
        identity=f"ns{client % 3}",
        query_address=bytes([10, 0, client % 32, client % 251]),
        query_port=1024 + pair % 60000,
        time_sec=t_us // 1_000_000,
        time_nsec=t_us % 1_000_000 * 1000,
        dns_message=encode_message(
            pair % 65536,
            questions,
            is_response=bool(is_response),
            rcode=RCODES.get(pair % 20, 0) if is_response else 0,
        ),
    )


def dnstap_frames(
    n: int, start: int = 0, *, base_us: int = BASE_US, step_us: int = 1_000_000, **kw
) -> list[bytes]:
    """Frames ``start`` .. ``start + n - 1``, the first at ``base_us`` and
    each next one ``step_us`` later (``dnstap_frame`` settings in ``kw``)."""
    return [dnstap_frame(k, base_us + (k - start) * step_us, **kw) for k in range(start, start + n)]
