"""dnstap2clickhouse_spark — a PySpark-native analytics engine with the
capabilities of carlospeon/dnstap2clickhouse (reference: /root/reference,
GPLv3, Go).

The reference is a continuous DNS-telemetry pipeline: dnstap protobuf
messages are decoded, filtered, exploded, aggregated under three grouping
sets in tumbling windows, matched query<->response by DNS id (a
stream-stream join), and written to ClickHouse tables that serve a
documented top-k / time-series analytics surface.

This package re-expresses every operator Spark-first:

- ``sources``    — table loaders + the canonical events->DNS stream prep
- ``operators``  — filters/projections/grouping-set agg/windows/join/
                   sampling/analytics (SURVEY.md section 2 inventory)
- ``functions``  — beyond-reference training-data ops: dedup (exact,
                   MinHash-LSH, SimHash, n-gram Jaccard), similarity
                   search, text analysis, multimodal column plumbing
- ``plans``      — generic relational analytics (TPC-H-style)
- ``streaming``  — Structured Streaming binding of the same operators

Design stance (SURVEY.md section 7): batch core first — every operator is a
pure DataFrame -> DataFrame function — and streaming binds the same
functions under ``readStream``. No RDDs, no custom Catalyst rules; plans
are declared with the DataFrame API and Catalyst/Tungsten pick the
physical strategy.
"""

__version__ = "0.1.0"
