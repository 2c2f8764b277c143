"""Source readers behind one interface (SURVEY §2.1).

The testbed source is parquet (catalog.ParquetCatalog). The reference's
three live systems are spoken jar-free, over their own public wire
protocols, each executor-parallel:

- :mod:`.es` — Elasticsearch over HTTP: scroll and PIT + ``search_after``
  drains, sliced across executors (the reference's scroll loop).
- :mod:`.ch_http` — ClickHouse over the HTTP interface: a source with
  parallel range scans in place of the reference's O(n²) LIMIT/OFFSET
  walk (clickhouse/clickhouse_to_bytehouse.py:303-306), and the live
  target sink.
- :mod:`.mongo_wire` — MongoDB over OP_MSG: the reference's ``_id``
  keyset scan, split into disjoint ranges.

The ``*_fixture`` modules are loopback fakes of those servers for the
tests, the corpus and the benchmark.
"""
