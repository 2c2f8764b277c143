"""Benchmark-side subclasses that open a span around each layer call.

They change no behaviour: every override calls the parent method inside
``tracer.span``. The traced run hands these to the engine in place of
the plain classes; the untraced run never constructs them.
"""

from __future__ import annotations

from es_to_clickhouse_spark.catalog import ParquetCatalog
from es_to_clickhouse_spark.sink import WarehouseTarget
from es_to_clickhouse_spark.sources.ch_http import ClickHouseHttpTarget
from es_to_clickhouse_spark.state import StateStore

from spans import Tracer


def _wrap(base: type, spans: dict[str, str]) -> type:
    """A subclass of ``base`` whose methods named in ``spans`` run inside
    the span named by the value. The instance's tracer is ``self.tracer``."""

    def make(method_name: str, span_name: str):
        parent = getattr(base, method_name)

        def method(self, *args, **kwargs):
            with self.tracer.span(span_name):
                return parent(self, *args, **kwargs)

        method.__name__ = method_name
        return method

    body = {m: make(m, s) for m, s in spans.items()}
    return type(f"Traced{base.__name__}", (base,), body)


_TWINS = {
    ParquetCatalog: _wrap(ParquetCatalog, {"list_tables": "catalog.list", "read": "catalog.read"}),
    WarehouseTarget: _wrap(
        WarehouseTarget,
        {
            "append": "sink.append",
            "table_exists": "sink.schema",
            "live_schema": "sink.schema",
            "add_new_columns": "sink.schema",
            "create_table": "sink.schema",
            "compact": "sink.compact",
        },
    ),
    StateStore: _wrap(StateStore, {"get": "state.get", "commit": "state.commit"}),
    ClickHouseHttpTarget: _wrap(ClickHouseHttpTarget, {"append": "ch_http.append"}),
}


def traced(tracer: Tracer, cls: type, *args):
    """The traced twin of ``cls`` (a key of ``_TWINS``), bound to
    ``tracer``. None of the wrapped constructors calls a wrapped method."""
    obj = _TWINS[cls](*args)
    obj.tracer = tracer
    return obj
