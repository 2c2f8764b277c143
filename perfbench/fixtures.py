"""The ``es-to-ch`` load generator: loopback ES and ClickHouse fixtures in
a process of their own.

The fixture handlers are pure Python; run inside the driver they would
share its interpreter lock with the Spark client. Here they get their
own process, which also owns the generated index: the driver only says
"advance to round k" and reads back counters and the landed rows'
summary. Handlers are the repository's own (``serve_index``,
``serve_clickhouse``), wrapped to count requests, bytes and busy time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.parse

CONTROL = ("EXISTS", "DESCRIBE", "ALTER", "CREATE")


class _NoLog(list):
    """Transcript sink that keeps nothing (the fixtures log every body)."""

    def append(self, item) -> None:
        pass


def _counting(handler: type, counts: dict, lock: threading.Lock, kind: str) -> type:
    """Subclass of a fixture handler that tallies its work into ``counts``."""

    class Counting(handler):
        def _timed(self, parent):
            t0 = time.perf_counter()
            try:
                parent(self)
            finally:
                with lock:
                    counts["fixture_busy_s"] += time.perf_counter() - t0

        def send_header(self, keyword, value):
            if kind == "es" and keyword == "Content-Length" and self.command == "POST":
                with lock:
                    counts["es_pages"] += 1
                    counts["es_bytes"] += int(value)
            super().send_header(keyword, value)

        def do_GET(self):
            self._timed(handler.do_GET)

        def do_POST(self):
            if kind == "ch":
                sql = dict(urllib.parse.parse_qsl(urllib.parse.urlsplit(self.path).query)).get(
                    "query", ""
                )
                with lock:
                    if sql.startswith("INSERT"):
                        counts["ch_inserts"] += 1
                    elif sql.startswith(CONTROL):
                        counts["ch_control_requests"] += 1
            self._timed(handler.do_POST)

        if hasattr(handler, "do_DELETE"):

            def do_DELETE(self):
                self._timed(handler.do_DELETE)

    return Counting


def _serve(seed: int) -> None:
    """Fixture process main loop: one JSON command per stdin line, one
    JSON reply per stdout line."""
    import gen
    from es_to_clickhouse_spark.sources.ch_fixture import serve_clickhouse
    from es_to_clickhouse_spark.sources.es_fixture import serve_index

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    counts = dict.fromkeys(
        ["fixture_busy_s", "es_pages", "es_bytes", "ch_inserts", "ch_control_requests"], 0
    )
    lock = threading.Lock()
    docs = gen.es_docs(seed)
    ids = {d["event_id"] for d in docs}
    store: list[dict] = []
    es_srv, es_host = serve_index(docs, index="events", mapping=gen.ES_MAPPING)
    es_srv.RequestHandlerClass = _counting(es_srv.RequestHandlerClass, counts, lock, "es")
    ch_srv, ch_host, _, _ = serve_clickhouse(
        log=_NoLog(), inserted=store, rows_ref=store, strict_columns=True,
        seen_tokens=set(), start_empty=True,
    )
    ch_srv.RequestHandlerClass = _counting(ch_srv.RequestHandlerClass, counts, lock, "ch")
    reply([es_host, ch_host, len(docs)])
    try:
        for line in sys.stdin:
            cmd, arg = json.loads(line)
            if cmd == "round":
                batch = gen.es_batch(seed, arg)
                docs.extend(batch)
                ids.update(d["event_id"] for d in batch)
                reply(len(batch))
            elif cmd == "counters":
                with lock:
                    reply(dict(counts, ch_rows_in=len(store)))
            elif cmd == "check":
                landed = [r["event_id"] for r in store]
                reply({
                    "docs": len(ids),
                    "rows": len(landed),
                    "distinct": len(set(landed)),
                    "missing": len(ids - set(landed)),
                })
            else:
                raise ValueError(f"unknown fixture command {cmd!r}")
    finally:
        es_srv.shutdown()
        ch_srv.shutdown()


class FixtureProcess:
    """Handle on the fixture process: start, command, stop."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.es_host, self.ch_host, self.n_docs = self._read()

    def _read(self):
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"fixture process exited with {self.proc.wait()}")
        return json.loads(line)

    def ask(self, cmd: str, arg=None):
        self.proc.stdin.write(json.dumps([cmd, arg]) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self) -> None:
        try:
            self.proc.stdin.close()  # EOF ends the command loop
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)
        self.proc.stdout.close()


if __name__ == "__main__":
    _serve(int(sys.argv[1]))
