"""Operational telemetry: progress, rate-limited alerts, status (SURVEY §5, F14, A6).

The reference logs rows/s + ETA every batch (es/es_to_bytehouse.py:637-644)
and pushes WARNING/ERROR to a Feishu webhook with a 60 s per-message
rate limit (es/es_to_bytehouse.py:34-103). Here: a ProgressReporter with
the same speed/ETA formulas, and an AlertHook that rate-limits by
``LEVEL:msg[:100]`` exactly like the reference; the webhook transport is a
pluggable callable (no-op by default — no network dependency).
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from dataclasses import dataclass, field

log = logging.getLogger("es_to_clickhouse_spark")


def speed_eta(done: int, total: int | None, elapsed_s: float) -> tuple[float, float | None, float | None]:
    """The reference's progress math (es/es_to_bytehouse.py:639-643):
    speed = rows/elapsed; eta = remaining/speed; progress = done/total*100."""
    speed = done / elapsed_s if elapsed_s > 0 else 0.0
    if not total or total <= 0 or speed <= 0:
        return speed, None, None
    return speed, (total - done) / speed, done / total * 100.0


@dataclass
class AlertHook:
    """Rate-limited alert fan-out (es/es_to_bytehouse.py:48-55): identical
    ``LEVEL:msg[:100]`` keys are suppressed within ``window_s``."""

    send: Callable[[str, str], None] | None = None
    window_s: float = 60.0
    _last_sent: dict[str, float] = field(default_factory=dict)

    def alert(self, level: str, msg: str) -> bool:
        key = f"{level}:{msg[:100]}"
        now = time.time()
        if now - self._last_sent.get(key, 0.0) < self.window_s:
            return False
        self._last_sent[key] = now
        if self.send is not None:
            self.send(level, msg[:500])
        else:
            log.log(logging.WARNING if level == "WARNING" else logging.ERROR, msg)
        return True


@dataclass
class ProgressReporter:
    alerts: AlertHook = field(default_factory=AlertHook)
    #: where each table round's record and each error line go as they
    #: happen (the CLI prints them as JSON lines); None = the log only
    emit: Callable[[dict], None] | None = None

    def table_done(self, report) -> None:
        """One table round finished (an ``engine.SyncReport``)."""
        speed, _, _ = speed_eta(report.rows, report.rows, report.seconds)
        log.info(
            "%s: %d rows in %.2fs (%.0f rows/s)",
            report.table,
            report.rows,
            report.seconds,
            speed,
        )
        if self.emit is not None:
            self.emit(report.line())

    def error(self, line: dict) -> None:
        """A failed listing, table round or unmatched pattern."""
        self.alerts.alert("ERROR", json.dumps(line))
        if self.emit is not None:
            self.emit(line)

    # -- continuous-loop round telemetry (es/es_to_bytehouse.py:1069-1102:
    # "[round N] starting … / tables to check: X" then
    # "[round N] done, synced T rows" and the wait notice) ---------------

    def round_start(self, round_no: int, n_tables: int) -> None:
        log.info("[round %d] incremental sync starting (%d tables)", round_no, n_tables)

    def round_done(
        self, round_no: int, total_rows: int, seconds: float, interval_s: float | None
    ) -> None:
        speed, _, _ = speed_eta(total_rows, total_rows, seconds)
        log.info(
            "[round %d] done: %d rows in %.2fs (%.0f rows/s)",
            round_no,
            total_rows,
            seconds,
            speed,
        )
        if interval_s is not None:
            log.info("[round %d] next round in %.0fs", round_no, interval_s)
