"""Environment gate for the live-server sources.

Every source the CLI runs is a jar-free wire (ES and ClickHouse over
HTTP, Mongo over OP_MSG), tested against loopback fakes
(tests/test_source_contracts.py, tests/test_ch_http.py,
tests/test_mongo_wire.py). The one surface no test reaches is a real
remote server, which needs network egress this environment does not
have. The probe below records that; if it ever fails, live round-trips
against real servers can be added.
"""

from __future__ import annotations

import socket


def _network_available() -> bool:
    try:
        socket.setdefaulttimeout(3)
        socket.getaddrinfo("repo1.maven.org", 443)
        return True
    except OSError:
        return False


def test_network_probe_is_still_dead():
    """If this ever FAILS, the environment gained egress — live
    round-trips against real servers can run instead of loopback fakes."""
    assert not _network_available(), (
        "Network egress detected: live-server round-trips can now run."
    )
