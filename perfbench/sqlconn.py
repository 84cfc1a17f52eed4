"""Connections to the ``sql_slave`` workload's sqlite databases.

The engine's statement sinks open their own connections in Spark's Python
workers, so the factory must pickle by reference: it lives in this small
module, which ``run.py`` puts on the workers' path. ``synchronous=OFF``
drops sqlite's per-commit ``fsync``, so a timed sync measures the engine's
statement path rather than the host disk's flush latency.
"""

import sqlite3


def connect(path: str) -> sqlite3.Connection:
    conn = sqlite3.connect(path, timeout=60)
    conn.execute("PRAGMA synchronous=OFF")
    return conn
