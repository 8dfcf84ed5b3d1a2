"""The statement core shared by the four wire doors.

The reference serves SQL through Kyuubi, which layers one session and
operation core under thin protocol front-ends (Thrift :10009, REST
:10099; ``docs/components/kyuubi.md:11-12,61-67``). The doors here
(``hs2.py``, ``pgwire.py``, ``sqlserver.py``, ``restserver.py``) are
protocol codecs, auth and operation stores over this module: the row
cap, session isolation, the capped job-grouped fetch and the threaded
listener. A statement is two calls, ``engine.sql(...)`` then
:func:`fetch_capped`, because HiveServer2 compiles inline (its reply
carries the result schema) and fetches on a daemon thread for
``runAsync``.
"""

from __future__ import annotations

import socketserver
import threading
from typing import Self

# Result-set cap, like a JDBC fetch-size guard: a full-table SELECT
# over 100 TB returns the first N rows, never the world on the driver.
DEFAULT_LIMIT = 10_000

# The thread-local properties SparkContext.setJobGroup overwrites.
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def check_limit(limit: int) -> int:
    """A client's row cap, rejected when negative. The error names the
    value sent: Spark's own message would name the internal +1 probe."""
    if limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")
    return limit


def session_engine(engine):
    """The engine one wire session runs on: a
    :class:`~konohadataplatform_spark.engine.SessionEngine` clone when
    ``engine`` is catalog-backed (private temp views and SQL conf,
    shared catalog tables), otherwise ``engine`` itself, since without
    a catalog there is nothing to mirror base temp views through."""
    if getattr(engine, "catalog", None) is None:
        return engine
    from konohadataplatform_spark.engine import SessionEngine

    return SessionEngine(engine)


def fetch_capped(engine, df, limit: int, group: str) -> tuple[list, bool]:
    """``(rows[:limit], truncated)`` from one collect of one row past
    the cap (no second count job). The collect's jobs run under job group ``group``
    with ``interruptOnCancel`` set, so ``cancelJobGroup(group)`` stops
    them mid-flight; the calling thread's own job group is put back
    afterwards, so its next statement is not filed under ``group``."""
    sc = engine.spark.sparkContext
    outer = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, "wire statement", interruptOnCancel=True)
    try:
        rows = df.limit(limit + 1).collect()
    finally:
        for key, value in zip(_JOB_GROUP_PROPS, outer):
            sc.setLocalProperty(key, value)
    return rows[:limit], len(rows) > limit


class WireServer:
    """Daemon-threaded listener of one door: ``start()`` binds
    ``host:port`` (port 0 picks a free one, read back into ``.port``)
    and returns ``self``; ``stop()`` shuts it down. A door serves each
    connection in ``_serve_conn(rfile, wfile)`` on its own thread, or
    replaces :meth:`_handler` and ``server_class`` wholesale."""

    server_class = socketserver.ThreadingTCPServer

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.host, self.port = host, port
        self._server: socketserver.BaseServer | None = None

    def _serve_conn(self, rfile, wfile) -> None:
        raise NotImplementedError

    def _handler(self) -> type:
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                try:
                    outer._serve_conn(self.rfile, self.wfile)
                except (BrokenPipeError, ConnectionResetError, EOFError):
                    pass  # the client went away mid-reply

        return Handler

    def start(self) -> Self:
        class Server(self.server_class):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((self.host, self.port), self._handler())
        self.port = self._server.server_address[1]
        threading.Thread(
            target=self._server.serve_forever,
            name=f"konoha-{type(self).__name__}",
            daemon=True,
        ).start()
        return self

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
