"""Network SQL endpoint — the Kyuubi JDBC/Thrift front-end analog.

The reference's only network entry point for interactive SQL is
Kyuubi's Thrift server on :10009 (``docs/components/kyuubi.md:61-67``;
``infrastructure/apps/kyuubi/base/kyuubi-dbt-defaults-configmap.yaml:
22-24`` sets the dbt connection to it). :class:`Engine.sql` covers the
semantics in-process; this module adds the missing *wire* surface: a
threaded TCP server speaking newline-delimited JSON, so an external
client (BI tool shim, curl-grade script, another process) can run the
full S8 dialect — Spark SQL plus the DML/time-travel dispatch —
against one shared engine.

Protocol (one JSON object per line, UTF-8):

    request:  {"sql": "...", "limit": 1000}
    response: {"ok": true, "columns": ["c1", ...],
               "types": ["bigint", ...],
               "rows": [[...], ...], "row_count": N,
               "truncated": false, "elapsed_ms": M}
    error:    {"ok": false, "error": "...", "error_class": "ValueError"}

Each TCP CONNECTION is one session, and a request's ``limit`` caps its
rows (``truncated: true`` past it; a negative one is refused): session
isolation, the cap and the per-statement job group are the shared wire
core's (``wiredoor.py``). Values are JSON-ified conservatively
(Decimal/date/datetime/bytes -> strings) so any client can parse them.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import socket
import threading
import time
import uuid

from konohadataplatform_spark.wiredoor import (
    DEFAULT_LIMIT,
    WireServer,
    check_limit,
    fetch_capped,
    session_engine,
)


def _jsonable(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if hasattr(v, "asDict"):  # Row (struct) — a tuple subclass, check first
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    return str(v)


def error_doc(exc: Exception) -> dict:
    """The wire-JSON error document of the line-JSON and REST doors."""
    return {"ok": False, "error": str(exc)[:4000], "error_class": type(exc).__name__}


def execute_sql_json(engine, sql: str, limit: int = DEFAULT_LIMIT) -> dict:
    """Run one statement and shape the result as the wire-JSON dict
    shared by the line-JSON TCP server and the REST endpoint
    (``restserver.py``): columns/types/rows/row_count/truncated or
    ok=false + error. Result sets are capped at ``limit`` rows
    (:func:`~konohadataplatform_spark.wiredoor.fetch_capped`)."""
    t0 = time.perf_counter()
    try:
        check_limit(limit)
        df = engine.sql(sql)
        rows, truncated = fetch_capped(engine, df, limit, uuid.uuid4().hex)
        return {
            "ok": True,
            "columns": list(df.columns),
            "types": [t for _n, t in df.dtypes],
            "rows": [[_jsonable(v) for v in r] for r in rows],
            "row_count": len(rows),
            "truncated": truncated,
            "elapsed_ms": round((time.perf_counter() - t0) * 1000, 1),
        }
    except Exception as exc:  # noqa: BLE001 — wire boundary
        return error_doc(exc)


class SqlServer(WireServer):
    """Threaded line-JSON SQL server over an :class:`Engine`.

    >>> srv = SqlServer(engine).start()        # port auto-assigned
    >>> sql_request(srv.port, "SELECT 1 AS x")["rows"]
    [[1]]
    >>> srv.stop()
    """

    def _handle_line(self, line: str, engine) -> str:
        try:
            req = json.loads(line)
            sql = req["sql"]
            limit = int(req.get("limit", DEFAULT_LIMIT))
        except Exception as exc:  # noqa: BLE001 — wire boundary
            return json.dumps(error_doc(exc))
        return json.dumps(execute_sql_json(engine, sql, limit))

    def _serve_conn(self, rfile, wfile) -> None:
        engine = session_engine(self.engine)
        for raw in rfile:
            line = raw.decode("utf-8").strip()
            if not line:
                continue
            wfile.write(self._handle_line(line, engine).encode("utf-8") + b"\n")
            wfile.flush()


def sql_request(
    port: int,
    sql: str,
    host: str = "127.0.0.1",
    limit: int = DEFAULT_LIMIT,
    timeout: float = 120.0,
) -> dict:
    """Minimal client: one request per call (the protocol also allows
    pipelining many lines per connection)."""
    with socket.create_connection((host, port), timeout=timeout) as s:
        s.sendall(json.dumps({"sql": sql, "limit": limit}).encode() + b"\n")
        buf = b""
        while not buf.endswith(b"\n"):
            chunk = s.recv(65536)
            if not chunk:
                break
            buf += chunk
    return json.loads(buf.decode("utf-8"))


def main(argv: list[str] | None = None) -> int:
    """CLI: serve a warehouse over TCP.

    python -m konohadataplatform_spark.sqlserver \
        --warehouse /path/wh --port 10009 [--sf-dir /root/testdata/sf0.01]

    --sf-dir additionally registers the star-schema parquet tables as
    views, so a fresh server is immediately queryable. Port 10009
    mirrors the reference's Kyuubi listener.
    """
    import argparse

    from konohadataplatform_spark.catalog import SnapshotCatalog
    from konohadataplatform_spark.engine import Engine
    from konohadataplatform_spark.session import get_spark

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=10009)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument(
        "--pg-port",
        type=int,
        default=None,
        help="also serve the Postgres wire protocol on this port "
        "(stock psql/JDBC/BI clients)",
    )
    ap.add_argument(
        "--hs2-port",
        type=int,
        default=None,
        help="also serve HiveServer2 Thrift on this port (Hive JDBC: "
        "jdbc:hive2://host:port/default, beeline, dbt-spark thrift)",
    )
    ap.add_argument(
        "--rest-port",
        type=int,
        default=None,
        help="also serve HTTP/REST SQL on this port (curl, REST BI "
        "connectors; the Kyuubi :10099 REST listener analog)",
    )
    args = ap.parse_args(argv)

    spark = get_spark(app_name="konoha-sql-server")
    engine = Engine(spark, SnapshotCatalog(spark, args.warehouse))
    if args.sf_dir:
        engine.register_star_schema(args.sf_dir)
    engine.catalog.register_views()
    srv = SqlServer(engine, host=args.host, port=args.port).start()
    print(f"konoha SQL endpoint listening on {srv.host}:{srv.port}", flush=True)
    if args.pg_port is not None:
        from konohadataplatform_spark.pgwire import PgWireServer

        pg = PgWireServer(engine, host=args.host, port=args.pg_port).start()
        print(f"konoha pg-wire endpoint listening on {pg.host}:{pg.port}", flush=True)
    if args.hs2_port is not None:
        from konohadataplatform_spark.hs2 import Hs2Server

        hs = Hs2Server(engine, host=args.host, port=args.hs2_port).start()
        print(f"konoha hs2 endpoint listening on {hs.host}:{hs.port}", flush=True)
    if args.rest_port is not None:
        from konohadataplatform_spark.restserver import RestSqlServer

        rs = RestSqlServer(engine, host=args.host, port=args.rest_port).start()
        print(
            f"konoha REST endpoint listening on {rs.host}:{rs.port}",
            flush=True,
        )
    try:
        threading.Event().wait()  # serve until killed
    except KeyboardInterrupt:
        pass
    finally:
        srv.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via subprocess test
    raise SystemExit(main())
