"""HiveServer2 Thrift (TCLIService) endpoint over the Engine.

The reference's public SQL entry point is a Hive-compatible Thrift
service — Kyuubi on :10009, connected to with ``jdbc:hive2://…:10009``
(``docs/components/kyuubi.md:61-67``, the reference's own dbt profile
``dbt/profiles.yml:5-9`` uses ``method: thrift``). The r5 pgwire
endpoint covers stock-Postgres clients; THIS module closes the last
protocol-surface gap: a client that only speaks the Hive JDBC driver
(beeline, dbt-spark's thrift method, Tableau's "Spark SQL" connector)
can open a session, execute statements, and fetch columnar results.

Implemented (from the public TCLIService.thrift + Thrift binary
protocol spec — hand-rolled, no thrift compiler or runtime dep):

- Thrift **binary protocol** (strict framing), generic struct codec
- **NOSASL** raw transport (``;auth=noSasl``) and **SASL PLAIN**
  (beeline's default: START/OK negotiation, then 4-byte-framed
  payloads). With no credentials configured, PLAIN accepts anything —
  a dev endpoint like pgwire's trust auth; pass ``credentials=`` (or
  set ``KONOHA_WIRE_CREDENTIALS``) and the PLAIN initial response is
  verified (bad creds get a SASL BAD frame) while noSasl — which
  carries nothing to verify — is refused (see ``wireauth.py``; the
  deployed reference fronts this listener with Keycloak/Vault)
- OpenSession / CloseSession (negotiates protocol version <= V10;
  the reply carries the ``configuration`` map — optional in the IDL
  but dereferenced unconditionally by the real Hive JDBC driver
  (HiveConnection.openSession reads the default fetch size from it),
  so omitting it NPEs every beeline connect)
- ExecuteStatement: sync, and TRUE async (``runAsync=true``, what the
  Hive JDBC driver always sends): the plan is compiled inline (so the
  response's ``hasResultSet`` and the result schema are real), the
  collect runs on a daemon thread under a per-operation Spark job
  group; GetOperationStatus reports RUNNING→FINISHED/ERROR/CANCELED
  and CancelOperation interrupts mid-flight via
  ``SparkContext.cancelJobGroupAndFutureJobs``
- GetOperationStatus (real per-handle state + error detail + a
  TProgressUpdateResp stub when the client asks for in-place
  progress) / CancelOperation / CloseOperation
- GetResultSetMetadata (TTableSchema with real TTypeId mapping,
  DECIMAL with precision/scale qualifiers)
- FetchResults (**columnar** TRowSet — protocol >= V6 — with per-column
  null bitmasks, paged by maxRows with hasMoreRows)
- GetInfo (DBMS name/version), GetTables / GetSchemas / GetCatalogs /
  GetTypeInfo / GetColumns (java.sql.Types codes, SQL LIKE patterns)
  as result-set operations over the session catalog

Not implemented: Kerberos/LDAP auth, HTTP transport, result
compression, log fetching (fetchType=1 returns an empty rowset).

Session isolation, the result cap and the per-statement job group are
the shared wire core's (``wiredoor.py``); fetch paging serves from the
capped buffer.
"""

from __future__ import annotations

import socket
import struct
import threading
import uuid

from konohadataplatform_spark.wiredoor import (
    DEFAULT_LIMIT,
    WireServer,
    check_limit,
    fetch_capped,
    session_engine,
)

DEFAULT_PORT = 10009  # the reference's Kyuubi frontend port

# TOperationState (TCLIService.thrift)
OP_INITIALIZED, OP_RUNNING, OP_FINISHED = 0, 1, 2
OP_CANCELED, OP_CLOSED, OP_ERROR = 3, 4, 5

# ---- Thrift binary protocol (generic) -------------------------------------

T_STOP, T_BOOL, T_BYTE, T_DOUBLE = 0, 2, 3, 4
T_I16, T_I32, T_I64, T_STRING = 6, 8, 10, 11
T_STRUCT, T_MAP, T_SET, T_LIST = 12, 13, 14, 15

M_CALL, M_REPLY, M_EXCEPTION = 1, 2, 3
VERSION_1 = -2147418112  # 0x80010000 as signed i32

# Value model: struct = {field_id: (ttype, value)}; list/set value =
# (elem_ttype, [values]); map value = (ktype, vtype, {k: v}); strings
# accept str (utf-8) or bytes (binary fields, e.g. handle guids).


def _w_value(out: bytearray, ttype: int, v) -> None:
    if ttype == T_BOOL:
        out += struct.pack(">b", 1 if v else 0)
    elif ttype == T_BYTE:
        out += struct.pack(">b", v)
    elif ttype == T_DOUBLE:
        out += struct.pack(">d", v)
    elif ttype == T_I16:
        out += struct.pack(">h", v)
    elif ttype == T_I32:
        out += struct.pack(">i", v)
    elif ttype == T_I64:
        out += struct.pack(">q", v)
    elif ttype == T_STRING:
        b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
        out += struct.pack(">i", len(b)) + b
    elif ttype == T_STRUCT:
        _w_struct(out, v)
    elif ttype in (T_LIST, T_SET):
        etype, items = v
        out += struct.pack(">bi", etype, len(items))
        for it in items:
            _w_value(out, etype, it)
    elif ttype == T_MAP:
        ktype, vtype, d = v
        out += struct.pack(">bbi", ktype, vtype, len(d))
        for k, val in d.items():
            _w_value(out, ktype, k)
            _w_value(out, vtype, val)
    else:
        raise ValueError(f"unsupported thrift type {ttype}")


def _w_struct(out: bytearray, fields: dict) -> None:
    for fid in sorted(fields):
        ttype, v = fields[fid]
        if v is None:
            continue
        out += struct.pack(">bh", ttype, fid)
        _w_value(out, ttype, v)
    out += b"\x00"


def _read_exact(r, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = r.read(n - len(buf))
        if not chunk:
            raise EOFError("peer closed mid-message")
        buf += chunk
    return buf


def _r_value(r, ttype: int):
    if ttype == T_BOOL:
        return struct.unpack(">b", _read_exact(r, 1))[0] != 0
    if ttype == T_BYTE:
        return struct.unpack(">b", _read_exact(r, 1))[0]
    if ttype == T_DOUBLE:
        return struct.unpack(">d", _read_exact(r, 8))[0]
    if ttype == T_I16:
        return struct.unpack(">h", _read_exact(r, 2))[0]
    if ttype == T_I32:
        return struct.unpack(">i", _read_exact(r, 4))[0]
    if ttype == T_I64:
        return struct.unpack(">q", _read_exact(r, 8))[0]
    if ttype == T_STRING:
        n = struct.unpack(">i", _read_exact(r, 4))[0]
        return _read_exact(r, n)  # bytes; caller decodes if text
    if ttype == T_STRUCT:
        return _r_struct(r)
    if ttype in (T_LIST, T_SET):
        etype, n = struct.unpack(">bi", _read_exact(r, 5))
        return (etype, [_r_value(r, etype) for _ in range(n)])
    if ttype == T_MAP:
        ktype, vtype, n = struct.unpack(">bbi", _read_exact(r, 6))
        return (ktype, vtype, {_r_value(r, ktype): _r_value(r, vtype)
                               for _ in range(n)})
    raise ValueError(f"unsupported thrift type {ttype}")


def _r_struct(r) -> dict:
    fields = {}
    while True:
        ttype = struct.unpack(">b", _read_exact(r, 1))[0]
        if ttype == T_STOP:
            return fields
        fid = struct.unpack(">h", _read_exact(r, 2))[0]
        fields[fid] = (ttype, _r_value(r, ttype))


def write_message(name: str, mtype: int, seqid: int, args: dict) -> bytes:
    out = bytearray()
    out += struct.pack(">i", VERSION_1 | mtype)
    _w_value(out, T_STRING, name)
    out += struct.pack(">i", seqid)
    _w_struct(out, args)
    return bytes(out)


def read_message(r) -> tuple[str, int, int, dict]:
    head = struct.unpack(">i", _read_exact(r, 4))[0]
    if head >= 0:
        # old-style unframed (name-length first) — not sent by any
        # modern Hive client; reject loudly
        raise ValueError("non-strict thrift framing not supported")
    mtype = head & 0xFF
    name = _r_value(r, T_STRING).decode("utf-8")
    seqid = struct.unpack(">i", _read_exact(r, 4))[0]
    args = _r_struct(r)
    return name, mtype, seqid, args


# ---- transports ------------------------------------------------------------

S_START, S_OK, S_BAD, S_ERROR, S_COMPLETE = 1, 2, 3, 4, 5


class _RawTransport:
    """NOSASL: thrift messages flow directly on the socket."""

    def __init__(self, rfile, wfile, first_byte: bytes = b""):
        self._r, self._w = rfile, wfile
        self._pending = first_byte

    def read(self, n: int) -> bytes:
        if self._pending:
            take, self._pending = self._pending[:n], self._pending[n:]
            return take + (self._r.read(n - len(take)) if n > len(take) else b"")
        return self._r.read(n)

    def write_message(self, payload: bytes) -> None:
        self._w.write(payload)
        self._w.flush()


class _SaslTransport:
    """Thrift TSaslTransport server side, PLAIN mechanism: 1-byte
    status + 4-byte length negotiation frames, then every thrift
    message rides in a 4-byte-length data frame."""

    def __init__(self, rfile, wfile, credentials: dict | None = None):
        self._r, self._w = rfile, wfile
        self._buf = b""
        self._credentials = credentials

    def negotiate(self, start_payload: bytes) -> bool:
        """Finish the PLAIN handshake; the START status byte + payload
        were already consumed by the transport sniffer. Returns False
        (after a BAD reply) on an unsupported mechanism or, when the
        server has credentials configured, a failed verification."""
        mech = start_payload.decode("utf-8", "replace")
        if mech != "PLAIN":
            self._write_neg(S_BAD, b"only PLAIN supported")
            return False
        # PLAIN initial response: authzid \0 authcid \0 passwd —
        # verified against the configured credentials when present,
        # accepted otherwise (dev endpoint, like pgwire trust auth)
        status, creds = self._read_neg()
        if status not in (S_OK, S_COMPLETE):
            return False
        if self._credentials is not None:
            from konohadataplatform_spark.wireauth import check_plain

            parts = creds.split(b"\x00")
            user = parts[1].decode("utf-8", "replace") if len(parts) > 1 else ""
            passwd = parts[2].decode("utf-8", "replace") if len(parts) > 2 else ""
            if not check_plain(self._credentials, user, passwd):
                self._write_neg(S_BAD, b"authentication failed")
                return False
        self._write_neg(S_COMPLETE, b"")
        return True

    def _read_neg(self) -> tuple[int, bytes]:
        head = _read_exact(self._r, 5)
        status, n = head[0], struct.unpack(">i", head[1:5])[0]
        return status, _read_exact(self._r, n)

    def _write_neg(self, status: int, payload: bytes) -> None:
        self._w.write(bytes([status]) + struct.pack(">i", len(payload)) + payload)
        self._w.flush()

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            frame_len = struct.unpack(">i", _read_exact(self._r, 4))[0]
            if frame_len <= 0:  # would busy-loop forever; treat as EOF
                raise EOFError(f"bad SASL frame length {frame_len}")
            self._buf += _read_exact(self._r, frame_len)
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def write_message(self, payload: bytes) -> None:
        self._w.write(struct.pack(">i", len(payload)) + payload)
        self._w.flush()


# ---- TCLIService value builders -------------------------------------------

# TTypeId (TCLIService.thrift)
TYPE_BOOLEAN, TYPE_TINYINT, TYPE_SMALLINT, TYPE_INT, TYPE_BIGINT = 0, 1, 2, 3, 4
TYPE_FLOAT, TYPE_DOUBLE, TYPE_STRING, TYPE_TIMESTAMP, TYPE_BINARY = 5, 6, 7, 8, 9
TYPE_DECIMAL, TYPE_NULL, TYPE_DATE = 15, 16, 17

# Spark simpleString dtype -> (TTypeId, TColumn union field id)
# TColumn: 1=bool 2=byte 3=i16 4=i32 5=i64 6=double 7=string 8=binary
_HIVE_TYPES = {
    "boolean": (TYPE_BOOLEAN, 1),
    "tinyint": (TYPE_TINYINT, 2),
    "smallint": (TYPE_SMALLINT, 3),
    "int": (TYPE_INT, 4),
    "bigint": (TYPE_BIGINT, 5),
    "float": (TYPE_FLOAT, 6),
    "double": (TYPE_DOUBLE, 6),
    "string": (TYPE_STRING, 7),
    "date": (TYPE_DATE, 7),
    "timestamp": (TYPE_TIMESTAMP, 7),
    "timestamp_ntz": (TYPE_TIMESTAMP, 7),
    "binary": (TYPE_BINARY, 8),
}

_COL_ELEM_TYPE = {1: T_BOOL, 2: T_BYTE, 3: T_I16, 4: T_I32, 5: T_I64,
                  6: T_DOUBLE, 7: T_STRING, 8: T_STRING}

# TTypeId -> java.sql.Types code (what JDBC DatabaseMetaData.getColumns
# consumers switch on — NOT the internal thrift enum)
_JDBC_TYPES = {TYPE_BOOLEAN: 16, TYPE_TINYINT: -6, TYPE_SMALLINT: 5,
               TYPE_INT: 4, TYPE_BIGINT: -5, TYPE_FLOAT: 6, TYPE_DOUBLE: 8,
               TYPE_STRING: 12, TYPE_TIMESTAMP: 93, TYPE_BINARY: -2,
               TYPE_DECIMAL: 3, TYPE_NULL: 0, TYPE_DATE: 91}


def _like_match(pattern: str, s: str) -> bool:
    """SQL LIKE semantics for JDBC metadata patterns: % = any run,
    _ = any char; empty/None/'%' matches everything."""
    import re as _re

    if pattern in ("", "%", None):
        return True
    rx = _re.escape(pattern).replace("%", ".*").replace("_", ".")
    return _re.fullmatch(rx, s) is not None
_COL_DEFAULT = {1: False, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0.0, 7: "", 8: b""}


def _hive_type(dtype: str) -> tuple[int, int, dict | None]:
    """(TTypeId, TColumn field id, qualifiers-or-None) for a Spark
    dtype simpleString. Complex/array/struct types render as strings
    (what Hive JDBC shows for them anyway)."""
    if dtype.startswith("decimal"):
        try:
            p, s = dtype[len("decimal("):-1].split(",")
            quals = {"precision": int(p), "scale": int(s)}
        except ValueError:
            quals = {"precision": 38, "scale": 18}
        return TYPE_DECIMAL, 7, quals
    tid, col = _HIVE_TYPES.get(dtype, (TYPE_STRING, 7))
    return tid, col, None


def _status_ok() -> tuple[int, dict]:
    return (T_STRUCT, {1: (T_I32, 0)})  # SUCCESS_STATUS


def _status_error(msg: str) -> tuple[int, dict]:
    return (T_STRUCT, {
        1: (T_I32, 3),  # ERROR_STATUS
        3: (T_STRING, "42000"),
        4: (T_I32, 1),
        5: (T_STRING, msg),
    })


def _handle(guid: bytes) -> tuple[int, dict]:
    ident = (T_STRUCT, {1: (T_STRING, guid), 2: (T_STRING, b"\x00" * 16)})
    return (T_STRUCT, {1: ident})


def _op_handle(guid: bytes, has_results: bool) -> tuple[int, dict]:
    ident = (T_STRUCT, {1: (T_STRING, guid), 2: (T_STRING, b"\x00" * 16)})
    return (T_STRUCT, {
        1: ident,
        2: (T_I32, 0),  # EXECUTE_STATEMENT
        3: (T_BOOL, has_results),
    })


def _guid_of(handle_field) -> bytes:
    # TSessionHandle/TOperationHandle -> THandleIdentifier.guid
    _, h = handle_field
    _, ident = h[1]
    return bytes(ident[1][1])


def _type_desc(tid: int, quals: dict | None) -> tuple[int, dict]:
    prim = {1: (T_I32, tid)}
    if quals:
        qmap = {
            k: {1: (T_I32, v)}  # TTypeQualifierValue.i32Value
            for k, v in quals.items()
        }
        prim[2] = (T_STRUCT, {1: (T_MAP, (T_STRING, T_STRUCT, qmap))})
    entry = (T_STRUCT, {1: (T_STRUCT, prim)})  # TTypeEntry.primitiveEntry
    return (T_STRUCT, {1: (T_LIST, (T_STRUCT, [entry[1]]))})


def _table_schema(dtypes: list[tuple[str, str]]) -> tuple[int, dict]:
    cols = []
    for pos, (name, dtype) in enumerate(dtypes, start=1):
        tid, _colid, quals = _hive_type(dtype)
        cols.append({
            1: (T_STRING, name),
            2: _type_desc(tid, quals),
            3: (T_I32, pos),
        })
    return (T_STRUCT, {1: (T_LIST, (T_STRUCT, cols))})


def _cell_text(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell_text(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell_text(x)}" for k, x in v.items()) + "}"
    return str(v)


def _row_set(dtypes: list[tuple[str, str]], rows: list, start: int) -> tuple[int, dict]:
    """Columnar TRowSet (protocol >= V6): one TColumn per column with a
    null bitmask; null cells carry the type's default value."""
    columns = []
    for ci, (_name, dtype) in enumerate(dtypes):
        _tid, colid, _q = _hive_type(dtype)
        etype = _COL_ELEM_TYPE[colid]
        vals, nulls = [], bytearray((len(rows) + 7) // 8)
        for ri, row in enumerate(rows):
            v = row[ci]
            if v is None:
                nulls[ri // 8] |= 1 << (ri % 8)
                vals.append(_COL_DEFAULT[colid])
            elif colid == 7:
                vals.append(_cell_text(v))
            elif colid == 8:
                vals.append(bytes(v))
            elif colid == 6:
                vals.append(float(v))
            elif colid == 1:
                vals.append(bool(v))
            else:
                vals.append(int(v))
        tcol = {colid: (T_STRUCT, {
            1: (T_LIST, (etype, vals)),
            2: (T_STRING, bytes(nulls)),
        })}
        columns.append(tcol)
    return (T_STRUCT, {
        1: (T_I64, start),
        # field 2 (row-based TRows) is REQUIRED in TCLIService.thrift —
        # stock thrift-generated clients call validate() and throw if it
        # is absent, even though V6+ clients read the columnar field 3
        2: (T_LIST, (T_STRUCT, [])),
        3: (T_LIST, (T_STRUCT, columns)),
        5: (T_I32, len(dtypes)),
    })


# ---- the server ------------------------------------------------------------

class Hs2Server(WireServer):
    """Threaded HiveServer2-protocol server over an :class:`Engine`.

    >>> srv = Hs2Server(engine).start()
    >>> # any Hive JDBC client: jdbc:hive2://host:srv.port/default
    >>> # (or ;auth=noSasl)  — then srv.stop()
    """

    PROTOCOL_MAX = 9  # HIVE_CLI_SERVICE_PROTOCOL_V10

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 limit: int = DEFAULT_LIMIT,
                 credentials: dict[str, str] | None = None):
        from konohadataplatform_spark.wireauth import resolve_credentials

        super().__init__(engine, host, port)
        self.limit = check_limit(limit)
        # None = dev posture (accept any PLAIN, allow noSasl); a dict
        # (ctor or KONOHA_WIRE_CREDENTIALS env) turns verification on
        self._credentials = resolve_credentials(credentials)
        self._sessions: dict[bytes, dict] = {}
        self._ops: dict[bytes, dict] = {}
        self._lock = threading.Lock()

    # -- operation factory --------------------------------------------------
    def _new_op(self, dtypes, rows, session: bytes = b"",
                state: int = OP_FINISHED) -> bytes:
        guid = uuid.uuid4().bytes
        done = threading.Event()
        if state == OP_FINISHED:
            done.set()
        with self._lock:
            self._ops[guid] = {"dtypes": dtypes, "rows": rows, "cursor": 0,
                               "session": session, "state": state,
                               "error": None, "done": done}
        return guid

    def _collect_into(self, guid: bytes, df) -> None:
        """Materialize a statement's (limit-capped) rows into its
        operation slot. Runs inline for sync statements and on a daemon
        thread for ``runAsync`` ones; either way the Spark jobs carry the
        operation's job group so CancelOperation can interrupt them
        (cancelling a job group is the one cancellation primitive that
        reaches already-scheduled tasks on a real cluster)."""
        op = self._ops.get(guid)
        if op is None:  # closed before the thread got scheduled
            return
        try:
            rows, _truncated = fetch_capped(self.engine, df, self.limit, guid.hex())
            with self._lock:
                if op["state"] == OP_RUNNING:
                    op["rows"] = [tuple(r) for r in rows]
                    op["state"] = OP_FINISHED
        except Exception as exc:
            with self._lock:
                if op["state"] == OP_RUNNING:  # a cancel stays CANCELED
                    op["state"] = OP_ERROR
                    op["error"] = f"{type(exc).__name__}: {exc}"
        finally:
            op["done"].set()

    def _reap_session(self, guid: bytes) -> None:
        """Drop a session and every operation it owns — called from
        CloseSession AND when a connection drops without closing (JDBC
        pools do both): ops hold up to `limit` collected rows each, so
        leaking them is unbounded driver memory."""
        with self._lock:
            self._sessions.pop(guid, None)
            dead = [op for op, st in self._ops.items()
                    if st.get("session") == guid]
            for op in dead:
                self._ops.pop(op, None)

    # -- method dispatch ----------------------------------------------------
    def _dispatch(self, name: str, args: dict,
                  conn_sessions: list | None = None) -> dict:
        if name == "OpenSession":
            req = args[1][1]
            client_proto = req.get(1, (T_I32, self.PROTOCOL_MAX))[1]
            if client_proto < 5:  # pre-V6 clients need row-based TRows
                return {1: _status_error(
                    "protocol V6+ required (columnar result sets); "
                    f"client requested V{client_proto + 1}"
                ), 2: (T_I32, self.PROTOCOL_MAX)}
            proto = min(client_proto, self.PROTOCOL_MAX)
            guid = uuid.uuid4().bytes
            seng = session_engine(self.engine)
            with self._lock:
                self._sessions[guid] = {"protocol": proto, "engine": seng}
            if conn_sessions is not None:
                conn_sessions.append(guid)
            # field 4 (configuration) is optional in the IDL but the
            # real Hive JDBC driver (hive-jdbc 2.3.x, HIVE-14901) calls
            # resp.getConfiguration().get(...) unconditionally — omit it
            # and every beeline connect dies with an NPE at OpenSession
            conf = {
                "hive.server2.thrift.resultset.default.fetch.size": "1000",
            }
            return {1: _status_ok(), 2: (T_I32, proto), 3: _handle(guid),
                    4: (T_MAP, (T_STRING, T_STRING, conf))}

        if name == "CloseSession":
            guid = _guid_of(args[1][1][1])
            self._reap_session(guid)
            if conn_sessions is not None and guid in conn_sessions:
                conn_sessions.remove(guid)
            return {1: _status_ok()}

        if name == "ExecuteStatement":
            req = args[1][1]
            sql = req[2][1].decode("utf-8")
            sguid = _guid_of(req[1])
            run_async = bool(req.get(4, (T_BOOL, False))[1])
            # Compile inline even for async: engine.sql() builds the
            # (lazy) plan and runs DDL side effects, and its result
            # schema is what makes hasResultSet + GetResultSetMetadata
            # truthful in the immediate response — exactly the
            # compile-sync / execute-async split real HS2 performs.
            eng = self._sessions.get(sguid, {}).get("engine", self.engine)
            try:
                df = eng.sql(sql)
            except Exception as exc:  # surface as TStatus, keep serving
                return {1: _status_error(f"{type(exc).__name__}: {exc}")}
            if df is None or not df.columns:
                op = self._new_op([], [], sguid)
                return {1: _status_ok(), 2: _op_handle(op, False)}
            op = self._new_op(list(df.dtypes), [], sguid, state=OP_RUNNING)
            if run_async:
                threading.Thread(
                    target=self._collect_into, args=(op, df),
                    name="konoha-hs2-op", daemon=True,
                ).start()
            else:
                self._collect_into(op, df)
                st = self._ops[op]
                if st["state"] == OP_ERROR:
                    with self._lock:
                        self._ops.pop(op, None)
                    return {1: _status_error(st["error"] or "error")}
            return {1: _status_ok(), 2: _op_handle(op, True)}

        if name == "GetOperationStatus":
            req = args[1][1]
            guid = _guid_of(req[1])
            op = self._ops.get(guid)
            if op is None:
                return {1: _status_error("unknown operation handle")}
            resp = {1: _status_ok(), 2: (T_I32, op["state"]),
                    9: (T_BOOL, bool(op["dtypes"]))}
            if op["state"] == OP_ERROR:
                resp[3] = (T_STRING, "42000")
                resp[4] = (T_I32, 1)
                resp[5] = (T_STRING, op["error"] or "error")
            if req.get(2, (T_BOOL, False))[1]:
                # client asked for in-place progress (beeline V10):
                # an empty NOT_AVAILABLE TProgressUpdateResp keeps its
                # progress bar code on the no-op path
                resp[10] = (T_STRUCT, {
                    1: (T_LIST, (T_STRING, [])),
                    2: (T_LIST, (T_LIST, [])),
                    3: (T_DOUBLE, 0.0),
                    4: (T_I32, 2),  # TJobExecutionStatus.NOT_AVAILABLE
                    5: (T_STRING, ""),
                    6: (T_I64, 0),
                })
            return resp

        if name == "CancelOperation":
            guid = _guid_of(args[1][1][1])
            op = self._ops.get(guid)
            if op is not None:
                with self._lock:
                    was_running = op["state"] == OP_RUNNING
                    if was_running:
                        op["state"] = OP_CANCELED
                if was_running:
                    op["done"].set()  # unblock any fetcher immediately
                    # a cancel can land while the fetch is still
                    # planning, before its job exists: the "future jobs"
                    # form also kills a job submitted after it
                    sc = self.engine.spark.sparkContext
                    sc._jsc.sc().cancelJobGroupAndFutureJobs(guid.hex())
            return {1: _status_ok()}

        if name == "CloseOperation":
            guid = _guid_of(args[1][1][1])
            with self._lock:
                self._ops.pop(guid, None)
            return {1: _status_ok()}

        if name == "GetResultSetMetadata":
            guid = _guid_of(args[1][1][1])
            op = self._ops.get(guid)
            if op is None:
                return {1: _status_error("unknown operation handle")}
            return {1: _status_ok(), 2: _table_schema(op["dtypes"])}

        if name == "FetchResults":
            req = args[1][1]
            guid = _guid_of(req[1])
            op = self._ops.get(guid)
            if op is None:
                return {1: _status_error("unknown operation handle")}
            fetch_type = req.get(4, (T_I16, 0))[1]
            if fetch_type != 0:  # log fetch: empty rowset
                return {1: _status_ok(), 2: (T_BOOL, False),
                        3: _row_set(op["dtypes"], [], 0)}
            # a well-behaved JDBC client polls GetOperationStatus to
            # FINISHED before fetching; block here for the rest
            op["done"].wait()
            if op["state"] == OP_CANCELED:
                return {1: _status_error("operation canceled")}
            if op["state"] == OP_ERROR:
                return {1: _status_error(op["error"] or "error")}
            max_rows = req.get(3, (T_I64, 1000))[1] or 1000
            start = op["cursor"]
            page = op["rows"][start:start + max_rows]
            op["cursor"] = start + len(page)
            more = op["cursor"] < len(op["rows"])
            return {1: _status_ok(), 2: (T_BOOL, more),
                    3: _row_set(op["dtypes"], page, start)}

        if name == "GetInfo":
            info_type = args[1][1][2][1]
            val = {13: "KonohaDataPlatform-Spark",
                   17: "Spark SQL",
                   18: "4.1.2"}.get(info_type, "")
            return {1: _status_ok(),
                    2: (T_STRUCT, {1: (T_STRING, val)})}

        if name == "GetTables":
            sguid = _guid_of(args[1][1][1])
            eng = self._sessions.get(sguid, {}).get("engine", self.engine)
            if hasattr(eng, "_sync_catalog_views"):
                eng._sync_catalog_views()  # list shared tables too
            spark = eng.spark
            rows = [(None, t.database or "default", t.name,
                     "TABLE" if t.tableType != "VIEW" else "VIEW", None)
                    for t in spark.catalog.listTables()]
            dt = [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
                  ("TABLE_NAME", "string"), ("TABLE_TYPE", "string"),
                  ("REMARKS", "string")]
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, rows, sguid), True)}

        if name == "GetSchemas":
            dt = [("TABLE_SCHEM", "string"), ("TABLE_CATALOG", "string")]
            sguid = _guid_of(args[1][1][1])
            return {1: _status_ok(), 2: _op_handle(
                self._new_op(dt, [("default", None)], sguid), True)}

        if name == "GetCatalogs":
            dt = [("TABLE_CAT", "string")]
            sguid = _guid_of(args[1][1][1])
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, [], sguid), True)}

        if name == "GetTypeInfo":
            dt = [("TYPE_NAME", "string"), ("DATA_TYPE", "int")]
            sguid = _guid_of(args[1][1][1])
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, [], sguid), True)}

        if name == "GetFunctions":
            # DatabaseMetaData.getFunctions — SQL Gateway/BI clients
            # probe this at connect; an empty set with the standard
            # JDBC columns keeps them on the happy path (a thrift
            # exception here aborts some clients' connection setup)
            dt = [("FUNCTION_CAT", "string"), ("FUNCTION_SCHEM", "string"),
                  ("FUNCTION_NAME", "string"), ("REMARKS", "string"),
                  ("FUNCTION_TYPE", "int"), ("SPECIFIC_NAME", "string")]
            sguid = _guid_of(args[1][1][1])
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, [], sguid), True)}

        if name in ("GetPrimaryKeys", "GetCrossReference"):
            # no declared key constraints in this catalog — empty set
            # with the java.sql metadata columns, not an error
            dt = ([("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
                   ("TABLE_NAME", "string"), ("COLUMN_NAME", "string"),
                   ("KEY_SEQ", "int"), ("PK_NAME", "string")]
                  if name == "GetPrimaryKeys" else
                  [("PKTABLE_CAT", "string"), ("PKTABLE_SCHEM", "string"),
                   ("PKTABLE_NAME", "string"), ("PKCOLUMN_NAME", "string"),
                   ("FKTABLE_CAT", "string"), ("FKTABLE_SCHEM", "string"),
                   ("FKTABLE_NAME", "string"), ("FKCOLUMN_NAME", "string"),
                   ("KEY_SEQ", "int")])
            sguid = _guid_of(args[1][1][1])
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, [], sguid), True)}

        if name == "GetColumns":
            # JDBC DatabaseMetaData.getColumns: optional table-name
            # pattern in field 4 ('%' / NULL = all tables)
            req = args[1][1]
            sguid = _guid_of(req[1])
            pat = req.get(4, (T_STRING, b"%"))[1].decode("utf-8")
            eng = self._sessions.get(sguid, {}).get("engine", self.engine)
            if hasattr(eng, "_sync_catalog_views"):
                eng._sync_catalog_views()
            spark = eng.spark
            rows = []
            for t in spark.catalog.listTables():
                if not _like_match(pat, t.name):
                    continue
                for pos, col in enumerate(spark.catalog.listColumns(t.name), 1):
                    tid, _c, _q = _hive_type(col.dataType)
                    rows.append((None, t.database or "default", t.name,
                                 col.name, _JDBC_TYPES.get(tid, 12),
                                 col.dataType, pos))
            dt = [("TABLE_CAT", "string"), ("TABLE_SCHEM", "string"),
                  ("TABLE_NAME", "string"), ("COLUMN_NAME", "string"),
                  ("DATA_TYPE", "int"), ("TYPE_NAME", "string"),
                  ("ORDINAL_POSITION", "int")]
            return {1: _status_ok(),
                    2: _op_handle(self._new_op(dt, rows, sguid), True)}

        raise KeyError(name)

    # -- connection loop ----------------------------------------------------
    def _serve_conn(self, rfile, wfile) -> None:
        first = rfile.read(1)
        if not first:
            return
        if first[0] == S_START:
            # SASL negotiation begins with a START status byte; a raw
            # thrift strict-binary message begins with 0x80 — the two
            # are unambiguous, so one transport port serves both
            # ;auth=noSasl and beeline's default PLAIN.
            transport = _SaslTransport(rfile, wfile, self._credentials)
            n = struct.unpack(">i", _read_exact(rfile, 4))[0]
            if not transport.negotiate(_read_exact(rfile, n)):
                return
        else:
            if self._credentials is not None:
                # ;auth=noSasl carries no credential to verify — with
                # auth configured the raw transport would be a bypass,
                # so the connection is refused outright
                return
            transport = _RawTransport(rfile, wfile, first_byte=first)
        conn_sessions: list[bytes] = []
        try:
            self._conn_loop(transport, conn_sessions)
        finally:
            # a client that vanishes without CloseSession must not leak
            # its sessions/ops (each op holds up to `limit` rows)
            for guid in list(conn_sessions):
                self._reap_session(guid)

    def _conn_loop(self, transport, conn_sessions: list) -> None:
        while True:
            try:
                name, mtype, seqid, args = read_message(transport)
            except (EOFError, ConnectionResetError):
                return
            try:
                result = self._dispatch(name, args, conn_sessions)
                reply = write_message(
                    name, M_REPLY, seqid, {0: (T_STRUCT, result)}
                )
            except KeyError:
                reply = write_message(
                    name, M_EXCEPTION, seqid,
                    {1: (T_STRING, f"unknown method {name}"), 2: (T_I32, 1)},
                )
            except Exception as exc:  # codec-level failure
                reply = write_message(
                    name, M_EXCEPTION, seqid,
                    {1: (T_STRING, f"{type(exc).__name__}: {exc}"),
                     2: (T_I32, 6)},
                )
            transport.write_message(reply)
            # NOTE: the loop keeps serving after CloseSession — thrift
            # allows multiple concurrent sessions per transport (real
            # HiveServer2/Kyuubi keep the connection open); only
            # EOF/reset ends the connection, and _serve_conn's finally
            # reaps whatever sessions are still tracked at that point.


# ---------------------------------------------------------------------------
# Minimal beeline-shaped client (tests + CLI): same call sequence the
# Hive JDBC driver performs — OpenSession, ExecuteStatement,
# GetResultSetMetadata, FetchResults loop, CloseOperation, CloseSession.
# ---------------------------------------------------------------------------


class Hs2Client:
    def __init__(self, port: int, host: str = "127.0.0.1",
                 use_sasl: bool = True, timeout: float = 60.0,
                 user: str = "anonymous", password: str = "anonymous"):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._r = self._sock.makefile("rb")
        self._w = self._sock.makefile("wb")
        self._seq = 0
        self._sasl = use_sasl
        if use_sasl:
            self._neg(S_START, b"PLAIN")
            self._neg(
                S_OK, b"\x00" + user.encode() + b"\x00" + password.encode()
            )
            head = _read_exact(self._r, 5)
            if head[0] != S_COMPLETE:
                payload = _read_exact(self._r, struct.unpack(">i", head[1:5])[0])
                raise RuntimeError(
                    f"SASL failed: status {head[0]} "
                    f"{payload.decode('utf-8', 'replace')}"
                )
            _read_exact(self._r, struct.unpack(">i", head[1:5])[0])
        self.session = None

    def _neg(self, status: int, payload: bytes) -> None:
        self._w.write(bytes([status]) + struct.pack(">i", len(payload)) + payload)
        self._w.flush()

    def call(self, name: str, args: dict) -> dict:
        self._seq += 1
        msg = write_message(name, M_CALL, self._seq, args)
        if self._sasl:
            self._w.write(struct.pack(">i", len(msg)) + msg)
            self._w.flush()
            reader = _SaslReader(self._r)
        else:
            self._w.write(msg)
            self._w.flush()
            reader = self._r
        rname, mtype, _seq, fields = read_message(reader)
        if mtype == M_EXCEPTION:
            raise RuntimeError(fields[1][1].decode("utf-8", "replace"))
        assert rname == name
        return fields[0][1]

    def open_session(self) -> None:
        resp = self.call("OpenSession", {1: (T_STRUCT, {
            1: (T_I32, 9),
            2: (T_STRING, "test"),
            3: (T_STRING, ""),
        })})
        self._check(resp)
        self.session = resp[3]

    @staticmethod
    def _check(resp: dict) -> None:
        status = resp[1][1]
        if status[1][1] != 0:
            msg = status.get(5, (T_STRING, b"error"))[1]
            raise RuntimeError(msg.decode("utf-8", "replace"))

    def execute(self, sql: str):
        """Returns (column names, rows) exactly as a JDBC client would
        assemble them from the columnar rowset."""
        resp = self.call("ExecuteStatement", {1: (T_STRUCT, {
            1: self.session,
            2: (T_STRING, sql),
        })})
        self._check(resp)
        if 2 not in resp:
            return [], []
        op = resp[2]
        has_rs = op[1][3][1]
        if not has_rs:
            self.call("CloseOperation", {1: (T_STRUCT, {1: op})})
            return [], []
        meta = self.call("GetResultSetMetadata", {1: (T_STRUCT, {1: op})})
        self._check(meta)
        col_descs = meta[2][1][1][1][1]
        names = [c[1][1].decode() for c in col_descs]
        rows: list[tuple] = []
        while True:
            fr = self.call("FetchResults", {1: (T_STRUCT, {
                1: op, 2: (T_I16, 0), 3: (T_I64, 1000),
            })})
            self._check(fr)
            rowset = fr[3][1]
            cols_out = []
            for tcol in rowset.get(3, (T_LIST, (T_STRUCT, [])))[1][1]:
                colid = next(iter(tcol))
                body = tcol[colid][1]
                vals = body[1][1][1]
                nulls = body[2][1]
                out = []
                for i, v in enumerate(vals):
                    if i // 8 < len(nulls) and nulls[i // 8] & (1 << (i % 8)):
                        out.append(None)
                    elif isinstance(v, bytes) and colid != 8:
                        out.append(v.decode("utf-8", "replace"))
                    else:
                        out.append(v)
                cols_out.append(out)
            page = list(zip(*cols_out)) if cols_out and cols_out[0] else []
            rows.extend(page)
            if not fr[2][1] or not page:
                break
        self.call("CloseOperation", {1: (T_STRUCT, {1: op})})
        return names, rows

    # -- async surface (the call sequence the real Hive JDBC driver
    # -- performs: runAsync=true, poll GetOperationStatus, then fetch) --
    def execute_async(self, sql: str):
        """Submit with runAsync=true; returns the operation handle."""
        resp = self.call("ExecuteStatement", {1: (T_STRUCT, {
            1: self.session,
            2: (T_STRING, sql),
            4: (T_BOOL, True),
        })})
        self._check(resp)
        return resp[2]

    def op_status(self, op, progress: bool = False) -> int:
        """TOperationState of an operation (0=INIT 1=RUNNING 2=FINISHED
        3=CANCELED 5=ERROR); raises on ERROR detail like JDBC does."""
        resp = self.call("GetOperationStatus", {1: (T_STRUCT, {
            1: op, 2: (T_BOOL, progress),
        })})
        self._check(resp)
        return resp[2][1]

    def cancel(self, op) -> None:
        self._check(self.call("CancelOperation", {1: (T_STRUCT, {1: op})}))

    def close_operation(self, op) -> None:
        self._check(self.call("CloseOperation", {1: (T_STRUCT, {1: op})}))

    def close(self) -> None:
        if self.session is not None:
            try:
                self.call("CloseSession", {1: (T_STRUCT, {1: self.session})})
            except (OSError, EOFError, RuntimeError):
                pass
        self._sock.close()


class _SaslReader:
    """Read-side adapter: unwraps 4-byte-framed SASL data frames."""

    def __init__(self, rfile):
        self._r = rfile
        self._buf = b""

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            frame_len = struct.unpack(">i", _read_exact(self._r, 4))[0]
            if frame_len <= 0:  # would busy-loop forever; treat as EOF
                raise EOFError(f"bad SASL frame length {frame_len}")
            self._buf += _read_exact(self._r, frame_len)
        out, self._buf = self._buf[:n], self._buf[n:]
        return out
