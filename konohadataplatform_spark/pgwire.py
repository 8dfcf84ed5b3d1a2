"""PostgreSQL wire-protocol (v3) endpoint over the Engine.

The reference's public SQL entry point is JDBC/Thrift on Kyuubi :10009
(docs/components/kyuubi.md:61-67) — an external BI tool connects with a
stock driver. The in-container analog: speak the Postgres frontend/
backend protocol's simple-query subset, so ANY stock Postgres client
(psql, psycopg, JDBC's org.postgresql.Driver, BI tools' "PostgreSQL"
connector) can run SQL against the Spark engine with no custom client
code. Complements `sqlserver.SqlServer` (line-JSON) with a standard
protocol.

Implemented (per the published protocol docs):
- StartupMessage (196608), SSLRequest answered 'N', GSSENCRequest 'N'
- AuthenticationOk (trust by default; pass ``credentials=`` or set
  ``KONOHA_WIRE_CREDENTIALS`` to require an
  AuthenticationMD5Password / AuthenticationCleartextPassword
  exchange, 28P01 on bad creds — see ``wireauth.py``),
  ParameterStatus, BackendKeyData, ReadyForQuery
- Simple Query 'Q': RowDescription / DataRow (text format) /
  CommandComplete / EmptyQueryResponse / ErrorResponse, multi-statement
  strings split on top-level semicolons
- Extended protocol (what JDBC/psycopg actually send): Parse / Bind
  (text-format parameters substituted as SQL literals) / Describe /
  Execute / Close / Sync / Flush, with ParseComplete / BindComplete /
  NoData / PortalSuspended responses and error-until-Sync recovery
- Transaction-control no-ops (r7): BEGIN / COMMIT / ROLLBACK / END /
  ABORT / START TRANSACTION / DISCARD answer their CommandComplete
  tags — the engine is auto-commit, and stock clients (psql -1, JDBC
  autocommit=false) wrap everything in these
- pg_catalog emulation (r7): statements touching pg_catalog /
  pg_class / information_schema route to an in-memory DuckDB that
  MIRRORS the Spark session catalog (empty, schema-identical tables —
  re-created only on schema change, so pg_class oids stay stable
  across psql's multi-query metacommand flows), so DuckDB's own
  postgres-compatible catalog answers psql's ``\\dt`` ``\\d``
  ``\\dn`` ``\\d <table>`` (full describe with real column types) and
  a JDBC driver's DatabaseMetaData queries with the real table list.
  Verified against the sandbox's actual psql 15.
- Terminate 'X'

Not implemented: COPY, binary parameter/result formats, cursors
beyond one unnamed portal row-limit, cancellation keys, TLS.

Session isolation (one clone per connection), the result cap and the
per-statement job group are the shared wire core's (``wiredoor.py``).
"""

from __future__ import annotations

import re
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

# transaction-control statements a stock client sends around its work:
# first word -> CommandComplete tag (auto-commit engine, so no-ops)
_TXN_TAGS = {
    "BEGIN": "BEGIN",
    "START": "BEGIN",
    "COMMIT": "COMMIT",
    "END": "COMMIT",
    "ROLLBACK": "ROLLBACK",
    "ABORT": "ROLLBACK",
    "DISCARD": "DISCARD ALL",
}

# statements that must route to the DuckDB catalog mirror instead of
# Spark: psql's backslash commands and JDBC DatabaseMetaData all query
# these relations/namespaces
_PGCAT_RE = re.compile(
    r"\bpg_catalog\b|\bpg_class\b|\bpg_namespace\b|\bpg_attribute\b"
    r"|\bpg_database\b|\bpg_roles\b|\bpg_settings\b|\bpg_proc\b"
    r"|\bpg_type\b|\binformation_schema\s*\.",
    re.IGNORECASE,
)

# Spark simpleString dtype -> (pg type oid, typlen)
_PG_TYPES = {
    "boolean": (16, 1),
    "tinyint": (21, 2),
    "smallint": (21, 2),
    "int": (23, 4),
    "bigint": (20, 8),
    "float": (700, 4),
    "double": (701, 8),
    "string": (25, -1),
    "date": (1082, 4),
    "timestamp": (1114, 8),
    "timestamp_ntz": (1114, 8),
    "binary": (17, -1),
}


def _pg_type(dtype: str) -> tuple[int, int]:
    if dtype.startswith("decimal"):
        return (1700, -1)
    return _PG_TYPES.get(dtype, (25, -1))  # arrays/structs render as text


def _pg_text(v) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray)):
        return b"\\x" + bytes(v).hex().encode()
    return str(v).encode("utf-8")


def _split_statements(sql: str) -> list[str]:
    """Split on semicolons outside single/double quotes (the protocol
    allows multiple statements per Query message). Backslash-escaped
    quotes inside literals (legal in Spark SQL) do not close them."""
    out, buf, q = [], [], None
    skip = False
    for ch in sql:
        if skip:
            buf.append(ch)
            skip = False
            continue
        if q:
            if ch == "\\":
                skip = True
            elif ch == q:
                q = None
            buf.append(ch)
        elif ch in ("'", '"'):
            q = ch
            buf.append(ch)
        elif ch == ";":
            s = "".join(buf).strip()
            if s:
                out.append(s)
            buf = []
        else:
            buf.append(ch)
    s = "".join(buf).strip()
    if s:
        out.append(s)
    return out


def _sub_placeholders(sql: str, repl) -> tuple[str, bool]:
    """Replace $n placeholders OUTSIDE string literals via ``repl(n)``;
    returns (new_sql, any_found). Quote- and backslash-aware, so a
    literal like 'costs $1 each' is never touched."""
    out = []
    i, n, q, found = 0, len(sql), None, False
    while i < n:
        ch = sql[i]
        if q:
            out.append(ch)
            if ch == "\\" and i + 1 < n:
                out.append(sql[i + 1])
                i += 2
                continue
            if ch == q:
                q = None
            i += 1
            continue
        if ch in ("'", '"'):
            q = ch
            out.append(ch)
            i += 1
            continue
        if ch == "$" and i + 1 < n and sql[i + 1].isdigit():
            j = i + 1
            while j < n and sql[j].isdigit():
                j += 1
            out.append(repl(int(sql[i + 1 : j])))
            found = True
            i = j
            continue
        out.append(ch)
        i += 1
    return "".join(out), found


class _Messages:
    """Backend message builders (type byte + int32 length + payload)."""

    @staticmethod
    def msg(tag: bytes, payload: bytes) -> bytes:
        return tag + struct.pack(">I", len(payload) + 4) + payload

    @classmethod
    def auth_ok(cls) -> bytes:
        return cls.msg(b"R", struct.pack(">I", 0))

    @classmethod
    def auth_cleartext(cls) -> bytes:
        return cls.msg(b"R", struct.pack(">I", 3))

    @classmethod
    def auth_md5(cls, salt: bytes) -> bytes:
        return cls.msg(b"R", struct.pack(">I", 5) + salt)

    @classmethod
    def parameter_status(cls, k: str, v: str) -> bytes:
        return cls.msg(b"S", k.encode() + b"\x00" + v.encode() + b"\x00")

    @classmethod
    def backend_key_data(cls, pid: int, key: int) -> bytes:
        return cls.msg(b"K", struct.pack(">II", pid, key))

    @classmethod
    def ready(cls) -> bytes:
        return cls.msg(b"Z", b"I")

    @classmethod
    def row_description(cls, cols: list[tuple[str, str]]) -> bytes:
        body = struct.pack(">H", len(cols))
        for name, dtype in cols:
            oid, typlen = _pg_type(dtype)
            body += (
                name.encode("utf-8") + b"\x00"
                + struct.pack(">IhIhih", 0, 0, oid, typlen, -1, 0)
            )
        return cls.msg(b"T", body)

    @classmethod
    def data_row(cls, values) -> bytes:
        body = struct.pack(">H", len(values))
        for v in values:
            t = _pg_text(v)
            if t is None:
                body += struct.pack(">i", -1)
            else:
                body += struct.pack(">i", len(t)) + t
        return cls.msg(b"D", body)

    @classmethod
    def command_complete(cls, tag: str) -> bytes:
        return cls.msg(b"C", tag.encode() + b"\x00")

    @classmethod
    def empty_query(cls) -> bytes:
        return cls.msg(b"I", b"")

    @classmethod
    def error(cls, message: str, code: str = "XX000") -> bytes:
        body = (
            b"S" + b"ERROR\x00"
            + b"C" + code.encode() + b"\x00"
            + b"M" + message[:4000].encode("utf-8", "replace") + b"\x00"
            + b"\x00"
        )
        return cls.msg(b"E", body)


# Spark dtype -> DuckDB column type for the catalog mirror
_DUCK_TYPES = {
    "string": "VARCHAR", "bigint": "BIGINT", "int": "INTEGER",
    "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "DOUBLE",
    "float": "FLOAT", "boolean": "BOOLEAN", "date": "DATE",
    "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}

# DuckDB result type name -> Spark-ish dtype (drives the pg type OID
# on the wire); anything unmapped renders as text
_DUCK_TO_SPARK = {
    "VARCHAR": "string", "BIGINT": "bigint", "INTEGER": "int",
    "SMALLINT": "smallint", "TINYINT": "tinyint", "DOUBLE": "double",
    "FLOAT": "float", "BOOLEAN": "boolean", "DATE": "date",
    "TIMESTAMP": "timestamp", "BLOB": "binary", "HUGEINT": "bigint",
    "UBIGINT": "bigint", "UINTEGER": "bigint",
}


class _PgCatalogMirror:
    """pg_catalog emulation: an in-memory DuckDB whose catalog mirrors
    the Spark session catalog (empty, schema-identical tables), so
    DuckDB's own postgres-compatible ``pg_class``/``pg_namespace``/
    ``pg_attribute``/``information_schema`` answer client metadata
    queries with the REAL table list — no hand-rolled pg_class rows.

    The handful of server-side helper functions psql calls that DuckDB
    lacks are shimmed as macros; operator/collation decorations DuckDB
    cannot parse (``OPERATOR(pg_catalog.~)``, ``COLLATE pg_catalog.
    default``) are rewritten off before execution.

    Metadata-sized by construction: the mirror holds zero data rows and
    re-syncing is a catalog listing, never a Spark job.
    """

    _MACROS = (
        "CREATE MACRO pg_get_userbyid(o) AS 'spark'",
        "CREATE MACRO pg_table_size(o) AS CAST(0 AS BIGINT)",
        "CREATE MACRO pg_relation_size(o) AS CAST(0 AS BIGINT)",
        "CREATE MACRO pg_total_relation_size(o) AS CAST(0 AS BIGINT)",
        "CREATE MACRO pg_size_pretty(n) AS CAST(n AS VARCHAR) || ' bytes'",
        "CREATE MACRO obj_description(o, c) AS NULL",
        "CREATE MACRO shobj_description(o, c) AS NULL",
        "CREATE MACRO pg_get_partkeydef(o) AS NULL",
        "CREATE MACRO pg_get_statisticsobjdef_columns(o) AS NULL",
        # (format_type / pg_get_expr are DuckDB builtins — not shimmed;
        # the 3-arg pg_get_expr pretty flag is dropped in _rewrite)
        # shadow views: DuckDB's pg_catalog tables miss a handful of
        # columns modern psql reads; an unqualified reference (after
        # the pg_catalog. strip) resolves to these main-schema views
        # first, which pass everything through and default the gaps.
        # DuckDB-internal compat relations (sqlite_*/duckdb_*/pragma_*)
        # and the shadows themselves (pg_*) are filtered so \\d lists
        # only the mirrored Spark tables, once each.
        "CREATE VIEW pg_class AS SELECT pc.*, false AS "
        "relforcerowsecurity, CAST(0 AS BIGINT) AS relam "
        "FROM pg_catalog.pg_class pc "
        "WHERE pc.relname NOT LIKE 'sqlite!_%' ESCAPE '!' "
        "AND pc.relname NOT LIKE 'duckdb!_%' ESCAPE '!' "
        "AND pc.relname NOT LIKE 'pragma!_%' ESCAPE '!' "
        "AND pc.relname NOT LIKE 'pg!_%' ESCAPE '!'",
        "CREATE VIEW pg_am AS SELECT CAST(0 AS BIGINT) AS oid, "
        "'heap' AS amname WHERE 1 = 0",
        "CREATE VIEW pg_statistic_ext AS SELECT CAST(0 AS BIGINT) AS "
        "oid, CAST(0 AS BIGINT) AS stxrelid, '' AS stxname, "
        "CAST(0 AS BIGINT) AS stxnamespace, [] AS stxkind, "
        "CAST(0 AS BIGINT) AS stxstattarget WHERE 1 = 0",
        "CREATE VIEW pg_publication_rel AS SELECT CAST(0 AS BIGINT) "
        "AS prrelid, CAST(0 AS BIGINT) AS prpubid, '' AS prqual, "
        "CAST(NULL AS SMALLINT[]) AS prattrs WHERE 1 = 0",
        "CREATE VIEW pg_publication_namespace AS SELECT "
        "CAST(0 AS BIGINT) AS pnpubid, CAST(0 AS BIGINT) AS pnnspid "
        "WHERE 1 = 0",
        "CREATE MACRO pg_relation_is_publishable(o) AS false",
        "CREATE MACRO array_upper(a, d) AS len(a)",
        "CREATE VIEW pg_publication AS SELECT CAST(0 AS BIGINT) AS "
        "oid, '' AS pubname, false AS puballtables WHERE 1 = 0",
        "CREATE VIEW pg_inherits AS SELECT CAST(0 AS BIGINT) AS "
        "inhrelid, CAST(0 AS BIGINT) AS inhparent, 0 AS inhseqno, "
        "false AS inhdetachpending WHERE 1 = 0",
        "CREATE VIEW pg_rewrite AS SELECT CAST(0 AS BIGINT) AS oid, "
        "CAST(0 AS BIGINT) AS ev_class, '' AS rulename WHERE 1 = 0",
        "CREATE VIEW pg_trigger AS SELECT CAST(0 AS BIGINT) AS oid, "
        "CAST(0 AS BIGINT) AS tgrelid, '' AS tgname, false AS "
        "tgisinternal WHERE 1 = 0",
        "CREATE VIEW pg_collation AS SELECT CAST(0 AS BIGINT) AS oid, "
        "'' AS collname, CAST(0 AS BIGINT) AS collnamespace "
        "WHERE 1 = 0",
        "CREATE VIEW pg_attrdef AS SELECT CAST(0 AS BIGINT) AS oid, "
        "CAST(0 AS BIGINT) AS adrelid, 0 AS adnum, '' AS adbin "
        "WHERE 1 = 0",
        "CREATE VIEW pg_index AS SELECT CAST(0 AS BIGINT) AS "
        "indexrelid, CAST(0 AS BIGINT) AS indrelid, false AS "
        "indisprimary, false AS indisunique, false AS indisclustered, "
        "false AS indisvalid, false AS indisreplident, "
        "false AS indisexclusion, false AS indimmediate, "
        "'' AS indpred WHERE 1 = 0",
        "CREATE VIEW pg_policy AS SELECT CAST(0 AS BIGINT) AS oid, "
        "CAST(0 AS BIGINT) AS polrelid, '' AS polname, "
        "true AS polpermissive, CAST(NULL AS BIGINT[]) AS polroles, "
        "'' AS polqual, '' AS polwithcheck, '' AS polcmd WHERE 1 = 0",
        "CREATE VIEW pg_stat_all_tables AS SELECT CAST(0 AS BIGINT) "
        "AS relid WHERE 1 = 0",
        "CREATE VIEW pg_foreign_table AS SELECT CAST(0 AS BIGINT) AS "
        "ftrelid, CAST(0 AS BIGINT) AS ftserver WHERE 1 = 0",
        "CREATE VIEW pg_roles AS SELECT CAST(0 AS BIGINT) AS oid, "
        "'spark' AS rolname WHERE 1 = 0",
    )

    def __init__(self, engine):
        import duckdb

        self.engine = engine
        self._con = duckdb.connect()
        self._lock = threading.Lock()
        # mirrored {name: dtypes}: a table is only re-created when its
        # schema actually changed — psql's metacommands read pg_class
        # oids across SEVERAL queries, so gratuitous re-creates (fresh
        # oids) would break every multi-query \\d flow mid-way
        self._mirrored: dict = {}
        for ddl in self._MACROS:
            try:
                self._con.execute(ddl)
            except Exception:  # a future DuckDB may ship the builtin
                pass

    def _sync(self) -> None:
        spark = self.engine.spark
        current = {}
        for t in spark.catalog.listTables():
            try:
                current[t.name] = spark.table(t.name).dtypes
            except Exception:  # dropped concurrently / unreadable
                continue
        for name in set(self._mirrored) - set(current):
            self._con.execute(f'DROP TABLE IF EXISTS "{name}"')
            del self._mirrored[name]
        for name, dtypes in current.items():
            if self._mirrored.get(name) == dtypes:
                continue  # unchanged: keep the existing oid
            cols = ", ".join(
                f'"{c}" '
                + (d.upper() if d.startswith("decimal")
                   else _DUCK_TYPES.get(d, "VARCHAR"))
                for c, d in dtypes
            ) or '"dummy" VARCHAR'
            self._con.execute(f'CREATE OR REPLACE TABLE "{name}" ({cols})')
            self._mirrored[name] = dtypes

    @staticmethod
    def _rewrite(sql: str) -> str:
        sql = re.sub(
            r"OPERATOR\s*\(\s*pg_catalog\.(~\*?|!~\*?|<>|=)\s*\)",
            r" \1 ", sql,
        )
        sql = re.sub(r"COLLATE\s+pg_catalog\.\w+", "", sql)
        sql = re.sub(r'COLLATE\s+"?default"?', "", sql)
        # DuckDB has no reg* pseudo-types; the VARCHAR cast keeps the
        # expression valid (psql renders the raw value)
        sql = re.sub(r"::\s*(pg_catalog\.)?reg\w+", "::VARCHAR", sql)
        # DuckDB's pg_get_expr builtin is 2-arg; drop psql's pretty flag
        sql = re.sub(
            r"pg_get_expr\s*\(([^()]*?),\s*(?:true|false)\s*\)",
            r"pg_get_expr(\1)", sql,
        )
        return sql.replace("pg_catalog.", "")

    def run(self, sql: str):
        """-> (dtypes, rows) with Spark-ish dtype names for the wire."""
        # psql's publication panel query uses a correlated
        # generate_series DuckDB's binder rejects — and the mirror has
        # no publications by construction, so the answer is always the
        # empty set; short-circuit instead of translating it
        if re.search(r"\bpg_publication\b", sql):
            return [("pubname", "string")], []
        with self._lock:
            self._sync()
            cur = self._con.execute(self._rewrite(sql))
            desc = cur.description or []
            dtypes = [
                (d[0], _DUCK_TO_SPARK.get(str(d[1]).upper(), "string"))
                for d in desc
            ]
            return dtypes, cur.fetchall()


class PgWireServer(WireServer):
    """Threaded Postgres-protocol server over an :class:`Engine`.

    >>> srv = PgWireServer(engine).start()
    >>> # any stock Postgres client can now connect to srv.port
    >>> srv.stop()
    """

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0,
                 limit: int = DEFAULT_LIMIT,
                 credentials: dict[str, str] | None = None,
                 auth_method: str = "md5"):
        from konohadataplatform_spark.wireauth import resolve_credentials

        super().__init__(engine, host, port)
        self.limit = check_limit(limit)
        # None = trust auth (dev posture); a dict (ctor or
        # KONOHA_WIRE_CREDENTIALS env) requires every connection to
        # pass a password exchange: "md5" (salted, what stock clients
        # prefer) or "cleartext"
        self._credentials = resolve_credentials(credentials)
        if auth_method not in ("md5", "cleartext"):
            raise ValueError("auth_method must be 'md5' or 'cleartext'")
        self._auth_method = auth_method
        self._pgcat: _PgCatalogMirror | None = None
        self._pgcat_lock = threading.Lock()

    def _catalog_mirror(self) -> _PgCatalogMirror:
        with self._pgcat_lock:
            if self._pgcat is None:
                self._pgcat = _PgCatalogMirror(self.engine)
            return self._pgcat

    @staticmethod
    def _txn_tag(stmt: str) -> str | None:
        head = stmt.lstrip().split(None, 1)
        return _TXN_TAGS.get(head[0].upper()) if head else None

    # -- query execution ----------------------------------------------------
    def _run_query(self, wfile, sql: str, engine) -> None:
        stmts = _split_statements(sql)
        if not stmts:
            wfile.write(_Messages.empty_query())
            return
        for stmt in stmts:
            tag = self._txn_tag(stmt)
            if tag is not None:
                wfile.write(_Messages.command_complete(tag))
                continue
            if _PGCAT_RE.search(stmt):
                dtypes, rows = self._catalog_mirror().run(stmt)
                wfile.write(_Messages.row_description(dtypes))
                for r in rows:
                    wfile.write(_Messages.data_row(list(r)))
                wfile.write(_Messages.command_complete(f"SELECT {len(rows)}"))
                continue
            df = engine.sql(stmt)
            if df is None or not df.columns:
                wfile.write(_Messages.command_complete("OK"))
                continue
            rows, _ = fetch_capped(self.engine, df, self.limit, uuid.uuid4().hex)
            wfile.write(_Messages.row_description(list(df.dtypes)))
            for r in rows:
                wfile.write(_Messages.data_row(list(r)))
            wfile.write(_Messages.command_complete(f"SELECT {len(rows)}"))

    # -- extended protocol --------------------------------------------------
    @staticmethod
    def _bind_params(sql: str, params: list) -> str:
        """Substitute $1..$n (outside string literals) with SQL
        literals (text-format params)."""
        import re

        def lit(n: int) -> str:
            v = params[n - 1]
            if v is None:
                return "NULL"
            s = v.decode("utf-8")
            if re.fullmatch(r"-?\d+", s) or re.fullmatch(r"-?\d*\.\d+([eE][+-]?\d+)?", s):
                return s
            return "'" + s.replace("'", "''") + "'"

        return _sub_placeholders(sql, lit)[0]

    @staticmethod
    def _returns_rows(sql: str) -> bool:
        head = sql.lstrip().split(None, 1)
        return bool(head) and head[0].upper() in (
            "SELECT", "WITH", "VALUES", "SHOW", "TABLE", "DESCRIBE", "EXPLAIN"
        )

    def _handle_extended(self, tag, payload, wfile, state) -> None:
        """One extended-protocol message. ``state`` carries the
        connection's engine, prepared statements, portals, and the
        error-until-Sync flag."""
        if state.get("error") and tag not in (b"S",):
            return  # spec: after an error, discard until Sync
        if tag == b"P":  # Parse: name\0 sql\0 nparamtypes oids...
            name_end = payload.index(b"\x00")
            name = payload[:name_end].decode()
            sql_end = payload.index(b"\x00", name_end + 1)
            sql = payload[name_end + 1 : sql_end].decode("utf-8")
            state["stmts"][name] = sql
            wfile.write(_Messages.msg(b"1", b""))  # ParseComplete
        elif tag == b"B":  # Bind
            pos = payload.index(b"\x00")
            portal = payload[:pos].decode()
            end = payload.index(b"\x00", pos + 1)
            stmt = payload[pos + 1 : end].decode()
            pos = end + 1
            (nfmt,) = struct.unpack_from(">H", payload, pos)
            pos += 2 + 2 * nfmt
            (nparams,) = struct.unpack_from(">H", payload, pos)
            pos += 2
            params = []
            for _ in range(nparams):
                (ln,) = struct.unpack_from(">i", payload, pos)
                pos += 4
                if ln == -1:
                    params.append(None)
                else:
                    params.append(payload[pos : pos + ln])
                    pos += ln
            sql = self._bind_params(state["stmts"][stmt], params)
            state["portals"][portal] = {"sql": sql, "rows": None, "pos": 0}
            wfile.write(_Messages.msg(b"2", b""))  # BindComplete
        elif tag == b"D":  # Describe 'S'|'P' + name
            kind, name = payload[:1], payload[1:].split(b"\x00")[0].decode()
            if kind == b"P":
                entry = state["portals"].get(name)
                sql = entry["sql"] if entry else None
            else:
                sql = state["stmts"].get(name)
            if kind == b"S":
                # ParameterDescription: we accept any params as text
                wfile.write(_Messages.msg(b"t", struct.pack(">H", 0)))
            has_params = (
                sql is not None and _sub_placeholders(sql, lambda n: "NULL")[1]
            )
            if (sql is not None and self._txn_tag(sql) is None
                    and _PGCAT_RE.search(sql) and not has_params):
                dtypes, _rows = self._catalog_mirror().run(sql)
                wfile.write(_Messages.row_description(dtypes))
            elif (sql is not None and self._returns_rows(sql)
                    and self._txn_tag(sql) is None and not has_params):
                df = state["engine"].sql(sql)  # lazy: schema only, no action
                wfile.write(_Messages.row_description(list(df.dtypes)))
            else:
                # unbound parameters or no result set: client re-describes
                # the portal after Bind to get the row shape
                wfile.write(_Messages.msg(b"n", b""))  # NoData
        elif tag == b"E":  # Execute: portal\0 maxrows
            end = payload.index(b"\x00")
            portal = payload[:end].decode()
            (maxrows,) = struct.unpack_from(">I", payload, end + 1)
            entry = state["portals"][portal]
            if entry["rows"] is None:
                txn = self._txn_tag(entry["sql"])
                if txn is not None:
                    entry["rows"] = []
                    wfile.write(_Messages.command_complete(txn))
                    return
                if _PGCAT_RE.search(entry["sql"]):
                    _dt, rows = self._catalog_mirror().run(entry["sql"])
                    entry["rows"] = [tuple(r) for r in rows]
                else:
                    df = state["engine"].sql(entry["sql"])
                    if df is None or not df.columns:
                        entry["rows"] = []
                        wfile.write(_Messages.command_complete("OK"))
                        return
                    entry["rows"], _ = fetch_capped(
                        self.engine, df, self.limit, uuid.uuid4().hex
                    )
            rows = entry["rows"]
            take = rows[entry["pos"] : entry["pos"] + maxrows] if maxrows else rows[entry["pos"] :]
            for r in take:
                wfile.write(_Messages.data_row(list(r)))
            entry["pos"] += len(take)
            if entry["pos"] < len(rows):
                # fetch-size clients (JDBC setFetchSize) resume with
                # another Execute on the same portal
                wfile.write(_Messages.msg(b"s", b""))  # PortalSuspended
            else:
                wfile.write(_Messages.command_complete(f"SELECT {len(rows)}"))
        elif tag == b"C":  # Close
            kind, name = payload[:1], payload[1:].split(b"\x00")[0].decode()
            (state["portals"] if kind == b"P" else state["stmts"]).pop(name, None)
            wfile.write(_Messages.msg(b"3", b""))  # CloseComplete
        elif tag == b"H":  # Flush
            wfile.flush()

    # -- connection handling ------------------------------------------------
    def _authenticate(self, rfile, wfile, startup_payload: bytes) -> bool:
        """Password exchange against the configured credentials: an
        AuthenticationMD5Password (salted) or
        AuthenticationCleartextPassword request, one PasswordMessage
        back, 28P01 on failure — the flow every stock libpq/psql/JDBC
        client implements."""
        import os as _os

        from konohadataplatform_spark.wireauth import check_pg_md5, check_plain

        params = startup_payload[4:].split(b"\x00")
        kv = dict(zip(params[0::2], params[1::2]))
        user = kv.get(b"user", b"").decode("utf-8", "replace")
        salt = _os.urandom(4)
        wfile.write(
            _Messages.auth_md5(salt)
            if self._auth_method == "md5"
            else _Messages.auth_cleartext()
        )
        wfile.flush()
        tag = rfile.read(1)
        head = rfile.read(4)
        if tag != b"p" or len(head) < 4:
            return False
        (length,) = struct.unpack(">I", head)
        secret = rfile.read(length - 4).rstrip(b"\x00").decode("utf-8", "replace")
        ok = (
            check_pg_md5(self._credentials, user, secret, salt)
            if self._auth_method == "md5"
            else check_plain(self._credentials, user, secret)
        )
        if not ok:
            wfile.write(_Messages.error(
                f'password authentication failed for user "{user}"', "28P01"
            ))
            wfile.flush()
        return ok

    def _serve_conn(self, rfile, wfile) -> None:
        # startup phase: length-prefixed, untagged messages
        while True:
            head = rfile.read(4)
            if len(head) < 4:
                return
            (length,) = struct.unpack(">I", head)
            payload = rfile.read(length - 4)
            (code,) = struct.unpack(">I", payload[:4])
            if code in (80877103, 80877104):  # SSLRequest / GSSENCRequest
                wfile.write(b"N")
                wfile.flush()
                continue
            if code == 80877102:  # CancelRequest: no cancel keys issued
                return
            if code == 196608:  # StartupMessage v3.0
                break
            wfile.write(_Messages.error(f"unsupported protocol {code:#x}", "0A000"))
            wfile.flush()
            return
        if self._credentials is not None and not self._authenticate(
            rfile, wfile, payload
        ):
            return
        # one session per connection: CREATE TEMP VIEW and SET in this
        # connection never leak into another
        engine = session_engine(self.engine)
        wfile.write(_Messages.auth_ok())
        for k, v in (
            ("server_version", "15.0 (konohadataplatform-spark)"),
            ("server_encoding", "UTF8"),
            ("client_encoding", "UTF8"),
            ("DateStyle", "ISO, MDY"),
            ("integer_datetimes", "on"),
        ):
            wfile.write(_Messages.parameter_status(k, v))
        wfile.write(_Messages.backend_key_data(1, 0))
        wfile.write(_Messages.ready())
        wfile.flush()

        state = {"engine": engine, "stmts": {}, "portals": {}, "error": False}
        while True:
            tag = rfile.read(1)
            if not tag:
                return
            head = rfile.read(4)
            if len(head) < 4:
                return
            (length,) = struct.unpack(">I", head)
            payload = rfile.read(length - 4)
            if tag == b"X":  # Terminate
                return
            if tag == b"Q":
                sql = payload.rstrip(b"\x00").decode("utf-8")
                try:
                    self._run_query(wfile, sql, engine)
                except Exception as exc:  # noqa: BLE001 — wire boundary
                    wfile.write(_Messages.error(str(exc)))
                wfile.write(_Messages.ready())
                wfile.flush()
            elif tag == b"S":  # Sync: end of extended batch
                state["error"] = False
                wfile.write(_Messages.ready())
                wfile.flush()
            elif tag in (b"P", b"B", b"D", b"E", b"C", b"H"):
                try:
                    self._handle_extended(tag, payload, wfile, state)
                except Exception as exc:  # noqa: BLE001 — wire boundary
                    state["error"] = True
                    wfile.write(_Messages.error(str(exc)))
                    wfile.flush()
            else:
                wfile.write(
                    _Messages.error(f"message {tag!r} not supported", "0A000")
                )
                wfile.write(_Messages.ready())
                wfile.flush()


# ---------------------------------------------------------------------------
# Minimal frontend (tests + CLI): speaks the same simple-query subset.
# ---------------------------------------------------------------------------

def pg_query(port: int, sql: str, host: str = "127.0.0.1", timeout: float = 60.0):
    """Run one simple query against a Postgres-protocol server and
    return (columns, rows-as-text, error-or-None). A stand-in for a
    stock client in environments without psycopg/psql."""
    with socket.create_connection((host, port), timeout=timeout) as s:
        f = s.makefile("rwb")
        params = b"user\x00konoha\x00database\x00spark\x00\x00"
        body = struct.pack(">I", 196608) + params
        f.write(struct.pack(">I", len(body) + 4) + body)
        f.flush()
        _drain_until_ready(f)
        q = sql.encode("utf-8") + b"\x00"
        f.write(b"Q" + struct.pack(">I", len(q) + 4) + q)
        f.flush()
        return _read_result(f)


def _read_result(f) -> tuple[list, list, str | None]:
    """Read one query's reply up to ReadyForQuery: (columns,
    rows-as-text, error-or-None)."""
    cols, rows, err = [], [], None
    while True:
        tag = f.read(1)
        (length,) = struct.unpack(">I", f.read(4))
        payload = f.read(length - 4)
        if tag == b"T":
            (n,) = struct.unpack(">H", payload[:2])
            pos = 2
            cols = []
            for _ in range(n):
                end = payload.index(b"\x00", pos)
                cols.append(payload[pos:end].decode())
                pos = end + 1 + 18
        elif tag == b"D":
            (n,) = struct.unpack(">H", payload[:2])
            pos = 2
            row = []
            for _ in range(n):
                (ln,) = struct.unpack(">i", payload[pos : pos + 4])
                pos += 4
                if ln == -1:
                    row.append(None)
                else:
                    row.append(payload[pos : pos + ln].decode())
                    pos += ln
            rows.append(row)
        elif tag == b"E":
            fields = payload.split(b"\x00")
            err = next(
                (x[1:].decode() for x in fields if x[:1] == b"M"), "error"
            )
        elif tag == b"Z":
            return cols, rows, err


def _drain_until_ready(f) -> None:
    while True:
        tag = f.read(1)
        if tag == b"N":  # SSL refusal byte (no length) — not sent here
            continue
        (length,) = struct.unpack(">I", f.read(4))
        payload = f.read(length - 4)
        if tag == b"E":
            raise ConnectionError(payload)
        if tag == b"Z":
            return


def pg_extended_query(
    port: int,
    sql: str,
    params: list | None = None,
    host: str = "127.0.0.1",
    timeout: float = 60.0,
):
    """Extended-protocol client flow (what JDBC/psycopg send):
    Parse -> Bind -> Describe(portal) -> Execute -> Sync. Returns
    (columns, rows-as-text, error-or-None)."""
    params = params or []
    with socket.create_connection((host, port), timeout=timeout) as s:
        f = s.makefile("rwb")
        startup = b"user\x00konoha\x00\x00"
        body = struct.pack(">I", 196608) + startup
        f.write(struct.pack(">I", len(body) + 4) + body)
        f.flush()
        _drain_until_ready(f)

        def send(tag: bytes, payload: bytes) -> None:
            f.write(tag + struct.pack(">I", len(payload) + 4) + payload)

        send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack(">H", 0))
        bind = b"\x00\x00" + struct.pack(">H", 0) + struct.pack(">H", len(params))
        for p in params:
            if p is None:
                bind += struct.pack(">i", -1)
            else:
                enc = str(p).encode()
                bind += struct.pack(">i", len(enc)) + enc
        bind += struct.pack(">H", 0)
        send(b"B", bind)
        send(b"D", b"P\x00")
        send(b"E", b"\x00" + struct.pack(">I", 0))
        send(b"S", b"")
        f.flush()
        return _read_result(f)
