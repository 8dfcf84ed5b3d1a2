"""SQL DML + time-travel dispatch for :meth:`Engine.sql`.

The reference declares mutations in SQL: dbt's incremental models emit
``MERGE INTO`` (``dbt/analytics/models/marts/daily_order_metrics.sql:9``,
``incremental_strategy='merge'``), GDPR erasure is documented as
``DELETE FROM`` (``docs/architecture/lakehouse.md:108``), and time travel
as ``FOR TIMESTAMP AS OF`` / ``FOR VERSION AS OF``
(``docs/components/iceberg.md:10``). Spark's open-source SQL parser only
accepts these against v2 catalog tables, and this repo's snapshot catalog
is a filesystem catalog — so ``Engine.sql`` recognizes the statements
here and routes them onto the catalog API (:meth:`SnapshotCatalog.merge`
semantics, :meth:`delete_where`, :meth:`read` for time travel).

Scale note: every rewrite below plans ONE declarative DataFrame (joins +
unions) and commits once — Catalyst sees the whole plan, so the merge's
anti-join broadcasts when the source is small, and nothing is collected
to the driver.

Parsing scope (documented contract, enforced with clear errors):
- One ``WHEN MATCHED`` clause (``UPDATE SET *``, ``UPDATE SET c = expr,
  ...`` or ``DELETE``) and one ``WHEN NOT MATCHED`` clause (``INSERT *``
  or ``INSERT (cols) VALUES (exprs)``), each with an optional ``AND
  <predicate>`` guard — the full surface dbt's merge strategy and the
  reference docs use.
- The ``ON``/guard predicates must not contain a top-level ``WHEN``
  keyword (e.g. a bare ``CASE WHEN``); wrap such expressions in a
  source subquery instead.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DML_RE = re.compile(
    r"^\s*(MERGE|DELETE|UPDATE|ALTER|INSERT|TRUNCATE|DROP|CREATE|CALL|OPTIMIZE)\b"
    r"|^\s*DESCRIBE\s+HISTORY\b|^\s*SHOW\s+TBLPROPERTIES\b"
    r"|^\s*ANALYZE\s+TABLE\b|^\s*EXPORT\s+TABLE\b",
    re.IGNORECASE,
)

# Keywords that can follow a table reference (so a time-travel rewrite
# knows whether the next token is an alias or the next clause).
_CLAUSE_KEYWORDS = frozenset(
    """where group order join on left right full inner cross outer anti
    semi union intersect except limit having qualify as lateral natural
    using when then window distribute cluster sort""".split()
)


def is_dml(query: str) -> bool:
    return _DML_RE.match(query) is not None


# Iceberg-style metadata-table references: SELECT * FROM t$files etc.
_META_TABLE_RE = re.compile(
    r"\b([A-Za-z_]\w*)\$(files|snapshots|history|partitions|refs)\b"
)


def rewrite_metadata_tables(engine, query: str) -> str:
    """Rewrite ``t$files`` / ``t$snapshots`` / ``t$partitions`` /
    ``t$refs`` / ``t$history`` references to temp views over
    :meth:`SnapshotCatalog.metadata_table` (the Iceberg metadata-table
    surface). Views are (re)registered per statement so they always
    reflect the current snapshot. Quote-aware: ``$``-patterns inside
    string literals pass through untouched, so ``SELECT 'x$files'``
    keeps meaning the literal."""
    def sub(m):
        tbl, kind = m.group(1), m.group(2)
        view = f"__meta_{tbl}__{kind}"
        engine.catalog.metadata_table(tbl, kind).createOrReplaceTempView(view)
        return view

    # split into quoted and unquoted segments; rewrite only outside
    # quotes (same scanner discipline as _split_top_level)
    out, buf, quote = [], [], None
    for ch in query:
        if quote:
            buf.append(ch)
            if ch == quote:
                out.append("".join(buf))
                buf, quote = [], None
            continue
        if ch in "'\"":
            out.append(_META_TABLE_RE.sub(sub, "".join(buf)))
            buf, quote = [ch], ch
            continue
        buf.append(ch)
    tail = "".join(buf)
    out.append(tail if quote else _META_TABLE_RE.sub(sub, tail))
    return "".join(out)


def _strip(query: str) -> str:
    return query.strip().rstrip(";").strip()


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and quotes."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _find_keyword(text: str, word: str, start: int = 0) -> int:
    """Index of the first top-level (outside parens/quotes) ``word``."""
    pat = re.compile(rf"\b{word}\b", re.IGNORECASE)
    depth, i, quote = 0, start, None
    while i < len(text):
        ch = text[i]
        if quote:
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(text, i)
            if m:
                return i
        i += 1
    return -1


def _unalias(col: str) -> str:
    return col.split(".")[-1].strip().strip("`")


def _qid(col: str) -> str:
    return f"`{col}`"


# --------------------------------------------------------------------------
# DELETE FROM / UPDATE
# --------------------------------------------------------------------------

_DELETE_RE = re.compile(
    r"^DELETE\s+FROM\s+(?P<name>[\w.`]+)(?:\s+WHERE\s+(?P<pred>.+))?$",
    re.IGNORECASE | re.DOTALL,
)

_UPDATE_RE = re.compile(
    r"^UPDATE\s+(?P<name>[\w.`]+)\s+SET\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _dispatch_delete(engine, query: str) -> DataFrame:
    m = _DELETE_RE.match(query)
    if not m:
        raise ValueError(f"unsupported DELETE syntax: {query!r}")
    name = m.group("name").strip("`")
    pred = (m.group("pred") or "TRUE").strip()
    snap = engine.catalog.delete_where(name, pred)
    return _refresh_and_summarize(engine, name, snap)


def _dispatch_update(engine, query: str) -> DataFrame:
    m = _UPDATE_RE.match(query)
    if not m:
        raise ValueError(f"unsupported UPDATE syntax: {query!r}")
    name = m.group("name").strip("`")
    rest = m.group("rest")
    # split SET list from the optional WHERE with the quote/paren-aware
    # scanner — a regex would latch onto a WHERE inside a string literal
    where_at = _find_keyword(rest, "WHERE")
    sets_sql = rest[:where_at] if where_at >= 0 else rest
    pred = rest[where_at + 5 :].strip() if where_at >= 0 else "TRUE"
    assigns: dict[str, str] = {}
    for part in _split_top_level(sets_sql):
        eq = part.find("=")
        if eq < 0:
            raise ValueError(f"bad SET assignment: {part!r}")
        assigns[_unalias(part[:eq])] = part[eq + 1 :].strip()

    view = name.split(".")[-1]

    def _updated(df: DataFrame) -> DataFrame:
        unknown = set(assigns) - set(df.columns)
        if unknown:
            raise ValueError(f"UPDATE {name}: unknown column(s) {sorted(unknown)}")
        df.createOrReplaceTempView(view)
        select_list = [
            f"CASE WHEN ({pred}) THEN ({assigns[c]}) ELSE {_qid(c)} END AS {_qid(c)}"
            if c in assigns
            else _qid(c)
            for c in df.columns
        ]
        return engine.spark.sql(f"SELECT {', '.join(select_list)} FROM {view}")

    snap = engine.catalog.rewrite(name, _updated, f"update-where: {pred}")
    return _refresh_and_summarize(engine, name, snap)


# --------------------------------------------------------------------------
# INSERT INTO / CTAS / TRUNCATE / DROP — the rest of the S8 DML/DDL
# surface a dbt-style user issues against catalog tables
# --------------------------------------------------------------------------

_INSERT_RE = re.compile(
    r"^INSERT\s+(?P<mode>INTO|OVERWRITE(?:\s+TABLE)?)\s+(?P<name>[\w.`]+)"
    r"(?:\s*\((?P<cols>[^)]*)\))?\s+"
    r"(?P<body>SELECT\b.*|VALUES\b.*|WITH\b.*|TABLE\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_RE = re.compile(
    r"^CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+"
    r"(?P<ifnot>IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`]+)\s+"
    r"(?:USING\s+\w+\s+)?"  # USING parquet/iceberg — accepted, moot here
    r"(?:PARTITIONED\s+BY\s*\((?P<partcols>[^)]*)\)\s+)?AS\s+"
    r"(?P<body>SELECT\b.*|WITH\b.*|VALUES\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE_RE = re.compile(
    r"^TRUNCATE\s+TABLE\s+(?P<name>[\w.`]+)$", re.IGNORECASE
)
_DROP_RE = re.compile(
    r"^DROP\s+TABLE\s+(?P<ifex>IF\s+EXISTS\s+)?(?P<name>[\w.`]+)$", re.IGNORECASE
)


def _dispatch_insert(engine, query: str) -> DataFrame:
    m = _INSERT_RE.match(query)
    if not m:
        raise ValueError(f"unsupported INSERT syntax: {query!r}")
    name = m.group("name").strip("`")
    if not engine.catalog.exists(name) and engine.spark.catalog.tableExists(name):
        # metastore-managed table (e.g. bucketed): plain Spark SQL path
        return engine.spark.sql(query)
    body = m.group("body")
    df = engine.spark.sql(
        body if not re.match(r"VALUES\b", body, re.IGNORECASE)
        else f"SELECT * FROM ({body})"
    )
    if m.group("cols"):
        cols = [_unalias(c) for c in _split_top_level(m.group("cols"))]
        if len(cols) != len(df.columns):
            raise ValueError("INSERT: column list / SELECT arity mismatch")
        df = df.toDF(*cols)
    if engine.catalog.exists(name):
        # standard INSERT semantics: positional against the target
        # schema (VALUES yields col1/col2/... names), NULL-fill columns
        # absent from an explicit column list
        from pyspark.sql import functions as F

        tcols = engine.catalog.read(name).columns
        if m.group("cols"):
            unknown = set(df.columns) - set(tcols)
            if unknown:
                raise ValueError(f"INSERT: unknown column(s) {sorted(unknown)}")
            for c in tcols:
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(None))
            df = df.select(*tcols)
        else:
            if len(df.columns) != len(tcols):
                raise ValueError(
                    f"INSERT: {len(df.columns)} values for {len(tcols)} columns"
                )
            df = df.toDF(*tcols)
    overwrite = m.group("mode").upper().startswith("OVERWRITE")
    snap = engine.catalog.write(
        name, df, mode="overwrite" if overwrite else "append",
        operation="insert-overwrite" if overwrite else "insert-into",
    )
    return _refresh_and_summarize(engine, name, snap)


def _dispatch_create(engine, query: str) -> DataFrame:
    m = _CTAS_RE.match(query)
    if not m:
        raise ValueError(
            f"unsupported CREATE TABLE syntax (only CTAS forms): {query!r}"
        )
    name = m.group("name").strip("`")
    exists = engine.catalog.exists(name)
    if exists and m.group("ifnot"):
        return _refresh_and_summarize(
            engine, name, engine.catalog.current_snapshot(name)
        )
    if exists and not m.group("replace"):
        raise ValueError(f"table already exists: {name} (use CREATE OR REPLACE)")
    body = m.group("body")
    df = engine.spark.sql(
        body if not re.match(r"VALUES\b", body, re.IGNORECASE)
        else f"SELECT * FROM ({body})"
    )
    partcols = [
        c.strip().strip("`")
        for c in (m.group("partcols") or "").split(",")
        if c.strip()
    ]
    # CREATE (OR REPLACE) declares the table's spec from scratch: no
    # PARTITIONED BY clause means unpartitioned ([] defeats the
    # spec-inheritance a row-level rewrite would get)
    snap = engine.catalog.write(
        name, df, operation="ctas", partition_by=partcols or []
    )
    return _refresh_and_summarize(engine, name, snap)


def _dispatch_truncate(engine, query: str) -> DataFrame:
    m = _TRUNCATE_RE.match(query)
    if not m:
        raise ValueError(f"unsupported TRUNCATE syntax: {query!r}")
    name = m.group("name").strip("`")
    if not engine.catalog.exists(name):
        return engine.spark.sql(query)
    snap = engine.catalog.delete_where(name, "TRUE")
    return _refresh_and_summarize(engine, name, snap)


def _dispatch_drop(engine, query: str) -> DataFrame:
    m = _DROP_RE.match(query)
    if not m:
        raise ValueError(f"unsupported DROP syntax: {query!r}")
    name = m.group("name").strip("`")
    if not engine.catalog.exists(name):
        # not a catalog table: metastore tables go to plain Spark SQL
        return engine.spark.sql(query)
    engine.catalog.drop_table(name)
    engine.spark.catalog.dropTempView(name.split(".")[-1])
    return engine.spark.createDataFrame(
        [("drop-table", name, 0)], "operation string, table string, version int"
    )


# --------------------------------------------------------------------------
# ALTER TABLE (M5 schema evolution: add / rename / drop)
# --------------------------------------------------------------------------

_ALTER_RENAME_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+RENAME\s+COLUMN\s+"
    r"(?P<old>[\w`]+)\s+TO\s+(?P<new>[\w`]+)$",
    re.IGNORECASE,
)
_ALTER_DROP_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+DROP\s+COLUMN\s+(?P<col>[\w`]+)$",
    re.IGNORECASE,
)
_ALTER_TBLPROPS_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+SET\s+TBLPROPERTIES\s*"
    r"\((?P<props>.*)\)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_ADD_RE = re.compile(
    r"^ALTER\s+TABLE\s+(?P<name>[\w.`]+)\s+ADD\s+COLUMN\s+"
    r"(?P<col>[\w`]+)\s+(?P<type>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _dispatch_alter(engine, query: str) -> DataFrame:
    from pyspark.sql import functions as F

    cat = engine.catalog
    if m := _ALTER_RENAME_RE.match(query):
        snap = cat.rename_column(
            m.group("name").strip("`"), m.group("old").strip("`"),
            m.group("new").strip("`"),
        )
    elif m := _ALTER_DROP_RE.match(query):
        snap = cat.drop_column(m.group("name").strip("`"), m.group("col").strip("`"))
    elif m := _ALTER_ADD_RE.match(query):
        snap = cat.add_column(
            m.group("name").strip("`"),
            m.group("col").strip("`"),
            F.lit(None).cast(m.group("type").strip()),
        )
    elif m := _ALTER_TBLPROPS_RE.match(query):
        # Iceberg-style writer properties, e.g.
        #   SET TBLPROPERTIES (
        #     'write.parquet.bloom-filter-enabled.column.user_id'='true',
        #     'write.parquet.bloom-filter-expected-ndv.column.user_id'='20000')
        # Unknown keys persist as opaque table properties.
        name = m.group("name").strip("`")
        props = {}
        for part in _split_top_level(m.group("props"), ","):
            k, _, v = part.strip().partition("=")
            k, v = k.strip().strip("'\""), v.strip().strip("'\"")
            if not k:
                continue
            props[k] = v
        bloom = dict(cat.table_properties(name).get("bloom_filters") or {})
        passthrough = {}
        for k, v in props.items():
            if k.startswith("write.parquet.bloom-filter-enabled.column."):
                col = k.rsplit(".", 1)[-1]
                if v.lower() == "true":
                    bloom.setdefault(col, None)
                else:
                    bloom.pop(col, None)
            elif k.startswith("write.parquet.bloom-filter-expected-ndv.column."):
                col = k.rsplit(".", 1)[-1]
                bloom[col] = int(v)
            else:
                passthrough[k] = v
        cat.set_table_properties(
            name, {**passthrough, "bloom_filters": bloom or None}
        )
        return engine.spark.createDataFrame(
            [(name, json.dumps(cat.table_properties(name), sort_keys=True))],
            "table string, properties string",
        )
    else:
        raise ValueError(f"unsupported ALTER TABLE syntax: {query!r}")
    return _refresh_and_summarize(engine, m.group("name").strip("`"), snap)


# --------------------------------------------------------------------------
# MERGE INTO
# --------------------------------------------------------------------------

_MERGE_HEAD_RE = re.compile(
    r"^MERGE\s+INTO\s+(?P<target>[\w.`]+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?\s+USING\s+",
    re.IGNORECASE,
)

_WHEN_RE = re.compile(
    r"WHEN\s+(?P<not>NOT\s+)?MATCHED\b(?:\s+BY\s+(?P<by>SOURCE|TARGET)\b)?"
    r"(?:\s+AND\s+(?P<guard>.*?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.*?|DELETE|INSERT\s+.*?)\s*"
    r"(?=WHEN\s+(?:NOT\s+)?MATCHED\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def _parse_merge(query: str) -> dict:
    m = _MERGE_HEAD_RE.match(query)
    if not m:
        raise ValueError(f"unsupported MERGE syntax: {query!r}")
    out: dict = {
        "target": m.group("target").strip("`"),
        "talias": m.group("talias"),
    }
    rest = query[m.end() :].lstrip()

    # source: (subquery) or table name
    if rest.startswith("("):
        depth = 0
        for i, ch in enumerate(rest):
            depth += ch == "("
            depth -= ch == ")"
            if depth == 0:
                break
        out["source_sql"] = rest[1:i].strip()
        out["source"] = None
        rest = rest[i + 1 :].lstrip()
    else:
        sm = re.match(r"[\w.`]+", rest)
        if not sm:
            raise ValueError(f"MERGE: missing USING source in {query!r}")
        out["source"] = sm.group(0).strip("`")
        out["source_sql"] = None
        rest = rest[sm.end() :].lstrip()

    am = re.match(r"(?:AS\s+)?(?!ON\b)(\w+)\s+", rest, re.IGNORECASE)
    out["salias"] = None
    if am:
        out["salias"] = am.group(1)
        rest = rest[am.end() :].lstrip()
    if not re.match(r"ON\b", rest, re.IGNORECASE):
        raise ValueError(f"MERGE: missing ON clause in {query!r}")
    rest = rest[2:].lstrip()

    when_at = _find_keyword(rest, "WHEN")
    if when_at < 0:
        raise ValueError(f"MERGE: no WHEN clause in {query!r}")
    out["on"] = rest[:when_at].strip()

    out["matched"] = out["not_matched"] = out["not_matched_by_source"] = None
    region = rest[when_at:]
    pos = 0
    for wm in _WHEN_RE.finditer(region):
        # every WHEN clause must parse: any top-level text between (or
        # before) matches means the regex skipped a clause it could not
        # handle — executing with missing semantics would silently keep
        # or drop the wrong rows, so refuse instead.
        gap = region[pos : wm.start()].strip()
        if gap:
            raise ValueError(f"MERGE: unsupported WHEN clause near {gap[:80]!r}")
        pos = wm.end()
        by = (wm.group("by") or "").upper()
        is_not = bool(wm.group("not"))
        if by == "SOURCE" and not is_not:
            raise ValueError("MERGE: WHEN MATCHED BY SOURCE is not valid SQL")
        clause = {
            "guard": (wm.group("guard") or "").strip() or None,
            "action": wm.group("action").strip(),
        }
        if is_not and by == "SOURCE":
            slot, label = "not_matched_by_source", "NOT MATCHED BY SOURCE"
        elif is_not:
            slot, label = "not_matched", "NOT MATCHED"
        else:
            slot, label = "matched", "MATCHED"
        if out[slot] is not None:
            raise ValueError(f"MERGE: at most one WHEN {label} clause is supported")
        out[slot] = clause
    tail = region[pos:].strip().strip(";").strip()
    if tail:
        raise ValueError(f"MERGE: unsupported trailing text near {tail[:80]!r}")
    if out["matched"] is None and out["not_matched"] is None and (
        out["not_matched_by_source"] is None
    ):
        raise ValueError(f"MERGE: could not parse WHEN clauses in {query!r}")
    return out


def _update_select(action: str, tcols, scols, t: str, s: str) -> str:
    body = re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.IGNORECASE)
    if body.strip() == "*":
        return ", ".join(
            f"{s}.{_qid(c)} AS {_qid(c)}" if c in scols else f"{t}.{_qid(c)} AS {_qid(c)}"
            for c in tcols
        )
    assigns = {}
    for part in _split_top_level(body):
        eq = part.find("=")
        if eq < 0:
            raise ValueError(f"bad MERGE SET assignment: {part!r}")
        assigns[_unalias(part[:eq])] = part[eq + 1 :].strip()
    unknown = set(assigns) - set(tcols)
    if unknown:
        raise ValueError(f"MERGE SET: unknown target column(s) {sorted(unknown)}")
    return ", ".join(
        f"({assigns[c]}) AS {_qid(c)}" if c in assigns else f"{t}.{_qid(c)} AS {_qid(c)}"
        for c in tcols
    )


def _insert_select(action: str, tcols, scols, s: str) -> str:
    body = re.sub(r"^INSERT\s*", "", action, flags=re.IGNORECASE)
    if body.strip() == "*":
        return ", ".join(
            f"{s}.{_qid(c)} AS {_qid(c)}" if c in scols else f"NULL AS {_qid(c)}"
            for c in tcols
        )
    im = re.match(r"\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*$",
                  body, re.IGNORECASE | re.DOTALL)
    if not im:
        raise ValueError(f"bad MERGE INSERT clause: {action!r}")
    cols = [_unalias(c) for c in _split_top_level(im.group("cols"))]
    vals = _split_top_level(im.group("vals"))
    if len(cols) != len(vals):
        raise ValueError("MERGE INSERT: column/value count mismatch")
    mapping = dict(zip(cols, vals))
    unknown = set(mapping) - set(tcols)
    if unknown:
        raise ValueError(f"MERGE INSERT: unknown column(s) {sorted(unknown)}")
    return ", ".join(
        f"({mapping[c]}) AS {_qid(c)}" if c in mapping else f"NULL AS {_qid(c)}"
        for c in tcols
    )


def _dispatch_merge(engine, query: str) -> DataFrame:
    p = _parse_merge(query)
    target = p["target"]
    snap = engine.catalog.rewrite(
        target, lambda target_df: _merge_rows(engine, p, target_df), "merge(sql)"
    )
    return _refresh_and_summarize(engine, target, snap)


def _merge_rows(engine, p: dict, target_df: DataFrame) -> DataFrame:
    """The table after the parsed MERGE ``p``, built over ``target_df``
    (the basis snapshot the commit is pinned to)."""
    spark = engine.spark
    t = p["talias"] or p["target"].split(".")[-1]
    # synthetic row id for the cardinality check below; tcols is taken from
    # target_df so __merge_tid never reaches the output
    target_df.withColumn(
        "__merge_tid", F.monotonically_increasing_id()
    ).createOrReplaceTempView(t)

    if p["source_sql"] is not None:
        source_df = spark.sql(p["source_sql"])
        s = p["salias"] or "__merge_src"
    else:
        source_df = spark.table(p["source"])
        s = p["salias"] or p["source"].split(".")[-1]
    if s == t:
        raise ValueError("MERGE: target and source aliases collide")
    source_df.createOrReplaceTempView(s)

    tcols, scols = target_df.columns, set(source_df.columns)
    on = p["on"]
    t_all = ", ".join(f"{t}.{_qid(c)} AS {_qid(c)}" for c in tcols)

    matched = p["matched"]
    if matched is not None:
        # Standard MERGE semantics (Spark/Delta/Iceberg): a target row
        # matched by more than one source row is a cardinality violation —
        # applying the clause per source row would silently duplicate the
        # target row.
        ambiguous = spark.sql(
            f"SELECT max(__n) AS m FROM (SELECT count(*) AS __n "
            f"FROM {t} JOIN {s} ON {on} GROUP BY {t}.__merge_tid)"
        ).first()
        if ambiguous and ambiguous["m"] is not None and ambiguous["m"] > 1:
            raise ValueError(
                "MERGE: cardinality violation — a target row matches "
                f"{ambiguous['m']} source rows; MERGE would apply the WHEN "
                "MATCHED clause multiple times to the same row"
            )

    nmbs = p["not_matched_by_source"]
    if nmbs is None:
        # target rows with no source match always survive
        pieces = [f"SELECT {t_all} FROM {t} LEFT ANTI JOIN {s} ON {on}"]
    else:
        pieces = []
        guard = nmbs["guard"]
        if guard:
            # unmatched rows failing the guard are untouched
            pieces.append(
                f"SELECT {t_all} FROM {t} LEFT ANTI JOIN {s} ON {on} "
                f"WHERE NOT coalesce(({guard}), false)"
            )
        if re.match(r"DELETE\b", nmbs["action"], re.IGNORECASE):
            pass  # guarded-in unmatched rows are dropped
        elif re.match(r"UPDATE\s+SET\s+\*", nmbs["action"], re.IGNORECASE):
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE: UPDATE SET * has no source row"
            )
        elif re.match(r"UPDATE\b", nmbs["action"], re.IGNORECASE):
            # only target columns are in scope: there is no source row
            sel = _update_select(nmbs["action"], tcols, frozenset(), t, t)
            q = f"SELECT {sel} FROM {t} LEFT ANTI JOIN {s} ON {on}"
            if guard:
                q += f" WHERE ({guard})"
            pieces.append(q)
        else:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE supports only UPDATE or DELETE"
            )

    if matched is None:
        # no matched clause: matched target rows stay as-is (semi join —
        # an inner join would emit one copy per matching source row)
        pieces.append(f"SELECT {t_all} FROM {t} LEFT SEMI JOIN {s} ON {on}")
    else:
        guard = matched["guard"]
        if guard:
            # matched rows failing the guard are untouched
            pieces.append(
                f"SELECT {t_all} FROM {t} JOIN {s} ON {on} "
                f"WHERE NOT coalesce(({guard}), false)"
            )
        if re.match(r"DELETE\b", matched["action"], re.IGNORECASE):
            pass  # guarded-in matched rows are dropped
        else:
            sel = _update_select(matched["action"], tcols, scols, t, s)
            q = f"SELECT {sel} FROM {t} JOIN {s} ON {on}"
            if guard:
                q += f" WHERE ({guard})"
            pieces.append(q)

    not_matched = p["not_matched"]
    if not_matched is not None:
        if not re.match(r"INSERT\b", not_matched["action"], re.IGNORECASE):
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        sel = _insert_select(not_matched["action"], tcols, scols, s)
        q = f"SELECT {sel} FROM {s} LEFT ANTI JOIN {t} ON {on}"
        if not_matched["guard"]:
            q += f" WHERE ({not_matched['guard']})"
        pieces.append(q)

    final = None
    for piece in pieces:
        df = spark.sql(piece)
        final = df if final is None else final.unionByName(df)
    return final


# --------------------------------------------------------------------------
# Time travel rewrite: FOR TIMESTAMP AS OF / FOR VERSION AS OF
# --------------------------------------------------------------------------

_TIME_TRAVEL_RE = re.compile(
    r"(?P<tbl>[\w.`]+)\s+FOR\s+(?:SYSTEM_)?(?P<kind>TIMESTAMP|TIME|VERSION)\s+"
    r"AS\s+OF\s+(?P<val>'[^']*'|\d+)",
    re.IGNORECASE,
)


def _parse_ts_ms(raw: str) -> int:
    if raw.isdigit():
        return int(raw)
    dt = datetime.fromisoformat(raw.strip("'"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def rewrite_time_travel(engine, query: str) -> str:
    """Replace ``tbl FOR {TIMESTAMP|VERSION} AS OF x`` references with
    temp views over :meth:`SnapshotCatalog.read` time travel. The view
    keeps the table's name as its alias unless the query supplies one,
    so qualified column references keep resolving."""
    out, last, n = [], 0, 0
    for m in _TIME_TRAVEL_RE.finditer(query):
        tbl = m.group("tbl").strip("`")
        kind = m.group("kind").upper()
        raw = m.group("val")
        if kind == "VERSION":
            if raw.startswith("'"):
                # named ref (Iceberg's VERSION AS OF 'ref'): a tag pins
                # an immutable version; a branch reads the branch head
                ref = raw.strip("'")
                tags = engine.catalog.tags(tbl)
                if ref in tags:
                    df = engine.catalog.read(tbl, version=tags[ref])
                elif ref in engine.catalog.branches(tbl):
                    df = engine.catalog.read(engine.catalog.branch_table(tbl, ref))
                else:
                    raise ValueError(f"{tbl}: unknown tag/branch ref {ref!r}")
            else:
                df = engine.catalog.read(tbl, version=int(raw))
        else:
            df = engine.catalog.read(tbl, as_of_timestamp_ms=_parse_ts_ms(raw))
        simple = tbl.split(".")[-1]
        view = f"__tt_{simple}_{n}"
        n += 1
        df.createOrReplaceTempView(view)
        # alias handling: keep an explicit alias if the query has one,
        # else alias the view back to the table name
        trailing = query[m.end() :].lstrip()
        am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)", trailing, re.IGNORECASE)
        has_alias = am is not None and am.group(1).lower() not in _CLAUSE_KEYWORDS
        repl = view if has_alias else f"{view} AS {simple}"
        out.append(query[last : m.start()])
        out.append(repl)
        last = m.end()
    out.append(query[last:])
    return "".join(out)


def dispatch(engine, query: str) -> DataFrame:
    """Route one DML statement onto the catalog API; returns a one-row
    summary DataFrame (operation, table, version)."""
    q = _strip(query)
    m = _DML_RE.match(q)
    head = (m.group(1) or q.split(None, 1)[0]).upper()
    if engine.catalog is None:
        raise ValueError(f"{head} requires a catalog attached to the Engine")
    if head == "EXPORT":
        # EXPORT TABLE t [VERSION AS OF n] TO ICEBERG 'dir' — emit the
        # Iceberg v2 metadata layout (r14); returns the metadata.json
        # path. The DuckDB form stays the DDL-returning default.
        im = re.match(
            r"EXPORT\s+TABLE\s+([\w.`]+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
            r"\s+TO\s+ICEBERG\s+'([^']+)'\s*$",
            q,
            re.IGNORECASE,
        )
        if im:
            name = im.group(1).strip("`")
            version = int(im.group(2)) if im.group(2) else None
            md_path = engine.export_iceberg(name, im.group(3), version)
            snap = engine.catalog._resolve(name, version, None)
            return engine.spark.createDataFrame(
                [(name, snap.version, md_path)],
                "table string, version int, metadata_json string",
            )
        em = re.match(
            r"EXPORT\s+TABLE\s+([\w.`]+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?"
            r"(?:\s+TO\s+DUCKDB)?\s*$",
            q,
            re.IGNORECASE,
        )
        if not em:
            raise ValueError(f"unsupported EXPORT TABLE syntax: {q!r}")
        name = em.group(1).strip("`")
        version = int(em.group(2)) if em.group(2) else None
        ddl = engine.export_duckdb(name, version)
        snap = (
            engine.catalog._resolve(name, version, None)
        )
        return engine.spark.createDataFrame(
            [(name, snap.version, ddl)],
            "table string, version int, duckdb_ddl string",
        )
    if head == "SHOW":
        sm = re.match(
            r"SHOW\s+TBLPROPERTIES\s+([\w.`]+)"
            r"(?:\s*\(\s*'([^']*)'\s*\))?\s*$",
            q,
            re.IGNORECASE,
        )
        if not sm:
            raise ValueError(f"unsupported SHOW TBLPROPERTIES syntax: {q!r}")
        name, key_filter = sm.group(1).strip("`"), sm.group(2)
        props = engine.catalog.table_properties(name)
        flat = []
        for k, v in sorted(props.items()):
            if k == "bloom_filters":
                for col, ndv in sorted(v.items()):
                    flat.append(
                        (f"write.parquet.bloom-filter-enabled.column.{col}", "true")
                    )
                    if ndv:
                        flat.append((
                            f"write.parquet.bloom-filter-expected-ndv.column.{col}",
                            str(ndv),
                        ))
            else:
                flat.append((k, str(v)))
        if key_filter is not None:
            flat = [kv for kv in flat if kv[0] == key_filter]
        return engine.spark.createDataFrame(flat or [], "key string, value string")
    if head == "ANALYZE":
        am = re.match(
            r"ANALYZE\s+TABLE\s+([\w.`]+)\s+COMPUTE\s+STATISTICS"
            r"(?:\s+FOR\s+COLUMNS\s+(.+))?\s*$",
            q,
            re.IGNORECASE,
        )
        if not am:
            raise ValueError(f"unsupported ANALYZE syntax: {q!r}")
        name = am.group(1).strip("`")
        cols = (
            [c.strip().strip("`") for c in am.group(2).split(",")]
            if am.group(2)
            else None
        )
        st = engine.catalog.analyze(name, cols)
        rows = [
            (c, v["min"], v["max"], v["null_count"], v["approx_ndv"])
            for c, v in sorted(st["columns"].items())
        ]
        return engine.spark.createDataFrame(
            rows,
            "column string, min string, max string, "
            "null_count long, approx_ndv long",
        )
    if head == "DESCRIBE":
        dm = re.match(r"DESCRIBE\s+HISTORY\s+([\w.`]+)\s*$", q, re.IGNORECASE)
        if not dm:
            raise ValueError(f"unsupported DESCRIBE HISTORY syntax: {q!r}")
        name = dm.group(1).strip("`")
        rows = [
            (s.version, s.operation, s.timestamp_ms, s.row_count)
            for s in engine.catalog.history(name)
        ]
        return engine.spark.createDataFrame(
            rows,
            "version int, operation string, timestamp_ms long, row_count long",
        )
    if head == "DELETE":
        return _dispatch_delete(engine, q)
    if head == "UPDATE":
        return _dispatch_update(engine, q)
    if head == "ALTER":
        return _dispatch_alter(engine, q)
    if head == "INSERT":
        return _dispatch_insert(engine, q)
    if head == "CREATE":
        # only CTAS forms target the catalog; CREATE [TEMP] VIEW and
        # other CREATEs stay plain Spark SQL
        if _CTAS_RE.match(q):
            return _dispatch_create(engine, q)
        return engine.spark.sql(q)
    if head == "CALL":
        return _dispatch_call(engine, q)
    if head == "OPTIMIZE":
        return _dispatch_optimize(engine, q)
    if head == "TRUNCATE":
        return _dispatch_truncate(engine, q)
    if head == "DROP":
        # only catalog tables; DROP VIEW etc. stays Spark SQL
        if _DROP_RE.match(q):
            return _dispatch_drop(engine, q)
        return engine.spark.sql(q)
    return _dispatch_merge(engine, q)


def _refresh_and_summarize(engine, name: str, snap) -> DataFrame:
    engine.register(name.split(".")[-1], engine.catalog.read(name))
    return engine.spark.createDataFrame(
        [(snap.operation, name, snap.version)],
        "operation string, table string, version int",
    )


# ---------------------------------------------------------------------------
# CALL system.<procedure>(...) — the Iceberg Spark-procedures surface
# (the reference's users run these through Kyuubi for table
# maintenance) — and Delta-style OPTIMIZE ... ZORDER BY.
# ---------------------------------------------------------------------------

_CALL_RE = re.compile(
    r"^CALL\s+(?:system\.)?(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE_RE = re.compile(
    r"^OPTIMIZE\s+([\w.]+)"
    r"(?:\s+ZORDER\s+BY\s*\(?\s*([\w\s,]+?)\s*\)?)?\s*;?\s*$",
    re.IGNORECASE,
)


def _call_args(raw: str) -> tuple[list, dict]:
    """Parse a procedure argument list: positional literals plus
    Iceberg-style ``name => value`` named arguments (any order).
    Returns (positional, named)."""

    def literal(p: str):
        if (p.startswith("'") and p.endswith("'")) or (
            p.startswith('"') and p.endswith('"')
        ):
            return p[1:-1]
        if p.upper() in ("TRUE", "FALSE"):
            return p.upper() == "TRUE"
        return int(p) if re.fullmatch(r"-?\d+", p) else float(p)

    pos, named = [], {}
    for part in _split_top_level(raw, ","):
        p = part.strip()
        if not p:
            continue
        if "=>" in p:
            name, _, val = p.partition("=>")
            named[name.strip().lower()] = literal(val.strip())
        else:
            pos.append(literal(p))
    return pos, named


def _arg(pos: list, named: dict, index: int, *names, default=None):
    """Resolve one procedure parameter: named form wins, else
    positional, else default."""
    for n in names:
        if n in named:
            return named[n]
    if index < len(pos):
        return pos[index]
    return default


def _dispatch_call(engine, q: str) -> DataFrame:
    m = _CALL_RE.match(q)
    if not m:
        raise ValueError(f"cannot parse CALL statement: {q!r}")
    proc = m.group(1).lower()
    pos, named = _call_args(m.group(2))
    name = _arg(pos, named, 0, "table")
    if name is None:
        raise ValueError(f"CALL {proc}: missing table argument")
    if proc == "expire_snapshots":
        keep = int(_arg(pos, named, 1, "retain_last", "keep_last", default=1))
        # only the explicit _ms spelling is accepted: Iceberg's
        # `older_than` is an ABSOLUTE timestamp, ours is an age window —
        # silently reinterpreting an epoch-ms value as a ~54-year window
        # would expire nothing. Reject the ambiguous name loudly.
        if "older_than" in named:
            raise ValueError(
                "CALL expire_snapshots: use older_than_ms=<age window in"
                " ms> (Iceberg's older_than is an absolute timestamp;"
                " this engine takes an age window, so the ambiguous"
                " 'older_than' name is rejected)"
            )
        older = _arg(pos, named, 2, "older_than_ms")
        removed = engine.catalog.expire_snapshots(
            name,
            keep_last=keep,
            older_than_ms=int(older) if older is not None else None,
        )
        return engine.spark.createDataFrame(
            [(proc, name, removed)], "procedure string, table string, removed int"
        )
    if proc in ("rewrite_data_files", "compact"):
        target = _arg(pos, named, 1, "target_files")
        snap = engine.catalog.compact(
            name, target_files=int(target) if target is not None else None
        )
        return _refresh_and_summarize(engine, name, snap)
    if proc in ("rollback", "rollback_to_version"):
        version = _arg(pos, named, 1, "version", "snapshot_id")
        if version is None:
            raise ValueError(f"CALL {proc}: missing version argument")
        snap = engine.catalog.rollback(name, int(version))
        return _refresh_and_summarize(engine, name, snap)
    if proc == "create_branch":
        branch = _arg(pos, named, 1, "branch")
        version = _arg(pos, named, 2, "version")
        bt = engine.catalog.create_branch(
            name, branch, int(version) if version is not None else None
        )
        return engine.spark.createDataFrame(
            [(proc, name, bt)], "procedure string, table string, branch_table string"
        )
    if proc == "fast_forward":
        branch = _arg(pos, named, 1, "branch")
        snap = engine.catalog.fast_forward(name, branch)
        return _refresh_and_summarize(engine, name, snap)
    if proc == "drop_branch":
        branch = _arg(pos, named, 1, "branch")
        engine.catalog.drop_branch(name, branch)
        return engine.spark.createDataFrame(
            [(proc, name, branch)], "procedure string, table string, branch string"
        )
    if proc == "table_changes":
        # Delta's table_changes('t', from, to) analog; optional
        # key_cols => 'id,ts' switches on update pre/postimage pairing
        frm = _arg(pos, named, 1, "from_version", "start_version")
        if frm is None:
            raise ValueError("CALL table_changes: missing from_version")
        to = _arg(pos, named, 2, "to_version", "end_version")
        keys = _arg(pos, named, 3, "key_cols")
        return engine.catalog.read_change_feed(
            name,
            int(frm),
            int(to) if to is not None else None,
            key_cols=[k.strip() for k in keys.split(",")] if keys else None,
        )
    if proc == "remove_orphan_files":
        older = int(
            _arg(pos, named, 1, "older_than_ms", default=24 * 3600 * 1000)
        )
        removed = engine.catalog.cleanup_staged(
            name, older_than_ms=older
        ) + engine.catalog.remove_orphan_snapshots(name, older_than_ms=older)
        return engine.spark.createDataFrame(
            [(proc, name, removed)], "procedure string, table string, removed int"
        )
    raise ValueError(
        f"unknown procedure {proc!r}; supported: expire_snapshots, "
        "rewrite_data_files/compact, rollback[_to_version], "
        "remove_orphan_files, table_changes, create_branch, "
        "fast_forward, drop_branch"
    )


def _dispatch_optimize(engine, q: str) -> DataFrame:
    m = _OPTIMIZE_RE.match(q)
    if not m:
        raise ValueError(f"cannot parse OPTIMIZE statement: {q!r}")
    name = m.group(1)
    if m.group(2):
        cols = [c.strip() for c in m.group(2).split(",") if c.strip()]
        snap = engine.catalog.compact(name, zorder_by=cols)
    else:
        snap = engine.catalog.compact(name)
    return _refresh_and_summarize(engine, name, snap)


# ---------------------------------------------------------------------------
# QUALIFY (Snowflake/BigQuery/DuckDB ergonomics Spark lacks): filter on
# window-function results without a subquery. Rewrite
#   SELECT <list> FROM ... QUALIFY <pred>
# to
#   SELECT <list>, (<pred>) AS __qualify__ FROM ...
# and let the caller filter+drop the marker column — window functions
# are legal in the select list, so the predicate evaluates after the
# window stage exactly as QUALIFY specifies.
# ---------------------------------------------------------------------------

def rewrite_qualify(query: str) -> str | None:
    """Return the rewritten SQL if a top-level QUALIFY is present,
    else None. Set-operation queries (UNION/INTERSECT/EXCEPT at top
    level) are rejected with a clear error."""
    q = _strip(query)
    at = _find_keyword(q, "QUALIFY")
    if at < 0:
        return None
    for kw in ("UNION", "INTERSECT", "EXCEPT"):
        if _find_keyword(q, kw) >= 0:
            raise ValueError(
                "QUALIFY on a set-operation query is unsupported; wrap the "
                "branch in a subquery"
            )
    pred_and_rest = q[at + len("QUALIFY"):].strip()
    # QUALIFY may be followed by ORDER BY / LIMIT — keep them after the
    # predicate ends
    tail_at = min(
        (p for p in (
            _find_keyword(pred_and_rest, "ORDER"),
            _find_keyword(pred_and_rest, "LIMIT"),
        ) if p >= 0),
        default=-1,
    )
    pred = pred_and_rest[:tail_at] if tail_at >= 0 else pred_and_rest
    tail = pred_and_rest[tail_at:] if tail_at >= 0 else ""
    head = q[:at].rstrip()
    from_at = _find_keyword(head, "FROM")
    if from_at < 0:
        raise ValueError("QUALIFY requires a FROM clause")
    inner = (
        head[:from_at].rstrip()
        + f", ({pred.strip()}) AS __qualify__ "
        + head[from_at:]
    )
    # ORDER BY / LIMIT after QUALIFY apply to the FILTERED rows, so
    # they live on the outer select, after the marker predicate
    return f"SELECT * FROM ({inner}) WHERE __qualify__ {tail}".rstrip()
