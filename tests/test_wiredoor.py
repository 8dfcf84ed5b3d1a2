"""The shared wire core (``wiredoor.py``): every door caps its rows at
``limit``, a negative limit is refused with the client's own value, and
a statement's job group is put back after its fetch, so the next
statement on the same connection thread is not filed under it."""

from __future__ import annotations

import urllib.error

import pytest

from konohadataplatform_spark.catalog import SnapshotCatalog
from konohadataplatform_spark.engine import Engine
from konohadataplatform_spark.hs2 import T_STRING, T_STRUCT, Hs2Client, Hs2Server, _guid_of
from konohadataplatform_spark.pgwire import PgWireServer, pg_extended_query, pg_query
from konohadataplatform_spark.restserver import RestSqlServer, rest_request
from konohadataplatform_spark.sqlserver import SqlServer, execute_sql_json, sql_request
from konohadataplatform_spark.wiredoor import fetch_capped

CAP = 4
RANGE_SQL = "SELECT id FROM range(100)"


def _hs2_rows(port):
    c = Hs2Client(port)
    c.open_session()
    try:
        return c.execute(RANGE_SQL)[1]
    finally:
        c.close()


def _pg_rows(port):
    _cols, rows, err = pg_query(port, RANGE_SQL)
    assert err is None, err
    return rows


def _pg_extended_rows(port):
    _cols, rows, err = pg_extended_query(port, RANGE_SQL)
    assert err is None, err
    return rows


def _checked(doc):
    assert doc["ok"] and doc["truncated"] is True, doc
    return doc["rows"]


# door -> (server with the cap, client returning the rows); the doors
# without a constructor limit take it per request
DOORS = {
    "hs2": (lambda e: Hs2Server(e, limit=CAP), _hs2_rows),
    "pg": (lambda e: PgWireServer(e, limit=CAP), _pg_rows),
    "pg-extended": (lambda e: PgWireServer(e, limit=CAP), _pg_extended_rows),
    "rest": (RestSqlServer, lambda p: _checked(rest_request(p, RANGE_SQL, limit=CAP))),
    "tcp": (SqlServer, lambda p: _checked(sql_request(p, RANGE_SQL, limit=CAP))),
}


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, SnapshotCatalog(spark, str(tmp_path / "wh")))


@pytest.fixture(params=sorted(DOORS))
def door(request, engine):
    make, fetch = DOORS[request.param]
    srv = make(engine).start()
    yield srv, fetch
    srv.stop()


def test_every_door_caps_rows_at_limit(door):
    srv, fetch = door
    rows = fetch(srv.port)
    assert len(rows) == CAP
    assert len({int(r[0]) for r in rows}) == CAP


def test_hs2_statement_job_group_not_reused_by_next_statement(engine, group_jobs):
    """A sync statement fetches on the connection's handler thread; the
    next statement's jobs there (a CTAS runs them at compile time) must
    not land in the finished operation's job group."""
    srv = Hs2Server(engine).start()
    c = Hs2Client(srv.port)
    try:
        c.open_session()
        resp = c.call("ExecuteStatement", {1: (T_STRUCT, {
            1: c.session, 2: (T_STRING, "SELECT id FROM range(10)"),
        })})
        group = _guid_of(resp[2]).hex()
        first = group_jobs(group)
        assert first, "the statement's fetch ran under its operation's group"
        c.execute("CREATE TABLE wd_leak AS SELECT id FROM range(3)")
        c.execute("SELECT count(*) FROM wd_leak")
        assert group_jobs(group) == first
    finally:
        c.close()
        srv.stop()


def test_fetch_capped_restores_the_enclosing_job_group(engine, spark, group_jobs):
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    sc.setJobGroup("wd-outer", "outer work", interruptOnCancel=False)
    try:
        rows, truncated = fetch_capped(engine, spark.range(10), 3, "wd-inner")
        after = [sc.getLocalProperty(k) for k in props]
    finally:
        for k in props:
            sc.setLocalProperty(k, None)
    assert [r.id for r in rows] == [0, 1, 2] and truncated
    assert after == ["wd-outer", "outer work", "false"]
    assert group_jobs("wd-inner")


@pytest.mark.parametrize("limit", [-1, -5])
def test_negative_limit_refused_with_the_clients_value(engine, limit):
    out = execute_sql_json(engine, "CREATE TABLE wd_neg AS SELECT 1 AS v", limit)
    assert not out["ok"] and out["error_class"] == "ValueError"
    assert f"got {limit}" in out["error"]
    assert "wd_neg" not in engine.catalog.tables()  # refused before running

    srv = SqlServer(engine).start()
    try:
        doc = sql_request(srv.port, RANGE_SQL, limit=limit)
        assert not doc["ok"] and f"got {limit}" in doc["error"], doc
        assert f"got {limit + 1}" not in doc["error"]
    finally:
        srv.stop()

    srv = RestSqlServer(engine).start()
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            rest_request(srv.port, RANGE_SQL, limit=limit)
        assert err.value.code == 400
        assert f"got {limit}" in err.value.read().decode()
    finally:
        srv.stop()

    for server in (Hs2Server, PgWireServer):
        with pytest.raises(ValueError, match=f"got {limit}"):
            server(engine, limit=limit)


def test_zero_limit_returns_no_rows_and_flags_truncation(engine):
    out = execute_sql_json(engine, RANGE_SQL, 0)
    assert out["ok"] and out["rows"] == [] and out["truncated"] is True
