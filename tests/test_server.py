"""HTTP endpoint round-trip — the reference's working query path
(POST / with SQL body, /root/reference/src/server/mod.rs:101-113) and
the GET read-only path (:114-122), including the error JSON taxonomy."""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest

from emdrive_spark.server import _LIMIT_PARTITIONS, serve


@pytest.fixture(scope="module")
def endpoint(spark):
    httpd = serve(spark, host="127.0.0.1", port=18824)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        yield "http://127.0.0.1:18824"
    finally:
        httpd.shutdown()
        httpd.server_close()


def _post(url: str, sql: str):
    req = urllib.request.Request(url, data=sql.encode(), method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read()), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), dict(e.headers)


def test_post_roundtrip(endpoint):
    status, body, headers = _post(
        endpoint,
        "CREATE TABLE ht (id UINT32 PRIMARY KEY, name STRING);"
        "INSERT INTO ht (id, name) VALUES (1, 'one'), (2, 'two');"
        "SELECT name FROM ht WHERE id = 2",
    )
    assert status == 200
    assert body["column_names"] == ["name"]
    assert body["rows"] == [{"name": "two"}]
    assert len(headers["X-Request-Id"]) == 26  # per-request ULID
    assert int(headers["X-Elapsed-Us"]) > 0  # µs timing (server/mod.rs:132-136)


def test_syntax_error_400(endpoint):
    status, body, _ = _post(endpoint, "SELEKT 1")
    assert status == 400
    assert body["type"] == "syntax"
    assert "Expected" in body["message"]


def test_validation_error_400(endpoint):
    status, body, _ = _post(endpoint, "SELECT x FROM no_such_table")
    assert status == 400
    assert body["type"] == "validation"
    assert "does not exist" in body["message"]


def test_get_is_read_only(endpoint):
    q = urllib.parse.quote("CREATE TABLE evil (id UINT32 PRIMARY KEY)")
    try:
        with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
            status, body = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status in (400, 500)
    assert "read-only" in body["message"]


@pytest.mark.parametrize(
    "sql, error",
    [
        ("SELECT id FROM dx WHERE name < 5", "CAST_INVALID_INPUT"),
        ("SELECT id, 1/0 AS x FROM dx GROUP BY id", "DIVIDE_BY_ZERO"),
    ],
    ids=["bad_cast", "divide_by_zero"],
)
def test_data_error_at_collect_is_400(endpoint, sql, error):
    """A statement that plans but whose job raises a data exception
    (SQLSTATE class 22) is the client's error: a typed 400, not a 500."""
    _post(endpoint, "CREATE TABLE IF NOT EXISTS dx (id UINT32 PRIMARY KEY, name STRING)")
    _post(endpoint, "INSERT INTO dx (id, name) VALUES (1, 'abc')")
    try:
        with urllib.request.urlopen(f"{endpoint}/?query={urllib.parse.quote(sql)}") as resp:
            status, body = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert (status, body["type"]) == (400, "validation"), body
    assert error in body["message"]


def test_get_select(endpoint):
    q = urllib.parse.quote("SELECT name FROM ht WHERE id = 1")
    with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
        body = json.loads(resp.read())
    assert body["rows"] == [{"name": "one"}]


def test_get_allows_with_query_form(endpoint):
    # WITH is a read-only query form (engine.QUERY_HEADS) — must work on GET
    q = urllib.parse.quote("WITH t AS (SELECT 2 AS x) SELECT x FROM t")
    with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
        body = json.loads(resp.read())
    assert body["rows"] == [{"x": 2}]


def test_get_rejects_multi_statement_mutation(endpoint):
    # per-statement enforcement: a SELECT prefix must not smuggle DML
    q = urllib.parse.quote("SELECT name FROM ht; INSERT INTO ht (id, name) VALUES (99, 'evil')")
    try:
        with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
            status = resp.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400
    # and the table is unchanged
    q2 = urllib.parse.quote("SELECT name FROM ht WHERE id = 99")
    with urllib.request.urlopen(f"{endpoint}/?query={q2}") as resp:
        assert json.loads(resp.read())["rows"] == []


def test_request_log_stream(endpoint, caplog):
    # reference logs a ULID at receipt and at completion with µs elapsed
    # (server/mod.rs:97-99,132-136); the same id rides X-Request-Id
    import logging

    with caplog.at_level(logging.DEBUG, logger="emdrive_spark.server"):
        _, _, headers = _post(endpoint, "SELECT name FROM ht WHERE id = 1")
    rid = headers["X-Request-Id"]
    msgs = [r.getMessage() for r in caplog.records if r.name == "emdrive_spark.server"]
    assert any(m == f"received request ID {rid}" for m in msgs)
    assert any(m.startswith(f"finished request ID {rid} in ") and m.endswith(" µs") for m in msgs)


def test_result_cap_413_and_at_cap_ok(spark, monkeypatch):
    """A no-LIMIT SELECT past EMDRIVE_MAX_RESULT_ROWS must NOT
    unbounded-collect on the driver (r9 verdict item 4): the cap rides
    inside the plan (limit cap+1) and the overflow returns the same
    typed-413 shape as the request-body ceiling. A result exactly AT
    the cap still returns 200 with every row — the limit is a guard,
    not a silent truncation."""
    monkeypatch.setenv("EMDRIVE_MAX_RESULT_ROWS", "5")
    httpd = serve(spark, host="127.0.0.1", port=18825)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    url = "http://127.0.0.1:18825"
    try:
        values = ", ".join(f"({i})" for i in range(1, 11))
        status, body, _ = _post(
            url,
            "CREATE TABLE capt (id UINT32 PRIMARY KEY);"
            f"INSERT INTO capt (id) VALUES {values};"
            "SELECT id FROM capt",
        )
        assert status == 413
        assert body["type"] == "validation"
        assert "LIMIT" in body["message"]
        assert "EMDRIVE_MAX_RESULT_ROWS" in body["message"]
        status, body, _ = _post(url, "SELECT id FROM capt LIMIT 5")
        assert status == 200
        assert len(body["rows"]) == 5
    finally:
        httpd.shutdown()
        httpd.server_close()



def _put_limit_partitions(spark, value) -> None:
    if value is None:
        spark.conf.unset(_LIMIT_PARTITIONS)
    else:
        spark.conf.set(_LIMIT_PARTITIONS, value)


@pytest.mark.parametrize("caller_set", [True, False], ids=["set", "unset"])
def test_server_close_puts_back_the_callers_conf(spark, caller_set):
    """serve() starts the capped collect at the session's parallelism
    while it serves; server_close() puts back the caller's value of that
    conf, or unsets it if the caller had not set it."""
    parallelism = spark.sparkContext.defaultParallelism
    prior = str(parallelism + 1) if caller_set else None
    before = spark.conf.get(_LIMIT_PARTITIONS, None)
    try:
        _put_limit_partitions(spark, prior)
        httpd = serve(spark, host="127.0.0.1", port=0)
        try:
            assert spark.conf.get(_LIMIT_PARTITIONS, None) == str(parallelism)
        finally:
            httpd.server_close()
        assert spark.conf.get(_LIMIT_PARTITIONS, None) == prior
    finally:
        _put_limit_partitions(spark, before)
