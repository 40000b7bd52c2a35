"""Round-2 hardening pins — each test targets a judged/advised defect:

- per-statement read-only enforcement on GET (a 'SELECT 1; INSERT …'
  script must not mutate through a read-only entry point)
- quote-aware script splitting (';' inside a string literal is content)
- full-range UINT64/UINT128: INSERT/SELECT round-trip above 2⁶³ and
  wide hamming that a plain cast("long") would overflow
- unary-minus literals
- env-var launch config (reference /root/reference/src/config.rs:40-48)
- dedup_embedding candidate gating: bit-identical to the brute-force
  twin with no cartesian product in the plan
"""

from __future__ import annotations

import pytest

from emdrive_spark.sql.errors import EmdriveValidationError
from emdrive_spark.sql.tokenizer import split_statements

from .conftest import SF_SMOKE


# -- read-only scripts ----------------------------------------------------


def test_read_only_script_rejects_smuggled_mutation(engine):
    engine.execute_script(
        "CREATE TABLE ro_guard (id UINT32 PRIMARY KEY);"
        "INSERT INTO ro_guard (id) VALUES (1)"
    )
    with pytest.raises(EmdriveValidationError, match="read-only"):
        engine.execute_script(
            "SELECT id FROM ro_guard; INSERT INTO ro_guard (id) VALUES (2)",
            read_only=True,
        )
    # nothing ran: the mutation was rejected before the first statement
    assert engine.execute("SELECT id FROM ro_guard").count() == 1


def test_read_only_allows_ansi_query_forms(engine):
    # WITH/VALUES are read-only query forms the GET path must accept
    assert engine.execute_script(
        "WITH t AS (SELECT 1 AS x) SELECT x FROM t", read_only=True
    ).collect()[0]["x"] == 1
    assert engine.execute_script("VALUES (1), (2)", read_only=True).count() == 2


# -- quote-aware statement splitting --------------------------------------


def test_split_statements_respects_string_literals():
    parts = split_statements("INSERT INTO t (s) VALUES ('a;b'); SELECT 1")
    assert len(parts) == 2
    assert "'a;b'" in parts[0]


def test_semicolon_inside_string_roundtrip(engine):
    engine.execute_script(
        "CREATE TABLE semi (id UINT32 PRIMARY KEY, s STRING);"
        "INSERT INTO semi (id, s) VALUES (1, 'a;b');"
    )
    rows = engine.execute("SELECT s FROM semi WHERE id = 1").collect()
    assert rows[0]["s"] == "a;b"


# -- full-range unsigned types --------------------------------------------


BIG64 = (1 << 63) + 12345  # beyond signed long
BIG128 = (1 << 100) + 67890


def test_uint64_roundtrip_above_signed_range(engine):
    engine.execute_script(
        "CREATE TABLE wide64 (id UINT32 PRIMARY KEY, h UINT64);"
        f"INSERT INTO wide64 (id, h) VALUES (1, {BIG64});"
    )
    rows = engine.execute("SELECT h FROM wide64 WHERE id = 1").collect()
    assert int(rows[0]["h"]) == BIG64


def test_uint128_roundtrip(engine):
    engine.execute_script(
        "CREATE TABLE wide128 (id UINT32 PRIMARY KEY, h UINT128);"
        f"INSERT INTO wide128 (id, h) VALUES (1, {BIG128});"
    )
    rows = engine.execute("SELECT h FROM wide128 WHERE id = 1").collect()
    assert int(rows[0]["h"]) == BIG128


def test_hamming_at_full_uint64_range(engine):
    a = (1 << 63) | 0b1011
    q = (1 << 63) | 0b0001  # same top bit → hamming = popcount(0b1010) = 2
    engine.execute_script(
        "CREATE TABLE hashes64 ("
        " h UINT64 METRIC KEY USING mtree(hamming),"
        " id UINT32 PRIMARY KEY);"
        f"INSERT INTO hashes64 (h, id) VALUES ({a}, 1);"
    )
    rows = engine.execute(f"SELECT h @ {q} AS d FROM hashes64").collect()
    assert rows[0]["d"] == 2
    # differing top bit counts too
    rows = engine.execute(f"SELECT h @ {0b0001} AS d FROM hashes64").collect()
    assert rows[0]["d"] == 3  # top bit + 0b1010


def test_hamming_at_uint128_range(engine):
    a = (1 << 100) | 0b11
    q = (1 << 100) | 0b01
    engine.execute_script(
        "CREATE TABLE hashes128 ("
        " h UINT128 METRIC KEY USING mtree(hamming),"
        " id UINT32 PRIMARY KEY);"
        f"INSERT INTO hashes128 (h, id) VALUES ({a}, 1);"
    )
    rows = engine.execute(f"SELECT h @ {q} AS d FROM hashes128").collect()
    assert rows[0]["d"] == 1
    rows = engine.execute("SELECT h @ 1 AS d FROM hashes128").collect()
    assert rows[0]["d"] == 2  # XOR clears bit 0 → bits 100 and 1 remain


# -- unary minus ----------------------------------------------------------


def test_negative_value_on_unsigned_column_rejected(engine):
    engine.execute("CREATE TABLE unsigned_t (id UINT32 PRIMARY KEY)")
    with pytest.raises(EmdriveValidationError, match="unsigned"):
        engine.execute("INSERT INTO unsigned_t (id) VALUES (-1)")


def test_negative_default_float(engine):
    engine.execute_script(
        "CREATE TABLE neg_def (id UINT32 PRIMARY KEY, x FLOAT64 DEFAULT -1.5);"
        "INSERT INTO neg_def (id) VALUES (1);"
    )
    assert engine.execute("SELECT x FROM neg_def").collect()[0]["x"] == -1.5


# -- env-var launch config ------------------------------------------------


def test_config_from_env(monkeypatch):
    from emdrive_spark.config import Config

    monkeypatch.delenv("EMDRIVE_TCP_LISTEN_HOST", raising=False)
    monkeypatch.delenv("EMDRIVE_TCP_LISTEN_PORT", raising=False)
    monkeypatch.delenv("EMDRIVE_DATA_DIRECTORY", raising=False)
    cfg = Config.from_env()
    assert cfg.tcp_listen_host == "127.0.0.1"
    assert cfg.tcp_listen_port == 8824  # reference default, config.rs:19
    assert cfg.data_directory == "/var/lib/emdrive/data"

    monkeypatch.setenv("EMDRIVE_TCP_LISTEN_HOST", "0.0.0.0")
    monkeypatch.setenv("EMDRIVE_TCP_LISTEN_PORT", "19999")
    monkeypatch.setenv("EMDRIVE_DATA_DIRECTORY", "/tmp/emdata")
    cfg = Config.from_env()
    assert (cfg.tcp_listen_host, cfg.tcp_listen_port, cfg.data_directory) == (
        "0.0.0.0",
        19999,
        "/tmp/emdata",
    )
    # non-numeric port falls back to default (config.rs:66-74)
    monkeypatch.setenv("EMDRIVE_TCP_LISTEN_PORT", "not-a-port")
    assert Config.from_env().tcp_listen_port == 8824


def test_server_boots_from_env_alone(spark, monkeypatch, tmp_path):
    import json
    import threading
    import urllib.request

    from emdrive_spark.server import serve

    monkeypatch.setenv("EMDRIVE_TCP_LISTEN_HOST", "127.0.0.1")
    monkeypatch.setenv("EMDRIVE_TCP_LISTEN_PORT", "18825")
    monkeypatch.setenv("EMDRIVE_DATA_DIRECTORY", str(tmp_path / "data"))
    httpd = serve(spark)  # host/port/data dir all from env
    assert httpd.server_address[1] == 18825
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(
            "http://127.0.0.1:18825", data=b"SELECT 1 AS one", method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            body = json.loads(resp.read())
        assert body["rows"] == [{"one": 1}]
    finally:
        httpd.shutdown()
        httpd.server_close()


# -- dedup_embedding gating -----------------------------------------------


@pytest.mark.slow
def test_dedup_embedding_gated_matches_bruteforce(spark):
    from emdrive_spark.operators.dedup import (
        _SHIFT,
        dedup_embedding,
        dedup_embedding_bruteforce,
    )
    from emdrive_spark.sources.tables import load

    gated = dedup_embedding(spark, SF_SMOKE)
    brute = dedup_embedding_bruteforce(spark, SF_SMOKE)
    g = set(map(tuple, gated.collect()))
    b = set(map(tuple, brute.collect()))
    # exact rerank ⇒ perfect precision (every emitted pair is a true pair)
    assert g <= b
    # identical quantized vectors produce identical sign bits ⇒ every
    # planted duplicate pair (i, i+SHIFT) MUST be found
    ids = [r[0] for r in load(spark, SF_SMOKE, "embeddings").select("vec_id").collect()]
    planted = {(i, i + _SHIFT) for i in ids}
    found_pairs = {(a, c) for a, c, _ in g}
    missing = planted - found_pairs
    assert not missing, f"LSH missed {len(missing)} exact-duplicate pairs"


def test_dedup_embedding_plan_has_no_cartesian(spark):
    from emdrive_spark.operators.dedup import dedup_embedding

    plan = (
        dedup_embedding(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_lsh_verified_plan_has_no_cartesian(spark):
    from emdrive_spark.operators.dedup import dedup_lsh_verified

    plan = (
        dedup_lsh_verified(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -- BINARY hash columns (the >DECIMAL(38,0) edge) -------------------------


def test_binary_hash_roundtrip(engine):
    v = (1 << 127) | 0xDEADBEEF
    engine.execute_script(
        "CREATE TABLE bin_rt (id UINT32 PRIMARY KEY, h BINARY);"
        f"INSERT INTO bin_rt (id, h) VALUES (1, {v});"
    )
    rows = engine.execute("SELECT h FROM bin_rt WHERE id = 1").collect()
    assert int.from_bytes(bytes(rows[0]["h"]), "big") == v


# -- `@` distance in raw ANSI SQL (rewrite shim) ---------------------------


def test_at_distance_in_ansi_passthrough(engine):
    engine.execute_script(
        "CREATE TABLE ansi_hashes ("
        " h UINT64 METRIC KEY USING mtree(hamming),"
        " id UINT32 PRIMARY KEY);"
        "INSERT INTO ansi_hashes (h, id) VALUES (0b11001111, 1), (0b00001011, 2);"
    )
    # this is NOT dialect SQL (expression in WHERE without alias, JOIN-free
    # ANSI shape) — it falls through to spark.sql with the @ rewritten
    rows = engine.execute(
        "SELECT id, h @ 0b00001011 AS d FROM ansi_hashes WHERE h @ 0b00001011 <= 3 ORDER BY id"
    ).collect()
    assert [(r["id"], r["d"]) for r in rows] == [(1, 3), (2, 0)]


def test_at_rewrite_leaves_strings_alone():
    from emdrive_spark.engine import rewrite_at_distance

    sql = "SELECT 'a @ b' AS s, h @ 5 AS d FROM t"
    out = rewrite_at_distance(sql)
    assert "'a @ b'" in out
    assert "emdrive_hamming(CAST(h AS DECIMAL(38,0)), CAST(5 AS DECIMAL(38,0)))" in out


def test_at_rewrite_qualified_and_hex():
    from emdrive_spark.engine import rewrite_at_distance

    out = rewrite_at_distance("SELECT a.h @ 0xFF FROM t a")
    assert "emdrive_hamming(CAST(a.h AS DECIMAL(38,0)), CAST(255 AS DECIMAL(38,0)))" in out


# -- durability: mutations survive a server restart ------------------------


def test_server_persists_mutations_across_restart(spark, monkeypatch, tmp_path):
    import json
    import threading
    import urllib.parse
    import urllib.request

    from emdrive_spark.server import serve

    data_dir = str(tmp_path / "emdata")
    monkeypatch.setenv("EMDRIVE_DATA_DIRECTORY", data_dir)

    def run(port):
        httpd = serve(spark, host="127.0.0.1", port=port)
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        return httpd

    def post(port, sql):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}", data=sql.encode(), method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())

    a = run(18826)
    try:
        post(
            18826,
            "CREATE TABLE durable_t (id UINT32 PRIMARY KEY, name STRING);"
            "INSERT INTO durable_t (id, name) VALUES (1, 'survives'), (2, 'restart')",
        )
    finally:
        a.shutdown()
        a.server_close()

    # fresh server process-equivalent: same env, new engine + catalog
    b = run(18827)
    try:
        q = urllib.parse.quote("SELECT name FROM durable_t WHERE id = 2")
        with urllib.request.urlopen(f"http://127.0.0.1:18827/?query={q}") as resp:
            body = json.loads(resp.read())
        assert body["rows"] == [{"name": "restart"}]
    finally:
        b.shutdown()
        b.server_close()
