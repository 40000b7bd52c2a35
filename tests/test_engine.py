"""End-to-end engine tests: the README flagship session
(/root/reference/README.md:43-78) executed for real — CREATE TABLE,
INSERT with defaults/ULID/NOW, metric-distance SELECT with alias
filter — plus the semantic guarantees the reference declares
(non-nullable default, PK uniqueness, STRING(n))."""

from __future__ import annotations

import pytest

from emdrive_spark.engine import Engine
from emdrive_spark.functions.generators import ulid
from emdrive_spark.sql.errors import EmdriveValidationError

from .test_distance import _EDGES64, _EDGES128, _OUT_OF_RANGE

CREATE = """
CREATE TABLE photos_seen (
    hash UINT8 METRIC KEY USING mtree(hamming),
    url STRING(2048) PRIMARY KEY,
    width UINT32,
    height UINT32,
    seen_at TIMESTAMP
)
"""

INSERT = """
INSERT INTO photos_seen (hash, url, width, height, seen_at)
VALUES (0b11001111, 'https://twixes.com/a.png', 1280, 820, '2077-01-01T21:37:00')
"""

FLAGSHIP = (
    "SELECT url, hash @ 0b00001011 AS distance FROM photos_seen WHERE distance < 4"
)


def test_readme_flagship_known_answer(engine):
    engine.execute(CREATE)
    engine.execute(INSERT)
    rows = engine.execute(FLAGSHIP).collect()
    # popcount(0b11001111 ^ 0b00001011) = popcount(0b11000100) = 3
    assert len(rows) == 1
    assert rows[0]["url"] == "https://twixes.com/a.png"
    assert rows[0]["distance"] == 3
    # threshold excludes when distance >= 4
    none = engine.execute(
        "SELECT url, hash @ 0b00110000 AS distance FROM photos_seen WHERE distance < 2"
    ).collect()
    assert none == []


def test_select_star_and_eq_filter(engine):
    engine.execute("CREATE TABLE t (id UINT32 PRIMARY KEY, name STRING)")
    engine.execute("INSERT INTO t (id, name) VALUES (1, 'Foo 🧐'), (2, 'Здравствуйте')")
    rows = engine.execute("SELECT * FROM t WHERE name = 'Foo 🧐'").collect()
    assert len(rows) == 1 and rows[0]["id"] == 1
    # unicode round-trip, as the reference's paging tests pin (paging.rs:314-354)
    both = {r["name"] for r in engine.execute("SELECT name FROM t").collect()}
    assert both == {"Foo 🧐", "Здравствуйте"}


def test_create_if_not_exists_and_duplicate(engine):
    engine.execute("CREATE TABLE t2 (id UINT32 PRIMARY KEY)")
    engine.execute("CREATE TABLE IF NOT EXISTS t2 (id UINT32 PRIMARY KEY)")  # no-op
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute("CREATE TABLE t2 (id UINT32 PRIMARY KEY)")


def test_insert_defaults_ulid_now(engine):
    engine.execute(
        "CREATE TABLE d (id UUID PRIMARY KEY DEFAULT ULID(), "
        "at TIMESTAMP DEFAULT NOW(), n NULLABLE(UINT8))"
    )
    engine.execute("INSERT INTO d (n) VALUES (5)")
    engine.execute("INSERT INTO d (n) VALUES (NULL)")
    rows = engine.execute("SELECT * FROM d").collect()
    assert len(rows) == 2
    for r in rows:
        assert len(r["id"]) == 26  # ULID shape
        assert r["at"] is not None
    assert {r["n"] for r in rows} == {5, None}


def test_non_nullable_rejects_missing(engine):
    engine.execute("CREATE TABLE nn (id UINT32 PRIMARY KEY, req STRING)")
    with pytest.raises(EmdriveValidationError, match="not nullable"):
        engine.execute("INSERT INTO nn (id) VALUES (1)")


def test_pk_uniqueness(engine):
    engine.execute("CREATE TABLE pk (id UINT32 PRIMARY KEY, v NULLABLE(UINT8))")
    engine.execute("INSERT INTO pk (id, v) VALUES (1, 1)")
    with pytest.raises(EmdriveValidationError, match="PRIMARY KEY value already exists"):
        engine.execute("INSERT INTO pk (id, v) VALUES (1, 2)")
    with pytest.raises(EmdriveValidationError, match="Duplicate PRIMARY KEY"):
        engine.execute("INSERT INTO pk (id, v) VALUES (2, 1), (2, 2)")


def test_string_length_enforced(engine):
    engine.execute("CREATE TABLE s (id UINT32 PRIMARY KEY, s STRING(3))")
    with pytest.raises(EmdriveValidationError, match="exceeds STRING"):
        engine.execute("INSERT INTO s (id, s) VALUES (1, 'toolong')")


def test_uint_range_enforced(engine):
    engine.execute("CREATE TABLE u (id UINT8 PRIMARY KEY)")
    with pytest.raises(EmdriveValidationError, match="out of range"):
        engine.execute("INSERT INTO u (id) VALUES (256)")
    with pytest.raises(EmdriveValidationError, match="out of range"):
        engine.execute("INSERT INTO u (id) VALUES (0x1FF)")  # hex parses, still >255


def test_metric_required_for_at(engine):
    engine.execute("CREATE TABLE m (id UINT32 PRIMARY KEY, h UINT8)")
    engine.execute("INSERT INTO m (id, h) VALUES (1, 7)")
    with pytest.raises(EmdriveValidationError, match="no METRIC KEY"):
        engine.execute("SELECT h @ 1 AS d FROM m")


def test_system_catalog(engine):
    engine.execute(CREATE.replace("photos_seen", "cat_t"))
    tables = {r["table_name"] for r in engine.catalog.system_tables().collect()}
    assert "cat_t" in tables
    cols = engine.catalog.system_columns().filter("table_name = 'cat_t'").collect()
    by_name = {c["column_name"]: c for c in cols}
    assert by_name["url"]["primary_key"] is True
    assert by_name["hash"]["metric"] == "hamming"
    assert by_name["url"]["data_type"] == "STRING(2048)"


def test_ulid_shape_and_sortability():
    a = ulid(ms=1, entropy=b"\x00" * 10)
    b = ulid(ms=2, entropy=b"\x00" * 10)
    assert len(a) == len(b) == 26
    assert a < b  # time-prefix sortable


def test_ansi_passthrough_group_by(engine):
    engine.execute(CREATE.replace("photos_seen", "pt"))
    engine.execute(
        "INSERT INTO pt (hash, url, width, height, seen_at) VALUES "
        "(1, 'a', 10, 10, '2077-01-01T00:00:00'), "
        "(2, 'b', 10, 20, '2077-01-01T00:00:00'), "
        "(3, 'c', 20, 30, '2077-01-01T00:00:00')"
    )
    # GROUP BY / ORDER BY are beyond the emdrive grammar → ANSI fallback
    rows = engine.execute(
        "SELECT width, count(*) AS n FROM pt GROUP BY width ORDER BY width"
    ).collect()
    assert [(r["width"], r["n"]) for r in rows] == [(10, 2), (20, 1)]


def test_ansi_passthrough_join_and_cte(engine):
    engine.execute("CREATE TABLE ta (id UINT32 PRIMARY KEY, v UINT32)")
    engine.execute("CREATE TABLE tb (id UINT32 PRIMARY KEY, w UINT32)")
    engine.execute("INSERT INTO ta (id, v) VALUES (1, 10), (2, 20)")
    engine.execute("INSERT INTO tb (id, w) VALUES (1, 7)")
    rows = engine.execute(
        "WITH j AS (SELECT ta.id AS id, v, w FROM ta JOIN tb ON ta.id = tb.id) "
        "SELECT id, v + w AS s FROM j"
    ).collect()
    assert [(r["id"], r["s"]) for r in rows] == [(1, 17)]


@pytest.mark.parametrize("htype, edges", [("UINT64", _EDGES64), ("UINT128", _EDGES128)])
def test_ansi_at_matches_dialect_at_by_value(engine, monkeypatch, htype, edges):
    """`@` through the raw-ANSI rewrite (emdrive_hamming) gives the
    dialect's distances, and Python's, at every edge value."""
    engine.execute_script(
        f"CREATE TABLE ah (h {htype} METRIC KEY USING mtree(hamming), id UINT32 PRIMARY KEY);"
        "INSERT INTO ah (h, id) VALUES " + ", ".join(f"({h}, {i})" for i, h in enumerate(edges)) + ";"
    )
    passthrough, ansi_calls = engine._ansi_passthrough, []
    monkeypatch.setattr(engine, "_ansi_passthrough", lambda sql: ansi_calls.append(sql) or passthrough(sql))
    operands = edges + _OUT_OF_RANGE  # the latter compare mod 2¹²⁸ on both paths
    for q in operands:
        want = {i: bin(h ^ (q % 2**128)).count("1") for i, h in enumerate(edges)}
        dialect = engine.execute(f"SELECT id, h @ {q} AS d FROM ah").collect()
        ansi = engine.execute(f"SELECT id, h @ {q} AS d FROM ah GROUP BY id, h").collect()
        assert {r["id"]: r["d"] for r in dialect} == want, q
        assert {r["id"]: r["d"] for r in ansi} == want, q
    assert len(ansi_calls) == len(operands)


def test_ansi_passthrough_rejects_mutations(engine):
    from emdrive_spark.sql.errors import EmdriveSyntaxError

    engine.execute("CREATE TABLE tm (id UINT32 PRIMARY KEY)")
    # DROP isn't emdrive grammar and isn't a query form → syntax error,
    # NOT silently executed by Spark
    with pytest.raises(EmdriveSyntaxError):
        engine.execute("DROP TABLE tm")


def test_ansi_passthrough_bad_query_is_validation_error(engine):
    with pytest.raises(EmdriveValidationError):
        engine.execute("SELECT nope FROM does_not_exist GROUP BY nope")


def test_catalog_save_restore_roundtrip(engine, tmp_path, spark):
    engine.execute(CREATE.replace("photos_seen", "persist_t"))
    engine.execute(
        "INSERT INTO persist_t (hash, url, width, height, seen_at) VALUES "
        "(5, 'u1', 100, 200, '2077-01-01T00:00:00'), "
        "(9, 'u2', 300, 400, '2077-01-02T00:00:00')"
    )
    root = str(tmp_path / "cat")
    engine.catalog.save(root)

    fresh = Engine(spark)
    n = fresh.catalog.restore(root)
    assert n >= 1
    entry = fresh.catalog.get("persist_t")
    # DDL metadata survives: PK, metric, nullability, STRING(n)
    assert entry.pk.name == "url"
    assert entry.column("hash").metric == "hamming"
    assert entry.column("url").etype.length == 2048
    assert entry.column("width").etype.nullable is False
    # data survives, and the dialect runs against the restored table
    rows = fresh.execute("SELECT url, width FROM persist_t WHERE hash = 9").collect()
    assert [(r["url"], r["width"]) for r in rows] == [("u2", 300)]
    # PK uniqueness still enforced post-restore
    with pytest.raises(EmdriveValidationError, match="already exists"):
        fresh.execute(
            "INSERT INTO persist_t (hash, url, width, height, seen_at) VALUES "
            "(1, 'u1', 1, 1, '2077-01-01T00:00:00')"
        )


def test_hll_sketch_estimates_track_exact(spark):
    """sketch_hll_rollup is rows-only for the driver; pin its accuracy
    here — HLL at default lgK=12 is well under 5% error at this scale,
    and the union-of-cell-sketches must equal sketching the whole
    group directly."""
    from emdrive_spark import registry
    from emdrive_spark.sources.tables import load

    from .conftest import SF_SMOKE

    registry.load_all()
    est = {
        r["l_returnflag"]: r["approx_suppliers"]
        for r in registry.REGISTRY["sketch_hll_rollup"].fn(spark, SF_SMOKE).collect()
    }
    from pyspark.sql import functions as F

    exact = {
        r["l_returnflag"]: r["n"]
        for r in load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count_distinct("l_suppkey").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, v in exact.items():
        assert abs(est[k] - v) / v < 0.05, (k, est[k], v)


def test_knn_topk_through_sql_surface(engine):
    """The README's raison d'être (top-k by distance,
    /root/reference/README.md:58-78) expressed directly in the dialect:
    ORDER BY distance LIMIT k. Planned as TakeOrderedAndProject."""
    engine.execute(CREATE)
    engine.execute(INSERT)
    engine.execute(
        "INSERT INTO photos_seen (hash, url, width, height, seen_at) VALUES "
        "(0b00001011, 'https://twixes.com/b.png', 1, 1, '2077-01-01T00:00:00'), "
        "(0b11111111, 'https://twixes.com/c.png', 2, 2, '2077-01-01T00:00:00')"
    )
    df = engine.execute(
        "SELECT url, hash @ 0b00001011 AS distance FROM photos_seen "
        "ORDER BY distance LIMIT 2"
    )
    rows = df.collect()
    assert [r["url"] for r in rows] == [
        "https://twixes.com/b.png",  # distance 0
        "https://twixes.com/a.png",  # distance 3
    ]
    assert [r["distance"] for r in rows] == [0, 3]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_select_is_one_sql_text(engine, monkeypatch):
    """A kNN and a radius statement each plan with ONE spark.sql call
    and no DataFrame-builder call: every builder call is a py4j round
    trip that re-analyzes the growing plan."""
    from pyspark.sql import DataFrame

    engine.execute(CREATE)
    engine.execute(INSERT)
    for method in ("withColumn", "filter", "where", "orderBy", "sort", "limit", "select"):
        monkeypatch.setattr(DataFrame, method, lambda *a, **k: pytest.fail("DataFrame builder call"))
    real_sql, texts = engine.spark.sql, []
    monkeypatch.setattr(engine.spark, "sql", lambda text, *a, **k: texts.append(text) or real_sql(text, *a, **k))
    knn = engine.execute("SELECT url, hash @ 0b00001011 AS distance FROM photos_seen ORDER BY distance LIMIT 10")
    assert len(texts) == 1 and [r["distance"] for r in knn.collect()] == [3]
    radius = engine.execute(FLAGSHIP)
    assert len(texts) == 2 and [r["distance"] for r in radius.collect()] == [3]


def test_order_by_desc_and_limit_zero(engine):
    engine.execute(CREATE)
    engine.execute(INSERT)
    assert engine.execute("SELECT url FROM photos_seen LIMIT 0").count() == 0
    rows = engine.execute(
        "SELECT url, width FROM photos_seen ORDER BY width DESC"
    ).collect()
    assert rows[0]["width"] == 1280


def test_order_by_puts_nulls_first_ascending_last_descending(engine):
    """Spark's default NULL placement, as the DataFrame `asc()`/`desc()`
    the dialect used to sort with: first for ASC, last for DESC."""
    engine.execute("CREATE TABLE nulls_t (id UINT32 PRIMARY KEY, x NULLABLE(FLOAT64))")
    engine.execute("INSERT INTO nulls_t (id, x) VALUES (1, 2.5), (2, NULL), (3, -1.0)")
    asc = engine.execute("SELECT id FROM nulls_t ORDER BY x").collect()
    desc = engine.execute("SELECT id FROM nulls_t ORDER BY x DESC").collect()
    assert [r["id"] for r in asc] == [2, 3, 1]
    assert [r["id"] for r in desc] == [1, 3, 2]


def test_percentile_approx_tracks_exact(spark):
    from emdrive_spark import registry

    from .conftest import SF_SMOKE

    registry.load_all()
    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p95_approx"])
        for r in registry.REGISTRY["agg_percentile_approx"].fn(spark, SF_SMOKE).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in registry.REGISTRY["agg_percentile"].fn(spark, SF_SMOKE).collect()
    }
    for k, (e50, e95) in exact.items():
        a50, a95 = approx[k]
        # quantity spans ~1..50; at accuracy=10000 the sketch is
        # effectively exact up to interpolation differences
        assert abs(a50 - e50) <= 1.0 and abs(a95 - e95) <= 1.0, (k, approx[k], exact[k])


def test_pca_explained_variance_contract(spark):
    """embedding_pca is rows-only (SVD sign ambiguity); pin the real
    invariants: 4 output dims, components ordered by explained
    variance, and projected-space norms bounded by input norms."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from emdrive_spark import registry
    from emdrive_spark.sources.tables import load

    from .conftest import SF_SMOKE

    registry.load_all()
    out = registry.REGISTRY["embedding_pca"].fn(spark, SF_SMOKE)
    row = out.first()
    # pca4 ships as CSV micro-units (driver canonicalizer convention)
    assert len(row["pca4"].split(",")) == 4
    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = PCA(k=4, inputCol="features", outputCol="pca").fit(emb)
    ev = list(model.explainedVariance)
    assert all(a >= b for a, b in zip(ev, ev[1:])), ev
    assert sum(ev) <= 1.000001


# -- SELECT compilation: aliases, temp columns, literals ----------------------

CREATE_RT5 = """
CREATE TABLE rt5 (
    hash UINT8 METRIC KEY USING mtree(hamming),
    url STRING(2048) PRIMARY KEY,
    width UINT32
)
"""


def test_alias_shadowing_metric_column_rejected(engine):
    """`@` binds the DDL-declared METRIC KEY column while plain
    comparisons bind a same-named alias (alias-shadows-base is the WHERE
    contract) — one name meaning two columns inside one predicate is
    rejected, not silently split (r4 advisor low)."""
    e = engine
    e.execute(CREATE_RT5)
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u1', 10)")
    with pytest.raises(EmdriveValidationError, match="shadows METRIC KEY"):
        e.execute("SELECT width AS hash FROM rt5 WHERE hash @ 0b1 < 4")
    # non-shadowing aliases keep the README flagship behavior
    rows = e.execute(
        "SELECT url, hash @ 0b00000001 AS distance FROM rt5 WHERE distance < 4"
    ).collect()
    assert [(r["url"], r["distance"]) for r in rows] == [("u1", 1)]


def test_at_right_operand_sees_alias(engine):
    """The right side of `@` resolves aliases like any other WHERE
    reference (rename threading is symmetric, not left-only)."""
    e = engine
    e.execute(CREATE_RT5)
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u1', 1)")
    rows = e.execute(
        "SELECT url, width AS probe FROM rt5 WHERE hash @ probe = 1"
    ).collect()
    assert [(r["url"], r["probe"]) for r in rows] == [("u1", 1)]


def test_alias_of_nonmetric_name_gets_accurate_at_error(engine):
    """Round-5 review: an alias left of '@' that shadows NO metric
    column must produce the accurate 'does not exist' error, not a
    bogus 'shadows METRIC KEY column' message."""
    e = engine
    e.execute(CREATE_RT5)
    with pytest.raises(EmdriveValidationError, match="does not exist"):
        e.execute("SELECT width AS d FROM rt5 WHERE d @ 3 < 4")
    # and an alias shadowing a NON-metric column reports no-metric
    with pytest.raises(EmdriveValidationError, match="METRIC KEY"):
        e.execute("SELECT url AS width FROM rt5 WHERE width @ 3 < 4")
    # the true shadow case still rejects explicitly
    with pytest.raises(EmdriveValidationError, match="shadows"):
        e.execute("SELECT url AS hash FROM rt5 WHERE hash @ 3 < 4")


def test_select_alias_cannot_clobber_base_column(spark):
    """'SELECT <expr> AS <existing-col>, <existing-col>' must return the
    expr under the alias AND the untouched base column (r4 review: the
    old withColumn-by-alias destroyed the base column silently)."""
    from emdrive_spark.engine import Engine

    eng = Engine(spark)
    eng.execute("CREATE TABLE r4_alias (id UINT32 PRIMARY KEY, w UINT32)")
    eng.execute("INSERT INTO r4_alias (id, w) VALUES (1, 100), (2, 200)")
    out = eng.execute("SELECT w AS id, id FROM r4_alias ORDER BY id")
    rows = out.collect()
    assert out.columns == ["id", "id"]
    # first output column carries w's values, second the real ids —
    # ORDER BY id resolves to the ALIAS (alias-in-scope contract)
    assert [(r[0], r[1]) for r in rows] == [(100, 1), (200, 2)]


def test_negative_literal_in_where(engine):
    engine.execute_script(
        "CREATE TABLE signed_t (id UINT32 PRIMARY KEY, x FLOAT64);"
        "INSERT INTO signed_t (id, x) VALUES (1, 0.5), (2, 3.0);"
    )
    rows = engine.execute("SELECT id FROM signed_t WHERE x > -1").collect()
    assert {r["id"] for r in rows} == {1, 2}
