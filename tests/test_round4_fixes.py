"""Round-4 advisor fixes, pinned as regressions (ADVICE.md r3):
per-session staging isolation, scale-safe synthetic insert keys, and
rank-stable keyword rounding."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from emdrive_spark import registry
from emdrive_spark.sources.tables import load, staging_dir

from .conftest import SF_SMOKE

registry.load_all()


def test_staging_dir_is_per_session(spark):
    """Two concurrent gate/bench invocations must not share staged
    paths: the path is keyed on the Spark applicationId, unique per
    SparkSession (advisor r3: fixed /tmp path caused cross-run
    clobbering)."""
    p = staging_dir(spark, "x")
    assert spark.sparkContext.applicationId in p
    assert staging_dir(spark, "a", "b").endswith("/a/b")


@pytest.mark.slow
def test_staging_root_removed_at_exit():
    """The per-session staging root must vanish when the process exits
    (r4 review: leaked roots accrete under /tmp until the disk fills).
    Runs a staging op in a subprocess and checks the root after exit."""
    import os
    import subprocess
    import sys

    # Repo root / fixture dir via argv, not hardcoded (r4 advisor: a
    # fixed checkout path broke any other checkout location).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from emdrive_spark.session import get_spark\n"
        "from emdrive_spark import registry\n"
        "registry.load_all()\n"
        "s = get_spark('staging-exit-test')\n"
        "registry.REGISTRY['source_csv_roundtrip'].fn(s, sys.argv[2]).count()\n"
        "from emdrive_spark.sources.tables import staging_dir\n"
        "print('ROOT=' + staging_dir(s))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, repo_root, SF_SMOKE],
        capture_output=True,
        text=True,
        timeout=300,
    )
    roots = [l[5:] for l in out.stdout.splitlines() if l.startswith("ROOT=")]
    assert roots, out.stderr[-500:]
    assert not os.path.exists(roots[0])


def test_cdc_insert_keys_clear_scale(spark):
    """Synthetic 'insert' keys are shifted by 1e12 — above the max
    o_orderkey TPC-H generates through SF~100k (~100 TB), so inserts
    can never collide with real keys and be misclassified as updates
    (advisor r3: the old 1e8 shift collided from SF~17)."""
    out = registry.REGISTRY["cdc_changes"].fn(spark, SF_SMOKE)
    ins = out.filter(F.col("change_type") == "insert")
    min_ins = ins.agg(F.min("o_orderkey")).first()[0]
    assert min_ins is not None and min_ins >= 1_000_000_000_000
    # and every insert row carries no old-side value (true insert shape)
    assert ins.filter(F.col("old_price").isNotNull()).count() == 0


def test_keyword_extract_rank_exact_top3(spark):
    """The rank<=3 cut must yield exactly 3 keywords per doc (ties are
    broken lexicographically, scores rounded with the portable
    floor(x*1e6+0.5) pattern so the SET cannot differ across engines)."""
    out = registry.REGISTRY["text_keyword_extract"].fn(spark, SF_SMOKE)
    per_doc = out.groupBy("doc_id").count()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert per_doc.count() == n_docs
    assert per_doc.filter(F.col("count") != 3).count() == 0


def test_nullable_primary_key_rejected(spark):
    from emdrive_spark.engine import Engine
    from emdrive_spark.sql.errors import EmdriveValidationError

    import pytest

    eng = Engine(spark)
    with pytest.raises(EmdriveValidationError, match="must not be NULLABLE"):
        eng.execute(
            "CREATE TABLE r4_nullpk (id NULLABLE(UINT32) PRIMARY KEY, v UINT8)"
        )


def test_insert_bad_value_is_validation_error(spark):
    """A type-mismatched INSERT value must surface as the 400 validation
    taxonomy, not an untyped 500 (r4 review)."""
    from emdrive_spark.engine import Engine
    from emdrive_spark.sql.errors import EmdriveValidationError

    import pytest

    eng = Engine(spark)
    eng.execute("CREATE TABLE r4_badval (id UINT32 PRIMARY KEY, at TIMESTAMP)")
    with pytest.raises(EmdriveValidationError, match="Invalid value"):
        eng.execute(
            "INSERT INTO r4_badval (id, at) VALUES (1, 'not-a-timestamp')"
        )


def test_cusum_alarms_on_mid_window_drift(spark):
    """The drift flag must fire when the CUSUM crosses h=5 at ANY point,
    not only at window end (r4 review: a drift that crossed h and then
    decayed back to 0 was silently ignored by BOTH engine and oracle,
    since they shared the final-value fold). Synthetic series: values
    climb the positive CUSUM well past h, then a long run below the
    mean clamps it back to ~0 — drift_up must still be True."""
    import datetime

    from emdrive_spark.operators.timeseries import events_cusum
    from emdrive_spark.sources import tables

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    # one user; corpus mean will sit low because of the tail run
    vals = [10.0] * 12 + [0.0] * 48  # head: +CUSUM climbs; tail: clamps to 0
    for i, v in enumerate(vals):
        rows.append((i, t0 + datetime.timedelta(minutes=i), 1, "x", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    orig = tables.load
    try:
        tables.load = lambda _s, _d, _n: df  # the op loads only `events`
        import emdrive_spark.operators.timeseries as ts_mod

        ts_orig = ts_mod.load
        ts_mod.load = tables.load
        try:
            out = {r.user_id: r for r in events_cusum(spark, "ignored").collect()}
        finally:
            ts_mod.load = ts_orig
    finally:
        tables.load = orig
    r = out[1]
    # mean = 2.0; head deviation per event = 10-2-0.25 = 7.75 -> crosses 5
    # within the first events; end state clamps back toward 0
    assert r.drift_up, r
    assert r.s_pos < 5.0, r  # final state decayed below the threshold
