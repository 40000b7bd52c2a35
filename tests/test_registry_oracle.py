"""The core correctness gate, run locally: every registered query with
an oracle must match DuckDB exactly at sf0.001 (the driver runs the same
compare at sf0.01 — see tools/verify_local.py for the full-size run)."""

from __future__ import annotations

import duckdb
import pytest

from emdrive_spark import registry
from emdrive_spark.sources.tables import TABLES, table_path

from tools.verify_local import compare

from .conftest import SF_SMOKE

registry.load_all()

# Ops whose sf0.001 gate run takes >= ~20 s on an idle 32-core host
# (pytest --durations, r13). Marked slow so the default (driver) gate
# fits its budget — they still run locally via `-m slow` before every
# round lands, and the driver's own CORRECTNESS window re-verifies a
# rotating 50-op sample at sf0.01 every round regardless. Four are
# rows-only determinism DOUBLE-runs (dedup_simhash/minhash/near,
# embedding_mmr_rerank), not oracle compares. Oracle compares under
# ~10 s on a 4-core host stay in the default gate (durations:
# CHANGES.md).
_SLOW_OPS = frozenset({
    "dedup_simhash", "dedup_minhash", "dedup_near",
    "dedup_embedding_components", "dedup_embedding",
    "embedding_mmr_rerank",
})


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_SMOKE, t)}'")
    return con


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_OPS else n
        for n in sorted(registry.REGISTRY)
    ],
)
def test_query_matches_oracle(spark, oracle_con, name):
    spec = registry.REGISTRY[name]
    sdf = spec.fn(spark, SF_SMOKE).toPandas()
    if spec.oracle is None:
        # rows-only contract: must run and be deterministic in count
        again = spec.fn(spark, SF_SMOKE).toPandas()
        assert len(sdf) == len(again)
        return
    opdf = oracle_con.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, opdf)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())
