from __future__ import annotations

import json
import os
import sys

import pytest

# The checkout this suite lives in: a copy of the repo must test its own
# engine, not whichever checkout happens to sit at a fixed path.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from emdrive_spark.engine import Engine  # noqa: E402
from emdrive_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("emdrive-tests")
    yield s
    s.stop()


@pytest.fixture()
def engine(spark):
    return Engine(spark)


def spark_jobs(spark, group: str, run) -> int:
    """Spark jobs that ``run()`` starts, counted under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _live_dir(root: str, table: str) -> str:
    """The live generation directory of ``table`` in the durable
    catalog saved at ``root``, as its ``_catalog.json`` names it."""
    with open(os.path.join(root, "_catalog.json")) as f:
        record = json.load(f)[table]
    return os.path.join(root, record["schema_name"], table, record["generation"])


def _rows(df):
    """A DataFrame's rows as sorted tuples, for order-free equality."""
    return sorted(tuple(r) for r in df.collect())


def _write_documents(spark, path: str, texts: list[str]) -> None:
    """A one-file ``documents`` table holding ``texts``, at ``path``."""
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


@pytest.fixture
def reliable_ckpt(spark, tmp_path):
    """Flip the session into reliable-checkpoint mode for one test."""
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "ckpt"))
    yield spark
    spark.conf.set("spark.graft.reliableCheckpoint", "false")
