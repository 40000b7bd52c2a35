"""Round-7 fixes, pinned as regressions (VERDICT.md r6 + ADVICE.md):
graph_hits per-round checkpointing, the engine-level checkpoint-block
release, the graph_related_topk structural single-execution ckpt, and
the three r6 ADVICE items (attribution tiebreak, PMI broadcast gate,
entity-blocking format guard)."""

from __future__ import annotations

import pytest

from emdrive_spark import registry
from emdrive_spark.functions.ckpt import ckpt, release

from .conftest import SF_SMOKE, _rows


# ----------------------------------------------------- graph_hits ckpt


def test_reliable_checkpoint_hits_matches_default(spark, reliable_ckpt):
    """VERDICT r6 item 2: graph_hits now checkpoints each round's raw
    score frame before its scalar collect; the reliable-checkpoint
    flag must keep routing those sites and produce byte-identical
    results either way."""
    fn = registry.queries()["graph_hits"]
    spark.conf.set("spark.graft.reliableCheckpoint", "false")
    base = _rows(fn(spark, SF_SMOKE))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    flagged = _rows(fn(spark, SF_SMOKE))
    assert flagged == base
    assert len(base) > 0


def test_related_topk_matches_unckpted_composition(spark):
    """VERDICT r6 item 4: the ckpt on graph_related_topk's edge frame
    is a plan-shape change only — results must equal the plain
    composition of edge_jaccard + union + rank window."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from emdrive_spark.operators import analytics

    got = _rows(registry.queries()["graph_related_topk"](spark, SF_SMOKE))
    ej = analytics.graph_edge_jaccard(spark, SF_SMOKE)
    both = ej.select(
        F.col("u").alias("part_id"), F.col("v").alias("neighbor"), "common", "jscore"
    ).unionByName(
        ej.select(
            F.col("v").alias("part_id"), F.col("u").alias("neighbor"), "common", "jscore"
        )
    )
    w = W.partitionBy("part_id").orderBy(
        F.col("jscore").desc(), F.col("common").desc(), F.col("neighbor").asc()
    )
    want = _rows(
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= analytics._RELATED_K)
        .select("part_id", "neighbor", "common", "jscore")
    )
    assert got == want
    assert len(got) > 0


# -------------------------------------------------------- release()


def test_release_drops_checkpoint_blocks_and_session_stays_usable(spark):
    """VERDICT r6 item 3: release() must empty the persistent-RDD map
    (the co-residence pressure source) and leave the session fully
    usable for the NEXT query — including ops that checkpoint again."""
    fn = registry.queries()["graph_pagerank"]
    fn(spark, SF_SMOKE).collect()
    held = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert held > 0  # the op really does pin blocks
    n = release(spark)
    assert n == held
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    # a fresh run of the same checkpoint-heavy op still works
    assert len(fn(spark, SF_SMOKE).collect()) > 0


def test_release_counts_manual_ckpt_frame(spark):
    df = ckpt(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert df.count() == 100
    assert release(spark) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


# ------------------------------------------------ r6 ADVICE regressions


@pytest.mark.slow
def test_attribution_same_ts_clicks_credit_max_event_id(spark, tmp_path):
    """r6 ADVICE item 1: two clicks at the SAME (user_id, ts) must
    credit deterministically — the max click event_id — instead of
    whichever row the partitioning happened to order last. Built on a
    synthetic fixture because the driver fixtures carry no duplicate
    (user_id, ts) pairs (the bug was latent)."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0), 7, "click", 0.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 10, 0, 0), 7, "click", 0.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 9, 0, 0), 7, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = registry.queries()["events_attribution"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["channel"] == "click"
    assert out[0]["touch_event_id"] == 2  # max event_id among the tie


def test_entity_blocking_positions_derive_from_name_length(spark, tmp_path):
    """r6 ADVICE item 3: the deletion-neighborhood block must derive
    its volatile positions from the record's own length — a
    1-substitution pair in a format nothing like 'Customer#NNNNNNNNN'
    (different length, edit at position 2) must still be recalled."""
    rows = [
        (1, "acme corp", 0, 0.0, "A"),
        (2, "acne corp", 0, 0.0, "A"),  # 1 substitution at position 3
        (3, "zzz ltd", 0, 0.0, "A"),
    ]
    df = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    out = registry.queries()["entity_match_blocked"](spark, str(tmp_path)).collect()
    assert [(r["a_key"], r["b_key"], r["lev"]) for r in out] == [(1, 2, 1)]


def test_collocation_pmi_has_no_forced_vocab_broadcast(spark):
    """r6 ADVICE item 2: the unigram-count joins must not carry a
    broadcast hint (vocabulary is corpus-unbounded); only the 1-row
    global-N frame may broadcast. The analyzed plan should show no
    ResolvedHint on a multi-row side."""
    df = registry.queries()["text_collocation_pmi"](spark, SF_SMOKE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly one broadcast hint survives: the 1-row N crossJoin
    assert analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint") <= 1
    assert len(df.collect()) > 0
