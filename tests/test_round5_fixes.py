"""Round-5 advisor fixes, pinned as regressions (ADVICE.md r4):
negative Content-Length framing. (The alias-shadows-METRIC-KEY tests
moved to test_engine.py.)"""

from __future__ import annotations

import pytest


def test_negative_content_length_is_typed_400(spark):
    """int('-5') parses, and rfile.read(-5) reads to EOF — on keep-alive
    that hangs the handler thread. The framing guard now rejects
    negative lengths with the typed 400 (r4 advisor low)."""
    import http.client
    import json
    import threading

    from emdrive_spark.server import serve

    httpd = serve(spark, host="127.0.0.1", port=18831)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", 18831, timeout=30)
        conn.putrequest("POST", "/")
        conn.putheader("Content-Length", "-5")
        conn.endheaders()
        resp = conn.getresponse()
        body = json.loads(resp.read())
        assert resp.status == 400
        assert body["type"] == "validation"
        assert "Content-Length" in body["message"]
        conn.close()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_edit_dedup_hybrid_paths_equal_selfjoin(spark, monkeypatch):
    """The bucket-local pair expansion (small buckets) and the
    self-join fallback (hot buckets) must produce the SAME candidate
    multiset as the original all-self-join: force the cap to 0 so
    EVERY bucket takes the hot path, then to a huge value so every
    bucket takes the array path, and require identical final rows."""
    import emdrive_spark.operators.dedup as dd

    from .conftest import SF_SMOKE

    def run():
        df = dd.dedup_edit_verified(spark, SF_SMOKE)
        return sorted((r["id_a"], r["id_b"], r["edit_dist"]) for r in df.collect())

    monkeypatch.setattr(dd, "_BUCKET_CAP", 1_000_000)
    all_small = run()
    monkeypatch.setattr(dd, "_BUCKET_CAP", 0)
    all_hot = run()
    assert all_small == all_hot
    assert len(all_small) > 0  # perturbed twins must survive the verifier


def test_stalled_body_read_times_out_with_408(spark, monkeypatch):
    """Round-5 review: a client promising more body bytes than it sends
    must not pin the handler thread forever; the socket timeout turns
    the stalled read into a typed 408."""
    import http.client
    import json
    import threading

    import emdrive_spark.server as srv

    httpd = srv.serve(spark, host="127.0.0.1", port=18832)
    # shrink the read timeout for the test (class attr on the handler)
    httpd.RequestHandlerClass.timeout = 2
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", 18832, timeout=30)
        conn.putrequest("POST", "/")
        conn.putheader("Content-Length", "1000")
        conn.endheaders()
        conn.send(b"SELECT")  # 6 of the promised 1000 bytes, then silence
        resp = conn.getresponse()
        body = json.loads(resp.read())
        assert resp.status == 408
        assert body["type"] == "validation"
        conn.close()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_oversized_content_length_rejected_413(spark):
    """A Content-Length above the statement ceiling is refused up
    front instead of buffering an arbitrary body."""
    import http.client
    import json
    import threading

    from emdrive_spark.server import serve

    httpd = serve(spark, host="127.0.0.1", port=18833)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", 18833, timeout=30)
        conn.putrequest("POST", "/")
        conn.putheader("Content-Length", str(1 << 30))
        conn.endheaders()
        resp = conn.getresponse()
        body = json.loads(resp.read())
        assert resp.status == 413
        assert body["type"] == "validation"
        conn.close()
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_spread_widens_few_split_scan(spark):
    """spread() must lift a single-split scan to full-cluster
    parallelism (the fixture files have one row group each, so the
    scan is 1 task and everything before the first exchange
    serializes — see functions/layout.py)."""
    from emdrive_spark.functions.layout import spread
    from emdrive_spark.sources.tables import load

    from .conftest import SF_SMOKE

    d = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    assert d.rdd.getNumPartitions() <= 2  # the premise: few-split scan
    n = spark.sparkContext.defaultParallelism
    assert spread(d).rdd.getNumPartitions() == n
    assert spread(d, "doc_id").rdd.getNumPartitions() == n


@pytest.mark.slow
def test_bucket_pairs_multiset_property(spark):
    """Property test for _bucket_pairs: on adversarial small inputs
    (key collisions, duplicate (doc, key) rows — the md5-prefix
    collision analog — and every cap regime including caps that split
    the buckets across BOTH paths), the emitted pair multiset must
    equal the equality self-join's, computed independently in
    Python."""
    from collections import Counter
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import emdrive_spark.operators.dedup as dd

    rows_strategy = st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 4)), min_size=0, max_size=24
    )

    @given(rows_strategy)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(rows):
        expected = Counter()
        by_key: dict[int, list[int]] = {}
        for doc, key in rows:
            by_key.setdefault(key, []).append(doc)
        for members in by_key.values():
            for x, y in combinations(members, 2):
                if x != y:
                    expected[(min(x, y), max(x, y))] += 1

        df = spark.createDataFrame(
            [(int(d), int(k)) for d, k in rows] or [(0, 0)],
            "doc_id long, sh_key long",
        )
        if not rows:
            df = df.filter("doc_id < 0")
        orig = dd._BUCKET_CAP
        try:
            for cap in (0, 2, 1_000_000):
                dd._BUCKET_CAP = cap
                got = Counter(
                    (r["id_a"], r["id_b"]) for r in dd._bucket_pairs(df).collect()
                )
                assert got == expected, (cap, rows)
        finally:
            dd._BUCKET_CAP = orig

    check()


def test_span_detect_and_cut_agree(spark):
    # the detect op (dedup_spans_exact) and the transform op
    # (dedup_spans_cut) share _dup_spans; this pins the pair to each
    # other so a refactor of either side cannot silently diverge:
    # every doc's dup_tokens must equal the tokens the rebuild cut,
    # docs without spans must cut nothing, and the rebuilt text must
    # contain exactly n_tokens - n_cut tokens
    from .conftest import SF_SMOKE
    from emdrive_spark.operators import dedup as dd

    exact = {
        r["doc_id"]: r
        for r in dd.dedup_spans_exact(spark, SF_SMOKE).collect()
    }
    cut = dd.dedup_spans_cut(spark, SF_SMOKE).collect()
    assert len(cut) > len(exact) > 0  # cut covers ALL docs
    for r in cut:
        e = exact.get(r["doc_id"])
        assert r["n_cut"] == (e["dup_tokens"] if e else 0), r["doc_id"]
        rebuilt = r["clean_text"].split() if r["clean_text"] else []
        assert len(rebuilt) == r["n_tokens"] - r["n_cut"], r["doc_id"]

    # keep-first never cuts more than cut-everywhere (per doc), and the
    # canonical-host election must leave strictly more text standing on
    # a corpus that HAS duplicated spans
    kf = {r["doc_id"]: r for r in dd.dedup_spans_keep_first(spark, SF_SMOKE).collect()}
    assert set(kf) == {r["doc_id"] for r in cut}
    for r in cut:
        assert kf[r["doc_id"]]["n_cut"] <= r["n_cut"], r["doc_id"]
    assert sum(r["n_cut"] for r in kf.values()) < sum(r["n_cut"] for r in cut)


def test_ann_pq_recall_and_determinism(spark):
    # PQ-ADC recall@10 vs exact brute force (the ann_recall pattern for
    # the rows-only PQ path), plus byte-stable re-execution: codebooks
    # are driver-side numpy from a deterministic ordered sample, so two
    # runs must agree exactly
    from .conftest import SF_SMOKE
    from emdrive_spark import registry
    from pyspark.sql import functions as F
    from emdrive_spark.sources.tables import load

    q = registry.queries()["ann_pq"]
    got = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    again = [tuple(r) for r in q(spark, SF_SMOKE).collect()]
    assert got == again
    assert len(got) == 10

    emb = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("e")
    exact = (
        emb.crossJoin(F.broadcast(qvec.select(F.col("e").alias("qe"))))
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
    pq_ids = {r[0] for r in got}
    recall = len(exact_ids & pq_ids) / 10
    # the query's own vector is always found (ADC distance 0 at its own
    # codes is near-minimal); 16 centroids over 8 subspaces keep the
    # neighborhood coarse but far better than chance
    assert recall >= 0.5, recall


def test_span_family_edge_cases(spark, tmp_path):
    # the span ops vs their own DuckDB oracles on an adversarial tiny
    # corpus the fixture can't produce: a doc shorter than one gram, an
    # empty doc, in-doc-only repetition (no cross-doc dup), three
    # identical docs (whole-doc spans + owner election), and a partial
    # mid-doc overlap
    import duckdb
    import pandas as pd

    import tools.verify_local as vl
    from emdrive_spark import registry

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6, 7],
            "text": [
                "a b",
                "",
                "x " * 11 + "x",  # 12 identical tokens, single doc
                "one two three four five six seven eight nine ten",
                "one two three four five six seven eight nine ten",
                "one two three four five six seven eight nine ten",
                "pre one two three four five six seven eight post tail",
            ],
        }
    )
    docs["lang"] = "en"
    docs["source"] = "src"
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(tmp_path / "documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    registry.load_all()
    for name in ("dedup_spans_exact", "dedup_spans_cut", "dedup_spans_keep_first"):
        spec = registry.REGISTRY[name]
        sdf = spec.fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(spec.oracle).fetchdf()
        assert not vl.compare(name, sdf, odf), (name, sdf, odf)

    # semantic spot checks: the identical triple is fully duplicated,
    # the minimal doc_id keeps its text under keep-first, and the
    # partial overlap cuts only the shared run
    cut = {
        r["doc_id"]: r
        for r in registry.REGISTRY["dedup_spans_cut"].fn(spark, str(tmp_path)).collect()
    }
    kf = {
        r["doc_id"]: r
        for r in registry.REGISTRY["dedup_spans_keep_first"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert cut[4]["n_cut"] == 10 and cut[4]["clean_text"] == ""
    assert kf[4]["n_cut"] == 0  # canonical host keeps the whole doc
    assert kf[5]["n_cut"] == 10 and kf[6]["n_cut"] == 10
    assert cut[1]["n_cut"] == 0 and cut[3]["n_cut"] == 0  # no cross-doc dup
    assert cut[7]["clean_text"].startswith("pre") and cut[7]["clean_text"].endswith(
        "post tail"
    )


def test_kcore_fixpoint_reached_within_round_budget(spark, monkeypatch):
    # graph_kcore's semantics are "exactly N peeling rounds"; this pins
    # that N=8 is past the true fixpoint on the fixture (7 and 8 rounds
    # agree), so the fixed-round contract equals the converged k-core
    from .conftest import SF_SMOKE
    from emdrive_spark.operators import analytics as an

    eight = sorted(map(tuple, an.graph_kcore(spark, SF_SMOKE).collect()))
    monkeypatch.setattr(an, "_KCORE_ROUNDS", 7)
    seven = sorted(map(tuple, an.graph_kcore(spark, SF_SMOKE).collect()))
    assert eight == seven


def test_ingest_dedup_edge_cases(spark, tmp_path):
    # dedup_incremental + stream_ingest_dedup vs the shared oracle on a
    # corpus the fixture never produces: docs below the 3-token shingle
    # threshold (empty shingle sets -> null minhash lanes -> null band
    # keys, which must match NOTHING in both engines), an exact pair,
    # and a doc whose truncated batch twin drops below the threshold
    import duckdb
    import pandas as pd

    import tools.verify_local as vl
    from emdrive_spark import registry

    docs = pd.DataFrame(
        {
            # doc_id % 5 drives the batch truncation: %5==0 keeps all
            # tokens (exact twin), %5==3 drops 30%, %5==4 drops 40%
            "doc_id": [10, 11, 20, 13, 14],
            "text": [
                "solo",                                   # 1 token: no shingles
                "two tokens",                             # 2 tokens: no shingles
                "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                "lone pair here",                         # 3 tokens -> batch twin has 2
            ],
        }
    )
    docs["lang"] = "en"
    docs["source"] = "src"
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(tmp_path / "documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    registry.load_all()
    for name in ("dedup_incremental", "stream_ingest_dedup"):
        spec = registry.REGISTRY[name]
        sdf = spec.fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(spec.oracle).fetchdf()
        assert not vl.compare(name, sdf, odf), (name, sdf, odf)

    rows = {
        r["doc_id"]: r
        for r in registry.REGISTRY["dedup_incremental"].fn(spark, str(tmp_path)).collect()
    }
    shift = 1_000_000
    # id 20 (%5==0): untruncated batch twin, exact match against BOTH
    # history copies (13 and 20) — jscore 1.0, ties to the smaller id
    assert rows[20 + shift]["is_dup"] and rows[20 + shift]["dup_of"] == 13
    assert rows[20 + shift]["jscore"] == 1_000_000
    # id 13 (%5==3): 3 of 10 leading tokens dropped -> 5 of 8 shingles
    # survive -> Jaccard 5/8 = 0.625 < 0.8 -> correctly NOT a dup
    assert not rows[13 + shift]["is_dup"]
    # shingle-less docs can never be dups (null band keys match nothing)
    assert not rows[10 + shift]["is_dup"]
    assert not rows[11 + shift]["is_dup"]
    assert not rows[14 + shift]["is_dup"]


def test_graph_family_hand_verified(spark, tmp_path):
    # oracle equality cannot catch both engines computing the same
    # wrong answer — this pins the graph family to a hand-computed
    # graph: order 1 makes triangle {1,2,3}, order 2 adds pendant edge
    # 3-4, order 3 re-asserts edge 1-2 (distinct must dedup), order 4
    # makes K4 on {5,6,7,8}
    import duckdb
    import pandas as pd

    import tools.verify_local as vl
    from emdrive_spark import registry

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 1, 2, 2, 3, 3, 4, 4, 4, 4],
            "l_partkey": [1, 2, 3, 3, 4, 1, 2, 5, 6, 7, 8],
        }
    )
    li.to_parquet(tmp_path / "lineitem.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path / 'lineitem.parquet'}'"
    )
    registry.load_all()
    for name in (
        "graph_triangle_count",
        "graph_edge_jaccard",
        "graph_kcore",
        "graph_pagerank",
    ):
        spec = registry.REGISTRY[name]
        sdf = spec.fn(spark, str(tmp_path)).toPandas()
        odf = con.execute(spec.oracle).fetchdf()
        assert not vl.compare(name, sdf, odf), (name, sdf, odf)

    tri = {
        r["part_id"]: r["tri_cnt"]
        for r in registry.REGISTRY["graph_triangle_count"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert tri == {1: 1, 2: 1, 3: 1, 4: 0, 5: 3, 6: 3, 7: 3, 8: 3}

    jac = {
        (r["u"], r["v"]): (r["common"], r["jscore"])
        for r in registry.REGISTRY["graph_edge_jaccard"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert len(jac) == 10  # 3 + 1 + 6 distinct undirected edges
    assert jac[(1, 2)] == (1, 333333)  # common {3}; union 2+2-1=3
    assert jac[(1, 3)] == (1, 250000)  # common {2}; union 2+3-1=4
    assert jac[(3, 4)] == (0, 0)       # pendant edge: nothing shared
    assert jac[(5, 6)] == (2, 500000)  # K4 edge: common {7,8}; union 4

    core = registry.REGISTRY["graph_kcore"].fn(spark, str(tmp_path)).collect()
    assert len(core) == 8
    # k=80 is far above every degree: the whole graph peels in round 1
    assert all(not r["in_kcore"] and r["core_deg"] == 0 for r in core)


def test_sample_temperature_downsamples_skewed_corpus(spark, tmp_path):
    # the fixture's sources are near-uniform, so sqrt-flattening keeps
    # everything and the md5-threshold branch never runs — this stages
    # a skewed corpus (400 docs in one source, 10 in the other) where
    # the head rate MUST drop below 1, and re-checks the oracle there
    import duckdb
    import pandas as pd

    import tools.verify_local as vl
    from emdrive_spark import registry

    n_big, n_small = 400, 10
    docs = pd.DataFrame(
        {
            "doc_id": list(range(n_big + n_small)),
            "text": ["token " * 5] * (n_big + n_small),
            "lang": "en",
            "source": ["src_big"] * n_big + ["src_small"] * n_small,
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path / 'documents.parquet'}'"
    )
    registry.load_all()
    spec = registry.REGISTRY["sample_temperature"]
    sdf = spec.fn(spark, str(tmp_path)).toPandas()
    odf = con.execute(spec.oracle).fetchdf()
    assert not vl.compare("sample_temperature", sdf, odf), (sdf, odf)

    kept = sdf.groupby("source").size().to_dict()
    # sqrt flattening: share_big = 20/(20+~3.16) ≈ 0.863 → rate ≈ 0.885
    # → the head is genuinely downsampled; the tail keeps everything
    assert kept["src_small"] == n_small
    assert 0 < kept["src_big"] < n_big
