"""Round-7 operator additions: Adamic-Adar link prediction, categorical
mutual information, feature hashing, and winnowing fingerprints. Each op
also carries a full value-hash oracle (driver gate); these tests pin the
SEMANTIC properties the oracle compare cannot see."""

from __future__ import annotations

import math
from collections import defaultdict

from pyspark.sql import functions as F

from emdrive_spark import registry
from emdrive_spark.sources.tables import load

from .conftest import SF_SMOKE


# ----------------------------------------------------- graph_adamic_adar


def _copurchase_pairs(spark):
    """Thresholded (co-ordered >= 2 times) co-purchase adjacency."""
    li = (
        load(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    orders = defaultdict(set)
    for r in li:
        orders[r["l_orderkey"]].add(r["l_partkey"])
    nco = defaultdict(int)
    for parts in orders.values():
        for u in parts:
            for v in parts:
                if u != v:
                    nco[(u, v)] += 1
    adj = defaultdict(set)
    for (u, v), c in nco.items():
        if c >= 2:
            adj[u].add(v)
    return adj


def test_adamic_adar_matches_brute_force(spark):
    """Re-derive AA in plain python from raw lineitem: identical top
    rows under the same fixed-point weight and total order."""
    adj = _copurchase_pairs(spark)
    scores: dict[tuple, list] = {}
    for w, nbrs in adj.items():
        weight = math.floor(10**12 / math.log(max(len(nbrs), 2)))
        ns = sorted(nbrs)
        for i, u in enumerate(ns):
            for v in ns[i + 1 :]:
                e = scores.setdefault((u, v), [0, 0])
                e[0] += 1
                e[1] += weight
    nonedge = {
        (u, v): (c, aa)
        for (u, v), (c, aa) in scores.items()
        if v not in adj[u]
    }
    want = sorted(nonedge.items(), key=lambda kv: (-kv[1][1], kv[0]))[:100]
    got = registry.queries()["graph_adamic_adar"](spark, SF_SMOKE).collect()
    assert len(got) == min(100, len(want))
    for row, ((u, v), (c, aa)) in zip(got, want):
        assert (row["part_u"], row["part_v"], row["common"], row["aa_e12"]) == (
            u,
            v,
            c,
            aa,
        )


def test_adamic_adar_pairs_are_nonadjacent(spark):
    adj = _copurchase_pairs(spark)
    for r in registry.queries()["graph_adamic_adar"](spark, SF_SMOKE).collect():
        assert r["part_v"] not in adj[r["part_u"]]
        assert r["common"] >= 1 and r["aa_e12"] > 0


# ------------------------------------------------------- agg_mutual_info


def test_mutual_info_marginals_consistent(spark):
    rows = registry.queries()["agg_mutual_info"](spark, SF_SMOKE).collect()
    n = sum(r["n_xy"] for r in rows)
    assert n == load(spark, SF_SMOKE, "customer").count()
    by_x = defaultdict(int)
    by_y = defaultdict(int)
    for r in rows:
        by_x[r["nation_key"]] += r["n_xy"]
        by_y[r["segment"]] += r["n_xy"]
    for r in rows:
        assert r["n_x"] == by_x[r["nation_key"]]
        assert r["n_y"] == by_y[r["segment"]]
        want = math.floor(
            math.log((r["n_xy"] * n) / (r["n_x"] * r["n_y"])) * 1e6 + 0.5
        )
        assert r["pmi6"] == want


def test_mutual_info_total_is_nonnegative(spark):
    """I(X;Y) = sum p(x,y)·pmi >= 0 — the defining inequality; the
    integer dot-product rendering must respect it up to rounding."""
    rows = registry.queries()["agg_mutual_info"](spark, SF_SMOKE).collect()
    n = sum(r["n_xy"] for r in rows)
    mi_e6 = sum(r["n_xy"] * r["pmi6"] for r in rows) / n
    assert mi_e6 >= -len(rows)  # each cell rounds by at most 0.5e-6·n_xy


# --------------------------------------------------- text_feature_hashing


def test_feature_hashing_conserves_tokens_and_bounds_dim(spark):
    feats = {
        r["doc_id"]: r
        for r in registry.queries()["text_feature_hashing"](spark, SF_SMOKE).collect()
    }
    ntok = {
        r["doc_id"]: r["n_tokens"]
        for r in registry.queries()["text_tokens"](spark, SF_SMOKE).collect()
    }
    assert set(feats) == set(ntok)
    for doc_id, r in feats.items():
        assert r["n_tokens"] == ntok[doc_id]  # counts conserved through hashing
        assert 1 <= r["n_buckets"] <= 1024
        pairs = [p.split(":") for p in r["features"].split(" ")]
        assert len(pairs) == r["n_buckets"]
        buckets = [int(b) for b, _ in pairs]
        assert buckets == sorted(buckets)  # serialized sorted by bucket
        assert all(0 <= b < 1024 for b in buckets)
        assert sum(int(c) for _, c in pairs) == r["n_tokens"]


# -------------------------------------------------------- text_winnowing


def test_winnowing_guarantee_on_shared_span(spark, tmp_path):
    """The winnowing guarantee: two documents sharing a verbatim
    overlap of >= k+w-1 = 7 tokens select at least one COMMON
    fingerprint. Synthetic corpus: distinct prefixes, one shared
    9-token span."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [
        (1, "doc one starts here " + shared + " and ends one way", "en", "web"),
        (2, "совершенно other opening text " + shared + " closing two", "en", "web"),
        (3, "no overlap at all just unique words everywhere in this one", "en", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = registry.queries()["text_winnowing"](spark, str(tmp_path)).collect()
    fps = defaultdict(set)
    for r in out:
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] & fps[2]  # shared span -> shared fingerprint
    assert not (fps[3] & fps[1]) and not (fps[3] & fps[2])


def test_winnowing_density_and_positions(spark):
    """Selected fingerprints are a strict subsample of all grams with
    valid positions; density lands in the winnowing band (roughly
    2/(w+1) of grams, loose bounds for real text repetition)."""
    out = registry.queries()["text_winnowing"](spark, SF_SMOKE)
    per_doc = {
        r["doc_id"]: r["n_fp"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n_fp")).collect()
    }
    ntok = {
        r["doc_id"]: r["n_tokens"]
        for r in registry.queries()["text_tokens"](spark, SF_SMOKE).collect()
    }
    assert per_doc  # fixture docs are long enough to fingerprint
    total_fp = sum(per_doc.values())
    total_grams = sum(max(0, n - 3) for n in ntok.values())
    assert 0.1 < total_fp / total_grams < 0.6  # ~2/(w+1)=0.4 band
    for r in registry.queries()["text_winnowing"](spark, SF_SMOKE).collect():
        assert 1 <= r["pos"] <= ntok[r["doc_id"]] - 3
        assert 0 <= r["fp"] < 2**40


# ------------------------------------------------------ bpe_train_merges


def test_bpe_merges_match_reference_python(spark):
    """Re-run classic greedy BPE in plain python (collections.Counter
    over the word-frequency table, leftmost-lowest tie order, greedy
    left-to-right merging) and require identical merge rules."""
    import re
    from collections import Counter

    docs = load(spark, SF_SMOKE, "documents").select("text").collect()
    freq = Counter(
        t
        for r in docs
        for t in r["text"].strip().split()
        if re.fullmatch(r"[a-z0-9]+", t)
    )
    words = {w: list(w) for w in freq}
    want = []
    for rnd in range(1, 7):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freq[w]
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, l, r, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    got = [
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in registry.queries()["bpe_train_merges"](spark, SF_SMOKE).collect()
    ]
    assert sorted(got) == want


# ------------------------------------------------------- agg_corr_matrix


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    li = load(spark, SF_SMOKE, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    pdf = li.toPandas()
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in registry.queries()["agg_corr_matrix"](spark, SF_SMOKE).collect()
    }
    assert len(got) == 6
    for (a, b), r6 in got.items():
        want = np.corrcoef(pdf[a], pdf[b])[0, 1]
        assert abs(r6 - want) < 1e-5, (a, b, r6, want)


# ----------------------------------------------- dedup_winnowing_verified


def test_winnowing_verified_catches_shared_span_pairs(spark, tmp_path):
    """A pair sharing a long verbatim span must surface as a verified
    candidate; disjoint docs must not pair at all."""
    shared = " ".join(f"tok{i}" for i in range(20))
    rows = [
        (1, "one lead in " + shared + " trailing alpha", "en", "web"),
        (2, "two other start " + shared + " trailing beta", "en", "web"),
        (3, "entirely different words with no overlap at all here okay", "en", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = registry.queries()["dedup_winnowing_verified"](spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert r["n_shared_fp"] >= 2
    assert 0 < r["jaccard_ppm"] < 1_000_000
    assert all(3 not in p for p in pairs)


def test_winnowing_verified_jaccard_is_exact(spark):
    """Spot-verify the reported gram Jaccard against a python
    recomputation of distinct 4-gram hashes for the top pair."""
    import hashlib

    out = registry.queries()["dedup_winnowing_verified"](spark, SF_SMOKE).collect()
    assert out, "smoke corpus has near-dup docs with shared spans"
    best = max(out, key=lambda r: r["jaccard_ppm"])
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id").isin([best["doc_a"], best["doc_b"]]))
        .collect()
    }

    def gramset(text):
        toks = text.strip().split()
        out = set()
        for i in range(len(toks) - 3):
            g = " ".join(toks[i : i + 4])
            out.add(int(hashlib.md5(g.encode()).hexdigest()[:10], 16))
        return out

    ga, gb = gramset(texts[best["doc_a"]]), gramset(texts[best["doc_b"]])
    common = len(ga & gb)
    assert best["n_common"] == common
    assert best["jaccard_ppm"] == common * 1_000_000 // (len(ga) + len(gb) - common)
