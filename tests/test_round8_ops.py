"""Round-8 fixes and additions: the symbol-level BPE merge (r7 ADVICE
over-merge), bpe_apply (train -> tokenize loop closed), the empty-name
guard in entity blocking, and the loud winnowing position bound. Each
pins the SEMANTIC property the value-hash oracle compare cannot see
(the oracle shared the old BPE bug, so only an independent reference
implementation can catch it)."""

from __future__ import annotations

import re
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from emdrive_spark import registry
from emdrive_spark.operators.text import _bpe_merge_word
from emdrive_spark.sources.tables import load

from .conftest import SF_SMOKE, _write_documents


# ------------------------------------------------------ BPE symbol-level merge


def _ref_bpe_train(freq: dict[str, int], rounds: int = 6):
    """Classic greedy BPE over symbol LISTS — the unambiguous reference
    (leftmost-lowest tie order, greedy left-to-right merging)."""
    words = {w: list(w) for w in freq}
    merges = []
    for rnd in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freq[w]
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, l, r, cnt))
        words = {w: _ref_merge(syms, l, r) for w, syms in words.items()}
    return merges, words


def _ref_merge(syms: list[str], l: str, r: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


# The r7 ADVICE repro: under pair (r, s), 'er;s;' must NOT merge (the
# old replace('r;s;'→'rs;') matched mid-symbol, yielding 'ers;'), while
# adjacent true occurrences all merge greedily left-to-right.
_MERGE_CASES = [
    ("e;r;s;", "r", "s", "e;rs;"),  # true occurrence merges
    ("er;s;", "r", "s", "er;s;"),  # l is a SUFFIX of symbol 'er': MUST stay unmerged
    ("r;s;e;r;s;", "r", "s", "rs;e;rs;"),  # both true occurrences merge
    ("a;b;a;b;", "a", "b", "ab;ab;"),  # adjacent matches share no boundary
    ("a;a;a;", "a", "a", "aa;a;"),  # greedy left-to-right on l == r
    ("e;r;s;", "e", "r", "er;s;"),  # plain merge at word start
]


def test_bpe_merge_word_is_symbol_level(spark):
    rows = [(w,) for w, *_ in _MERGE_CASES]
    df = spark.createDataFrame(rows, "w string")
    for i, (w, l, r, want) in enumerate(_MERGE_CASES):
        got = (
            df.filter(F.col("w") == w)
            .select(_bpe_merge_word(F.col("w"), l, r).alias("m"))
            .collect()[0]["m"]
        )
        assert got == want, f"case {i}: merge({w!r}, {l!r}, {r!r}) = {got!r}, want {want!r}"


def test_bpe_merge_oracle_fold_matches_spark():
    """The DuckDB oracle's list_reduce fold must agree with the Spark
    fold case-by-case (both engines share the _MERGE_CASES table)."""
    con = duckdb.connect()
    for w, l, r, want in _MERGE_CASES:
        got = con.execute(
            """
            SELECT substr(
              list_reduce(
                list_prepend(';', list_filter(string_split(?, ';'), x -> len(x) > 0)),
                (acc, x) -> CASE WHEN ends_with(acc, ';' || ? || ';') AND x = ?
                            THEN left(acc, len(acc) - len(?) - 1) || ? || ? || ';'
                            ELSE acc || x || ';' END
              ), 2)
            """,
            [w, l, r, l, l, r],
        ).fetchone()[0]
        assert got == want, f"oracle merge({w!r}, {l!r}, {r!r}) = {got!r}, want {want!r}"


def test_bpe_train_on_suffix_collision_corpus(spark, tmp_path):
    """Engineered corpus where round 1 merges (e, r) and round 2 merges
    (r, s) while the word 'ers' holds symbols [er, s]: the old string
    replace corrupted 'er;s;' into 'ers;', shifting every later round's
    pair counts. The registered op must match reference python exactly."""
    texts = [
        # the collision trio, plus filler words so all 6 rounds have pairs
        " ".join(["er"] * 10 + ["rs"] * 8 + ["ers"] * 6 + ["tu"] * 3 + ["abcd"] * 2),
        " ".join(["er"] * 6 + ["rs"] * 5 + ["ers"] * 4 + ["wxyz"] * 2),
    ]
    sf_dir = str(tmp_path / "sf")
    _write_documents(spark, sf_dir + "/documents.parquet", texts)

    freq = Counter(
        t for txt in texts for t in txt.strip().split() if re.fullmatch(r"[a-z0-9]+", t)
    )
    want, _ = _ref_bpe_train(freq)
    got = sorted(
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in registry.queries()["bpe_train_merges"](spark, sf_dir).collect()
    )
    assert got == want
    # the collision actually occurs: (e,r) then (r,s) are the first merges
    assert (want[0][1], want[0][2]) == ("e", "r")
    assert (want[1][1], want[1][2]) == ("r", "s")


def test_bpe_apply_matches_reference_python(spark):
    """bpe_apply's per-doc (n_words, n_bpe) must equal training +
    greedy application re-run in plain python over sf0.001."""
    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    freq = Counter(
        t
        for r in docs
        for t in r["text"].strip().split()
        if re.fullmatch(r"[a-z0-9]+", t)
    )
    _, words = _ref_bpe_train(freq)
    n_sym = {w: len(syms) for w, syms in words.items()}
    want = {}
    for r in docs:
        toks = [t for t in r["text"].strip().split() if re.fullmatch(r"[a-z0-9]+", t)]
        want[r["doc_id"]] = (len(toks), sum(n_sym[t] for t in toks))
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe"])
        for r in registry.queries()["bpe_apply"](spark, SF_SMOKE).collect()
    }
    assert got == want


def test_bpe_apply_compresses(spark):
    """BPE symbols per doc must be <= character count and >= word count
    (merges only ever shrink the char-split), and the corpus-level
    ratio must show real compression on the smoke corpus."""
    out = registry.queries()["bpe_apply"](spark, SF_SMOKE).collect()
    assert all(r["n_bpe"] >= r["n_words"] for r in out if r["n_words"] > 0)
    tot_w = sum(r["n_words"] for r in out)
    tot_b = sum(r["n_bpe"] for r in out)
    assert tot_w > 0 and tot_w <= tot_b


@pytest.mark.slow
def test_bpe_merge_fold_randomized_three_engines(spark):
    """Randomized property pin for the fixed over-merge class: for 300
    seeded random (symbol-list, pair) cases — alphabet {a, b, ab, ba,
    aa} chosen so left-is-a-suffix collisions are COMMON — the Spark
    fold, the DuckDB list_reduce fold, and reference-python greedy
    merging must agree exactly. One DataFrame pass per engine."""
    import random

    rng = random.Random(8)
    syms_pool = ["a", "b", "ab", "ba", "aa"]
    cases = []
    for i in range(300):
        syms = [rng.choice(syms_pool) for _ in range(rng.randint(0, 8))]
        l, r = rng.choice(syms_pool), rng.choice(syms_pool)
        w = "".join(s + ";" for s in syms)
        want = "".join(s + ";" for s in _ref_merge(syms, l, r))
        cases.append((i, w, l, r, want))

    # spark: group cases by (l, r) — the fold embeds the pair as literals
    by_pair: dict[tuple[str, str], list] = {}
    for i, w, l, r, want in cases:
        by_pair.setdefault((l, r), []).append((i, w, want))
    for (l, r), rows in by_pair.items():
        df = spark.createDataFrame(
            [(i, w, want) for i, w, want in rows], "i int, w string, want string"
        )
        bad = df.filter(
            _bpe_merge_word(F.col("w"), l, r) != F.col("want")
        ).collect()
        assert not bad, f"spark fold mismatch for pair {(l, r)}: {bad[:3]}"

    # duckdb: one batch over all cases (pair rides as columns)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cases(i INT, w VARCHAR, l VARCHAR, r VARCHAR, want VARCHAR)"
    )
    con.executemany("INSERT INTO cases VALUES (?,?,?,?,?)", cases)
    bad = con.execute(
        """
        SELECT i, w, l, r, want, got FROM (
          SELECT *, substr(
            list_reduce(
              list_prepend(';', list_filter(string_split(w, ';'), x -> len(x) > 0)),
              (acc, x) -> CASE WHEN ends_with(acc, ';' || l || ';') AND x = r
                          THEN left(acc, len(acc) - len(l) - 1) || l || r || ';'
                          ELSE acc || x || ';' END
            ), 2) AS got
          FROM cases
        ) WHERE got IS DISTINCT FROM want
        """
    ).fetchall()
    assert not bad, f"duckdb fold mismatch: {bad[:3]}"


# ------------------------------------------------- entity blocking guard


def test_entity_match_blocked_survives_empty_names(spark, tmp_path):
    """An empty c_name must not explode into bogus deletion keys
    (F.sequence descends when start > stop — r7 ADVICE): the op runs
    clean and still finds the real 1-substitution pair."""
    sf_dir = str(tmp_path / "sf")
    spark.createDataFrame(
        [(1, "Customer#001"), (2, "Customer#002"), (3, ""), (4, "")],
        "c_custkey long, c_name string",
    ).coalesce(1).write.mode("overwrite").parquet(sf_dir + "/customer.parquet")
    out = registry.queries()["entity_match_blocked"](spark, sf_dir).collect()
    pairs = {(r["a_key"], r["b_key"]) for r in out}
    assert pairs == {(1, 2)}


# ------------------------------------------------- winnowing position bound


def test_winnowing_rejects_mega_docs_loudly(spark, tmp_path):
    """A doc at >= 2^20 tokens would silently corrupt the gk*2^20+pos
    pack; the gram builder must raise instead (r7 ADVICE)."""
    sf_dir = str(tmp_path / "sf")
    _write_documents(spark, sf_dir + "/documents.parquet", ["a " * (1 << 20) + "a"])
    with pytest.raises(Exception, match="winnowing"):
        registry.queries()["text_winnowing"](spark, sf_dir).count()
