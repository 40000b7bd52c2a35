"""Round-9 fixes and additions: pack_sequences_bpe (train -> tokenize
-> PACK closed on the n_bpe budget), the exact BPE merge-fold
prefilter, the dry-corpus BPE early-stop (r8 ADVICE — engine AND
oracle), the oracle-side winnowing position bound (r8 ADVICE), and the
doc-count pin that stops README/SURVEY totals drifting from the live
registry (r8 verdict item 5)."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from emdrive_spark import registry
from emdrive_spark.registry import _ALIASES

SF_SMOKE = "/root/testdata/sf0.001"


def _write_documents(spark, path: str, texts: list[str]) -> None:
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _docs_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        # Spark writes a part-file directory; the real sf dirs are single files
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    return con


# ------------------------------------------------ doc counts pinned to code


def test_readme_counts_match_registry():
    """README and SURVEY state the registry size; both must equal the
    live registry so the r7/r8 count drift cannot happen a third time
    (r8 verdict item 5)."""
    n_ops = len(registry.queries())
    n_oracle = len(registry.oracle_sql())
    n_alias = len(_ALIASES)

    readme = open("/root/repo/README.md").read()
    m = re.search(r"`queries\(\)` \((\d+)\s*\n?\s*ops\), `oracle_sql\(\)` \((\d+) DuckDB oracles\)", readme)
    assert m, "README no longer states the queries()/oracle_sql() counts"
    assert (int(m.group(1)), int(m.group(2))) == (n_ops, n_oracle), (
        f"README says {m.groups()}, registry has ({n_ops}, {n_oracle})"
    )

    survey = open("/root/repo/SURVEY.md").read()
    m = re.search(
        r"Total: (\d+) registered queries \((\d+) distinct ops \+ (\d+) "
        r"aliases\), (\d+) with\s*\n?full value-checked oracles, (\d+) rows-only",
        survey,
    )
    assert m, "SURVEY §8 no longer states the registry totals"
    got = tuple(int(x) for x in m.groups())
    want = (n_ops, n_ops - n_alias, n_alias, n_oracle, n_ops - n_oracle)
    assert got == want, f"SURVEY says {got}, registry has {want}"


def test_bench_stdout_line_fits_driver_tail_cap():
    """The driver keeps only the LAST 2000 chars of bench output and
    json-parses the artifact of record from that window; the headline
    line outgrew it at r6 (BENCH_r06..r08 all carry "parsed": null).
    Pin the fix: the stdout payload trims its cheapest per-query rows
    until the compact line fits, flags how many were elided, keeps
    the expensive (signal-bearing) rows, and never mutates the full
    payload that lands in BENCH_LOCAL.json."""
    import importlib.util
    import json as _json

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    qs = {f"op_with_a_realistic_name_{i:03d}": round(0.2 + i * 0.13, 3) for i in range(90)}
    payload = {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "queries": qs,
        "reps": 5,
        "load_avg": [8.1, 8.39, 6.77],
        "load_at_start": 0.28,
        "noisy": False,
        "sf": 0.1,
    }
    slim = bench._fit_tail_cap(payload)
    line = _json.dumps(slim, separators=(",", ":"))
    assert len(line) <= 2000 - 1  # newline margin inside the tail window
    assert _json.loads(line)["value"] == 123.456
    assert slim["queries_elided"] == 90 - len(slim["queries"])
    # cheapest rows go first; the most expensive rows always survive
    kept_min = min(slim["queries"].values())
    elided_max = max(v for k, v in qs.items() if k not in slim["queries"])
    assert elided_max <= kept_min
    assert len(payload["queries"]) == 90  # full payload untouched

    # an already-small payload passes through bit-identical
    tiny = dict(payload, queries={"a": 1.0})
    assert bench._fit_tail_cap(tiny) == tiny


def test_bench_headline_names_exist_in_registry():
    """Every bench.py HEADLINE entry must resolve in the live registry:
    a rename/removal would otherwise surface only as a KeyError in the
    driver's per-round bench run — the same silent-drift class as the
    README/SURVEY counts, pinned the same way."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", "/root/repo/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    qs = registry.queries()
    missing = [n for n in ("scan_full", *bench.HEADLINE) if n not in qs]
    assert not missing, f"bench HEADLINE names absent from registry: {missing}"
    dupes = [n for n in set(bench.HEADLINE) if bench.HEADLINE.count(n) > 1]
    assert not dupes, f"bench HEADLINE has duplicate entries: {dupes}"


# ------------------------------------------------ BPE dry-corpus early stop


def test_bpe_train_dry_corpus_early_stops(spark, tmp_path):
    """A corpus of single-character words has ZERO adjacent pairs: r8
    crashed with IndexError on the argmax collect; now training emits
    zero merges and the oracle agrees (its b1 CTE is empty, its merge
    CTE left-joins, so both sides produce the same empty rule set)."""
    sf_dir = str(tmp_path / "sf")
    _write_documents(spark, sf_dir + "/documents.parquet", ["a b c a", "b c a"])
    got = registry.queries()["bpe_train_merges"](spark, sf_dir).collect()
    assert got == []
    spec = registry.REGISTRY["bpe_train_merges"]
    assert _docs_con(sf_dir).execute(spec.oracle).fetchall() == []


def test_bpe_train_partially_dry_corpus(spark, tmp_path):
    """Pairs run out AFTER some productive merges: 'ab' merges round 1,
    then every word is a single symbol — the loop must stop at one rule
    (not crash, not invent rules) and stay value-identical to the
    oracle, including the downstream bpe_apply counts."""
    sf_dir = str(tmp_path / "sf")
    _write_documents(spark, sf_dir + "/documents.parquet", ["ab ab c", "ab c c"])
    con = _docs_con(sf_dir)

    got = [
        (r["merge_round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in registry.queries()["bpe_train_merges"](spark, sf_dir).collect()
    ]
    assert got == [(1, "a", "b", 3)]
    spec = registry.REGISTRY["bpe_train_merges"]
    assert [tuple(r) for r in con.execute(spec.oracle).fetchall()] == got

    # apply: 'ab' is one symbol after the merge, 'c' is one symbol
    apply_got = sorted(
        (r["doc_id"], r["n_words"], r["n_bpe"])
        for r in registry.queries()["bpe_apply"](spark, sf_dir).collect()
    )
    assert apply_got == [(0, 3, 3), (1, 3, 3)]
    apply_spec = registry.REGISTRY["bpe_apply"]
    assert sorted(tuple(r) for r in con.execute(apply_spec.oracle).fetchall()) == apply_got


# ------------------------------------------------ winnowing oracle bound


def test_winnowing_oracle_rejects_mega_docs(spark, tmp_path):
    """The >= 2^20 tokens/doc bound must raise in the ORACLE too (r8
    ADVICE: the engine raised while DuckDB silently packed corrupted
    gk*2^20+pos fingerprints — the two sides now agree that oversized
    input is an error, not a value)."""
    sf_dir = str(tmp_path / "sf")
    _write_documents(spark, sf_dir + "/documents.parquet", ["a " * (1 << 20) + "a"])
    registry.load_all()  # REGISTRY is lazily populated; run-in-isolation safe
    spec = registry.REGISTRY["text_winnowing"]
    with pytest.raises(Exception, match="winnowing"):
        _docs_con(sf_dir).execute(spec.oracle).fetchall()


# ------------------------------------------------ pack on the BPE budget


def test_pack_sequences_bpe_is_prefix_sum_of_bpe_apply(spark):
    """Independent semantic pin (the oracle gate already value-checks
    both ops): the packer's n_bpe column IS bpe_apply's, start_tok is
    its exclusive prefix sum in doc_id order, and seq_id bins by the
    2048-symbol budget — i.e. the packer really consumes the trained
    tokenizer's counts, not whitespace counts."""
    counts = {
        r["doc_id"]: r["n_bpe"]
        for r in registry.queries()["bpe_apply"](spark, SF_SMOKE).collect()
    }
    packed = sorted(
        registry.queries()["pack_sequences_bpe"](spark, SF_SMOKE).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["doc_id"] for r in packed] == sorted(counts)
    run = 0
    for r in packed:
        assert r["n_bpe"] == counts[r["doc_id"]]
        assert r["start_tok"] == run
        assert r["seq_id"] == run // 2048
        run += r["n_bpe"]
    # the budget unit genuinely differs from whitespace tokens somewhere
    n_tokens = {
        r["doc_id"]: r["n_tokens"]
        for r in registry.queries()["pack_sequences"](spark, SF_SMOKE).collect()
    }
    assert any(counts[d] != n_tokens[d] for d in counts)


def test_pack_from_counts_equals_registered_op(spark):
    """The multi-consumer API (pack on an existing bpe_apply frame,
    no re-train) must produce byte-identical packing to the
    self-contained registered op."""
    from emdrive_spark.functions.ckpt import ckpt
    from emdrive_spark.operators.pipeline import pack_sequences_from_counts

    bpe = ckpt(registry.queries()["bpe_apply"](spark, SF_SMOKE))
    composed = sorted(
        tuple(r) for r in pack_sequences_from_counts(spark, bpe).collect()
    )
    registered = sorted(
        tuple(r)
        for r in registry.queries()["pack_sequences_bpe"](spark, SF_SMOKE).collect()
    )
    assert composed == registered


def test_global_prefix_sum_matches_reference_randomized(spark):
    """Randomized pin for both packers' shared core: for seeded random
    (unique id, weight>=0) tables — sparse ids, zero weights, sizes
    from 1 row (fewer rows than range partitions, so empty partitions
    and NULL subtotals) to 10x the partition count — the two-phase
    offset machinery must equal a plain Python exclusive prefix sum in
    id order."""
    import random

    from emdrive_spark.functions.prefix import global_prefix_sum

    rng = random.Random(9)
    for size in (1, 3, 17, 64, 320):
        ids = rng.sample(range(10**9), size)
        rows = [(i, rng.choice([0, 0, 1, 3, 97, 2048])) for i in ids]
        df = spark.createDataFrame(rows, "id long, w long")
        got = {
            r["id"]: r["off"]
            for r in global_prefix_sum(spark, df, "id", "w", "off").collect()
        }
        run = 0
        for i, w in sorted(rows):
            assert got[i] == run, f"size={size} id={i}"
            run += w
