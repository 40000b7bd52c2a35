"""Round-9 fixes and additions: pack_sequences_bpe (train -> tokenize
-> PACK closed on the n_bpe budget), the exact BPE merge-fold
prefilter, the dry-corpus BPE early-stop (r8 ADVICE — engine AND
oracle) and the oracle-side winnowing position bound (r8 ADVICE). The
round's doc-count pin lives in test_bench.py."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from emdrive_spark import registry

from .conftest import SF_SMOKE, _write_documents


def _docs_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        # Spark writes a part-file directory; the real sf dirs are single files
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    return con


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
