"""The catalog's durable save/restore: the crash windows of save()'s
atomic directory swap, a table left under ``<table>__old`` and a stale
``<table>__tmp``. And the compaction of an in-memory table before a
read: exact under concurrent INSERTs, skipped on the durable path, and
answers equal to a Python popcount whether or not it compacted."""

from __future__ import annotations

import os
import random
import sys
import threading

import pytest

from emdrive_spark import catalog
from emdrive_spark.engine import Engine

# A three-column table with a METRIC KEY.
CREATE_RT5 = """
CREATE TABLE rt5 (
    hash UINT8 METRIC KEY USING mtree(hamming),
    url STRING(2048) PRIMARY KEY,
    width UINT32
)
"""


# -- crash windows of save()'s directory swap ----------------------------------


def _saved_rt5(engine, root):
    """rt5 with three rows, saved at ``root``; returns the table dir."""
    engine.execute(CREATE_RT5)
    engine.execute(
        "INSERT INTO rt5 (hash, url, width) VALUES (1, 'u1', 10), (2, 'u2', 20), (3, 'u3', 30)"
    )
    engine.catalog.save(root)
    return os.path.join(root, "main", "rt5")


def _leave_stale_tmp(path):
    """What a crash mid-write leaves: a ``__tmp`` dir with a junk part-file."""
    os.makedirs(path + "__tmp")
    with open(os.path.join(path + "__tmp", "part-00000-stale.parquet"), "wb") as f:
        f.write(b"not parquet")


def _urls(spark, root):
    fresh = Engine(spark)
    fresh.catalog.restore(root)
    return sorted(r["url"] for r in fresh.execute("SELECT url FROM rt5").collect())


def test_restore_recovers_table_left_under_old(engine, spark, tmp_path):
    """A crash between save()'s two renames leaves the committed data
    only under ``<table>__old``; restore() must swap it back and return
    every row."""
    root = str(tmp_path / "cat")
    path = _saved_rt5(engine, root)
    os.rename(path, path + "__old")
    assert _urls(spark, root) == ["u1", "u2", "u3"]
    assert os.path.isdir(path) and not os.path.exists(path + "__old")


def test_stale_tmp_dir_does_not_leak_into_save_or_restore(engine, spark, tmp_path):
    """A crash mid-write leaves a stale ``<table>__tmp``: the next
    save() must replace it rather than publish or append to it, and a
    restore() beside a stale one must read only the committed table."""
    root = str(tmp_path / "cat")
    path = _saved_rt5(engine, root)
    _leave_stale_tmp(path)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u4', 40)")
    engine.catalog.save(root)
    assert not os.path.exists(path + "__tmp")
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]

    _leave_stale_tmp(path)
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]


def test_insert_after_restore_keeps_restored_rows(engine, spark, tmp_path):
    """A restored table's parquet scan is the base that every later
    INSERT's rows are unioned onto, so none of the restored rows is lost."""
    root = str(tmp_path / "cat")
    _saved_rt5(engine, root)
    fresh = Engine(spark)
    fresh.catalog.restore(root)
    fresh.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u4', 40)")
    urls = sorted(r["url"] for r in fresh.execute("SELECT url FROM rt5").collect())
    assert urls == ["u1", "u2", "u3", "u4"]


# -- compaction of an in-memory table before a read ----------------------------

CREATE_PHOTOS = (
    "CREATE TABLE photos (id UINT32 PRIMARY KEY, "
    "hash UINT64 METRIC KEY USING mtree(hamming), url STRING(256))"
)


def _insert_sql(rows):
    values = ", ".join(f"({i}, {h}, 'u{i}')" for i, h in rows)
    return f"INSERT INTO photos (id, hash, url) VALUES {values}"


def test_compaction_never_drops_a_concurrent_insert(engine, monkeypatch):
    """Writers INSERT disjoint id ranges while readers run kNN SELECTs,
    each of which compacts the table it reads. A compaction that swapped
    in a frame read before a concurrent INSERT landed would lose that
    INSERT's rows. More threads than a small host has cores, switching
    often, and a local-row limit low enough that every other read
    compacts."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 7)
    engine.execute(CREATE_PHOTOS)
    writers, batches, per_batch = 4, 4, 5
    errors = []
    done = threading.Event()

    def write(w):
        try:
            for b in range(batches):
                base = (w * batches + b) * per_batch
                engine.execute(_insert_sql((i, i * 7919) for i in range(base, base + per_batch)))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    def read():
        try:
            while not done.is_set():
                engine.execute("SELECT id, hash @ 3 AS d FROM photos ORDER BY d LIMIT 5").collect()
        except Exception as exc:
            errors.append(exc)

    readers = [threading.Thread(target=read) for _ in range(2)]
    threads = [threading.Thread(target=write, args=(w,)) for w in range(writers)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in readers + threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        done.set()
        for t in readers:
            t.join(timeout=300)
    finally:
        done.set()
        sys.setswitchinterval(interval)

    assert not any(t.is_alive() for t in readers + threads)
    assert not errors, errors
    n = writers * batches * per_batch
    assert engine.execute("SELECT COUNT(*) AS n FROM photos").collect()[0]["n"] == n
    ids = {r["id"] for r in engine.execute("SELECT id FROM photos").collect()}
    assert ids == set(range(n))
    assert engine.catalog.get("photos").base is not None  # it did compact


def test_durable_path_reads_without_compaction(spark, tmp_path, monkeypatch):
    """With a data directory every INSERT is followed by save(), whose
    parquet re-read is already compact: the next SELECT plans over the
    parquet scan, with no checkpoint (LogicalRDD) in its plan, even
    where an in-memory table of one row would be compacted."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 0)
    engine = Engine(spark, data_directory=str(tmp_path / "data"))
    engine.execute(CREATE_PHOTOS)
    engine.execute(_insert_sql([(1, 7), (2, 8)]))
    engine.execute(_insert_sql([(3, 5)]))
    df = engine.execute("SELECT id, hash @ 7 AS d FROM photos ORDER BY d LIMIT 10")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in analyzed, analyzed
    assert "parquet" in analyzed.lower(), analyzed
    assert [(r["id"], r["d"]) for r in df.collect()] == [(1, 0), (3, 1), (2, 4)]


@pytest.mark.parametrize("compacted", [False, True])
def test_knn_and_radius_over_inserts_match_popcount(engine, monkeypatch, compacted):
    """kNN and radius answers on a table built by several INSERTs equal
    an exact Python popcount, hashes at and above 2**63 included: read
    as one local relation, and compacted past a lowered limit."""
    if compacted:
        monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 10)
    rng = random.Random(5)
    hashes = [rng.getrandbits(64) for _ in range(57)] + [2**63, 2**64 - 1, 0]
    rows = list(enumerate(hashes))
    engine.execute(CREATE_PHOTOS)
    for start in range(0, len(rows), 20):
        engine.execute(_insert_sql(rows[start : start + 20]))

    q = rng.getrandbits(64) | (1 << 63)
    true_d = {i: bin(h ^ q).count("1") for i, h in rows}
    knn = engine.execute(f"SELECT id, hash @ {q} AS d FROM photos ORDER BY d LIMIT 10").collect()
    assert [r["d"] for r in knn] == sorted(true_d.values())[:10]
    assert all(r["d"] == true_d[r["id"]] for r in knn)

    radius = sorted(true_d.values())[15]
    got = engine.execute(
        f"SELECT id, hash @ {q} AS d FROM photos WHERE d < {radius}"
    ).collect()
    assert {r["id"] for r in got} == {i for i, d in true_d.items() if d < radius}
    assert all(r["d"] == true_d[r["id"]] for r in got)
    assert (engine.catalog.get("photos").base is not None) == compacted
