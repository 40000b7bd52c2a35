"""The catalog's durable save/restore: the crash windows of a fold (a
generation written but never named in ``_catalog.json``, a stale
unpublished ``g-*``) and of an append (a stale hidden
``.delta-*.tmp``), a pre-generation flat layout that still restores,
when a retired generation is deleted, saves across engines and roots
(skips of clean tables, a failed save to another root), restores into
the state the saves left (base files as the base, delta rows as local
rows), and the types a delta file carries. The PK check against the
base, the local rows and the batch, and its pruning by the base's PK
range at each key type's edges. Reads racing appends and folds, and a
frame planned before a fold read after it. And the compaction of an
in-memory table before a read: exact under concurrent INSERTs, skipped
on the durable path, and answers equal to a Python popcount whether or
not it compacted. And the values an INSERT takes: every literal kind
into every column type is accepted or rejected alike in memory and
durable, reads back alike live and restored, and lands as a local
relation."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys
import threading
import warnings

import pytest
from pyspark.sql import DataFrameWriter

from emdrive_spark import catalog, types
from emdrive_spark.engine import Engine
from emdrive_spark.functions.generators import ulid
from emdrive_spark.sql.errors import EmdriveValidationError

from .conftest import _live_dir, spark_jobs

# A three-column table with a METRIC KEY.
CREATE_RT5 = """
CREATE TABLE rt5 (
    hash UINT8 METRIC KEY USING mtree(hamming),
    url STRING(2048) PRIMARY KEY,
    width UINT32
)
"""


# -- crash windows of a fold and generations ----------------------------------


def _saved_rt5(engine, root):
    """rt5 with three rows, saved at ``root``; returns its live generation."""
    engine.execute(CREATE_RT5)
    engine.execute(
        "INSERT INTO rt5 (hash, url, width) VALUES (1, 'u1', 10), (2, 'u2', 20), (3, 'u3', 30)"
    )
    engine.catalog.save(root)
    return _live_dir(root, "rt5")


def _generations(root, table="rt5"):
    return sorted(g for g in os.listdir(os.path.join(root, "main", table)) if g.startswith("g-"))


def _leave_stale_gen(root):
    """What a crash mid-fold leaves: a newer ``g-*`` that ``_catalog.json``
    does not name, holding a junk part-file."""
    path = os.path.join(root, "main", "rt5", f"g-{ulid()}")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000-stale.parquet"), "wb") as f:
        f.write(b"not parquet")
    return path


def _urls(spark, root):
    fresh = Engine(spark)
    fresh.catalog.restore(root)
    return sorted(r["url"] for r in fresh.execute("SELECT url FROM rt5").collect())


def test_restore_drops_a_fold_left_unpublished(engine, spark, tmp_path, monkeypatch):
    """A crash between a fold writing its generation and save()
    publishing the json that names it loses no committed row and
    publishes no uncommitted one: restore() reads the generation the
    json names, and deletes the unpublished one."""
    root = str(tmp_path / "cat")
    published = _saved_rt5(engine, root)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u4', 40)")
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 0)  # the save folds

    def crash(*args):
        raise OSError("crash before publishing (simulated)")

    monkeypatch.setattr(catalog.os, "replace", crash)
    with pytest.raises(OSError, match="simulated"):
        engine.catalog.save(root)
    monkeypatch.undo()
    assert len(_generations(root)) == 2
    assert _live_dir(root, "rt5") == published
    assert _urls(spark, root) == ["u1", "u2", "u3"]
    assert _generations(root) == [os.path.basename(published)]


def test_stale_unpublished_generation_does_not_leak_into_save_or_restore(engine, spark, tmp_path):
    """A crash mid-fold leaves a stale ``g-*`` that the json does not
    name: the next save() appends to the live generation, not to it,
    and never reads it; a restore() beside a stale one reads only the
    committed table."""
    root = str(tmp_path / "cat")
    live = _saved_rt5(engine, root)
    stale = _leave_stale_gen(root)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u4', 40)")
    engine.catalog.save(root)
    assert _live_dir(root, "rt5") == live
    assert os.listdir(stale) == ["part-00000-stale.parquet"]
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]

    _leave_stale_gen(root)
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]
    assert _generations(root) == [os.path.basename(live)]


def test_frame_planned_before_a_fold_reads_after_it(spark, tmp_path, monkeypatch):
    """A kNN planned over a durable table's base, then run after an
    INSERT whose save folds the table into a new generation, still
    finds every file it lists: the retired generation is kept."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 100)
    root = str(tmp_path / "data")
    engine = Engine(spark, data_directory=root)
    engine.execute(CREATE_PHOTOS)
    engine.execute(_insert_sql((i, i * 7919) for i in range(500)))  # folds
    knn = "SELECT id, hash @ 3 AS d FROM photos ORDER BY d LIMIT 5"
    planned = engine.execute(knn)
    before = _generations(root, "photos")
    engine.execute(_insert_sql((i, i * 7919) for i in range(500, 650)))  # folds
    nearest = sorted(bin(i * 7919 ^ 3).count("1") for i in range(500))[:5]
    assert [r["d"] for r in planned.collect()] == nearest
    assert len(_generations(root, "photos")) == len(before) + 1


def test_retired_generation_is_deleted_only_once_old(spark, tmp_path, monkeypatch):
    """A fold's sweep keeps a generation its successor retired less than
    ``_RETIRED_KEEP_S`` ago; with that age at 0 the next fold's sweep
    deletes every retired one. The live generation, which the json
    names, is never deleted."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 0)  # every save folds
    root = str(tmp_path / "data")
    engine = Engine(spark, data_directory=root)
    engine.execute(CREATE_RT5)
    first = _generations(root)
    assert first == [os.path.basename(_live_dir(root, "rt5"))]
    _append_rows(engine, root, [(1, "u1", 10)])
    kept = _generations(root)
    assert len(kept) == 2 and kept[0] == first[0]
    assert kept[1] == os.path.basename(_live_dir(root, "rt5"))
    monkeypatch.setattr(catalog, "_RETIRED_KEEP_S", 0)
    _append_rows(engine, root, [(2, "u2", 20)])
    live = _live_dir(root, "rt5")
    assert _generations(root) == [os.path.basename(live)]
    assert engine.catalog.get("rt5").gen_path == live
    assert _urls(spark, root) == ["u1", "u2"]


def test_fold_whose_write_fails_leaves_no_generation(engine, spark, tmp_path, monkeypatch):
    """A fold whose Spark write fails midway deletes what it wrote: a
    generation that never held the table would otherwise count as the
    live one's successor, and date its retirement (``_sweep``)."""
    root = str(tmp_path / "cat")
    live = _saved_rt5(engine, root)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u4', 40)")
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 0)  # the save folds
    real = DataFrameWriter.parquet

    def write_then_fail(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        raise OSError("write failed (simulated)")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
    with pytest.raises(OSError, match="simulated"):
        engine.catalog.save(root)
    assert _generations(root) == [os.path.basename(live)]
    assert engine.catalog.get("rt5").gen_path == live


def test_flat_layout_without_generation_still_restores(engine, spark, tmp_path, monkeypatch):
    """A ``_catalog.json`` record without ``"generation"`` (the flat
    layout of saves before generations) names the table directory
    itself: it restores every row, takes appends there, and its first
    fold writes a generation, leaving the flat files where they are."""
    root = str(tmp_path / "cat")
    gen = _saved_rt5(engine, root)
    _append_rows(engine, root, [(4, "u4", 40)])
    table_dir = os.path.dirname(gen)
    for f in os.listdir(gen):
        os.rename(os.path.join(gen, f), os.path.join(table_dir, f))
    os.rmdir(gen)
    meta_path = os.path.join(root, "_catalog.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["rt5"]["generation"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    flat = sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]

    fresh = Engine(spark)
    fresh.catalog.restore(root)
    _append_rows(fresh, root, [(5, "u5", 50)])  # appended beside the flat files
    assert not _generations(root)
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4", "u5"]
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 1)
    _append_rows(fresh, root, [(6, "u6", 60)])  # folds into a generation
    assert _generations(root) == [os.path.basename(_live_dir(root, "rt5"))]
    assert set(flat) <= set(os.listdir(table_dir))
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4", "u5", "u6"]


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


# -- save() and restore() across engines and roots ------------------------------


def test_restore_insert_save_select_insert(spark, tmp_path):
    """A restored table's base scans the saved files, so a save that
    deleted them would leave every later action on the table (a SELECT,
    or the PK probe of the next INSERT) failing with
    FileNotFoundException until restart. Saves after a restore keep the
    live entry readable, and a second restore sees every saved row."""
    root = str(tmp_path / "cat")
    a = Engine(spark)
    a.execute(CREATE_RT5)
    a.execute("INSERT INTO rt5 (hash, url, width) VALUES (5, 'u1', 100)")
    a.catalog.save(root)

    b = Engine(spark)
    assert b.catalog.restore(root) == 1
    b.execute("INSERT INTO rt5 (hash, url, width) VALUES (9, 'u2', 300)")
    b.catalog.save(root)
    rows = b.execute("SELECT url, width FROM rt5 WHERE hash = 9").collect()
    assert [(r["url"], r["width"]) for r in rows] == [("u2", 300)]
    # the PK check of the next INSERT reads the table too
    b.execute("INSERT INTO rt5 (hash, url, width) VALUES (7, 'u3', 1)")
    b.catalog.save(root)
    assert b.execute("SELECT url FROM rt5").count() == 3

    c = Engine(spark)
    c.catalog.restore(root)
    assert c.execute("SELECT url FROM rt5").count() == 3


def test_save_while_never_restored_still_queryable(spark, tmp_path):
    """Two consecutive saves of a never-restored catalog leave the live
    entry readable: the first folds and re-points it at the new files,
    the second skips it."""
    root = str(tmp_path / "cat2")
    a = Engine(spark)
    a.execute(CREATE_RT5)
    a.execute("INSERT INTO rt5 (hash, url, width) VALUES (5, 'u1', 100)")
    a.catalog.save(root)
    a.catalog.save(root)
    assert a.execute("SELECT url FROM rt5").count() == 1


def test_incremental_save_skips_clean_tables(spark, tmp_path):
    """save() writes only tables with rows not yet on disk at the same
    root, so per-statement durability is O(changed table), not
    O(catalog). A different root takes a full pass."""
    root = str(tmp_path / "cat3")
    e = Engine(spark)
    e.execute(CREATE_RT5)
    e.execute(CREATE_RT5.replace("rt5", "rt5b"))
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (5, 'u1', 100)")
    e.execute("INSERT INTO rt5b (hash, url, width) VALUES (5, 'v1', 100)")
    e.catalog.save(root)

    def table_files(tbl):
        return sorted(os.listdir(_live_dir(root, tbl)))

    b_before = table_files("rt5b")
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (9, 'u2', 300)")
    e.catalog.save(root)
    assert table_files("rt5b") == b_before  # rt5b untouched
    f = Engine(spark)
    f.catalog.restore(root)
    assert f.execute("SELECT url FROM rt5").count() == 2
    assert f.execute("SELECT url FROM rt5b").count() == 1

    root2 = str(tmp_path / "cat4")
    e.catalog.save(root2)
    g = Engine(spark)
    g.catalog.restore(root2)
    assert g.execute("SELECT url FROM rt5").count() == 2
    assert g.execute("SELECT url FROM rt5b").count() == 1


def test_failed_save_to_second_root_does_not_poison_first(spark, tmp_path, monkeypatch):
    """save(A); INSERT; save(B) writes the table at B, then dies on a
    later table. The table's rows are then all on disk, but at B, so
    save(A) must not skip it: that would publish a _catalog.json at A
    whose snapshot misses the acknowledged INSERT. The skip keys on the
    entry's live generation, which the interrupted save(B) left under B, so
    save(A) rewrites the table."""
    root_a = str(tmp_path / "rootA")
    root_b = str(tmp_path / "rootB")
    e = Engine(spark)
    e.execute(CREATE_RT5)
    e.execute(CREATE_RT5.replace("rt5", "rt5z"))
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (5, 'u1', 100)")
    e.execute("INSERT INTO rt5z (hash, url, width) VALUES (5, 'z1', 100)")
    e.catalog.save(root_a)
    e.execute("INSERT INTO rt5 (hash, url, width) VALUES (9, 'u2', 300)")

    # save(B): rt5 writes cleanly, then rt5z's metadata fails mid-loop
    real_meta = catalog._entry_meta

    def exploding_meta(entry):
        if entry.name == "rt5z":
            raise RuntimeError("disk full (simulated)")
        return real_meta(entry)

    monkeypatch.setattr(catalog, "_entry_meta", exploding_meta)
    with pytest.raises(RuntimeError):
        e.catalog.save(root_b)
    monkeypatch.setattr(catalog, "_entry_meta", real_meta)

    e.catalog.save(root_a)
    f = Engine(spark)
    f.catalog.restore(root_a)
    assert f.execute("SELECT url FROM rt5").count() == 2  # both inserts


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


# -- delta files: crash windows, folds and type fidelity ------------------------


def _rt5_files(root, prefix, table="rt5"):
    return sorted(f for f in os.listdir(_live_dir(root, table)) if f.startswith(prefix))


def _append_rows(engine, root, rows):
    """One INSERT of ``(hash, url, width)`` rows, then save() at ``root``."""
    values = ", ".join(f"({h}, '{u}', {w})" for h, u, w in rows)
    engine.execute(f"INSERT INTO rt5 (hash, url, width) VALUES {values}")
    engine.catalog.save(root)


def test_stale_hidden_delta_tmp_is_ignored_and_gone_after_fold(engine, spark, tmp_path, monkeypatch):
    """A crash mid-append leaves a hidden ``.delta-<ulid>.tmp``: restore()
    reads past it, and the next fold's new generation holds no delta."""
    root = str(tmp_path / "cat")
    path = _saved_rt5(engine, root)
    _append_rows(engine, root, [(4, "u4", 40)])
    assert len(_rt5_files(root, "delta-")) == 1
    with open(os.path.join(path, ".delta-01STALE0000000000000000000.tmp"), "wb") as f:
        f.write(b"not parquet")
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]

    fresh = Engine(spark)
    fresh.catalog.restore(root)
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 1)
    _append_rows(fresh, root, [(5, "u5", 50)])  # two local rows: the save folds
    assert not [f for f in os.listdir(_live_dir(root, "rt5")) if "delta" in f]
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4", "u5"]


def test_restore_of_base_and_deltas_returns_every_row_then_folds(engine, spark, tmp_path, monkeypatch):
    """Each INSERT after a fold is one delta file beside the base. A
    restore loads the state those saves left: the base files as its
    base, with their PK range, and every delta row once, as local rows
    already on disk. So its first save is skipped, its next INSERT
    appends a delta, and a save past the local-row limit folds."""
    root = str(tmp_path / "cat")
    _saved_rt5(engine, root)
    base = _rt5_files(root, "part-")
    for i in range(4, 8):
        _append_rows(engine, root, [(i, f"u{i}", 10 * i)])
    assert len(_rt5_files(root, "delta-")) == 4
    assert _rt5_files(root, "part-") == base  # appends rewrite no base file
    assert _urls(spark, root) == [f"u{i}" for i in range(1, 8)]

    fresh = Engine(spark)
    fresh.catalog.restore(root)
    entry = fresh.catalog.get("rt5")
    assert entry.flushed == len(entry.local_rows) == 4
    assert entry.pk_range == ("u1", "u3")
    fresh.catalog.save(root)  # clean: skipped, nothing rewritten
    assert len(_rt5_files(root, "delta-")) == 4
    _append_rows(fresh, root, [(8, "u8", 80)])
    assert len(_rt5_files(root, "delta-")) == 5 and _rt5_files(root, "part-") == base
    assert entry.flushed == 5
    assert _urls(spark, root) == [f"u{i}" for i in range(1, 9)]
    # past the limit the save folds, and the live entry keeps appending
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 5)
    _append_rows(fresh, root, [(9, "u9", 90)])
    assert not _rt5_files(root, "delta-") and _rt5_files(root, "part-") != base
    assert entry.flushed == 0
    _append_rows(fresh, root, [(10, "u10", 100)])
    assert len(_rt5_files(root, "delta-")) == 1
    assert fresh.execute("SELECT COUNT(*) AS n FROM rt5").collect()[0]["n"] == 10
    assert _urls(spark, root) == sorted(f"u{i}" for i in range(1, 11))


def test_save_to_second_root_after_appends_is_complete(engine, spark, tmp_path):
    """After appends at one root, save() to another root writes a whole
    snapshot there (a fold), not the latest delta alone; the first root
    stays complete and takes a fold on its next save."""
    root_a, root_b = str(tmp_path / "a"), str(tmp_path / "b")
    _saved_rt5(engine, root_a)
    _append_rows(engine, root_a, [(4, "u4", 40)])
    _append_rows(engine, root_a, [(5, "u5", 50)])
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (6, 'u6', 60)")
    engine.catalog.save(root_b)
    every = ["u1", "u2", "u3", "u4", "u5", "u6"]
    assert _urls(spark, root_b) == every
    assert not _rt5_files(root_b, "delta-")
    assert _urls(spark, root_a) == every[:5]
    engine.catalog.save(root_a)
    assert _urls(spark, root_a) == every


def test_compacted_durable_table_folds_on_next_save(engine, spark, tmp_path, monkeypatch):
    """A read that compacts a durable table between an INSERT and its
    save() folds the unsaved rows into a checkpoint base; the next save
    must then rewrite the table, not append an empty delta."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 3)
    root = str(tmp_path / "cat")
    engine.execute(CREATE_RT5)
    engine.catalog.save(root)
    _append_rows(engine, root, [(1, "u1", 10), (2, "u2", 20)])
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u3', 30), (4, 'u4', 40)")
    engine.execute("SELECT url FROM rt5").collect()  # compacts: 4 local rows > 3
    assert engine.catalog.get("rt5").local_rows.num_rows == 0
    engine.catalog.save(root)
    assert _urls(spark, root) == ["u1", "u2", "u3", "u4"]


CREATE_TYPES = """
CREATE TABLE typed (
    id UINT32 PRIMARY KEY,
    u8 UINT8, u16 UINT16, u64 UINT64, u128 UINT128,
    maybe NULLABLE(UINT32), note NULLABLE(STRING(8)),
    label STRING(16), digest BINARY,
    made TIMESTAMP, seen TIMESTAMP
)
"""


def test_delta_file_types_round_trip(spark, tmp_path):
    """Every emdrive type a delta file carries reads back through
    restore() equal, by value and Spark dtype, to the live table the
    INSERT built in memory: the unsigned widths at their maxima, NULLs,
    strings, binary hashes, and timestamps from NOW() and from an ISO
    literal at microseconds."""
    root = str(tmp_path / "cat")
    engine = Engine(spark, data_directory=root)
    engine.execute(CREATE_TYPES)
    cols = "id, u8, u16, u64, u128, maybe, note, label, digest, made, seen"
    engine.execute(
        f"INSERT INTO typed ({cols}) VALUES "
        f"(1, 255, 65535, {2**64 - 1}, {10**38 - 1}, NULL, NULL, 'it\\'s', "
        f"{2**128 - 1}, NOW(), '2024-02-29T23:59:59.123456'), "
        f"(2, 0, 0, 0, 0, {2**32 - 1}, 'n', '', 0, NOW(), '1970-01-01T00:00:00.000001')"
    )
    assert _rt5_files(root, "delta-", "typed"), "the rows must have been appended"
    live = engine.execute(f"SELECT {cols} FROM typed")
    fresh = Engine(spark)
    fresh.catalog.restore(root)
    restored = fresh.execute(f"SELECT {cols} FROM typed")
    assert fresh.catalog.get("typed").local_rows == engine.catalog.get("typed").local_rows
    assert restored.dtypes == live.dtypes
    assert sorted(map(tuple, restored.collect())) == sorted(map(tuple, live.collect()))
    row = {r["id"]: r for r in restored.collect()}[1]
    assert row["u64"] == 2**64 - 1 and row["u128"] == 10**38 - 1
    assert row["maybe"] is None and row["note"] is None
    assert row["digest"] == b"\xff" * 16
    assert row["seen"].microsecond == 123456


# -- the PK check: local rows on the driver, the base in one probe ---------------


@pytest.mark.parametrize("durable", [False, True], ids=["in_memory", "durable"])
@pytest.mark.parametrize("in_list_max", [catalog._PK_IN_LIST_MAX, 0], ids=["in_list", "semi_join"])
def test_pk_clash_against_base_local_and_batch(spark, tmp_path, monkeypatch, durable, in_list_max):
    """A key already in the base, one in the not-yet-folded local rows
    (a delta file on the durable path) and a key twice in one batch
    each raise the typed 400, through either form of the base probe,
    and leave the table as it was."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 3)
    monkeypatch.setattr(catalog, "_PK_IN_LIST_MAX", in_list_max)
    engine = Engine(spark, data_directory=str(tmp_path / "data") if durable else None)
    engine.execute(CREATE_PHOTOS)
    engine.execute(_insert_sql([(i, i) for i in range(4)]))  # past the limit
    engine.execute(_insert_sql([(10, 1), (11, 2)]))  # folds the first four
    entry = engine.catalog.get("photos")
    assert entry.base is not None and len(entry.local_rows) == 2
    for clash, message in [
        ([(20, 0), (2, 0)], "already exists"),  # base
        ([(21, 0), (11, 0)], "already exists"),  # local rows
        ([(22, 0), (22, 1)], "Duplicate PRIMARY KEY"),  # the batch itself
    ]:
        with pytest.raises(EmdriveValidationError, match=message):
            engine.execute(_insert_sql(clash))
    ids = sorted(r["id"] for r in engine.execute("SELECT id FROM photos").collect())
    assert ids == [0, 1, 2, 3, 10, 11]


def _q(text):
    """A dialect string literal: backslash escapes, as the tokenizer reads them."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def test_pk_in_list_literals_are_exact(engine, spark, monkeypatch):
    """String keys reach the base probe as hex literals, so quotes,
    backslashes, newlines and non-ASCII text clash exactly and only
    with themselves; binary and UINT64 literals read back as the value."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 0)  # every check probes the base
    engine.execute("CREATE TABLE keyed (k STRING(32) PRIMARY KEY, n UINT8)")
    keys = ["it's", "a\\b", "a\\nb", "a\nb", "é😀", "%_"]
    engine.execute("INSERT INTO keyed (k, n) VALUES " + ", ".join(f"({_q(k)}, 0)" for k in keys))
    for k in keys:
        with pytest.raises(EmdriveValidationError, match="already exists"):
            engine.execute(f"INSERT INTO keyed (k, n) VALUES ({_q(k)}, 1)")
    near = ["its", "a\\\\b", "ab", "é", "%"]
    engine.execute("INSERT INTO keyed (k, n) VALUES " + ", ".join(f"({_q(k)}, 2)" for k in near))
    got = sorted(r["k"] for r in engine.execute("SELECT k FROM keyed").collect())
    assert got == sorted(keys + near)
    for value in ["a'b\\", b"\x00'", 2**64 - 1, -(2**63), 10**38 - 1, 3.5, 1e300, True, None]:
        assert spark.sql(f"SELECT {catalog._sql_literal(value)} AS v").collect()[0]["v"] == value


# -- INSERT values: one Arrow conversion feeds the check, the relation, the disk ----


def test_insert_batch_is_local_relation(engine):
    """A VALUES batch lands as an Arrow-backed LocalTableScan, not a
    parallelized python RDD: the RDD form schedules defaultParallelism
    near-empty python tasks per downstream stage (~0.4 s/action on
    local[32] vs ~0.07 s — the difference is the whole statement-latency
    budget). A rejected INSERT (an int into a STRING column) leaves the
    table's next INSERT a local relation too."""
    engine.execute(CREATE_RT5)

    def plan():
        qe = engine.catalog.get("rt5").df._jdf.queryExecution()
        return qe.analyzed().toString() + qe.executedPlan().toString()

    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u1', 10)")
    assert "Scan ExistingRDD" not in plan(), plan()
    with pytest.raises(EmdriveValidationError, match="Invalid value"):
        engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 5, 10)")
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (5, 'u2', 11)")
    after = plan()
    assert "LocalRelation" in after and "LogicalRDD" not in after, after
    assert "Scan ExistingRDD" not in after, after


def test_uint_decimal_overflow_rejected_at_insert(engine):
    """A UINT128 value above the DECIMAL(38,0) storage ceiling is a
    typed validation error AT INSERT TIME, not a row that every later
    statement on the table fails over with a runtime decimal overflow."""
    engine.execute("CREATE TABLE rtof (id UINT32 PRIMARY KEY, big UINT128)")
    with pytest.raises(EmdriveValidationError, match="DECIMAL"):
        engine.execute(f"INSERT INTO rtof (id, big) VALUES (1, {(1 << 128) - 1})")
    # max storable value round-trips; the table stays healthy
    engine.execute(f"INSERT INTO rtof (id, big) VALUES (1, {10**38 - 1})")
    assert engine.execute("SELECT id FROM rtof").count() == 1


def test_pk_clash_still_caught_after_fast_path(engine):
    """The first INSERT into an empty table probes no base; the second
    INSERT must still catch a duplicate PK among the local rows."""
    engine.execute(CREATE_RT5)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u1', 10)")
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u1', 11)")


def test_pk_clash_with_a_local_row_builds_no_local_relation(engine, monkeypatch):
    """A clash against a local row is found in Arrow before the INSERT
    builds its local relation: no createDataFrame, and the table is left
    as it was."""
    engine.execute(CREATE_RT5)
    engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (3, 'u1', 10), (5, 'u2', 12)")
    frames = []
    build = engine.catalog._local_frame
    monkeypatch.setattr(engine.catalog, "_local_frame", lambda *a: frames.append(a) or build(*a))
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute("INSERT INTO rt5 (hash, url, width) VALUES (4, 'u3', 11), (6, 'u2', 13)")
    assert frames == []
    rows = engine.execute("SELECT url, width FROM rt5").collect()
    assert sorted((r["url"], r["width"]) for r in rows) == [("u1", 10), ("u2", 12)]


@pytest.mark.parametrize(
    "etype, literal", [("UINT32", "3.5"), ("UINT64", "1.5"), ("UINT8", "'7'")]
)
def test_uint_column_takes_only_integers(engine, etype, literal):
    """A float or a string into an unsigned column is a typed 400 naming
    the column, where Arrow would store a float truncated (3.5 as 3)."""
    engine.execute(f"CREATE TABLE u (id UINT32 PRIMARY KEY, v {etype})")
    engine.execute("INSERT INTO u (id, v) VALUES (1, 2)")
    with pytest.raises(EmdriveValidationError, match="Column v"):
        engine.execute(f"INSERT INTO u (id, v) VALUES (2, {literal})")
    assert [tuple(r) for r in engine.execute("SELECT id, v FROM u").collect()] == [(1, 2)]


def _table_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def test_durable_int_into_string_column_is_a_400(spark, tmp_path):
    """An int into a STRING column of a durable table is a typed 400
    that leaves reads, disk and a restore as they were, and the table
    goes on taking INSERTs: the row is rejected by the one conversion
    the live relation and the delta file share, not accepted in memory
    and then refused by every later save."""
    root = str(tmp_path / "data")
    engine = Engine(spark, data_directory=root)
    engine.execute("CREATE TABLE t (id UINT32 PRIMARY KEY, s STRING)")
    engine.execute("INSERT INTO t (id, s) VALUES (1, 'a')")
    files = _table_files(root)
    with pytest.raises(EmdriveValidationError, match="Invalid value"):
        engine.execute("INSERT INTO t (id, s) VALUES (2, 5)")
    assert _table_files(root) == files
    engine.execute("INSERT INTO t (id, s) VALUES (3, 'c')")
    fresh = Engine(spark)
    fresh.catalog.restore(root)
    for e in (engine, fresh):
        assert sorted(map(tuple, e.execute("SELECT id, s FROM t").collect())) == [(1, "a"), (3, "c")]


@pytest.mark.parametrize("shape", ["in_memory", "durable", "one_batch"])
def test_timestamp_key_with_utc_offset_clashes_with_naive(spark, tmp_path, shape):
    """The same instant written with a ``+00:00`` offset and without one
    is one TIMESTAMP key: against a local row in memory or on the
    durable path, and twice inside one batch."""
    engine = Engine(spark, data_directory=str(tmp_path / "data") if shape == "durable" else None)
    engine.execute("CREATE TABLE events (at TIMESTAMP PRIMARY KEY, n UINT8)")
    aware, naive = "'2024-01-01T00:00:00+00:00'", "'2024-01-01T00:00:00'"
    if shape == "one_batch":
        with pytest.raises(EmdriveValidationError, match="Duplicate"):
            engine.execute(f"INSERT INTO events (at, n) VALUES ({aware}, 1), ({naive}, 2)")
        held = []
    else:
        engine.execute(f"INSERT INTO events (at, n) VALUES ({aware}, 1)")
        with pytest.raises(EmdriveValidationError, match="already exists"):
            engine.execute(f"INSERT INTO events (at, n) VALUES ({naive}, 2)")
        held = [(dt.datetime(2024, 1, 1), 1)]
    assert [tuple(r) for r in engine.execute("SELECT at, n FROM events").collect()] == held


# Every literal kind the dialect has, and what each column type reads
# back for the ones it takes; any other kind is a typed 400. VECTOR has
# no literal. "string" is an ISO instant for TIMESTAMP, a UUID for UUID.
_LITERALS = {
    "int": "5", "neg_int": "-5", "float": "3.5", "string": "'7'", "true": "TRUE",
    "hex": "0x1f", "null": "NULL", "now": "NOW()", "ulid": "ULID()",
}
_STRING_LITERAL = {
    "TIMESTAMP": "'2024-01-01T02:00:00'",
    "UUID": "'0190a3c4-5b6d-7e8f-9a0b-1c2d3e4f5a6b'",
}
_ANY = object()  # accepted: NOW() and ULID() differ per run
_UINT = {"int": 5, "true": 1, "hex": 31, "null": None}
_FLOAT = {"int": 5.0, "neg_int": -5.0, "float": 3.5, "true": 1.0, "hex": 31.0, "null": None}
_ACCEPTED = {
    "UINT8": _UINT, "UINT16": _UINT, "UINT32": _UINT, "UINT64": _UINT, "UINT128": _UINT,
    "BOOL": {"true": True, "null": None},
    "TIMESTAMP": {
        "string": dt.datetime(2024, 1, 1, 2),
        "string_tz": dt.datetime(2024, 1, 1),  # '...T02:00:00+02:00', in UTC
        "now": _ANY,
        "null": None,
    },
    "UUID": {"string": "0190a3c4-5b6d-7e8f-9a0b-1c2d3e4f5a6b", "ulid": _ANY, "null": None},
    "STRING": {"string": "7", "ulid": _ANY, "null": None},
    "FLOAT32": _FLOAT,
    "FLOAT64": _FLOAT,
    "BINARY": {
        "int": bytes(15) + b"\x05",
        "string": b"7",
        "hex": bytes(15) + b"\x1f",
        "ulid": _ANY,
        "null": None,
    },
}


@pytest.mark.parametrize("durable", [False, True], ids=["in_memory", "durable"])
@pytest.mark.parametrize("etype", [t for t in types._BASE if t != "VECTOR"])
def test_insert_values_read_back_alike_live_and_restored(spark, tmp_path, etype, durable):
    """Each literal kind into a NULLABLE column of each type is accepted
    or rejected alike in memory and durable. An accepted value reads
    back as pinned, in the column's Spark dtype, live and after a
    restore; a rejected one is a typed 400 that changes neither reads
    nor the files on disk. No INSERT takes Spark's non-Arrow fallback
    (it warns)."""
    literals = dict(_LITERALS, string=_STRING_LITERAL.get(etype, "'7'"))
    if etype == "TIMESTAMP":
        literals["string_tz"] = "'2024-01-01T02:00:00+02:00'"
    accepted = _ACCEPTED[etype]
    root = str(tmp_path / "data")
    engine = Engine(spark, data_directory=root if durable else None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        engine.execute(f"CREATE TABLE p (id UINT32 PRIMARY KEY, v NULLABLE({etype}))")

        def state():
            rows = engine.execute("SELECT id, v FROM p").collect()
            return sorted(map(tuple, rows)), (_table_files(root) if durable else None)

        for n, (kind, literal) in enumerate(literals.items()):
            sql = f"INSERT INTO p (id, v) VALUES ({n}, {literal})"
            if kind in accepted:
                engine.execute(sql)
                continue
            before = state()
            with pytest.raises(EmdriveValidationError):
                engine.execute(sql)
            assert state() == before, kind

        live = engine.execute("SELECT id, v FROM p")
        got = {r["id"]: r["v"] for r in live.collect()}
        want = {n: accepted[k] for n, k in enumerate(literals) if k in accepted}
        assert set(got) == set(want)
        for n, value in want.items():
            assert value is _ANY or got[n] == value, n
        dtype = types.parse_type(etype).spark_type.simpleString()
        assert live.dtypes == [("id", "bigint"), ("v", dtype)]

        if not durable:
            engine.catalog.save(root)
        fresh = Engine(spark)
        fresh.catalog.restore(root)
        restored = fresh.execute("SELECT id, v FROM p")
        assert restored.dtypes == live.dtypes
        assert {r["id"]: r["v"] for r in restored.collect()} == got
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


# -- the base's PK range: keys outside it skip the probe ---------------------------


def _keyed_insert(engine, keys):
    values = ", ".join(f"({k}, 0)" for k in keys)
    engine.execute(f"INSERT INTO keyed (k, n) VALUES {values}")


def _keyed_base(spark, tmp_path, monkeypatch, durable, ktype, keys):
    """Table ``keyed`` whose base holds ``keys`` (SQL literals) and no
    local row: the durable save folds them, in memory a read compacts."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", len(keys) - 1)
    engine = Engine(spark, data_directory=str(tmp_path / "data") if durable else None)
    engine.execute(f"CREATE TABLE keyed (k {ktype} PRIMARY KEY, n UINT8)")
    _keyed_insert(engine, keys)
    engine.catalog.compact()
    entry = engine.catalog.get("keyed")
    assert entry.base is not None and not entry.local_rows
    return engine, entry


def _stored_keys(engine):
    return [r["k"] for r in engine.execute("SELECT k FROM keyed").collect()]


_FF16 = "0x" + "ff" * 16


@pytest.mark.parametrize("durable", [False, True], ids=["in_memory", "durable"])
@pytest.mark.parametrize(
    "ktype, base, outside",
    [
        ("UINT32", ["10", "20", "30"], ["9", "31"]),
        ("UINT64", ["5", str(2**63), str(2**64 - 1)], ["4"]),
        ("UINT128", ["5", str(2**64), str(10**38 - 1)], ["4"]),
        # code-point order, which is UTF-8 byte order (Spark's
        # UTF8_BINARY) and not UTF-16's: there U+1F600 sorts below U+FFFF
        ("STRING(8)", ["'é'", "'\uffff'", "'😀'"], ["'è'", "'😁'", "'😀a'"]),
        # unsigned bytes: 0xff... is the largest key, not a negative one
        ("BINARY", ["1", "0x" + "80" + "00" * 15, _FF16], ["0"]),
    ],
    ids=["uint32", "uint64", "uint128", "string", "binary"],
)
def test_pk_range_edges_clash_and_keys_outside_pass(
    spark, tmp_path, monkeypatch, durable, ktype, base, outside
):
    """The base's PK range holds its exact min and max (from the fold's
    parquet footers on the durable path, from the compacted rows in
    memory), in the order Spark compares keys: a key equal to either
    edge raises the typed 400, and the keys just outside are accepted."""
    engine, entry = _keyed_base(spark, tmp_path, monkeypatch, durable, ktype, base)
    stored = _stored_keys(engine)
    assert entry.pk_range == (min(stored), max(stored))
    for edge in (base[0], base[-1]):
        with pytest.raises(EmdriveValidationError, match="already exists"):
            _keyed_insert(engine, [edge])
    for key in outside:
        _keyed_insert(engine, [key])
    assert len(_stored_keys(engine)) == len(base) + len(outside)


_EMPTY_BASE_CASES = [
    (CREATE_PHOTOS, _insert_sql([(1, 1), (2, 2)]), _insert_sql([(2, 3)]), "photos"),
    # a key type whose Python order is not Spark's: no range once rows
    # are held, but an empty base still prunes every key
    (
        "CREATE TABLE events (at TIMESTAMP PRIMARY KEY, n UINT8)",
        "INSERT INTO events (at, n) VALUES ('2024-01-01T00:00:00', 1), ('2024-01-02T00:00:00', 2)",
        "INSERT INTO events (at, n) VALUES ('2024-01-02T00:00:00', 3)",
        "events",
    ),
]


@pytest.mark.parametrize(
    "create, first, clash, table", _EMPTY_BASE_CASES, ids=["uint32", "timestamp"]
)
def test_empty_durable_base_prunes_every_key(spark, tmp_path, create, first, clash, table):
    """A durable CREATE folds an empty base, whose footers hold no row
    group: its PK range is empty whatever the key type, so the first
    INSERT runs no Spark job, and a later clash is still caught among
    the local rows."""
    engine = Engine(spark, data_directory=str(tmp_path / "data"))
    engine.execute(create)
    entry = engine.catalog.get(table)
    assert entry.base is not None and entry.pk_range == ()
    assert spark_jobs(spark, f"empty-base-{table}", lambda: engine.execute(first)) == 0
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute(clash)


def test_timestamp_key_base_with_rows_has_no_range(spark, tmp_path, monkeypatch):
    """Once a fold or a compaction puts rows of an unordered key type
    (TIMESTAMP) in the base, the range is unknown and every key goes to
    the probe, on the durable path and in memory."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 1)
    values = "('2024-01-01T00:00:00', 1), ('2024-01-02T00:00:00', 2)"
    for data in (str(tmp_path / "data"), None):
        engine = Engine(spark, data_directory=data)
        engine.execute("CREATE TABLE events (at TIMESTAMP PRIMARY KEY, n UINT8)")
        engine.execute(f"INSERT INTO events (at, n) VALUES {values}")
        engine.catalog.compact()
        entry = engine.catalog.get("events")
        assert entry.base is not None and not entry.local_rows and entry.pk_range is None
        with pytest.raises(EmdriveValidationError, match="already exists"):
            engine.execute("INSERT INTO events (at, n) VALUES ('2024-01-02T00:00:00', 3)")


def test_fold_that_cannot_read_its_footers_keeps_no_stale_range(spark, tmp_path, monkeypatch):
    """A fold drops the old PK range before it swaps in the new base. If
    reading the new footers then fails, the range is unknown, not the
    old, narrower one over a base that now also holds the folded rows
    (no longer local rows), so a clash with one of them is still caught."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 2)
    engine = Engine(spark, data_directory=str(tmp_path / "data"))
    engine.execute(CREATE_PHOTOS)
    engine.execute(_insert_sql([(0, 0), (1, 1), (2, 2)]))  # folds
    assert engine.catalog.get("photos").pk_range == (0, 2)

    def unreadable(*args):
        raise OSError("footer read failed")

    monkeypatch.setattr(catalog, "_footer_pk_range", unreadable)
    with pytest.raises(OSError, match="footer read failed"):
        engine.execute(_insert_sql([(5, 5), (6, 6), (7, 7)]))  # folds, then fails
    entry = engine.catalog.get("photos")
    assert entry.pk_range is None and not entry.local_rows
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute(_insert_sql([(7, 0)]))


def test_restored_table_catches_a_clash_at_its_max_key(engine, spark, tmp_path, monkeypatch):
    """A restore takes the base's PK range from its footers and the
    delta files' rows as local rows, so a key at the restored table's
    max, held only in a delta file, still clashes, as does one at the
    base's max, in the engine that saved it and in a fresh one. The
    next save appends and leaves the range as it was."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 2)
    root = str(tmp_path / "data")
    saver = Engine(spark, data_directory=root)
    saver.execute(CREATE_PHOTOS)
    saver.execute(_insert_sql([(0, 0), (1, 1), (2, 2)]))  # folds
    saver.execute(_insert_sql([(7, 7)]))  # a delta file
    assert saver.catalog.get("photos").pk_range == (0, 2)
    for e in (saver, engine):
        e.catalog.restore(root)
        assert e.catalog.get("photos").pk_range == (0, 2)
        for key in (7, 2):
            with pytest.raises(EmdriveValidationError, match="already exists"):
                e.execute(_insert_sql([(key, 0)]))
    saver.execute(_insert_sql([(8, 8)]))  # two local rows: appended
    path = _live_dir(root, "photos")
    assert len([f for f in os.listdir(path) if f.startswith("delta-")]) == 2
    assert saver.catalog.get("photos").pk_range == (0, 2)


@pytest.mark.parametrize("durable", [False, True], ids=["in_memory", "durable"])
def test_restored_timestamp_key_in_a_delta_clashes(spark, tmp_path, durable):
    """A TIMESTAMP key held only in a delta file clashes after a restore
    into an in-memory or a durable engine: the restored local rows are
    the delta file's Arrow table, in the same schema an INSERT converts
    its batch into, so the PK check compares the two as instants."""
    root = str(tmp_path / "data")
    at = "'2024-01-02T03:04:05.678901'"
    saver = Engine(spark, data_directory=root)
    saver.execute("CREATE TABLE events (at TIMESTAMP PRIMARY KEY, n UINT8)")
    saver.execute(f"INSERT INTO events (at, n) VALUES ({at}, 1)")
    assert _rt5_files(root, "delta-", "events")
    engine = Engine(spark, data_directory=root if durable else None)
    engine.catalog.restore(root)
    with pytest.raises(EmdriveValidationError, match="already exists"):
        engine.execute(f"INSERT INTO events (at, n) VALUES ({at}, 2)")
    assert engine.execute("SELECT COUNT(*) AS n FROM events").collect()[0]["n"] == 1


def test_base_without_footer_stats_falls_back_to_the_probe(spark, tmp_path, monkeypatch):
    """parquet-mr writes no min/max for a row group whose min and max
    together pass 4 KiB, so a base of long string keys (2,201 UTF-8
    bytes each) has no known PK range: every key goes to the probe, and
    clashes at its edges are caught."""
    long = [c + "é" * 1100 for c in "abc"]
    engine, entry = _keyed_base(
        spark, tmp_path, monkeypatch, True, "STRING(2048)", [f"'{k}'" for k in long]
    )
    assert entry.pk_range is None
    for key in (long[0], long[-1]):
        with pytest.raises(EmdriveValidationError, match="already exists"):
            _keyed_insert(engine, [f"'{key}'"])
    _keyed_insert(engine, [f"'{'d' + 'é' * 1100}'"])
    assert len(_stored_keys(engine)) == 4


# -- reads racing appends and folds ---------------------------------------------


def _race_reads_with_inserts(spark, root, inserts):
    """Durable 50-row INSERTs into a fresh photos table at ``root``
    while a reader runs kNN; returns the reader's errors and the row
    counts of its reads."""
    per_insert = 50
    engine = Engine(spark, data_directory=root)
    engine.execute(CREATE_PHOTOS)
    errors, reads = [], []
    done = threading.Event()

    def read():
        try:
            while not done.is_set():
                rows = engine.execute("SELECT id, hash @ 3 AS d FROM photos ORDER BY d LIMIT 5").collect()
                reads.append(len(rows))
        except Exception as exc:  # surfaced by the caller's assert
            errors.append(exc)

    reader = threading.Thread(target=read)
    reader.start()
    try:
        for b in range(inserts):
            ids = range(b * per_insert, (b + 1) * per_insert)
            engine.execute(_insert_sql((i, i * 7919) for i in ids))
    finally:
        done.set()
        reader.join(timeout=300)
    assert not reader.is_alive()
    n = inserts * per_insert
    assert engine.execute("SELECT COUNT(*) AS n FROM photos").collect()[0]["n"] == n
    return errors, reads


def test_reads_racing_appends_never_fail(spark, tmp_path, monkeypatch):
    """A reader running kNN while durable 50-row INSERTs land sees no
    error: an append deletes no file, so a read planned over the frame
    before it still finds every file it lists. The local-row limit is
    raised so that every save appends."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 10**6)
    root = str(tmp_path / "data")
    errors, reads = _race_reads_with_inserts(spark, root, inserts=12)
    assert not errors, errors
    assert len(reads) > 1
    path = _live_dir(root, "photos")
    assert len([f for f in os.listdir(path) if f.startswith("delta-")]) == 12


def test_reads_racing_folds_never_fail(spark, tmp_path, monkeypatch):
    """The same reader sees no error while folds land: a fold writes a
    new generation and the retired one outlives it, so a read planned
    over the old base still finds every file it lists. The local-row
    limit is lowered so that every third INSERT folds, and the
    generations left on disk count the folds."""
    monkeypatch.setattr(catalog, "_LOCAL_ROWS_MAX", 100)
    root = str(tmp_path / "data")
    errors, reads = _race_reads_with_inserts(spark, root, inserts=12)
    assert not errors, errors
    assert len(reads) > 1
    assert len(_generations(root, "photos")) >= 1 + 3  # CREATE's, then the folds
