"""The catalog's durable save/restore: the crash windows of save()'s
atomic directory swap, a table left under ``<table>__old`` and a stale
``<table>__tmp``."""

from __future__ import annotations

import os

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
