"""System catalog: table definitions + data registration.

Mirrors the reference's ``system.tables`` / ``system.columns`` bootstrap
(/root/reference/src/storage/system.rs:3-91,
/root/reference/src/executor/mod.rs:64-71) with the extra metadata Spark
can't natively store: primary key, metric key + metric, defaults,
emdrive nullability (SURVEY §1.1).

Storage model: each table is a DataFrame registered as a temp view
under the table's name (Spark DataFrames are immutable, so a mutation
swaps in a new frame and re-registers the view). The frame is at most
two leaves: a compacted base (an executor-side checkpoint of
``defaultParallelism`` partitions, or a parquet scan) and ONE local
relation holding every row INSERTed since. The entry keeps those rows
on the driver as one Arrow table in the table's Arrow schema, and an
INSERT converts its values into it once: the PK check compares in it,
the local relation is built from it, and a durable save writes its
tail as a delta file, so the three never disagree on a value.
Catalyst evaluates a read's projection over that local relation on the
driver, with no Spark job; that is the cheaper read while the local
rows are few, and the dearer one past ``_LOCAL_ROWS_MAX``. So the next
read through the catalog (``Catalog.scan``, ``Catalog.compact``, or the
PK check of the next INSERT) folds a table past that size into a new
base (``_compact``).

A durable catalog (``save``/``restore``) keeps the same two leaves. On
disk a table is a *generation* ``<table>/g-<ulid>/`` of base files and
delta files, and ``_catalog.json`` names each table's live one.
``save()`` appends the local rows not yet on disk to it as one
``delta-<ulid>.parquet`` (written on the driver by pyarrow, no Spark
job), so a durable INSERT writes O(batch) bytes, like the reference
writing the page it touches. Once the local rows pass
``_LOCAL_ROWS_MAX`` the next save *folds*: it writes base + deltas as
a new generation of ``defaultParallelism`` PK-range-partitioned,
PK-sorted files and reads them back as the new base, so a durable table
never compacts. No file is renamed or deleted under a frame: a retired
generation outlives its fold by ``_RETIRED_KEEP_S``. A fold and
``restore()`` load a generation one way (``Catalog._load``): the base
files are the base, and the delta files' rows are the local rows, so a
restored table is in the state its last save left, and its next INSERT
appends.

The PK check of an INSERT prunes like the reference's B+tree descent:
each entry keeps its base's PK ``[min, max]`` (read from the fold's
parquet footers, or widened by a compaction's local rows), and a batch
key outside it needs no probe of the base, so an INSERT of fresh
ascending keys (the time-ordered ``ULID()`` default) runs no Spark job.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.functions.generators import ulid, ulid_ms
from emdrive_spark.sql import ast
from emdrive_spark.sql.errors import EmdriveValidationError
from emdrive_spark.types import EmdriveType, parse_type

DEFAULT_SCHEMA = "main"

# Local rows past which a read compacts a table (Catalog._compact).
# Over one local relation of n rows a kNN or radius read costs the
# driver's interpreted projection, which grows with n; over a
# checkpoint it costs a defaultParallelism-task job whatever n is. On
# a 4-vCPU host the two cost the same near 2,000 rows (local ahead at
# 500, checkpoint ahead at 4,000). Below it a table is never
# compacted: CREATE, a small INSERT and a SELECT run no extra job.
_LOCAL_ROWS_MAX = 2_000

# Batch keys inside the base's PK range past which the PK check against
# the base is a semi-join, not an IN list (Catalog._pk_taken). Measured
# with keys inside that range (keys outside it are dropped first and
# probe nothing), over a 20,000-row parquet base on a 4-vCPU host, in a
# served session: 50 keys 84 ms (IN, one job) against 141 ms
# (semi-join, two jobs), 1,000 keys 124 against 145 ms, 2,000 keys 188
# against 137 ms; past the crossing the optimizer's passes over the IN
# list cost more than the build job.
_PK_IN_LIST_MAX = 1_000

# Seconds a durable table's retired generation outlives the fold that
# retired it (Catalog._sweep): a frame planned over it before the fold
# can still read its files for that long.
_RETIRED_KEEP_S = 60


@dataclass
class TableEntry:
    name: str
    schema_name: str
    columns: tuple[ast.ColumnDef, ...]
    df: DataFrame
    # Rows INSERTed since base was set, as ONE single-chunk Arrow table
    # in the table's Arrow schema (to_arrow_schema(spark_schema(...))),
    # which each INSERT extends and builds into ONE local relation: df
    # is base ∪ that relation (or either alone), so lineage stays at
    # two leaves however many INSERTs land.
    local_rows: pa.Table
    # df's compacted leaf (a checkpoint or a parquet scan); None while
    # every row the table holds is in local_rows.
    base: DataFrame | None = None
    # The generation directory (<root>/<schema>/<table>/g-<ulid>) base
    # reads and appends go to; None before a save or restore. A save to
    # a root it is not under folds, even after a save elsewhere threw
    # midway (a skip would publish a _catalog.json missing acked rows).
    gen_path: str | None = None
    # How many of local_rows (a prefix) are on disk in gen_path as delta
    # files (it is clean when all are); None while base is not exactly
    # gen_path's base files (never saved, or compacted): save() folds.
    flushed: int | None = None
    # [min, max] of base's primary key, () while base holds no rows (or
    # there is none), None when not known: a base with rows whose key
    # type has a Python order that is not Spark's (_ordered_key), a
    # parquet row group without min/max statistics. _pk_taken probes the
    # base only for batch keys inside it. Set by _load from the footers
    # of the base files (None from the start of a fold until then) and
    # widened by _compact with the local rows it folds in, so it is
    # exact, never stale.
    pk_range: tuple | None = None

    @property
    def oversized(self) -> bool:
        """More local rows than a driver-side read should evaluate:
        the next read compacts the table (Catalog._compact), and the
        next save() of a durable one folds it (Catalog._fold)."""
        return len(self.local_rows) > _LOCAL_ROWS_MAX

    @property
    def pk(self) -> ast.ColumnDef:
        return next(c for c in self.columns if c.primary_key)

    def column(self, name: str) -> ast.ColumnDef:
        for c in self.columns:
            if c.name == name:
                return c
        raise EmdriveValidationError(
            f"Column {name!r} does not exist in table {self.name}."
        )


def _entry_meta(e: TableEntry) -> dict:
    """The _catalog.json record for one table: its live generation, and
    DDL metadata parquet can't carry (PK, metric, defaults, nullability)."""
    return {
        "schema_name": e.schema_name,
        "generation": os.path.basename(e.gen_path),
        "columns": [
            {
                "name": c.name,
                "type": c.etype.render(),
                "primary_key": c.primary_key,
                "metric": c.metric,
                "index_kind": c.index_kind,
                "default": _default_to_json(c.default),
            }
            for c in e.columns
        ],
    }


def spark_schema(columns: tuple[ast.ColumnDef, ...]) -> T.StructType:
    """Emdrive columns → Spark StructType. Non-nullable by default
    (README.md:19 — the inverse of Spark's default); PK/metric/default
    metadata rides in StructField.metadata (SURVEY §1.1)."""
    fields = []
    for c in columns:
        meta = {"primary_key": c.primary_key}
        if c.metric:
            meta["metric"] = c.metric
            meta["index_kind"] = c.index_kind
        if c.etype.length is not None:
            meta["max_length"] = c.etype.length
        fields.append(
            T.StructField(c.name, c.etype.spark_type, nullable=c.etype.nullable, metadata=meta)
        )
    return T.StructType(fields)


class Catalog:
    """Session-scoped catalog. ``system_tables()`` / ``system_columns()``
    expose the same relations the reference bootstraps."""

    def __init__(self, spark: SparkSession, schema_name: str = DEFAULT_SCHEMA):
        self.spark = spark
        self.schema_name = schema_name
        self.tables: dict[str, TableEntry] = {}
        # Mutations are serialized: the HTTP front end is threaded, and
        # INSERT is a read-modify-write on entry.df (two concurrent
        # inserts would both union against the same base and the last
        # writer would silently drop the other's rows). The reference
        # gets the same guarantee from its single executor loop
        # (bounded mpsc channel, executor/mod.rs:19).
        self._write_lock = threading.Lock()
        # SQL-queryable from session start, like the reference's
        # bootstrap (system.rs:5-91): the system relations exist (empty)
        # before the first CREATE TABLE.
        self.refresh_system_views()

    # -- DDL ------------------------------------------------------------

    def create_table(self, stmt: ast.CreateTable) -> None:
        stmt.validate()
        with self._write_lock:
            if stmt.name in self.tables:
                if stmt.if_not_exists:
                    return
                raise EmdriveValidationError(f"Table {stmt.name} already exists.")
            schema = spark_schema(stmt.columns)
            rows = to_arrow_schema(schema).empty_table()
            df = self._local_frame(rows, schema)
            entry = TableEntry(
                name=stmt.name,
                schema_name=self.schema_name,
                columns=stmt.columns,
                df=df,
                local_rows=rows,
                pk_range=(),  # no rows yet
            )
            self.tables[stmt.name] = entry
            df.createOrReplaceTempView(stmt.name)
            self.refresh_system_views()

    def get(self, name: str) -> TableEntry:
        try:
            return self.tables[name]
        except KeyError:
            raise EmdriveValidationError(f"Table {name} does not exist.") from None

    # -- DML ------------------------------------------------------------

    def insert(self, stmt: ast.Insert) -> int:
        stmt.validate()
        entry = self.get(stmt.table)
        for col in stmt.columns:
            entry.column(col)  # raises on unknown column

        schema = spark_schema(entry.columns)
        pk = entry.pk.name
        # Everything from the PK-clash check through the entry.df swap
        # must be one critical section: the check is check-then-act and
        # the swap is read-modify-write — a concurrent INSERT between
        # them would either slip a duplicate PK through or have its
        # rows silently dropped by the last writer.
        with self._write_lock:
            # The check below is a read: it compacts an oversized table
            # first, which also bounds the rows each INSERT rebuilds
            # however long an in-memory ingest loop runs.
            self._compact(entry)
            # The batch is converted once, before anything mutates, into
            # the table's Arrow schema. Bad user values (a non-ISO
            # timestamp string, a string where an int belongs) raise
            # plain ValueError/TypeError from coercion or that
            # conversion (ArrowInvalid and ArrowTypeError subclass them)
            # — map them into the 400 validation taxonomy instead of
            # leaking a 500 with pyarrow internals.
            try:
                batch = pa.Table.from_pylist(
                    [self._materialize_row(entry, stmt.columns, row) for row in stmt.rows],
                    schema=entry.local_rows.schema,
                )
            except EmdriveValidationError:
                raise
            except (ValueError, TypeError) as exc:
                raise EmdriveValidationError(
                    f"Invalid value in INSERT for table {stmt.table}: "
                    f"{str(exc).splitlines()[0]}"
                ) from exc

            # PK uniqueness (reference enforces exactly-one-PK at DDL,
            # components.rs:164-169; uniqueness is the B+tree key
            # contract). Within the batch in Arrow, which compares
            # TIMESTAMPs as instants; against existing data by _pk_taken.
            keys = batch.column(pk)
            if pc.count_distinct(keys).as_py() != len(keys):
                raise EmdriveValidationError(
                    f"Duplicate PRIMARY KEY value in INSERT batch for table {stmt.table}."
                )
            if self._pk_taken(entry, keys):
                raise EmdriveValidationError(
                    f"PRIMARY KEY value already exists in table {stmt.table}."
                )
            # The table's local rows and the batch become ONE local
            # relation, the INSERT's only createDataFrame.
            local_rows = pa.concat_tables([entry.local_rows, batch]).combine_chunks()
            df = self._local_frame(local_rows, schema)
            if entry.base is not None:
                df = entry.base.unionByName(df)
            entry.df = df  # one assignment: scan() reads it unlocked
            entry.local_rows = local_rows
            entry.df.createOrReplaceTempView(entry.name)
        # no refresh_system_views() here: the system relations expose
        # DDL metadata only — INSERT never changes them, and the hot
        # ingest path shouldn't pay two view rebuilds per statement.
        return batch.num_rows

    # -- reads ----------------------------------------------------------

    def scan(self, name: str) -> DataFrame:
        """The table's frame for a read, compacted first if oversized."""
        entry = self.get(name)
        if not entry.oversized:
            # Unlocked: entry.df is swapped by one assignment, so this
            # read waits neither for another table's compaction nor
            # for save(). A racing INSERT can only make df larger.
            return entry.df
        with self._write_lock:
            return self._compact(entry)

    def compact(self) -> None:
        """Compact every oversized table — before a read that resolves
        tables by their temp-view names (the ANSI passthrough)."""
        oversized = [e for e in list(self.tables.values()) if e.oversized]
        if oversized:
            with self._write_lock:
                for entry in oversized:
                    self._compact(entry)

    def _compact(self, entry: TableEntry) -> DataFrame:
        """Fold an oversized table into one checkpoint, its new base,
        and re-register its view; a no-op otherwise (re-checked here,
        so a caller may test ``oversized`` unlocked). Caller holds
        ``_write_lock``: this is a read-modify-write of entry.df, and an
        INSERT landing between the read and the swap would be dropped.

        Past ``_LOCAL_ROWS_MAX`` local rows, Catalyst's
        ConvertToLocalRelation evaluating a read's projection (the
        ``@`` distance included) on the driver, interpreted, costs more
        than a job. The checkpoint puts the rows in
        ``defaultParallelism`` executor partitions instead, so the
        projection runs as a codegen Project in that many tasks. Its
        blocks live as long as the frame: ``ckpt.release()`` drops them
        too, so it must not be called in a session serving an
        in-memory catalog."""
        if entry.oversized:
            parallelism = self.spark.sparkContext.defaultParallelism
            pk = entry.pk.name
            # the checkpoint is base ∪ local rows, so this is exact
            if _ordered_key(entry.pk.etype.spark_type):
                entry.pk_range = _widen(entry.pk_range, entry.local_rows.column(pk).to_pylist())
            else:
                entry.pk_range = None
            entry.df = entry.base = ckpt(entry.df.repartition(parallelism))
            entry.local_rows = entry.local_rows.slice(0, 0)
            entry.flushed = None  # the base is no longer a saved snapshot
            entry.df.createOrReplaceTempView(entry.name)
        return entry.df

    def _pk_taken(self, entry: TableEntry, keys: pa.ChunkedArray) -> bool:
        """Whether any of ``keys``, a batch's distinct PK values, is
        already in the table. Caller holds ``_write_lock``.

        Against the local rows (at most ``_LOCAL_ROWS_MAX``) it is an
        Arrow ``is_in`` on the driver. Against the base, keys outside
        the base's PK range (``TableEntry.pk_range``) are dropped first:
        they cannot be there, so a batch of keys all above the base's
        largest, or a base with no rows, runs no Spark job. The keys left
        go to one probe that stops at the first hit: a filter ``pk IN
        (keys)``, the literals rendered into one SQL string, so building
        it is one py4j call however many keys (``Column.isin`` makes one
        call per literal: 5 s for a 10,000-row batch). A semi-join with
        a one-column local relation of those keys answers the same but
        broadcasts that LocalTableScan in a job of its own, so it is
        kept for keys that have no exact SQL literal (``_sql_literal``)
        and for more than
        ``_PK_IN_LIST_MAX`` keys left, where optimizing the IN list
        costs more than that job."""
        pk = entry.pk.name
        if pc.any(pc.is_in(keys, value_set=entry.local_rows.column(pk))).as_py():
            return True
        if entry.base is None:
            return False
        keys = keys.to_pylist()
        rng = entry.pk_range
        if rng is not None:
            keys = [k for k in keys if rng and rng[0] <= k <= rng[1]]
            if not keys:
                return False
        base_keys = entry.base.select(pk)
        if len(keys) <= _PK_IN_LIST_MAX:
            literals = [_sql_literal(k) for k in keys]
            if None not in literals:
                name = pk.replace("`", "``")
                in_list = F.expr(f"`{name}` IN ({', '.join(literals)})")
                return bool(base_keys.where(in_list).limit(1).collect())
        schema = spark_schema((entry.pk,))
        batch_keys = pa.Table.from_pylist([{pk: k} for k in keys], schema=to_arrow_schema(schema))
        probe = self._local_frame(batch_keys, schema)
        return bool(base_keys.join(probe, pk, "left_semi").limit(1).collect())

    def _local_frame(self, rows: pa.Table, schema: T.StructType) -> DataFrame:
        """``rows`` as a local relation (``LocalTableScan``): every local
        relation the catalog builds (a table's local rows, its empty
        CREATE-time frame, a PK probe's batch keys, the system
        relations) is built here, from an Arrow table in ``schema``'s
        Arrow schema, which keeps declared nullability. A list-of-rows
        ``createDataFrame`` would plan as Scan ExistingRDD with
        defaultParallelism python slices, and the frame rides under
        every later statement on the table, each of which would then
        schedule that many near-empty python tasks per stage (~0.4 s per
        action on local[32]). ``rows`` is one chunk:
        Spark converts each chunk as its own batch, and a table of 40
        chunks (one per INSERT) takes twice as long to build."""
        return self.spark.createDataFrame(rows, schema=schema)

    def _materialize_row(
        self, entry: TableEntry, columns: tuple[str, ...], row: tuple
    ) -> dict:
        given = dict(zip(columns, row))
        out: dict[str, object] = {}
        for cdef in entry.columns:
            if cdef.name in given:
                value = _eval_value(given[cdef.name])
            elif cdef.default is not None:
                value = _eval_value(cdef.default)  # DEFAULT injection
            else:
                value = None
            if value is None and not cdef.etype.nullable:
                raise EmdriveValidationError(
                    f"Column {cdef.name} is not nullable and has no default; "
                    f"a value is required."
                )
            out[cdef.name] = _coerce(cdef, value)
        return out

    # -- system tables (system.rs:14-91 + SURVEY §1.1 extras) ------------

    # -- durability (reference: data/<schema>/<table>/0 files,
    # filesystem.rs:11-15; blank-file bootstrap write.rs:12-38) --------

    def save(self, root: str) -> None:
        """Persist every table as a generation directory
        ``<root>/<schema>/<table>/g-<ulid>/`` of base files and delta
        files, plus a ``_catalog.json`` naming each table's live
        generation, with the DDL metadata Spark can't store (PK, metric,
        defaults, emdrive nullability). Each table takes one of three
        paths:

        - Skip: it is clean at this root. Its live generation is under
          this root (``gen_path``) and every local row is on disk there
          (``flushed``).
        - Append: its base reads exactly that generation's base files
          (``flushed`` is set) and its local rows are within
          ``_LOCAL_ROWS_MAX``. The local rows not yet on disk become one
          delta file in it (``_append_delta``): O(batch) bytes, no Spark
          job.
        - Fold, otherwise: a new table, another root, a table that
          ``_compact`` replaced, or past the limit. Base + deltas are
          written as a new generation (``_fold``).

        The json is published via temp-file + os.replace (atomic), then
        each folded table's directory is swept (``_sweep``). Runs UNDER
        the catalog write lock (an unlocked save racing a concurrent
        INSERT read a pre-union entry.df and persisted a snapshot missing
        acknowledged rows; two concurrent saves also corrupted each
        other's writes and the json)."""
        with self._write_lock:
            meta, folded = {}, []
            for e in self.tables.values():
                table_dir = os.path.join(root, e.schema_name, e.name)
                at_root = os.path.dirname(e.gen_path or "") == table_dir
                must_fold = e.flushed is None or (e.oversized and e.flushed < len(e.local_rows))
                if must_fold or not (at_root and os.path.exists(e.gen_path)):
                    self._fold(e, table_dir)
                    folded.append(e)
                else:
                    self._append_delta(e)  # no file if every local row is on disk
                meta[e.name] = _entry_meta(e)
            os.makedirs(root, exist_ok=True)
            tmp_json = os.path.join(root, "_catalog.json.tmp")
            with open(tmp_json, "w") as f:
                json.dump(meta, f, indent=2)
            os.replace(tmp_json, os.path.join(root, "_catalog.json"))
            for e in folded:
                _sweep(e.gen_path)

    def _append_delta(self, e: TableEntry) -> None:
        """Write the local rows not yet on disk as ``delta-<ulid>.parquet``
        in the live generation: the slice of ``local_rows`` past
        ``flushed``, the same arrays the live local relation was built
        from, so any row the live table holds can be written. pyarrow
        writes it on the driver under a hidden ``.delta-<ulid>.tmp``
        name that Spark's reader skips, and ``os.rename`` publishes it
        atomically. Deletes no file, so a read planned over the live
        frame never loses one."""
        rows = e.local_rows.slice(e.flushed)
        if rows:
            tag = ulid()
            tmp = os.path.join(e.gen_path, f".delta-{tag}.tmp")
            pq.write_table(rows, tmp)
            os.rename(tmp, os.path.join(e.gen_path, f"delta-{tag}.parquet"))
        e.flushed = len(e.local_rows)

    def _fold(self, e: TableEntry, table_dir: str) -> None:
        """Write the whole table as the base of a new generation,
        ``<table_dir>/g-<ulid>``: ``defaultParallelism`` files,
        range-partitioned and sorted by PK (the layout contract: parquet
        min/max row-group stats make PK lookups prune like the
        reference's B+tree, and the base's PK range is read from those
        footers on the driver), then loaded as the live entry
        (``_load``). Renames and deletes no committed file: a restore
        reads the generation the json names, and the retired one stays
        for the frames planned over it (``_sweep``)."""
        gen_path = os.path.join(table_dir, f"g-{ulid()}")
        pk = e.pk.name
        parts = self.spark.sparkContext.defaultParallelism
        # unknown until the new footers are read: if that read fails,
        # the old range must not stand for a base holding the rows folded
        # in, which are then no longer local rows either
        e.pk_range = None
        try:
            e.df.repartitionByRange(parts, pk).sortWithinPartitions(pk).write.parquet(gen_path)
        except Exception:  # its name would date the live one's retirement (_sweep)
            shutil.rmtree(gen_path, ignore_errors=True)
            raise
        self._load(e, gen_path)

    def _load(self, e: TableEntry, path: str) -> None:
        """Point ``e`` at the generation saved in ``path``, in the state
        its saves left: the base reads the ``part-*`` files, listed one
        by one, so it never picks up a delta file appended beside them
        later; the local rows are the delta files' tables, read on the
        driver by pyarrow in name (ULID) order in the table's Arrow
        schema and combined into one chunk, all of them on disk
        (``flushed``); the PK range is read from the base files'
        footers. Hidden ``.delta-*.tmp`` files that a crash mid-append
        left are not read. An append happens only within
        ``_LOCAL_ROWS_MAX``, so the delta rows are bounded."""
        names = sorted(os.listdir(path))
        files = [os.path.join(path, f) for f in names if f.startswith("part-")]
        deltas = [os.path.join(path, f) for f in names if f.startswith("delta-")]
        schema = spark_schema(e.columns)
        arrow = to_arrow_schema(schema)
        local_rows = pa.concat_tables(
            [arrow.empty_table(), *(pq.read_table(d, schema=arrow) for d in deltas)]
        ).combine_chunks()
        e.base = self.spark.read.schema(schema).parquet(*files)
        e.df = e.base.unionByName(self._local_frame(local_rows, schema)) if local_rows else e.base
        e.df.createOrReplaceTempView(e.name)
        e.local_rows = local_rows
        e.gen_path = path
        e.flushed = len(local_rows)
        e.pk_range = _footer_pk_range(files, e.pk.name, e.pk.etype.spark_type)

    def restore(self, root: str) -> int:
        """Load a saved catalog: re-register every table (schema from
        the metadata file — nullability/PK/metric survive the
        round-trip, which plain Parquet alone would lose) from the
        generation the file names, loaded as a fold loads it
        (``_load``), so it is clean at ``root``: a save there skips it
        until an INSERT, which then appends. A record without one (the
        flat layout of older saves) names ``<table>/`` itself, whose
        empty last part ``save`` reads back as no generation. A ``g-*``
        newer than the named one is deleted: only a crash mid-fold
        leaves one, and no frame was planned over it. Runs under the
        write lock (it mutates self.tables)."""
        with open(os.path.join(root, "_catalog.json")) as f:
            meta = json.load(f)
        with self._write_lock:
            for name, t in meta.items():
                columns = tuple(
                    ast.ColumnDef(
                        name=c["name"],
                        etype=parse_type(c["type"]),
                        primary_key=c["primary_key"],
                        metric=c["metric"],
                        index_kind=c["index_kind"],
                        default=_default_from_json(c["default"]),
                    )
                    for c in t["columns"]
                )
                table_dir = os.path.join(root, t["schema_name"], name)
                gen = t.get("generation", "")
                for g in os.listdir(table_dir):
                    if g.startswith("g-") and g > gen:
                        shutil.rmtree(os.path.join(table_dir, g), ignore_errors=True)
                entry = TableEntry(
                    name=name,
                    schema_name=t["schema_name"],
                    columns=columns,
                    df=None,  # set by _load, as is local_rows
                    local_rows=None,
                )
                self._load(entry, os.path.join(table_dir, gen))
                self.tables[name] = entry
            self.refresh_system_views()
        return len(meta)

    def refresh_system_views(self) -> None:
        """Register ``system_tables`` / ``system_columns`` as SQL temp
        views so any SQL client (HTTP GET included) can introspect the
        catalog — the reference bootstraps these as REAL tables an SQL
        client reads (/root/reference/src/storage/system.rs:5-91,
        /root/reference/src/executor/mod.rs:64-71). Refreshed on every
        CREATE TABLE and restore, the only mutations of the DDL
        metadata they expose (INSERT leaves them as they are). Both are
        local relations (``_local_frame``), so reading one schedules no
        Python tasks. (Temp-view names can't be dotted, so
        ``system.tables`` surfaces as ``system_tables``.)"""
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")

    def system_tables(self) -> DataFrame:
        rows = [
            {"schema_name": e.schema_name, "table_name": e.name}
            for e in self.tables.values()
        ]
        return self._system_frame(rows, "schema_name string, table_name string")

    def system_columns(self) -> DataFrame:
        rows = []
        for e in self.tables.values():
            for i, c in enumerate(e.columns):
                rows.append(
                    {
                        "table_name": e.name,
                        "ordinal": i,
                        "column_name": c.name,
                        "data_type": c.etype.render(),
                        "primary_key": c.primary_key,
                        "is_nullable": c.etype.nullable,
                        "metric_key": c.metric is not None,
                        "metric": c.metric,
                        "default_expr": _render_default(c.default),
                    }
                )
        schema = (
            "table_name string, ordinal int, column_name string, data_type string, "
            "primary_key boolean, is_nullable boolean, metric_key boolean, "
            "metric string, default_expr string"
        )
        return self._system_frame(rows, schema)

    def _system_frame(self, rows: list[dict], ddl: str) -> DataFrame:
        schema = T.StructType.fromDDL(ddl)
        return self._local_frame(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), schema)


def _eval_value(expr: object) -> object:
    """Driver-side evaluation of INSERT atoms: constants and the two
    generator functions (functions.rs:16-21)."""
    if isinstance(expr, ast.Const):
        return expr.value
    if isinstance(expr, ast.FuncCall):
        if expr.name == "ULID":
            return ulid()
        if expr.name == "NOW":
            return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        raise EmdriveValidationError(f"Unknown function {expr.name}().")
    if isinstance(expr, ast.Ident):
        raise EmdriveValidationError(
            f"Column reference {expr.name!r} is not allowed in VALUES."
        )
    return expr  # already a python value


def _coerce(cdef: ast.ColumnDef, value: object) -> object:
    et: EmdriveType = cdef.etype
    if value is None:
        return None
    if et.base.startswith("UINT"):
        # Arrow would truncate a float into an integer column (3.5
        # stored as 3)
        if not isinstance(value, int):
            raise EmdriveValidationError(
                f"Column {cdef.name} is {et.base}; got {value!r}, not an integer."
            )
        value = int(value)
        if value < 0:
            raise EmdriveValidationError(
                f"Column {cdef.name} is unsigned; got {value}."
            )
        bits = int(et.base[4:])
        if value >= 1 << bits:
            raise EmdriveValidationError(
                f"Value {value} out of range for {et.base} column {cdef.name}."
            )
        if et.base in {"UINT64", "UINT128"}:
            if value >= 10**38:
                # DECIMAL(38,0) storage ceiling (types.py documented
                # edge: UINT128 max exceeds it). Reject at INSERT time
                # with the remedy — before this check, the row was
                # ACCEPTED and then every later statement on the table
                # failed with a runtime decimal overflow, poisoning the
                # table until restart.
                raise EmdriveValidationError(
                    f"Value {value} for {et.base} column {cdef.name} exceeds "
                    f"the DECIMAL(38,0) storage range (< 1e38); store "
                    f"hash-style 128-bit values in a BINARY column instead."
                )
            return Decimal(value)
        return value
    if et.base == "BINARY" and isinstance(value, int) and not isinstance(value, bool):
        # integer hash literal (0x... / 0b...) → 16-byte big-endian, the
        # storage form for hashes wider than DECIMAL(38,0) holds exactly
        # (UINT128-max edge, types.py)
        if value < 0:
            raise EmdriveValidationError(
                f"Column {cdef.name} is a binary hash; got negative {value}."
            )
        if value >= 1 << 128:
            raise EmdriveValidationError(
                f"Value {value} exceeds 128 bits for BINARY column {cdef.name}."
            )
        return value.to_bytes(16, "big")
    if et.base == "STRING" and isinstance(value, str):
        if et.length is not None and len(value) > et.length:
            raise EmdriveValidationError(
                f"Value of length {len(value)} exceeds STRING({et.length}) "
                f"for column {cdef.name}."
            )
        return value
    if et.base == "TIMESTAMP":
        # ISO-8601 literal, stored at µs precision (declared semantics,
        # README.md:15; the reference code truncates to seconds —
        # a README/code discrepancy, we follow the README. SURVEY §1.2).
        if isinstance(value, str):
            value = _dt.datetime.fromisoformat(value)
        if not isinstance(value, _dt.datetime):
            # Arrow would read a number as microseconds since the epoch
            raise EmdriveValidationError(
                f"Column {cdef.name} is TIMESTAMP; got {value!r}, not an ISO-8601 string."
            )
        # Stored naive in UTC, as NOW() is: a UTC offset is folded into
        # the instant, where Arrow would drop it
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return value
    return value


def _sql_literal(value: object) -> str | None:
    """``value`` as an exact Spark SQL literal of its type, or None for
    a type this does not render (a datetime): the one renderer of the
    dialect's literals and of a PK probe's keys.

    - None is NULL, and a bool TRUE or FALSE.
    - An int is a BIGINT-range integer literal; beyond that range it is
      an exact DECIMAL(38,0), the type of the widest emdrive integers.
    - A Decimal (a UINT64 or UINT128 key) is a ``BD`` literal.
    - A float is a DOUBLE literal of its shortest round-trip form.
    - A string is its UTF-8 bytes in hex, so no quoting or escape rule of
      the SQL parser touches it; bytes are a hex binary literal."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, int):
        return str(value) if -(2**63) <= value < 2**63 else f"CAST({value}BD AS DECIMAL(38,0))"
    if isinstance(value, Decimal):
        return f"{int(value)}BD"
    if isinstance(value, float):
        return f"{value!r}D" if math.isfinite(value) else f"CAST('{value}' AS DOUBLE)"
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, bytes):
        return f"X'{value.hex()}'"
    return None


def _ordered_key(dtype: T.DataType) -> bool:
    """Whether keys of a ``dtype`` column compare in Python as Spark and
    parquet's min/max statistics order them. Ints and Decimals compare
    by value, str by code point (the order of its UTF-8 bytes, Spark's
    UTF8_BINARY), bytes unsigned."""
    return isinstance(dtype, (T.IntegralType, T.StringType, T.BinaryType)) or (
        isinstance(dtype, T.DecimalType) and dtype.scale == 0
    )


def _widen(rng: tuple | None, keys: list) -> tuple | None:
    """The PK range ``rng`` grown to hold ``keys`` (None stays None)."""
    if rng is None or not keys:
        return rng
    lo, hi = min(keys), max(keys)
    return (min(lo, rng[0]), max(hi, rng[1])) if rng else (lo, hi)


def _footer_pk_range(files: list[str], pk: str, dtype: T.DataType) -> tuple | None:
    """``[min, max]`` of column ``pk`` over parquet ``files`` from their
    footers' row-group statistics, read on the driver: () for no rows,
    whatever the key type; None if rows are held and a ``dtype`` key is
    not ``_ordered_key``, or a row group holding rows has no min/max
    (parquet-mr leaves them out for long strings)."""
    ordered = _ordered_key(dtype)
    rng: tuple = ()
    for f in files:
        meta = pq.read_metadata(f)
        col = meta.schema.names.index(pk)
        for i in range(meta.num_row_groups):
            group = meta.row_group(i)
            if group.num_rows == 0:
                continue
            if not ordered:
                return None
            stats = group.column(col).statistics
            if stats is None or not stats.has_min_max:
                return None
            rng = _widen(rng, [stats.min, stats.max])
    return rng


def _sweep(gen_path: str) -> None:
    """Delete each generation beside the live ``gen_path`` whose
    successor (the next ``g-*`` by name) was made more than
    ``_RETIRED_KEEP_S`` ago: a generation's ULID dates the fold that
    retired the one before it. Keeps the live and the newest one."""
    table_dir, live = os.path.split(gen_path)
    gens = sorted(g for g in os.listdir(table_dir) if g.startswith("g-"))
    cutoff = time.time_ns() // 1_000_000 - _RETIRED_KEEP_S * 1000
    for gen, successor in zip(gens, gens[1:]):
        if gen != live and ulid_ms(successor[2:]) < cutoff:
            shutil.rmtree(os.path.join(table_dir, gen), ignore_errors=True)


def _default_to_json(expr: ast.Expr | None) -> dict | None:
    if expr is None:
        return None
    if isinstance(expr, ast.Const):
        return {"kind": "const", "value": expr.value}
    if isinstance(expr, ast.FuncCall):
        return {"kind": "func", "name": expr.name}
    raise EmdriveValidationError(f"Unserializable default {expr!r}.")


def _default_from_json(d: dict | None) -> ast.Expr | None:
    if d is None:
        return None
    if d["kind"] == "const":
        return ast.Const(d["value"])
    return ast.FuncCall(d["name"])


def _render_default(expr: ast.Expr | None) -> str | None:
    if expr is None:
        return None
    if isinstance(expr, ast.Const):
        return repr(expr.value)
    if isinstance(expr, ast.FuncCall):
        return f"{expr.name}()"
    return str(expr)
