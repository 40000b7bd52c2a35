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
relation holding every row INSERTed since, which each INSERT rebuilds
from the rows the entry keeps on the driver. Catalyst evaluates a
read's projection over that local relation on the driver, with no
Spark job; that is the cheaper read while the local rows are few, and
the dearer one past ``_LOCAL_ROWS_MAX``. So the next read through the
catalog (``Catalog.scan``, ``Catalog.compact``, or the PK check of the
next INSERT) folds a table past that size into a new base (``_compact``).
A durable catalog (``save``/``restore``) re-reads each table it writes
as a parquet base, so it never compacts. On a real
deployment the same class writes PK-sorted Parquet/Delta per table —
the in-session dict is the unit-test surface, the layout contract
(sorted by PK for min/max pruning) is what scales.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.functions.generators import ulid
from emdrive_spark.sql import ast
from emdrive_spark.sql.errors import EmdriveValidationError
from emdrive_spark.types import EmdriveType

DEFAULT_SCHEMA = "main"

# Local rows past which a read compacts a table (Catalog._compact).
# Over one local relation of n rows a kNN or radius read costs the
# driver's interpreted projection, which grows with n; over a
# checkpoint it costs a defaultParallelism-task job whatever n is. On
# a 4-vCPU host the two cost the same near 2,000 rows (local ahead at
# 500, checkpoint ahead at 4,000). Below it a table is never
# compacted: CREATE, a small INSERT and a SELECT run no extra job.
_LOCAL_ROWS_MAX = 2_000


@dataclass
class TableEntry:
    name: str
    schema_name: str
    columns: tuple[ast.ColumnDef, ...]
    df: DataFrame
    # df's compacted leaf (a checkpoint or a parquet scan); None while
    # every row the table holds is in local_rows.
    base: DataFrame | None = None
    # Rows INSERTed since base was set, as the python values each
    # INSERT rebuilds into ONE local relation: df is base ∪ that
    # relation (or either alone), so lineage stays at two leaves
    # however many INSERTs land.
    local_rows: list[dict] = field(default_factory=list)
    # Mutated since the last save() to the current save root. New and
    # inserted-into tables are dirty; restore() marks entries clean
    # (their on-disk snapshot IS the restore root). save() skips clean
    # tables, so per-statement durability cost is O(changed table), not
    # O(whole catalog) — the difference between a server whose INSERT
    # latency is constant and one that rewrites every table per write.
    dirty: bool = True
    # Root of THIS entry's last successful write/restore. The skip in
    # save() requires saved_root == root, not just a clean dirty flag:
    # a save to a DIFFERENT root that clears dirty flags and then
    # throws midway must not let a later save to the original root
    # trust those flags and skip rewriting — that would publish a
    # _catalog.json pointing at a stale snapshot (silent loss of
    # acknowledged inserts; round-5 review finding).
    saved_root: str | None = None
    # True only while the table PROVABLY has no rows (fresh CREATE,
    # nothing inserted). Lets the first INSERT skip the PK-uniqueness
    # semi-join — a whole Spark job spent proving a 0-row table has no
    # clashing keys. Conservative: restore() clears it without
    # counting, so the flag can only ever skip a check that is
    # vacuously true.
    known_empty: bool = False

    @property
    def oversized(self) -> bool:
        """More local rows than a driver-side read should evaluate:
        the next read compacts the table (Catalog._compact)."""
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
    """The _catalog.json record for one table (DDL metadata Spark's
    parquet footer can't carry: PK, metric, defaults, nullability)."""
    return {
        "schema_name": e.schema_name,
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
        import threading

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
            df = self._empty_frame(spark_schema(stmt.columns))
            entry = TableEntry(
                name=stmt.name,
                schema_name=self.schema_name,
                columns=stmt.columns,
                df=df,
                known_empty=True,
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

        # Bad user values (a non-ISO timestamp string, a string where an
        # int belongs) raise plain ValueError/TypeError from coercion or
        # createDataFrame — map them into the 400 validation taxonomy
        # instead of leaking a 500 with PySpark internals (r4 review).
        try:
            py_rows = [
                self._materialize_row(entry, stmt.columns, row) for row in stmt.rows
            ]
            schema = spark_schema(entry.columns)
            batch = self._values_batch(py_rows, schema)
        except EmdriveValidationError:
            raise
        except (ValueError, TypeError) as exc:
            raise EmdriveValidationError(
                f"Invalid value in INSERT for table {stmt.table}: "
                f"{str(exc).splitlines()[0]}"
            ) from exc

        # Everything from the PK-clash check through the entry.df swap
        # must be one critical section: the check is check-then-act and
        # the swap is read-modify-write — a concurrent INSERT between
        # them would either slip a duplicate PK through or have its
        # rows silently dropped by the last writer.
        with self._write_lock:
            # PK uniqueness (reference enforces exactly-one-PK at DDL,
            # components.rs:164-169; uniqueness is the B+tree key
            # contract). Within-batch check driver-side (batch is a
            # VALUES list, small); against existing data via left-anti
            # join — distributed, no collect, scales to any table size.
            pk = entry.pk.name
            pk_vals = [r[pk] for r in py_rows]
            if len(set(pk_vals)) != len(pk_vals):
                raise EmdriveValidationError(
                    f"Duplicate PRIMARY KEY value in INSERT batch for table {stmt.table}."
                )
            if not entry.known_empty:
                # The semi-join is a read: it compacts an oversized
                # table first, which also bounds the rows each INSERT
                # rebuilds below however long an ingest loop runs.
                clashes = (
                    batch.join(self._compact(entry).select(pk), on=pk, how="left_semi")
                    .limit(1)
                    .count()
                )
                if clashes:
                    raise EmdriveValidationError(
                        f"PRIMARY KEY value already exists in table {stmt.table}."
                    )

            local_rows = entry.local_rows + py_rows
            df = self._values_batch(local_rows, schema) if entry.local_rows else batch
            if entry.base is not None:
                df = entry.base.unionByName(df)
            entry.df = df  # one assignment: scan() reads it unlocked
            entry.local_rows = local_rows
            entry.known_empty = False
            entry.dirty = True  # next save() must rewrite this table
            entry.df.createOrReplaceTempView(entry.name)
        # no refresh_system_views() here: the system relations expose
        # DDL metadata only — INSERT never changes them, and the hot
        # ingest path shouldn't pay two view rebuilds per statement.
        return len(py_rows)

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
            entry.df = entry.base = ckpt(entry.df.repartition(parallelism))
            entry.local_rows = []
            entry.df.createOrReplaceTempView(entry.name)
        return entry.df

    def _empty_frame(self, schema: T.StructType) -> DataFrame:
        """An empty table as ``LocalTableScan <empty>``, not a
        parallelized empty RDD: ``createDataFrame([], schema)`` plans as
        Scan ExistingRDD with defaultParallelism empty python slices,
        and the CREATE-time frame rides under every later union — so
        each statement on the table would schedule 32 no-op python
        tasks per stage forever. An empty pyarrow table with the exact
        arrow schema keeps declared nullability and adds zero tasks."""
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(schema)
            tbl = pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in arrow_schema],
                schema=arrow_schema,
            )
            return self.spark.createDataFrame(tbl, schema=schema)
        except Exception:  # exotic type arrow can't express — RDD path
            return self.spark.createDataFrame([], schema=schema)

    def _values_batch(self, py_rows: list[dict], schema: T.StructType) -> DataFrame:
        """A VALUES batch as a LOCAL relation. A list-of-rows
        createDataFrame parallelizes 3 literal rows across
        defaultParallelism RDD slices, so every later statement
        touching the table schedules 32 near-empty PYTHON tasks per
        stage — measured at ~0.4 s per action on local[32], pure
        scheduler + python-worker overhead. The pandas path converts
        through Arrow into a LocalTableScan (~0.07 s, no python
        workers at execution, and Catalyst can broadcast or
        constant-fold a local relation). Falls back to the row path if
        Arrow rejects a value shape; the caller's ValueError/TypeError
        mapping handles bad user values identically either way. No rows
        is an ``_empty_frame``."""
        import pandas as pd

        if not py_rows:
            return self._empty_frame(schema)

        try:
            pdf = pd.DataFrame(py_rows, columns=[f.name for f in schema.fields])
            return self.spark.createDataFrame(pdf, schema=schema)
        except (ValueError, TypeError, KeyError):
            return self.spark.createDataFrame(py_rows, schema=schema)

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
        """Persist every table as PK-sorted Parquet at
        ``<root>/<schema>/<table>/`` plus a ``_catalog.json`` with the
        DDL metadata Spark can't store (PK, metric, defaults, emdrive
        nullability). PK-sorting is the layout contract: Parquet
        min/max row-group stats make PK equality lookups prune like the
        reference's B+tree.

        Runs UNDER the catalog write lock (r4 review: an unlocked save
        racing a concurrent INSERT read a pre-union entry.df and
        persisted a snapshot missing acknowledged rows; two concurrent
        saves also corrupted each other's overwrite jobs and the json).
        Crash tolerance: each table writes to a __tmp dir swapped in
        only after the write commits — the old mode('overwrite') deleted
        committed data BEFORE rewriting, so a crash mid-save lost every
        previously persisted row; restore() falls back to the __old dir
        if a crash lands in the tiny rename window — and the metadata
        json is published via temp-file + os.replace (atomic).

        Incremental: a table that is clean AND whose last successful
        write landed at THIS root (``entry.saved_root == root``) is
        skipped — its on-disk snapshot is already current — so a
        server persisting after every statement pays O(changed table)
        per INSERT, not O(catalog). The skip keys on the per-entry
        root, not a catalog-level "last root": a save to a different
        root that clears dirty flags and then fails midway leaves
        those entries pointing at the half-written root, so the next
        save to the original root rewrites them instead of trusting a
        stale snapshot."""
        import json
        import os
        import shutil

        with self._write_lock:
            meta = {}
            for e in self.tables.values():
                path = os.path.join(root, e.schema_name, e.name)
                if not e.dirty and e.saved_root == root and os.path.exists(path):
                    meta[e.name] = _entry_meta(e)
                    continue
                tmp, old = path + "__tmp", path + "__old"
                shutil.rmtree(tmp, ignore_errors=True)
                e.df.sortWithinPartitions(e.pk.name).write.mode("overwrite").parquet(tmp)
                shutil.rmtree(old, ignore_errors=True)
                if os.path.exists(path):
                    os.rename(path, old)
                os.rename(tmp, path)
                shutil.rmtree(old, ignore_errors=True)
                # Re-point the live entry at the snapshot just written
                # (r4 advisor, medium): a restored table's entry.df has
                # lineage over the OLD part-files at this path
                # (InMemoryFileIndex caches leaf files at restore time),
                # so the swap above just deleted the files it would
                # scan — the next action (SELECT, or the PK semi-join
                # of the next INSERT) threw FileNotFoundException.
                # The parquet scan is also the new base, and the local
                # rows it now holds are dropped: a durable catalog
                # never holds enough of them to compact (_compact).
                e.df = e.base = self.spark.read.schema(spark_schema(e.columns)).parquet(path)
                e.df.createOrReplaceTempView(e.name)
                e.local_rows = []
                e.dirty = False
                e.saved_root = root
                meta[e.name] = _entry_meta(e)
            os.makedirs(root, exist_ok=True)
            tmp_json = os.path.join(root, "_catalog.json.tmp")
            with open(tmp_json, "w") as f:
                json.dump(meta, f, indent=2)
            os.replace(tmp_json, os.path.join(root, "_catalog.json"))

    def restore(self, root: str) -> int:
        """Load a saved catalog: re-register every table (schema from
        the metadata file — nullability/PK/metric survive the
        round-trip, which plain Parquet alone would lose). Runs under
        the write lock (it mutates self.tables); if a crash interrupted
        save() between its two directory renames, the table's data
        survives under ``<table>__old`` and is swapped back here."""
        import json
        import os

        from emdrive_spark.types import parse_type

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
                path = os.path.join(root, t["schema_name"], name)
                if not os.path.exists(path) and os.path.exists(path + "__old"):
                    os.rename(path + "__old", path)
                df = self.spark.read.schema(spark_schema(columns)).parquet(path)
                entry = TableEntry(
                    name=name,
                    schema_name=t["schema_name"],
                    columns=columns,
                    df=df,
                    base=df,
                    # the snapshot just read IS this root's current
                    # state — the next save() to the same root may
                    # skip it until a mutation re-dirties it
                    dirty=False,
                    saved_root=root,
                )
                self.tables[name] = entry
                df.createOrReplaceTempView(name)
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
        local relations (``_values_batch``), so reading one schedules no
        Python tasks. (Temp-view names can't be dotted, so
        ``system.tables`` surfaces as ``system_tables``.)"""
        self.system_tables().createOrReplaceTempView("system_tables")
        self.system_columns().createOrReplaceTempView("system_columns")

    def system_tables(self) -> DataFrame:
        rows = [
            {"schema_name": e.schema_name, "table_name": e.name}
            for e in self.tables.values()
        ]
        return self._values_batch(
            rows, T.StructType.fromDDL("schema_name string, table_name string")
        )

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
        return self._values_batch(rows, T.StructType.fromDDL(schema))


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
    if et.base.startswith("UINT") and isinstance(value, (int, bool)):
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
            import decimal

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
            return decimal.Decimal(value)
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
    if et.base == "TIMESTAMP" and isinstance(value, str):
        # ISO-8601 literal, stored at µs precision (declared semantics,
        # README.md:15; the reference code truncates to seconds —
        # a README/code discrepancy, we follow the README. SURVEY §1.2)
        return _dt.datetime.fromisoformat(value)
    return value


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
