"""Query engine: SQL string → parse → validate → execute on Spark.

The moral equivalent of the reference's server→executor pipeline
(/root/reference/src/server/mod.rs:36-63 →
/root/reference/src/executor/mod.rs:74-90), with the executor actually
implemented (the reference's is a hardcoded stub, executor/mod.rs:83-88).

SELECT semantics follow the README's declared behavior, notably that a
WHERE may reference a SELECT alias (``SELECT ..., hash @ q AS distance
... WHERE distance < 4``, README.md:67-78). A dialect SELECT compiles to
ONE Spark SQL text over the table's temp view: the computed items in a
subquery, the filter, order and limit outside it, then the output
projection. One ``spark.sql`` call plans it, where a chain of DataFrame
calls would pay a py4j round trip and a re-analysis per call; Catalyst
still pushes eligible predicates to the scan. Literals render through
``catalog._sql_literal`` and ``@`` through ``functions.distance.
hamming_sql``, the generator the raw-ANSI ``emdrive_hamming`` shares.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from emdrive_spark.catalog import Catalog, TableEntry, _sql_literal
from emdrive_spark.functions import distance as D
from emdrive_spark.functions.generators import NOW_SQL, ULID_SQL
from emdrive_spark.sql import ast
from emdrive_spark.sql.errors import EmdriveSyntaxError, EmdriveValidationError
from emdrive_spark.sql.parser import parse_statement
from emdrive_spark.sql.tokenizer import mask_spans, split_around_spans, split_statements

# Statement heads Spark treats as pure queries — shared by the ANSI
# passthrough and the HTTP GET read-only guard (server.py) so the two
# never disagree about what "read-only" means. EXPLAIN/SHOW/DESCRIBE
# are read-only introspection (EXPLAIN plans, never executes); like
# WITH, EXPLAIN is scanned for embedded DML below so `EXPLAIN INSERT`
# stays out of the read-only surface.
QUERY_HEADS = ("SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN", "SHOW", "DESCRIBE", "DESC")


def _head(sql: str) -> str:
    s = sql.strip()
    return s.split(None, 1)[0].upper() if s else ""


import re as _re

# Spark's grammar allows DML after a CTE prefix (`WITH q AS (...) INSERT
# INTO ...`, `WITH ... INSERT OVERWRITE DIRECTORY '/path' ...`, and the
# v2 UPDATE/DELETE/MERGE forms), so a WITH head alone does not make a
# statement read-only. Any of these appearing OUTSIDE strings/comments
# in a WITH/EXPLAIN statement marks it a mutation. Word-boundary match:
# identifiers like `insert_count` don't trip it; a bare unquoted column
# literally named `insert` would — an acceptable false positive for a
# read-only gate (quote it to use it). Deliberately NOT listed: REPLACE
# (a common scalar function; as a statement head it never follows a
# CTE) and DIRECTORY (INSERT OVERWRITE DIRECTORY is already caught by
# both INSERT and OVERWRITE).
_MUTATION_KEYWORD_RE = _re.compile(
    r"\b(INSERT|OVERWRITE|UPDATE|DELETE|MERGE)\b", _re.I
)


def is_query(sql: str) -> bool:
    """True iff the statement is a pure query form. Comments are
    stripped before the head check (so `-- note\\nSELECT 1` passes) and
    WITH/EXPLAIN statements are scanned for embedded mutations (advisor
    r2, high): the head keyword alone cannot be trusted for either
    (`WITH q AS (...) INSERT ...`, `EXPLAIN INSERT ...`). Masking uses
    the tokenizer's scan_spans — the same definition of string/comment
    opacity split_statements splits by."""
    masked = mask_spans(sql)
    head = _head(masked)
    if head not in QUERY_HEADS:
        return False
    return not (head in ("WITH", "EXPLAIN") and _MUTATION_KEYWORD_RE.search(masked))


# --- `@` in raw ANSI SQL (SURVEY hard-parts: the rewrite shim) -----------
#
# The dialect compiles `@` itself; raw ANSI queries get a textual
# rewrite `X @ Y` → `emdrive_hamming(X, Y)`, a Spark SQL scalar UDF
# registered per session whose body is the dialect's own `@` formula
# (functions.distance.hamming_sql over two DECIMAL(38,0) operands), so
# both paths compare an integer by its value mod 2¹²⁸. Operands are
# identifiers or numeric literals, the right one optionally negative;
# 0b/0x literals (the README's hash idiom, not ANSI) are converted to
# decimal. String literals are never touched (the rewrite splits on
# quotes first).

_AT_NUMBER = r"(?:0[bB][01]+|0[xX][0-9A-Fa-f]+|\d+)"
_AT_OPERAND = rf"(?:[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)?|{_AT_NUMBER})"
_AT_RE = _re.compile(rf"({_AT_OPERAND})\s*@\s*({_AT_OPERAND}|-{_AT_NUMBER})")


def _conv_literal(tok: str) -> str:
    sign, mag = ("-", tok[1:]) if tok.startswith("-") else ("", tok)
    if _re.fullmatch(r"0[bB][01]+", mag):
        return sign + str(int(mag[2:], 2))
    if _re.fullmatch(r"0[xX][0-9A-Fa-f]+", mag):
        return sign + str(int(mag[2:], 16))
    return tok


def rewrite_at_distance(sql: str) -> str:
    """Rewrite `a @ b` to `emdrive_hamming(a, b)` outside string
    literals (single- AND double-quoted — Spark treats both as strings),
    backquoted identifiers, and comments (advisor r2: `SELECT "a @ b"`
    or a commented `x @ y` must not be rewritten). Identity for SQL
    without `@`. Span boundaries come from the tokenizer's scan_spans —
    the shared lexical-opacity definition."""
    if "@" not in sql:
        return sql
    parts = split_around_spans(sql)
    for i in range(0, len(parts), 2):  # even indexes = outside masked spans
        parts[i] = _AT_RE.sub(
            lambda m: (
                f"emdrive_hamming(CAST({_conv_literal(m.group(1))} AS DECIMAL(38,0)), "
                f"CAST({_conv_literal(m.group(2))} AS DECIMAL(38,0)))"
            ),
            parts[i],
        )
    return "".join(parts)


def _hamming_sql_udf_ddl() -> str:
    """``emdrive_hamming(a, b)``: popcount of a XOR b over 128 bits, as
    a SQL scalar UDF over two DECIMAL(38,0) operands. The body is the
    dialect's ``@`` generator, ``D.hamming_sql``, so a UINT64 or UINT128
    value, or any integer operand, gets the same distance through raw
    ANSI SQL as through the dialect: each operand compares by its value
    mod 2¹²⁸, the bits of a negative one included."""
    return (
        "CREATE OR REPLACE TEMPORARY FUNCTION emdrive_hamming("
        "a DECIMAL(38,0), b DECIMAL(38,0)) RETURNS BIGINT RETURN "
        + D.hamming_sql("a", "DECIMAL", "b")
    )


class Engine:
    def __init__(self, spark: SparkSession, data_directory: str | None = None):
        self.spark = spark
        self.catalog = Catalog(spark)
        # When set, every successful mutation persists the catalog there
        # (the reference's durability contract: inserts survive restart,
        # write.rs; restore happens in server.serve at boot).
        self.data_directory = data_directory
        # `@` support in raw ANSI SQL (see rewrite_at_distance)
        spark.sql(_hamming_sql_udf_ddl())

    def execute(self, sql: str) -> DataFrame | None:
        """Run one statement. DDL/DML return None; SELECT returns the
        result DataFrame. (Statement-per-request, like the reference's
        ';'-terminated tokenization, tokenizer.rs:226-228.)

        Statements beyond the emdrive grammar fall through to full ANSI
        SQL on the same tables (catalog tables are live temp views):
        the dialect parser owns emdrive-isms (``@``, alias-in-WHERE,
        ULID()/NOW()); Catalyst owns everything else — joins, GROUP BY,
        ORDER BY, window functions, subqueries, CTEs."""
        try:
            stmt = parse_statement(sql)
        except EmdriveSyntaxError:
            return self._ansi_passthrough(sql)
        if isinstance(stmt, ast.CreateTable):
            self.catalog.create_table(stmt)
            self._persist()
            return None
        if isinstance(stmt, ast.Insert):
            self.catalog.insert(stmt)
            self._persist()
            return None
        if isinstance(stmt, ast.Select):
            # Case matters: the managed-table check must be
            # case-insensitive like Spark temp views are, or
            # `SELECT * FROM USERS` on managed table `users` would
            # silently switch from dialect to ANSI semantics.
            # Snapshot under the catalog lock (r4 review): iterating the
            # live dict races a concurrent CREATE TABLE and raises
            # 'dictionary changed size during iteration' mid-SELECT.
            with self.catalog._write_lock:
                managed = {t.lower() for t in self.catalog.tables}
            if stmt.table.lower() not in managed and self.spark.catalog.tableExists(
                stmt.table
            ):
                # not a managed table but a live temp view — notably the
                # system_tables/system_columns introspection relations
                # (reference system.rs:5-91). No emdrive column metadata
                # exists for it, so ANSI semantics apply directly.
                return self._ansi_passthrough(sql)
            return self._execute_select(stmt)
        raise EmdriveValidationError(f"Unsupported statement {type(stmt).__name__}.")

    def _persist(self) -> None:
        """Durability hook: with a configured data directory, every
        successful mutation is saved there before it is acknowledged.
        An INSERT appends its rows as one delta file beside the table's
        base files, and a table past ``_LOCAL_ROWS_MAX`` unfolded rows
        is folded into a new PK-sorted base (``Catalog.save``) — the
        moral equivalent of the reference flushing the pages a write
        touches."""
        if self.data_directory:
            self.catalog.save(self.data_directory)

    def _ansi_passthrough(self, sql: str) -> DataFrame:
        """Read-only ANSI fallback via spark.sql. Only query forms are
        eligible — mutations must go through the dialect layer so the
        catalog's PK/nullability/default contracts hold."""
        if not is_query(sql):
            # surface the dialect's own syntax error for non-queries
            parse_statement(sql)  # re-raises EmdriveSyntaxError
            raise EmdriveValidationError(
                "Only query statements may use the ANSI passthrough; "
                "mutations must go through the emdrive dialect."
            )
        # spark.sql resolves catalog tables by their temp views, so
        # compact any oversized one first (Catalog._compact).
        self.catalog.compact()
        try:
            return self.spark.sql(rewrite_at_distance(sql))
        except Exception as exc:
            raise EmdriveValidationError(str(exc).split("\n")[0]) from exc

    def execute_script(self, sql: str, read_only: bool = False) -> DataFrame | None:
        """Multiple ';'-separated statements; returns the last result.

        Splitting is quote-aware (a ';' inside a string literal is
        content, not a terminator). With ``read_only=True`` EVERY
        statement must be a query form — enforced per statement BEFORE
        any statement runs, so a 'SELECT 1; INSERT ...' script cannot
        smuggle a mutation through a read-only entry point (HTTP GET)."""
        parts = split_statements(sql)
        if read_only:
            for part in parts:
                if not is_query(part):
                    raise EmdriveValidationError(
                        "This endpoint is read-only: every statement must "
                        f"be a query ({'/'.join(QUERY_HEADS)}, with no "
                        "CTE-prefixed DML); got "
                        f"{_head(part) or 'empty statement'!r}."
                    )
        result = None
        for part in parts:
            result = self.execute(part)
        return result

    # -- SELECT ----------------------------------------------------------

    def _execute_select(self, stmt: ast.Select) -> DataFrame:
        """The statement as ONE Spark SQL text over the table's view,
        planned by one ``spark.sql`` call:

            SELECT <outputs> FROM (SELECT * FROM (SELECT *, <expr_i> AS
            __emdrive_sel_i FROM `t`) WHERE … ORDER BY … LIMIT n)

        Computed items land in RESERVED temp columns, renamed only in the
        outer projection, so ``SELECT name AS id, id`` keeps the base
        ``id``. WHERE and ORDER BY resolve an alias to its temp column
        (alias shadows a same-named base column there; alias-in-WHERE is
        the README's feature, README.md:71). They run below the outer
        projection, so an ORDER BY key outside the outputs needs no
        extra projection, and ORDER BY + LIMIT plans as
        TakeOrderedAndProject over one codegen Project (per-partition
        heap, k rows to the driver merge), the exact top-k primitive a
        distance search needs."""
        stmt.validate()
        entry = self.catalog.get(stmt.table)
        self.catalog.scan(entry.name)  # compacts an oversized table first
        scope = _Scope(entry)
        computed, outputs, aliases = [], [], {}
        items = stmt.items or [ast.SelectItem(ast.Ident(c.name)) for c in entry.columns]  # SELECT *
        for i, item in enumerate(items):
            name = item.alias or _auto_name(item.expr, i)
            sql = scope.compile(item.expr)
            if not (isinstance(item.expr, ast.Ident) and item.expr.name == name):
                tmp = f"__emdrive_sel_{i}"
                computed.append(f"{sql} AS {tmp}")
                aliases[name] = (tmp, item.expr)
                sql = f"{tmp} AS {_quote(name)}"
            outputs.append(sql)
        scope.aliases = aliases
        rows = _quote(entry.name)
        if computed:
            rows = f"(SELECT *, {', '.join(computed)} FROM {rows})"
        rows = f"SELECT * FROM {rows}"
        if stmt.where is not None:
            rows += f" WHERE {scope.compile(stmt.where)}"
        if stmt.order_by:
            rows += " ORDER BY " + ", ".join(
                scope.compile(o.expr) + (" ASC NULLS FIRST" if o.asc else " DESC NULLS LAST")
                for o in stmt.order_by
            )
        if stmt.limit is not None:
            rows += f" LIMIT {stmt.limit}"
        try:
            return self.spark.sql(f"SELECT {', '.join(outputs)} FROM ({rows})")
        except AnalysisException as exc:  # a type mismatch, say
            raise EmdriveValidationError(str(exc).split("\n")[0]) from exc


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


class _Scope:
    """Compiles dialect expressions over one table to Spark SQL text.
    ``aliases`` maps an output name to its temp column and expression:
    empty while the SELECT items compile (they see the base columns
    only), set before WHERE and ORDER BY."""

    def __init__(self, entry: TableEntry):
        self.entry = entry
        self.aliases: dict[str, tuple[str, ast.Expr]] = {}

    def compile(self, expr: ast.Expr) -> str:
        if isinstance(expr, ast.Const):
            return _sql_literal(expr.value)
        if isinstance(expr, ast.Ident):
            if expr.name in self.aliases:
                return self.aliases[expr.name][0]
            return _quote(self.entry.column(expr.name).name)  # raises on unknown
        if isinstance(expr, ast.FuncCall):
            if expr.name == "ULID":
                return ULID_SQL
            if expr.name == "NOW":
                return NOW_SQL
            raise EmdriveValidationError(f"Unknown function {expr.name}().")
        if isinstance(expr, ast.BinOp):
            if expr.op == "@":
                return self._distance(expr)
            return f"({self.compile(expr.left)} {expr.op} {self.compile(expr.right)})"
        raise EmdriveValidationError(f"Unsupported expression {expr!r}.")

    def _distance(self, expr: ast.BinOp) -> str:
        """``col @ operand`` — distance under the column's METRIC KEY
        metric (README.md:67-78). The metric comes from the DDL
        declaration; ``@`` is defined only for a column declared with
        the hamming metric."""
        if not isinstance(expr.left, ast.Ident):
            raise EmdriveValidationError(
                "Left side of @ must be a METRIC KEY column."
            )
        name = expr.left.name
        if name in self.aliases:
            # Alias-shadows-base is the documented WHERE contract for
            # plain comparisons, but `@` binds a DDL-declared METRIC KEY
            # column — an aliased expression has no metric, so silently
            # binding the base here while `<`/`=` next to it bind the
            # alias would make the same name mean two columns in one
            # predicate. Reject explicitly — but ONLY when the name
            # really is a declared metric column: an alias that matches
            # no column, or a non-metric one, falls through to the
            # accurate "does not exist" / "has no METRIC KEY" errors.
            shadowed = next((c for c in self.entry.columns if c.name == name), None)
            if shadowed is not None and shadowed.metric is not None:
                raise EmdriveValidationError(
                    f"Alias {name!r} shadows METRIC KEY column "
                    f"{name!r}; '@' binds the declared metric column, "
                    f"so rename the alias or drop it from the SELECT list."
                )
        cdef = self.entry.column(name)
        if cdef.metric is None:
            raise EmdriveValidationError(
                f"Column {cdef.name!r} has no METRIC KEY; @ is not defined for it."
            )
        if cdef.metric != "hamming":
            raise EmdriveValidationError(
                f"Column {cdef.name!r} has METRIC KEY metric {cdef.metric!r}; "
                f"@ is defined only for the hamming metric."
            )
        right = expr.right
        if isinstance(right, ast.Const) and type(right.value) is int:
            return D.hamming_sql(_quote(cdef.name), cdef.etype.base, right.value)
        return D.hamming_sql(
            _quote(cdef.name), cdef.etype.base, self.compile(right), self._storage(right)
        )

    def _storage(self, expr: ast.Expr) -> str:
        """The emdrive type name of an ``@`` operand's values: a column's
        (through an alias of one, too), else DECIMAL."""
        if isinstance(expr, ast.Ident) and expr.name in self.aliases:
            expr = self.aliases[expr.name][1]  # an item: it sees base columns only
        if isinstance(expr, ast.Ident):
            return self.entry.column(expr.name).etype.base
        return "DECIMAL"


def _auto_name(expr: ast.Expr, i: int) -> str:
    if isinstance(expr, ast.Ident):
        return expr.name
    if isinstance(expr, ast.FuncCall):
        return expr.name.lower()
    return f"col{i}"
