"""Query engine: SQL string → parse → validate → execute on Spark.

The moral equivalent of the reference's server→executor pipeline
(/root/reference/src/server/mod.rs:36-63 →
/root/reference/src/executor/mod.rs:74-90), with the executor actually
implemented (the reference's is a hardcoded stub, executor/mod.rs:83-88).

SELECT semantics follow the README's declared behavior, notably that a
WHERE may reference a SELECT alias (``SELECT ..., hash @ q AS distance
... WHERE distance < 4``, README.md:67-78): select expressions are
computed first (withColumn), the filter applies after, then the output
projects the requested columns — all lazily, so Catalyst still pushes
eligible predicates to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from emdrive_spark.catalog import Catalog, TableEntry
from emdrive_spark.functions import distance as D
from emdrive_spark.functions.generators import now_expr, ulid_expr
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
# The dialect layer compiles `@` itself; raw ANSI queries get a textual
# rewrite `X @ Y` → `emdrive_hamming(X, Y)` (a Spark SQL scalar UDF
# registered per session whose body is functions.distance.
# hamming_wide_sql: popcount over the two 64-bit halves of each
# DECIMAL(38,0) operand, each half a signed long by the 2⁶³-offset
# identity — the dialect's UINT128 arithmetic). Operands are
# identifiers or numeric literals; 0b/0x literals (the README's hash
# idiom, not ANSI) are converted to decimal. String literals are never
# touched (the rewrite splits on quotes first).

_AT_OPERAND = r"(?:[A-Za-z_][A-Za-z_0-9]*(?:\.[A-Za-z_][A-Za-z_0-9]*)?|0[bB][01]+|0[xX][0-9A-Fa-f]+|\d+)"
_AT_RE = _re.compile(rf"({_AT_OPERAND})\s*@\s*({_AT_OPERAND})")


def _conv_literal(tok: str) -> str:
    if _re.fullmatch(r"0[bB][01]+", tok):
        return str(int(tok[2:], 2))
    if _re.fullmatch(r"0[xX][0-9A-Fa-f]+", tok):
        return str(int(tok[2:], 16))
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
    """``emdrive_hamming(a, b)``: exact popcount of a XOR b over the full
    DECIMAL(38,0) range, as a SQL scalar UDF. The body is
    ``D.hamming_wide_sql`` — hamming_wide's UINT128 formula (exact
    ``pmod``/division split into 64-bit halves, the low half offset by
    2⁶³ into a signed long), so a UINT64 or UINT128 value gets the same
    distance through raw ANSI SQL as through the dialect. A negative
    operand compares by its bits modulo 2¹²⁸."""
    return (
        "CREATE OR REPLACE TEMPORARY FUNCTION emdrive_hamming("
        "a DECIMAL(38,0), b DECIMAL(38,0)) RETURNS BIGINT RETURN "
        + D.hamming_wide_sql("a", "b")
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
        stmt.validate()
        entry = self.catalog.get(stmt.table)
        df = self.catalog.scan(stmt.table)
        base_cols = [c.name for c in entry.columns]

        # Computed items land in RESERVED temp columns, renamed only in
        # the final projection (r4 review): writing the alias directly
        # with withColumn clobbered a same-named base column, so
        # `SELECT name AS id, id FROM t` silently returned name's values
        # for both outputs. alias_src maps output name -> temp column;
        # WHERE/ORDER BY resolve aliases through it (alias shadows a
        # same-named base column there — alias-in-WHERE is the feature).
        alias_src: dict[str, str] = {}
        if not stmt.items:  # SELECT *
            out_names = base_cols
            sel_exprs = [F.col(c) for c in base_cols]
        else:
            out_names = []
            sel_exprs = []
            for i, item in enumerate(stmt.items):
                name = item.alias or _auto_name(item.expr, i)
                if isinstance(item.expr, ast.Ident) and item.expr.name == name:
                    sel_exprs.append(F.col(name))
                else:
                    tmp = f"__emdrive_sel_{i}"
                    df = df.withColumn(tmp, self._compile(entry, item.expr))
                    alias_src[name] = tmp
                    sel_exprs.append(F.col(tmp).alias(name))
                out_names.append(name)

        if stmt.where is not None:
            # aliases are visible to WHERE (README.md:71)
            df = df.filter(
                self._compile(
                    entry, stmt.where, extra_cols=out_names, rename=alias_src
                )
            )
        if stmt.order_by:
            # aliases in scope here too; ORDER BY + LIMIT plans as
            # TakeOrderedAndProject (per-partition heap, k rows to the
            # driver merge) — the exact top-k primitive the README's
            # distance search needs, never a global sort.
            sort_cols = []
            for o in stmt.order_by:
                c = self._compile(
                    entry, o.expr, extra_cols=out_names, rename=alias_src
                )
                sort_cols.append(c.asc() if o.asc else c.desc())
            df = df.orderBy(*sort_cols)
        if stmt.limit is not None:
            df = df.limit(stmt.limit)
        return df.select(*sel_exprs)

    def _compile(
        self,
        entry: TableEntry,
        expr: ast.Expr,
        extra_cols: list[str] | None = None,
        rename: dict[str, str] | None = None,
    ) -> Column:
        if isinstance(expr, ast.Const):
            v = expr.value
            if isinstance(v, int) and not isinstance(v, bool) and not (-(2**63) <= v < 2**63):
                # beyond signed-long range (UINT64/UINT128 hashes):
                # F.lit would overflow py4j's long — carry it as an
                # exact decimal literal instead.
                return F.expr(f"CAST('{v}' AS DECIMAL(38,0))")
            return F.lit(v)
        if isinstance(expr, ast.Ident):
            known = {c.name for c in entry.columns} | set(extra_cols or ())
            if expr.name not in known:
                raise EmdriveValidationError(
                    f"Column {expr.name!r} does not exist in table {entry.name}."
                )
            if rename and expr.name in rename:
                return F.col(rename[expr.name])
            return F.col(expr.name)
        if isinstance(expr, ast.FuncCall):
            if expr.name == "ULID":
                return ulid_expr()
            if expr.name == "NOW":
                return now_expr()
            raise EmdriveValidationError(f"Unknown function {expr.name}().")
        if isinstance(expr, ast.BinOp):
            if expr.op == "@":
                return self._compile_distance(entry, expr, extra_cols, rename)
            left = self._compile(entry, expr.left, extra_cols, rename)
            right = self._compile(entry, expr.right, extra_cols, rename)
            ops = {
                "=": lambda a, b: a == b,
                "!=": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                ">": lambda a, b: a > b,
                "<=": lambda a, b: a <= b,
                ">=": lambda a, b: a >= b,
                "AND": lambda a, b: a & b,
                "OR": lambda a, b: a | b,
            }
            return ops[expr.op](left, right)
        raise EmdriveValidationError(f"Unsupported expression {expr!r}.")

    def _compile_distance(
        self,
        entry: TableEntry,
        expr: ast.BinOp,
        extra_cols: list[str] | None = None,
        rename: dict[str, str] | None = None,
    ) -> Column:
        """``col @ operand`` — distance under the column's METRIC KEY
        metric (README.md:67-78). The metric comes from the DDL
        declaration; a ``@`` on a column without one is a validation
        error (matches the README contract that ``@`` is defined by the
        metric index)."""
        if not isinstance(expr.left, ast.Ident):
            raise EmdriveValidationError(
                "Left side of @ must be a METRIC KEY column."
            )
        if rename and expr.left.name in rename:
            # Alias-shadows-base is the documented WHERE contract for
            # plain comparisons, but `@` binds a DDL-declared METRIC KEY
            # column — an aliased expression has no metric, so silently
            # binding the base here while `<`/`=` next to it bind the
            # alias would make the same name mean two columns in one
            # predicate (r4 advisor). Reject explicitly — but ONLY when
            # the name really is a declared metric column (round-5
            # review: an alias that matches no column, or a non-metric
            # one, must fall through to the accurate "does not exist" /
            # "has no METRIC KEY" errors, not a bogus shadow message).
            shadowed = next(
                (c for c in entry.columns if c.name == expr.left.name), None
            )
            if shadowed is not None and shadowed.metric is not None:
                raise EmdriveValidationError(
                    f"Alias {expr.left.name!r} shadows METRIC KEY column "
                    f"{expr.left.name!r}; '@' binds the declared metric column, "
                    f"so rename the alias or drop it from the SELECT list."
                )
        cdef = entry.column(expr.left.name)
        if cdef.metric is None:
            raise EmdriveValidationError(
                f"Column {cdef.name!r} has no METRIC KEY; @ is not defined for it."
            )
        metric_fn = D.resolve(cdef.metric)
        left = F.col(cdef.name)
        if cdef.metric == "hamming":
            if cdef.etype.base == "BINARY":
                # binary-backed hashes (wider than DECIMAL(38,0) holds
                # exactly — the UINT128-max edge, types.py): an integer
                # literal operand becomes its 16-byte big-endian form.
                if isinstance(expr.right, ast.Const) and isinstance(
                    expr.right.value, int
                ):
                    right = F.lit(expr.right.value.to_bytes(16, "big"))
                else:
                    right = self._compile(entry, expr.right, extra_cols, rename)
                return D.hamming_binary(left, right)
            right = self._compile(entry, expr.right, extra_cols, rename)
            if cdef.etype.base in ("UINT64", "UINT128"):
                # decimal-backed hashes: a plain cast("long") overflows
                # for values ≥ 2⁶³, so offset by 2⁶³ first (hamming_wide).
                return D.hamming_wide(
                    left, right, bits=128 if cdef.etype.base == "UINT128" else 64
                )
            return metric_fn(left.cast("long"), right.cast("long")).cast("long")
        right = self._compile(entry, expr.right, extra_cols, rename)
        return metric_fn(left, right)


def _auto_name(expr: ast.Expr, i: int) -> str:
    if isinstance(expr, ast.Ident):
        return expr.name
    if isinstance(expr, ast.FuncCall):
        return expr.name.lower()
    return f"col{i}"
