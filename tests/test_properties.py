"""Property-based tests (hypothesis) for the pure-Python layers —
the dialect tokenizer/parser contracts the reference pins with unit
tests (/root/reference/src/sql/tokenizer.rs:267-540,
/root/reference/src/sql/parser.rs:83-205), generalized to generated
inputs, plus ULID shape/ordering and the hamming known-answer family.

No SparkSession needed: everything here is driver-side logic.
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from emdrive_spark.functions.generators import ulid, ulid_ms
from emdrive_spark.sql import ast
from emdrive_spark.sql.parser import parse_statement
from emdrive_spark.sql.tokenizer import KEYWORDS, tokenize

idents = st.text(string.ascii_lowercase, min_size=1, max_size=12).filter(
    lambda s: s.upper() not in KEYWORDS
)
# string literals: printable minus quote/backslash (escapes covered below)
plain_str = st.text(
    st.characters(codec="ascii", exclude_characters="'\\;\n"), max_size=20
)


@given(idents, idents)
@settings(max_examples=200)
def test_keyword_case_insensitive_identifier_case_sensitive(tbl, col):
    """tokenizer.rs:392 — SELECT/FROM match in any case; identifiers
    keep their exact case."""
    mixed = f"SeLeCt {col} FrOm {tbl}"
    stmt = parse_statement(mixed)
    assert isinstance(stmt, ast.Select)
    assert stmt.table == tbl
    assert stmt.items[0].expr == ast.Ident(col)


@given(plain_str)
@settings(max_examples=200)
def test_string_literal_roundtrip(s):
    """tokenizer.rs:457 — '…' literals hold arbitrary text; backslash
    escapes reproduce quotes and backslashes exactly."""
    escaped = s.replace("\\", "\\\\").replace("'", "\\'")
    toks = tokenize(f"SELECT '{escaped}' FROM t")
    lit = [t for t in toks if t.kind == "string"]
    assert len(lit) == 1
    assert lit[0].value == s


@given(st.integers(min_value=0, max_value=2**63 - 1))
@settings(max_examples=200)
def test_integer_literal_roundtrip(n):
    stmt = parse_statement(f"SELECT c FROM t WHERE c = {n}")
    assert stmt.where == ast.BinOp("=", ast.Ident("c"), ast.Const(n))


@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
@settings(max_examples=200)
def test_hamming_popcount_xor_model(a, b):
    """README.md:58-78 model: distance = popcount(a XOR b), symmetric,
    zero iff equal, triangle inequality."""
    d = bin(a ^ b).count("1")
    assert d == bin(b ^ a).count("1")
    assert (d == 0) == (a == b)
    for c in (0, 255, a ^ b):
        dc = bin(a ^ c).count("1") + bin(c ^ b).count("1")
        assert d <= dc


@given(st.integers(min_value=0, max_value=2**48 - 1), st.binary(min_size=10, max_size=10))
@settings(max_examples=200)
def test_ulid_shape_and_time_order(ms, entropy):
    """functions.rs:16-21 / README.md:115-117: 26-char Crockford
    base32, lexicographic order follows the ms timestamp, which
    ``ulid_ms`` reads back."""
    u = ulid(ms=ms, entropy=entropy)
    assert len(u) == 26
    assert ulid_ms(u) == ms
    assert re.fullmatch(r"[0-9ABCDEFGHJKMNPQRSTVWXYZ]{26}", u)
    later = ulid(ms=ms + 1, entropy=entropy)
    assert u < later


@given(idents, st.lists(idents, min_size=1, max_size=5, unique=True))
@settings(max_examples=100)
def test_select_projection_roundtrip(tbl, cols):
    sql = f"SELECT {', '.join(cols)} FROM {tbl}"
    stmt = parse_statement(sql)
    assert [i.expr for i in stmt.items] == [ast.Ident(c) for c in cols]
    assert stmt.table == tbl


@given(st.text(max_size=30))
@settings(max_examples=300)
def test_tokenizer_never_crashes_unexpectedly(s):
    """Any input either tokenizes or raises the dialect's own syntax
    error — never an internal exception."""
    from emdrive_spark.sql.errors import EmdriveSyntaxError

    try:
        tokenize(s)
    except EmdriveSyntaxError:
        pass


# -- round-3 guard/splitter properties ------------------------------------

from emdrive_spark.engine import is_query, rewrite_at_distance  # noqa: E402
from emdrive_spark.sql.tokenizer import split_statements  # noqa: E402

literal_body = st.text(
    st.characters(codec="ascii", exclude_characters="'\"`\\\n"), max_size=20
)


@given(st.lists(literal_body, min_size=1, max_size=5))
@settings(max_examples=200)
def test_split_statements_semicolons_in_literals_never_split(bodies):
    """A ';' inside a string literal is content for ANY literal body —
    the splitter returns exactly one piece per top-level statement."""
    stmts = [f"SELECT '{b};tail' AS s" for b in bodies]
    out = split_statements("; ".join(stmts))
    assert len(out) == len(stmts)
    for piece, b in zip(out, bodies):
        assert f"'{b};tail'" in piece


@given(literal_body)
@settings(max_examples=200)
def test_is_query_ignores_mutation_keywords_inside_literals(body):
    """Mutation keywords are only mutations OUTSIDE strings/comments."""
    assert is_query(f"WITH t AS (SELECT 'INSERT {body}' AS s) SELECT s FROM t")
    assert is_query(f"WITH t AS (SELECT 1) /* DELETE {body} */ SELECT 1")
    assert not is_query(
        f"WITH t AS (SELECT '{body}' AS s) INSERT INTO x SELECT s FROM t"
    )


@given(literal_body)
@settings(max_examples=200)
def test_at_rewrite_never_touches_masked_spans(body):
    """`@` inside double-quoted strings, single-quoted strings, or
    comments survives the rewrite verbatim."""
    sql = f"SELECT \"a @ b\" AS x, '{body} @ y' AS s FROM t -- z @ w"
    assert rewrite_at_distance(sql) == sql


# -- round-3 op invariants -------------------------------------------------

from .conftest import SF_SMOKE  # noqa: E402


def test_zorder_interleave_is_bijective_on_16bit_pairs():
    """The Morton interleave must be invertible: distinct (x, y) pairs
    map to distinct z-values (spot lattice + random corners)."""
    from emdrive_spark.operators.scale import _Z_BITS

    def z(x, y):
        v = 0
        for i in range(_Z_BITS):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v

    pts = [(x, y) for x in (0, 1, 2, 255, 65535) for y in (0, 1, 3, 254, 65535)]
    zs = [z(x, y) for x, y in pts]
    assert len(set(zs)) == len(pts)
    # locality sanity: neighbors differ by small z when low bits change
    assert z(2, 2) != z(2, 3)


def test_cusum_stats_are_non_negative(spark):
    from emdrive_spark import registry

    rows = registry.queries()["events_cusum"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.s_pos >= 0.0 and r.s_neg >= 0.0


def test_islands_invariants(spark):
    from emdrive_spark import registry

    rows = registry.queries()["window_islands"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_islands <= r.active_days
        assert r.longest_streak <= r.active_days


def test_transitions_rows_sum_to_one(spark):
    from collections import defaultdict

    from emdrive_spark import registry

    rows = registry.queries()["events_transitions"](spark, SF_SMOKE).collect()
    sums = defaultdict(float)
    for r in rows:
        sums[r.from_type] += r.p
    for v in sums.values():
        assert abs(v - 1.0) < 1e-4


# --- parser-level fuzz: the error-taxonomy contract -----------------------
# The reference returns a typed error for any malformed statement rather
# than crashing (/root/reference/src/sql/mod.rs error enums); our parser
# must do the same: arbitrary input either parses or raises an
# EmdriveError subclass — never an uncontrolled Python exception.

_sql_fragments = st.lists(
    st.sampled_from(
        [
            "SELECT", "CREATE", "TABLE", "INSERT", "INTO", "VALUES", "FROM",
            "WHERE", "ORDER", "BY", "LIMIT", "AS", "NOT", "NULL", "DEFAULT",
            "PRIMARY", "KEY", "METRIC", "USING", "IF", "EXISTS",
            "photos_seen", "url", "hash", "x", "(", ")", ",", ";", "@", "<",
            "=", "*", "'str'", "42", "0b1010", "UINT32", "STRING", "NULLABLE",
            "mtree", "hamming", "NOW()", "ULID()",
        ]
    ),
    min_size=0,
    max_size=12,
)


@given(_sql_fragments)
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes_unexpectedly(frags):
    from emdrive_spark.sql.errors import EmdriveError
    from emdrive_spark.sql.parser import parse_statement

    sql = " ".join(frags)
    try:
        parse_statement(sql)
    except EmdriveError:
        pass  # the documented taxonomy — always acceptable


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_parser_arbitrary_text_is_taxonomy_safe(s):
    from emdrive_spark.sql.errors import EmdriveError
    from emdrive_spark.sql.parser import parse_statement

    try:
        parse_statement(s)
    except EmdriveError:
        pass
