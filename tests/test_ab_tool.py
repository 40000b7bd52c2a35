"""tools/ab.py, run in process on the test session: ops mode and flag
mode each report one result row per (op, arm), and flag mode restores
the flag it flips."""

from __future__ import annotations

from tools import ab

from .conftest import SF_SMOKE

# The flag-mode switch: a module-level boolean, as an operator's
# temporary A/B flag would be.
_AB_SWITCH = False

_OPS = ("hamming_distance", "vector_dot")


def test_ops_mode_one_row_per_op(spark):
    rows, _ = ab.run(spark, _OPS, SF_SMOKE, reps=1)
    assert [(r["op"], r["arm"]) for r in rows] == [(op, "base") for op in _OPS]
    for r in rows:
        assert len(r["walls"]) == 1
        assert 0 <= r["build_med"] <= r["wall_med"]


def test_flag_mode_one_row_per_op_and_arm(spark):
    rows, _ = ab.run(
        spark, _OPS, SF_SMOKE, reps=1,
        flag=f"{__name__}:_AB_SWITCH", labels=("old", "new"),
    )
    assert sorted((r["op"], r["arm"]) for r in rows) == sorted(
        (op, arm) for op in _OPS for arm in ("old", "new")
    )
    assert all(len(r["walls"]) == 1 for r in rows)
    assert _AB_SWITCH is False
