"""The repo's measuring tools: `bench.py` (steal-invariant metering,
noise canaries, the 2000-char stdout tail window, the headline op
list), `tools/bench_diff.py`, the registry counts stated in README and
SURVEY — and the suite's own import root."""

from __future__ import annotations

import importlib.util
import json
import os
import re
import subprocess
import time

import pytest

from emdrive_spark import registry
from emdrive_spark.functions import hostmeter
from emdrive_spark.registry import _ALIASES

from .conftest import ROOT


def _load(relpath):
    """Import a script of this checkout (bench.py, tools/*.py) by path."""
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def bench():
    return _load("bench.py")


def test_emdrive_spark_imports_from_this_checkout():
    """A copy of the repo must test its own engine: the package comes
    from the checkout that holds this suite, not from a fixed path."""
    import emdrive_spark

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(emdrive_spark.__file__)))
    assert os.path.realpath(pkg_root) == os.path.realpath(ROOT)


# ------------------------------------------------ doc counts pinned to code


def test_readme_counts_match_registry():
    """README and SURVEY state the registry size; both must equal the
    live registry so the r7/r8 count drift cannot happen a third time
    (r8 verdict item 5)."""
    n_ops = len(registry.queries())
    n_oracle = len(registry.oracle_sql())
    n_alias = len(_ALIASES)

    readme = open(os.path.join(ROOT, "README.md")).read()
    m = re.search(r"`queries\(\)` \((\d+)\s*\n?\s*ops\), `oracle_sql\(\)` \((\d+) DuckDB oracles\)", readme)
    assert m, "README no longer states the queries()/oracle_sql() counts"
    assert (int(m.group(1)), int(m.group(2))) == (n_ops, n_oracle), (
        f"README says {m.groups()}, registry has ({n_ops}, {n_oracle})"
    )

    survey = open(os.path.join(ROOT, "SURVEY.md")).read()
    m = re.search(
        r"Total: (\d+) registered queries \((\d+) distinct ops \+ (\d+) "
        r"aliases\), (\d+) with\s*\n?full value-checked oracles, (\d+) rows-only",
        survey,
    )
    assert m, "SURVEY §8 no longer states the registry totals"
    got = tuple(int(x) for x in m.groups())
    want = (n_ops, n_ops - n_alias, n_alias, n_oracle, n_ops - n_oracle)
    assert got == want, f"SURVEY says {got}, registry has {want}"


# ------------------------------------------------ bench.py


@pytest.mark.parametrize(
    "names",
    [None, ("mm_decode_phash_palette", "mm_decode_phash_deep")],
    ids=["all", "decode_ops"],
)
def test_bench_headline_names(bench, names):
    """Every HEADLINE entry (None: the whole list) must resolve in the
    live registry: a rename/removal would otherwise surface only as a
    KeyError in the driver's per-round bench run — the same
    silent-drift class as the README/SURVEY counts, pinned the same
    way. The certified decode ops must be headline ops."""
    if names is None:
        names = ("scan_full", *bench.HEADLINE)
    qs = registry.queries()
    missing = [n for n in names if n not in qs]
    assert not missing, f"bench HEADLINE names absent from registry: {missing}"
    absent = [n for n in names if n != "scan_full" and n not in bench.HEADLINE]
    assert not absent, f"not in bench HEADLINE: {absent}"
    dupes = [n for n in set(bench.HEADLINE) if bench.HEADLINE.count(n) > 1]
    assert not dupes, f"bench HEADLINE has duplicate entries: {dupes}"


def test_bench_committed_record_covers_headline(bench):
    """The committed quiet record must cover enough of HEADLINE that
    the fleet-median canary is live (>= 5 comparable rows by contract;
    in practice nearly all of them)."""
    rec = json.load(open(os.path.join(ROOT, "BENCH_LOCAL.json")))
    common = [n for n in bench.HEADLINE if isinstance(rec["queries"].get(n), (int, float))]
    assert len(common) >= 5
    assert len(common) >= len(bench.HEADLINE) - 5  # only brand-new ops may lack rows


def _tail_cap_payload(with_cpu=False):
    """A 90-query bench payload, optionally with the per-query cpu/steal
    dicts and the scalar meter fields."""
    qs = {f"op_with_a_realistic_name_{i:03d}": round(0.2 + i * 0.13, 3) for i in range(90)}
    payload = {"metric": "headline_queries_total", "value": 123.456, "unit": "sec", "queries": qs}
    if with_cpu:
        payload.update(
            cpu={k: round(v * 7.3, 3) for k, v in qs.items()},
            steal={k: 0.01 for k in qs},
            cpu_total=900.1,
            steal_total=1.23,
            steal_share=0.004,
            canary_ratio=1.02,
        )
    payload.update(reps=5, load_avg=[8.1, 8.39, 6.77], load_at_start=0.28, noisy=False, sf=0.1)
    return payload


def test_bench_stdout_line_fits_driver_tail_cap(bench):
    """The driver keeps only the LAST 2000 chars of bench output and
    json-parses the artifact of record from that window; the headline
    line outgrew it at r6 (BENCH_r06..r08 all carry "parsed": null).
    Pin the fix: the stdout payload trims its cheapest per-query rows
    until the compact line fits, flags how many were elided, keeps
    the expensive (signal-bearing) rows, and never mutates the full
    payload that lands in BENCH_LOCAL.json."""
    payload = _tail_cap_payload()
    qs = payload["queries"]
    slim = bench._fit_tail_cap(payload)
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) <= 2000 - 1  # newline margin inside the tail window
    assert json.loads(line)["value"] == 123.456
    assert slim["queries_elided"] == 90 - len(slim["queries"])
    # cheapest rows go first; the most expensive rows always survive
    kept_min = min(slim["queries"].values())
    elided_max = max(v for k, v in qs.items() if k not in slim["queries"])
    assert elided_max <= kept_min
    assert len(payload["queries"]) == 90  # full payload untouched

    # an already-small payload passes through bit-identical
    tiny = dict(payload, queries={"a": 1.0})
    assert bench._fit_tail_cap(tiny) == tiny


def test_fit_tail_cap_trims_wall_and_cpu_in_tandem(bench):
    """The stdout line carries two per-query dicts; a trimmed row must
    leave BOTH (aligned dicts), the per-query steal dict never rides on
    stdout, and the full payload is never mutated."""
    payload = _tail_cap_payload(with_cpu=True)
    qs = payload["queries"]
    slim = bench._fit_tail_cap(payload)
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) <= 2000 - 1
    assert "steal" not in slim and slim["steal_total"] == 1.23
    assert set(slim["cpu"]) == set(slim["queries"])
    assert slim["queries_elided"] == 90 - len(slim["queries"])
    kept_min = min(slim["queries"].values())
    elided_max = max(v for k, v in qs.items() if k not in slim["queries"])
    assert elided_max <= kept_min
    # scalar signal fields survive trimming
    parsed = json.loads(line)
    assert parsed["steal_share"] == 0.004 and parsed["canary_ratio"] == 1.02
    assert len(payload["queries"]) == 90 and len(payload["cpu"]) == 90


# ------------------------------------------------ steal-invariant metering
# Same-code runs spanned 157-226 s when the hypervisor stole CPU in
# patches invisible to in-guest loadavg, so bench.py meters per-query
# executor CPU time (steal cannot inflate it) and the guest's paravirt
# steal counter itself.


def test_hostmeter_counters_monotonic_and_busy_moves():
    """snapshot() returns cumulative counters that (a) exist on this
    host, (b) never decrease, and (c) busy/cpu advance when the guest
    burns CPU — the property every per-rep delta in bench.py rests on."""
    a = hostmeter.snapshot()
    assert a["busy_s"] is not None and a["steal_s"] is not None
    assert a["cpu_s"] is not None
    # burn ~0.15 s of CPU in-process
    t0 = time.process_time()
    x = 0
    while time.process_time() - t0 < 0.15:
        x += 1
    b = hostmeter.snapshot()
    d = hostmeter.delta(a, b)
    assert d["busy_s"] >= 0 and d["steal_s"] >= 0 and d["cpu_s"] >= 0
    # jiffy resolution is 10 ms; 150 ms of burn must register on both
    # the /proc/stat busy counter and the cgroup ns counter
    assert d["busy_s"] >= 0.05, d
    assert d["cpu_s"] >= 0.05, d


def test_hostmeter_steal_share_algebra():
    assert hostmeter.steal_share({"busy_s": 95.0, "steal_s": 5.0}) == 0.05
    assert hostmeter.steal_share({"busy_s": 0.0, "steal_s": 0.0}) is None
    assert hostmeter.steal_share({"busy_s": None, "steal_s": 5.0}) is None
    assert hostmeter.steal_share({"busy_s": 5.0, "steal_s": None}) is None
    d = hostmeter.delta(
        {"busy_s": 10.0, "steal_s": 1.0, "cpu_s": 12.0},
        {"busy_s": 16.0, "steal_s": 3.0, "cpu_s": 20.0},
    )
    assert d == {"busy_s": 6.0, "steal_s": 2.0, "cpu_s": 8.0}
    # None propagates per-field, never raises
    d = hostmeter.delta(
        {"busy_s": None, "steal_s": 1.0, "cpu_s": None},
        {"busy_s": 16.0, "steal_s": 3.0, "cpu_s": 20.0},
    )
    assert d["busy_s"] is None and d["steal_s"] == 2.0 and d["cpu_s"] is None


def test_bench_canary_ratio_contract(bench):
    """canary_ratio: FLEET-MEDIAN this-run/committed wall ratio over
    the intersection; None below 5 comparable rows (first run, renames,
    missing record) so a missing record can never flag a run. Fleet
    median, not a pinned subset: the r11 calibration found a pinned
    5-op set reading 1.006 under 16 hog processes (narrow-parallelism
    ops dodge in-guest contention via the scheduler) while the total
    inflated 3x."""
    names = [f"op_{i}" for i in range(9)]
    timings = {n: 2.0 for n in names}
    base = {n: 1.0 for n in names}
    assert bench._canary_ratio(timings, base) == 2.0
    # a minority of genuine engine changes cannot flag the run: 4 of 9
    # rows 10x faster in baseline -> median still reads the majority
    mixed = dict(base, **{n: 0.2 for n in names[:4]})
    assert bench._canary_ratio(timings, mixed) == 2.0
    assert bench._canary_ratio(timings, {}) is None
    assert bench._canary_ratio(timings, dict(list(base.items())[:4])) is None
    # zero/garbage baselines are excluded, not divided by
    assert bench._canary_ratio(timings, {n: 0.0 for n in names}) is None
    # intersection only: extra baseline rows are ignored
    assert bench._canary_ratio(timings, dict(base, extra=9.9)) == 2.0


def test_noisy_verdict_measurements_supersede_heuristic(bench):
    """With both in-run meters live, the start-loadavg heuristic cannot
    flag a run by itself (it twice cost the repo its fastest quiet
    record via a previous JVM's teardown load); it still decides alone
    when either meter is missing. Gates flag strictly-above."""
    v = bench._noisy_verdict
    # meters live + clean -> heuristic overruled
    assert v(True, 0.008, 0.74, 0.02, 1.2) is False
    # meters live + either gate tripped -> noisy regardless of load
    assert v(False, 0.044, 0.9, 0.02, 1.2) is True
    assert v(False, 0.001, 1.71, 0.02, 1.2) is True
    # at-gate is not above-gate
    assert v(False, 0.02, 1.2, 0.02, 1.2) is False
    # a meter missing -> heuristic decides alone
    assert v(True, None, 0.9, 0.02, 1.2) is True
    assert v(True, 0.008, None, 0.02, 1.2) is True
    assert v(False, None, None, 0.02, 1.2) is False
    # missing meter never blocks the other live gate
    assert v(False, None, 1.71, 0.02, 1.2) is True
    assert v(False, 0.044, None, 0.02, 1.2) is True


# ------------------------------------------------ tools/


def test_cpu_reliable_semantics():
    """cpu_reliable: artifacts since r12 carry the field directly;
    legacy artifacts fall back to the noisy flag; pre-canary artifacts
    (neither field) read reliable. r11 verdict item 3: a flagged run's
    cpu medians measured 1.2-5x inflated on identical code, so cpu is
    only cross-round evidence between quiet runs."""
    bd = _load("tools/bench_diff.py")
    assert bd.cpu_reliable({"cpu_reliable": True, "noisy": True}) is True  # field wins
    assert bd.cpu_reliable({"cpu_reliable": False}) is False
    assert bd.cpu_reliable({"noisy": True}) is False
    assert bd.cpu_reliable({"noisy": False}) is True
    assert bd.cpu_reliable({}) is True


def test_bench_diff_refuses_noisy_cpu_comparison(tmp_path):
    """--cpu against a flagged run exits 2 with the refusal message;
    --force proceeds; wall mode proceeds with a caveat. Enforcement
    lives in the tool so a future session cannot accidentally build a
    cross-round cpu claim on a contaminated artifact."""
    quiet = {"queries": {"a": 1.0, "b": 2.0}, "cpu": {"a": 5.0, "b": 6.0}, "noisy": False, "cpu_reliable": True}
    noisy = {"queries": {"a": 1.1, "b": 2.1}, "cpu": {"a": 9.0, "b": 11.0}, "noisy": True, "cpu_reliable": False}
    q, n = tmp_path / "q.json", tmp_path / "n.json"
    q.write_text(json.dumps(quiet))
    n.write_text(json.dumps(noisy))
    tool = os.path.join(ROOT, "tools", "bench_diff.py")
    r = subprocess.run(
        ["python", tool, "--cpu", str(q), str(n)], capture_output=True, text=True
    )
    assert r.returncode == 2 and "NOT cross-round evidence" in (r.stderr + r.stdout)
    r = subprocess.run(
        ["python", tool, "--cpu", "--force", str(q), str(n), "99"],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0 and "WARNING" in r.stderr
    r = subprocess.run(
        ["python", tool, str(q), str(n), "99"], capture_output=True, text=True
    )
    assert r.returncode == 0 and "CAVEAT" in r.stderr
    # two quiet runs: cpu diff runs clean
    r = subprocess.run(
        ["python", tool, "--cpu", str(q), str(q), "99"], capture_output=True, text=True
    )
    assert r.returncode == 0 and "WARNING" not in r.stderr
