"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke and metric tests launch real servers at tiny sizes (a few
minutes in all); the race test reproduces a known engine defect.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import traced_server  # noqa: E402
import tracelog  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _bench(workload: str, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "3", "--trace", str(trace), "--rows", "1000"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _check_printed(lines: list[str], result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        # the human-readable line names the metric with its unit
        assert any(ln.split()[:1] == [m["name"]] and ln.split()[2] == m["unit"] for ln in lines), m["name"]
    assert any(ln.startswith("failed_frac ") for ln in lines)
    host = json.loads(next(ln for ln in lines if ln.startswith("host "))[5:])
    assert {"seed", "nproc", "driver_heap", "spark", "loadavg", "steal_share"} <= set(host)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    lines, result = _bench(workload, 0)
    _check_printed(lines, result, SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_every_layer_metric(workload):
    lines, result = _bench(workload, 1)
    _check_printed(lines, result, SPEC["per_layer"])
    assert result["metrics"]["spark.jobs"]["value"] > 0


def test_workloads_match_spec():
    assert sorted(run.WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


def test_popcount_matches_python():
    rng = np.random.default_rng(3)
    hashes = rng.integers(0, 2**64, size=200, dtype=np.uint64)
    q = 0xF0F0_1234_ABCD_FFFF
    got = run.popcount_distances(hashes, q).tolist()
    assert got == [bin(int(h) ^ q).count("1") for h in hashes]


def test_tail_has_ten_samples_beyond():
    lat = list(range(100))
    value, pct = run.percentile_tail(lat)
    assert sum(x > value for x in lat) == 10 and pct == 90.0


def test_host_scale_is_reference_speed_over_mean_sample():
    # samples flip between a fast and a slow mode; the mean weighs both
    refs = [0.002] * 3 + [0.004] * 2
    assert run.host_scale(refs) == pytest.approx(run.REF_MS / 2.8)
    samples = run.reference_samples(4)
    assert len(samples) == 4 and all(t > 0 for t in samples)


def test_job_span_union():
    assert tracelog._union_ms([(0, 10), (5, 20), (30, 40)]) == 30.0


def test_bytes_written_counts_only_new_or_changed_files():
    root = os.path.join(ROOT, ".bench_work", f"files-{os.getpid()}")
    os.makedirs(root)
    try:
        for name, size in (("part-0", 100), ("part-1", 200)):
            with open(os.path.join(root, name), "wb") as f:
                f.write(b"x" * size)
        before = traced_server._files(root)
        with open(os.path.join(root, "part-2"), "wb") as f:  # a delta file
            f.write(b"x" * 30)
        os.remove(os.path.join(root, "part-0"))
        with open(os.path.join(root, "part-0"), "wb") as f:  # a rewrite: new inode
            f.write(b"x" * 100)
        assert traced_server._written(before, traced_server._files(root)) == 130
    finally:
        shutil.rmtree(root, ignore_errors=True)


RACE_REASON = (
    "known defect: with durability on, Catalog.save deletes part-files that a "
    "concurrent SELECT's plan still lists, so the read fails with HTTP 500 "
    "FAILED_READ_FILE.FILE_NOT_EXIST; two identical probes saw 7/44 and 16/41 "
    "reads fail. The fix belongs in emdrive_spark/catalog.py."
)


@pytest.mark.xfail(strict=False, reason=RACE_REASON)
def test_durable_read_during_insert_never_fails():
    workdir = os.path.join(ROOT, ".bench_work", f"race-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    server = run.launch(workdir, durable=True)
    reads: list[run.Stmt] = []
    stop = threading.Event()

    def reader() -> None:
        rconn, qrng = run.Conn(server.port), np.random.default_rng(12)
        while not stop.is_set():
            q = int(qrng.integers(0, 2**64, dtype=np.uint64))
            reads.append(rconn.run(run.Stmt("read", "knn", run.knn_sql(q), arg=q)))
        rconn.close()

    t = threading.Thread(target=reader)
    try:
        server.wait_ready()
        rng = np.random.default_rng(11)
        conn = run.Conn(server.port)
        assert conn.run(run.Stmt("ddl", "ddl", run.CREATE)).ok
        assert conn.run(run.Stmt("load", "insert", run.insert_sql(*run.make_rows(20_000, 0, rng)))).ok
        t.start()
        deadline, next_id = time.monotonic() + 20, 20_000
        while time.monotonic() < deadline:
            sql = run.insert_sql(*run.make_rows(50, next_id, rng))
            next_id += 50
            assert conn.run(run.Stmt("write", "insert", sql)).ok
        conn.close()
    finally:
        stop.set()
        if t.is_alive():
            t.join(timeout=120)
        server.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    assert not t.is_alive()
    failed = [s for s in reads if not s.ok]
    assert reads and not failed, f"{len(failed)}/{len(reads)} reads failed: {failed[0].body[:200]!r}"
