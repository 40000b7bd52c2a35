"""Time registry ops, or A/B two arms of a change, in one JVM.

Every sample runs one op into the noop sink (the bench's sink) with
hostmeter (wall / executed CPU / paravirt steal) bracketed around it,
reps go round-robin over ops and arms, and medians are reported.
``build`` is the op call alone (query construction plus any driver-side
collect, e.g. PQ codebook training); ``wall`` is build plus the run.

Usage:
  python tools/ab.py ops OP [OP ...]
      time the given ops.
  python tools/ab.py flag MODULE:FLAG OFF_LABEL ON_LABEL OP [OP ...]
      interleave FLAG=False (arm OFF_LABEL) and FLAG=True (arm ON_LABEL)
      within each rep; FLAG is a module-level boolean read at query-build
      time, e.g. emdrive_spark.operators.analytics:_SOME_SWITCH.
  python tools/ab.py conf JSON OP [OP ...]
      time the ops in a session built with get_spark(extra_conf=JSON).
      A static conf needs its own JVM, so run once per arm ('{}' for the
      shipped session) and compare the two printouts.

Env:   SPARK_GRAFT_SF_DIR (default: sources.tables.DEFAULT_SF_DIR)
       SPARK_GRAFT_REPS   (default 5)
Warm-up runs every (op, arm) once at the sibling sf0.001 directory.

An A/B flag is temporary: the change that adds it keeps both arms only
until the A/B decides, and then deletes the losing arm and the flag.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emdrive_spark import registry  # noqa: E402
from emdrive_spark.functions import hostmeter  # noqa: E402
from emdrive_spark.functions.ckpt import release  # noqa: E402
from emdrive_spark.session import get_spark  # noqa: E402
from emdrive_spark.sources.tables import DEFAULT_SF_DIR  # noqa: E402


def _sample(spark, fn, sf_dir: str) -> tuple[float, float, dict]:
    m0 = hostmeter.snapshot()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    d = hostmeter.delta(m0, hostmeter.snapshot())
    release(spark, blocking=True)
    return t1 - t0, t2 - t0, d


def run(
    spark,
    ops: tuple[str, ...],
    sf_dir: str,
    reps: int,
    flag: str | None = None,
    labels: tuple[str, str] = ("off", "on"),
    warm_dir: str | None = None,
) -> tuple[list[dict], float | None]:
    """Time ``ops`` and return (one row per (op, arm), run steal share).

    Without ``flag`` there is one arm, "base". With ``flag`` =
    "module:NAME" the arms are ``labels``: NAME=False, then NAME=True,
    alternating within every rep; NAME is restored afterwards."""
    qs = registry.queries()
    if flag is None:
        mod, name, arms = None, None, (("base", None),)
    else:
        modname, name = flag.split(":")
        mod = importlib.import_module(modname)
        arms = ((labels[0], False), (labels[1], True))
    saved = getattr(mod, name) if mod else None

    def each_sample(sf):
        for op in ops:
            for arm, v in arms:
                if mod:
                    setattr(mod, name, v)
                yield op, arm, _sample(spark, qs[op], sf)

    samples = {(op, arm): [] for op in ops for arm, _ in arms}
    try:
        if warm_dir:  # codegen/JIT for every arm, off the timed path
            for _ in each_sample(warm_dir):
                pass
        run0 = hostmeter.snapshot()
        for r in range(reps):
            for op, arm, s in each_sample(sf_dir):
                samples[(op, arm)].append(s)
            print(f"-- rep {r + 1}/{reps} done", file=sys.stderr, flush=True)
        share = hostmeter.steal_share(hostmeter.delta(run0, hostmeter.snapshot()))
    finally:
        if mod:
            setattr(mod, name, saved)

    def med(xs):
        xs = [x for x in xs if x is not None]
        return statistics.median(xs) if xs else None

    rows = []
    for (op, arm), ss in samples.items():
        rows.append(
            {
                "op": op,
                "arm": arm,
                "build_med": med([b for b, _, _ in ss]),
                "wall_med": med([w for _, w, _ in ss]),
                "cpu_med": med([d["cpu_s"] for _, _, d in ss]),
                "walls": [round(w, 2) for _, w, _ in ss],
                "steals": [None if d["steal_s"] is None else round(d["steal_s"], 1)
                           for _, _, d in ss],
            }
        )
    return rows, share


def _fmt(x, nd: int) -> str:
    return "-" if x is None else f"{x:.{nd}f}"


def main() -> None:
    usage = __doc__.split("Env:")[0]
    if len(sys.argv) < 3 or sys.argv[1] not in ("ops", "flag", "conf"):
        print(usage, file=sys.stderr)
        sys.exit(2)
    mode, args = sys.argv[1], sys.argv[2:]
    flag, labels, conf = None, ("off", "on"), {}
    if mode == "flag":
        if len(args) < 4:
            print(usage, file=sys.stderr)
            sys.exit(2)
        flag, labels, args = args[0], (args[1], args[2]), args[3:]
    elif mode == "conf":
        conf, args = json.loads(args[0] or "{}"), args[1:]
    ops = tuple(args)
    if not ops:
        print(usage, file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "5"))
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")

    spark = get_spark(f"emdrive-ab-{mode}", extra_conf=conf)
    rows, share = run(spark, ops, sf_dir, reps, flag, labels, warm_dir)
    spark.stop()

    arm_src = {"ops": "", "flag": flag, "conf": json.dumps(conf)}[mode]
    print(f"\nrun steal_share={share}  reps={reps}  sf_dir={sf_dir}  {arm_src}")
    print(f"{'op':26s} {'arm':6s} {'build_med':>9s} {'wall_med':>8s} "
          f"{'cpu_med':>8s}  walls / steals")
    for r in rows:
        print(
            f"{r['op']:26s} {r['arm']:6s} {_fmt(r['build_med'], 3):>9s} "
            f"{_fmt(r['wall_med'], 3):>8s} {_fmt(r['cpu_med'], 2):>8s}  "
            f"{r['walls']} {r['steals']}"
        )


if __name__ == "__main__":
    main()
