"""Traced launch of the emdrive HTTP server, owned by the benchmark.

Behaves like ``python -m emdrive_spark.server`` (same ``serve()``, same
ready line, same SIGTERM shutdown) with three additions:

- the session is built with ``get_spark(extra_conf=...)`` so Spark writes
  an uncompressed event log to ``$PERFBENCH_TRACE_DIR/eventlog``;
- public callables of the engine's layers are wrapped to record spans
  (name, start, end, statement id, bytes a save wrote, the tracer's own
  cost) in memory;
- every request runs under a Spark job group named by the client's
  ``X-Bench-Id`` header, so jobs in the event log map to statements.

The spans are written to ``$PERFBENCH_TRACE_DIR/spans.json`` after the
server has stopped. Usage::

    PERFBENCH_TRACE_DIR=/some/dir python perfbench/traced_server.py
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time

_current = threading.local()  # .bench_id of the request on this thread
# (bench_id, name, start_ns, end_ns, bytes_written, tracer_cost_ns)
_spans: list[tuple] = []
_spans_lock = threading.Lock()


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, size, mtime_ns) of every regular file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            try:
                st = os.stat(path)
            except OSError:
                continue
            out[path] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two _files()
    listings. A save that adds one part-file counts that file only, not
    the table it leaves in place."""
    return sum(st[1] for path, st in after.items() if before.get(path) != st)


def _record(name: str, t0: int, t1: int, nbytes: int = 0, cost_ns: int = 0) -> None:
    with _spans_lock:
        _spans.append((getattr(_current, "bench_id", ""), name, t0, t1, nbytes, cost_ns))


def _span(name: str, fn, measure_root=None):
    """Wrap ``fn`` so each call records a span. ``measure_root(args)``
    names a directory whose new or changed files after the call count as
    bytes written. The wrapper's own time outside ``fn`` (clock reads and
    the two directory listings) is recorded as the tracer's cost."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        w0 = time.perf_counter_ns()
        root = measure_root(args) if measure_root else None
        before = _files(root) if root else {}
        t0 = time.perf_counter_ns()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter_ns()
            nbytes = _written(before, _files(root)) if root else 0
            _record(name, t0, t1, nbytes, (t0 - w0) + (time.perf_counter_ns() - t1))

    return wrapper


def _install(spark) -> None:
    from emdrive_spark import catalog, engine, server

    engine.parse_statement = _span("sql.parse", engine.parse_statement)
    engine.Engine.execute_script = _span("engine.execute_script", engine.Engine.execute_script)
    server._rows_json = _span("engine.result", server._rows_json)
    catalog.Catalog.insert = _span("catalog.insert", catalog.Catalog.insert)
    # Catalog.save(self, root): root is the data directory it writes under.
    catalog.Catalog.save = _span("catalog.save", catalog.Catalog.save, lambda a: a[1])

    make_handler = server.make_handler
    sc = spark.sparkContext

    def traced_make_handler(*args, **kwargs):
        base = make_handler(*args, **kwargs)

        class Handler(base):
            def _run(self, sql, read_only):
                c0 = time.perf_counter_ns()
                bench_id = self.headers.get("X-Bench-Id", "")
                _current.bench_id = bench_id
                sc.setJobGroup(bench_id or "untagged", "perfbench statement")
                t0 = time.perf_counter_ns()
                try:
                    super()._run(sql, read_only)
                finally:
                    t1 = time.perf_counter_ns()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    # the job-group calls are py4j round trips: tracer cost
                    _record("server.request", t0, t1, 0, (t0 - c0) + (time.perf_counter_ns() - t1))
                    _current.bench_id = ""

        return Handler

    server.make_handler = traced_make_handler


def main() -> None:
    trace_dir = os.environ["PERFBENCH_TRACE_DIR"]
    log_dir = os.path.join(trace_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)

    from emdrive_spark import server
    from emdrive_spark.session import get_spark

    spark = get_spark(
        "emdrive-server",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    _install(spark)
    httpd = server.serve(spark=spark)
    server.install_shutdown_handlers(httpd)
    host, port = httpd.server_address[:2]
    print(f"emdrive-spark listening on http://{host}:{port}", flush=True)
    httpd.serve_forever()
    httpd.server_close()
    spark.stop()  # closes and renames the event log
    with _spans_lock:
        rows = list(_spans)
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump(rows, f)
    print("emdrive-spark stopped cleanly", flush=True)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())  # the checkout root holds emdrive_spark
    main()
