"""Repository benchmark: one command, two workloads, end-to-end or traced.

    python3 perfbench/run.py --workload ingest_service --seed 1 --seconds 6 --trace 0

Run from the repository root. Each run gets its own scratch directory
under ``.perfbench_tmp/`` (warehouse, checkpoints, materialization cache,
Spark local dirs, event log), removed when the run ends. Spark runs on
``local[nproc]``. The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run wraps the program's layer functions, writes an
uncompressed Spark event log, and reports the per-layer metrics instead.
Outputs are checked for correctness outside the timed region; on any
mismatch no numbers are reported and the exit code is 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "go_nats_to_clickhouse_spark"


class RssSampler:
    """Peak resident memory of this process and its descendants (the JVM
    and its Python workers) while a window is open, sampled from /proc.
    Workloads open the window around their timed region, so set-up and the
    benchmark's own oracle check (DuckDB runs in this process) do not
    count; memory set-up leaves resident does. Each process counts its
    proportional set size, so pages that forked Python workers share with
    their parent are counted once, not once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._open = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def open_window(self) -> None:
        self._open.set()

    def close_window(self) -> None:
        self._open.clear()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._open.wait(self._interval):
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())
                self._stop.wait(self._interval)

    def _tree_rss(self) -> int:
        total = 0
        for pid in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total


def descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()
    tree = {me}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {me}


def stop_jvm(gateway, timeout: float = 60.0) -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait until it and every Python worker it started have exited."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _isolate(workdir: str) -> None:
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # the program's materialization cache starts empty in every run
    os.environ["SPARK_GRAFT_MAT_DIR"] = os.path.join(workdir, "mat")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = os.path.join(workdir, "tmp")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] threads (default: nproc; 1 gives the single-threaded reference)",
    )
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import ingest, queries  # noqa: E402 (needs ROOT on sys.path)
    from perfbench.common import RunContext  # noqa: E402

    workloads = {"ingest_service": ingest.run, "query_llm": queries.run}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    workdir = tempfile.mkdtemp(dir=scratch, prefix=f"{args.workload}-")
    _isolate(workdir)
    ctx = RunContext(workdir, args.seed, bool(args.trace), T_START, args.cores)
    try:
        with RssSampler() as rss, contextlib.redirect_stdout(sys.stderr):
            ctx.memory = rss
            try:
                ctx.start_spark()
                result = workloads[args.workload](ctx, args.seconds)
            finally:
                if ctx.spark is not None:
                    gateway = ctx.spark.sparkContext._gateway
                    ctx.spark.stop()
                    stop_jvm(gateway)
            if ctx.trace:
                result.finish_trace(ctx)
        if not args.trace:
            result.metrics["peak_rss_mb"] = (rss.peak_bytes / 1e6, "MB")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            os.rmdir(scratch)
    out = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": (
            {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()}
            if result.failed == 0
            else {}
        ),
    }
    print(json.dumps(out), flush=True)
    return 0 if result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
