"""Codegen probe: classes compiled, the CPU of the JVM's JIT compiler
threads and the driver's py4j round trips, per unit of a benchmark
workload.

Runs one ``perfbench`` workload untraced in this process, exactly as
``perfbench/run.py`` would, and watches the session it builds:

* ``query_llm``: compiles and compile seconds in set-up, in the oracle
  pass (``tools.selfcheck.check_queries``) and in the timed pass;
* ``ingest_service``: the same per trigger, from one committed trigger's
  progress event to the next (the first two are the warm-up).

Each unit also reports the CPU, in cores, of thread groups of the run's
processes: in the JVM, the JIT compiler threads (C1, C2), the executor task
threads, the py4j gateway connection threads (``Thread-*``, which serve the
Python driver's calls), the ``stream execution`` thread, the
``dag-scheduler`` event loop and the garbage collector's threads; and the
Python driver (this process, the probe's own sampling included) and the
Python worker processes as wholes.
Each unit also counts the Python driver's py4j round trips
(``py4j_round_trips``): every JVM call, every object built and every
release of a Python-side handle is one, counted by a wrapper on the
connections' ``send_command``, which costs the driver a flag test and
an increment per round trip; those made while the probe's own trigger
listener handles an event are left out. The releases
(``garbage_collect_object``, sent by py4j's finalizer thread) are also
given alone (``py4j_releases``). With ``--sites N``, each unit lists the
N engine functions that issued the most round trips (releases excluded):
the innermost caller in the engine package outside its ``functions/``
helpers. That attribution walks the Python stack on every round trip, so
``python_driver_cores`` of a ``--sites`` run includes it; compare driver
CPU only between runs without ``--sites``.
``--cache-entries`` overrides ``session.CODEGEN_CACHE_ENTRIES`` (100 is
Spark's default). With ``--literals``, every class compiled in the timed
pass or after the warm-up triggers whose source equals an earlier class's
source up to its numeric literals is listed with the literals that differ.

    python tools/codegen_probe.py --workload query_llm --seed 1
    python tools/codegen_probe.py --workload ingest_service --seed 1 --cache-entries 100
    python tools/codegen_probe.py --workload ingest_service --seed 1 --sites 12

Prints the workload's JSON line, then one JSON line of the probe.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: JVM thread-name prefixes (``comm`` keeps 15 characters) -> reported group
THREADS = {
    "C2 CompilerThre": "jit_c2",
    "C1 CompilerThre": "jit_c1",
    "Executor task l": "executor",
    "Thread-": "py4j",
    "stream executio": "stream",
    "dag-scheduler-e": "dag_scheduler",
    "GC Thread": "gc",
    "G1 ": "gc",
}
#: whole processes: this one, and the Python workers Spark starts
PROCESSES = ("python_driver", "python_workers")
#: variable-name prefixes of whole-stage codegen operators
_OPERATORS = ("scan", "columnartorow", "filter", "project", "agg", "bhj", "shj", "smj",
              "sort", "expand", "generate", "range", "localtablescan", "window")
#: a standalone numeric literal in generated Java (not part of a name)
_LITERAL = re.compile(r"(?<![\w$.])-?\d+(?:\.\d+)?[LDFdf]?(?![\w$])")


def _cpu_s(stat: str) -> tuple[str, float]:
    """The command name and CPU seconds (user + system) in a ``stat`` line."""
    fields = stat.rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return stat[stat.index("(") + 1 : stat.rindex(")")], cpu


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            return fh.read()
    except OSError:
        return None


class ThreadCpu:
    """CPU seconds (user + system) per thread group over the run's process
    tree. The JVM starts and ends compiler threads as its queue grows and
    shrinks, and Spark starts and ends Python workers, so a background
    sampler credits each thread's and worker's growth every ``interval``
    seconds; one that ends loses at most one interval."""

    def __init__(self, interval: float = 0.25) -> None:
        self.total = dict.fromkeys([*THREADS.values(), *PROCESSES], 0.0)
        self._last: dict[tuple[int, str], float] = {}
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        threading.Thread(target=self._run, daemon=True).start()

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> dict[str, float]:
        from perfbench.run import descendants

        me = os.getpid()
        with self._lock:
            for pid in {me} | descendants():
                stat = _read(f"/proc/{pid}/stat")
                if stat is None:
                    continue
                comm, cpu = _cpu_s(stat)
                if pid == me or comm.startswith("python"):
                    # a process's own line counts its ended threads too
                    group = "python_driver" if pid == me else "python_workers"
                    self._credit(group, (pid, ""), cpu)
                    continue
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    continue
                for tid in tids:
                    stat = _read(f"/proc/{pid}/task/{tid}/stat")
                    if stat is None:
                        continue
                    comm, cpu = _cpu_s(stat)
                    group = next((g for p, g in THREADS.items() if comm.startswith(p)), None)
                    if group:
                        self._credit(group, (pid, tid), cpu)
            return dict(self.total)

    def _credit(self, group: str, key: tuple[int, str], cpu: float) -> None:
        self.total[group] += cpu - self._last.get(key, 0.0)
        self._last[key] = cpu

    def close(self) -> None:
        self._stop.set()


class Py4jCounter:
    """Round trips of this process's py4j connections to the JVM, from a
    wrapper on ``send_command`` of both connection classes (pinned-thread
    ``ClientServerConnection``, pooled ``GatewayConnection``); releases are
    the ``garbage_collect_object`` commands among them. Round trips made
    while pyspark hands a streaming listener event to a Python listener
    (this probe's own trigger listener) are not counted: a thread-local
    flag marks them, so the wrapper does no more than a flag test and a
    counter increment. With ``sites``, each other round trip is charged
    to its innermost caller in the engine package, skipping the
    ``functions/`` expression helpers; that stack walk runs in the Python
    driver and adds to its CPU."""

    def __init__(self, sites: bool) -> None:
        from py4j import clientserver, java_gateway, protocol
        from pyspark.sql.streaming.listener import JStreamingQueryListener

        from go_nats_to_clickhouse_spark import __file__ as package_init

        self.calls = 0
        self.releases = 0
        self.sites: dict[str, int] = {}
        self._lock = threading.Lock()
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        package = os.path.dirname(package_init)
        helpers = os.path.join(package, "functions")
        in_listener = threading.local()
        counter = self

        def site() -> str:
            frame = sys._getframe(2)
            while frame is not None:
                path = frame.f_code.co_filename
                if path.startswith(package) and not path.startswith(helpers):
                    module = os.path.relpath(path, package)[:-3].replace(os.sep, ".")
                    return f"{module}.{frame.f_code.co_name}"
                frame = frame.f_back
            return "(outside the engine)"

        def wrap(send):
            def counted(connection, command, *args, **kwargs):
                if getattr(in_listener, "on", False):
                    return send(connection, command, *args, **kwargs)
                is_release = command.startswith(release)
                where = site() if sites and not is_release else None
                with counter._lock:
                    counter.calls += 1
                    counter.releases += is_release
                    if where:
                        counter.sites[where] = counter.sites.get(where, 0) + 1
                return send(connection, command, *args, **kwargs)

            return counted

        def uncounted(handler):
            def handle(listener, jevent):
                in_listener.on = True
                try:
                    return handler(listener, jevent)
                finally:
                    in_listener.on = False

            return handle

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            cls.send_command = wrap(cls.send_command)
        for name in ("onQueryStarted", "onQueryProgress", "onQueryIdle", "onQueryTerminated"):
            setattr(JStreamingQueryListener, name, uncounted(getattr(JStreamingQueryListener, name)))

    def snapshot(self) -> tuple[int, int, dict[str, int]]:
        with self._lock:
            return self.calls, self.releases, dict(self.sites)


class Probe:
    def __init__(self, literals: bool, sites: int = 0) -> None:
        self.literals = literals
        self.n_sites = sites
        self.py4j = Py4jCounter(sites > 0)
        self.spark = None
        self.marks: list[tuple[str, float, int, float, dict, tuple]] = []
        self.bodies: dict[int, str] = {}  # identity hash -> source, every class seen
        self.variants: list[dict] = []
        self.cpu: ThreadCpu | None = None
        self._lock = threading.Lock()

    def attach(self, spark) -> None:
        self.spark = spark
        self.cpu = ThreadCpu()
        self.mark("start")

    def mark(self, label: str) -> None:
        from go_nats_to_clickhouse_spark.session import codegen_stats

        with self._lock:
            compiles, compile_s = codegen_stats(self.spark)
            cpu = self.cpu.sample()
            self.marks.append(
                (label, time.perf_counter(), compiles, compile_s, cpu, self.py4j.snapshot())
            )
            if self.literals:
                # marks: start, then set-up and oracle pass or two warm-up triggers
                self._scan_cache(steady=len(self.marks) > 3)

    def _scan_cache(self, steady: bool) -> None:
        """Fetch the source of classes cached since the last scan; after the
        warm-up, record those equal to an earlier class up to literals."""
        jvm = self.spark.sparkContext._jvm
        gen = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
        )
        module = gen.getDeclaredField("MODULE$").get(None)
        field = gen.getDeclaredField("cache")
        field.setAccessible(True)
        keys = field.get(module).cache().asMap().keySet().toArray()
        seen = {_LITERAL.sub("#", b): b for b in self.bodies.values()}
        for key in keys:
            ident = jvm.java.lang.System.identityHashCode(key)
            if ident in self.bodies:
                continue
            body = key._2().body()  # key: (class loader, CodeAndComment)
            self.bodies[ident] = body
            shape = _LITERAL.sub("#", body)
            if steady and shape in seen:
                # an identical source (evicted, or cached under another class
                # loader) lists no literal and is no variant
                pairs = zip(_LITERAL.findall(seen[shape]), _LITERAL.findall(body))
                literals = [(a, b) for a, b in pairs if a != b]
                if literals:
                    self.variants.append(
                        {"unit": len(self.marks) - 1, "class": _class_line(body),
                         "literals": literals[:6]}
                    )
            seen.setdefault(shape, body)

    def report(self) -> dict:
        self.cpu.close()
        units = []
        for (_, t0, c0, s0, cpu0, py0), (label, t1, c1, s1, cpu1, py1) in zip(
            self.marks, self.marks[1:]
        ):
            wall = t1 - t0
            unit = {
                "unit": label,
                "wall_s": round(wall, 2),
                "compiles": c1 - c0,
                "compile_s": round(s1 - s0, 2),
                **{f"{g}_cores": round((cpu1[g] - cpu0[g]) / wall, 2) for g in cpu1},
                "py4j_round_trips": py1[0] - py0[0],
                "py4j_releases": py1[1] - py0[1],
            }
            if self.n_sites:
                grown = {k: n - py0[2].get(k, 0) for k, n in py1[2].items()}
                top = sorted(grown.items(), key=lambda kv: -kv[1])[: self.n_sites]
                unit["py4j_sites"] = {k: n for k, n in top if n}
            units.append(unit)
        out = {"units": units, "compiles_total": self.marks[-1][2] - self.marks[0][2]}
        if self.literals:
            out["literal_variants"] = self.variants
        return out


def _class_line(body: str) -> str:
    """The kind of a generated class, with the operators of a whole-stage one."""
    kind = re.search(r"class (\w+)", body)
    ops = sorted(set(re.findall(rf"\b({'|'.join(_OPERATORS)})_", body)))
    return " ".join([kind.group(1) if kind else "?", *ops])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest_service", "query_llm"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--cache-entries", type=int)
    ap.add_argument("--literals", action="store_true")
    ap.add_argument("--sites", type=int, default=0, metavar="N")
    args = ap.parse_args(argv)

    from go_nats_to_clickhouse_spark import session
    from perfbench import common, queries
    from perfbench import run as bench

    if args.cache_entries:
        session.CODEGEN_CACHE_ENTRIES = args.cache_entries
    probe = Probe(args.literals, args.sites)

    start_spark = common.RunContext.start_spark

    def start_and_attach(ctx):
        spark = start_spark(ctx)
        probe.attach(spark)
        if args.workload == "ingest_service":
            from pyspark.sql.streaming import StreamingQueryListener

            class Triggers(StreamingQueryListener):
                def onQueryStarted(self, event):
                    pass

                def onQueryProgress(self, event):
                    if event.progress.numInputRows:
                        probe.mark(f"trigger {event.progress.batchId}")

                def onQueryIdle(self, event):
                    pass

                def onQueryTerminated(self, event):
                    pass

            spark.streams.addListener(Triggers())
        return spark

    common.RunContext.start_spark = start_and_attach
    if args.workload == "query_llm":
        import tools.selfcheck as selfcheck

        check_queries, run_queries = selfcheck.check_queries, queries.run

        def checked(*a, **k):
            probe.mark("setup")
            failures = check_queries(*a, **k)
            probe.mark("oracle pass")
            return failures

        def timed(ctx, seconds):
            result = run_queries(ctx, seconds)
            probe.mark("timed pass")
            return result

        selfcheck.check_queries, queries.run = checked, timed

    rc = bench.main(
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds)]
    )
    print(json.dumps(probe.report()), flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
