"""Record-linkage benchmark: end-to-end and per-layer metrics of the engine
at ``local[N]``, N = the processors this process may use.

    python3 perfbench/run.py --workload pages_linkage --seed 1 --seconds 10 --trace 0

Each run is one process with one Spark session, built by the package's
``get_spark``. It makes its inputs from ``--seed`` (cached under
``perfbench/.cache``), times calls into the engine's public entry points
from outside, checks every output, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
the run's details: environment, input digest, every timed sample and
every output check. Nothing is written outside ``perfbench/``; the run's
workdir under ``perfbench/.work`` is removed at exit.

Workloads (see ``workloads.py``):

* ``pages_linkage`` - one batch pass of ``LinkagePipeline`` over the ~95%
  base of a seeded ``generate_pages`` corpus, then ``increment`` of the
  other ~5% into it. A spark-submit user pays the cold JVM on every run, so
  the pass is the first work of the process and its warm-up is timed.
* ``part_sweep`` - the reference-API joins a library user runs in one
  session. The session's first sweep is the warm-up a library user pays
  once: it is checked but not timed. Timed sweeps then repeat for
  ``--seconds``; ``wall_s`` is their median.

End-to-end metrics (``--trace 0``):

* ``setup_s`` - process start to a ready session: the interpreter's start,
  the package import, the JVM launch and session build by ``get_spark``,
  plus the per-run workdir preparation. Input generation is not counted.
* ``wall_s`` - first call into the program until its result is complete.
  Output checks are not timed.
* ``rows_per_s`` - input rows of one timed unit / ``wall_s``.
* ``peak_rss_mb`` - peak resident memory of the process tree (driver JVM,
  Python workers and this process), sampled every 0.2 s. Pages the Python
  processes share count once.
* ``pairwise_f1`` - pages: pairwise F1 of the clusters against the
  generator's ground truth on ``labeled_pairs`` (must be >= 0.99); part:
  pairwise F1 of each join's output against the DuckDB oracle. Lowest of
  the run.

Calls that raise or fail their check count in ``failed`` out of
``attempted``, and make the run exit 1.

``--trace 1`` turns on Spark's event log and runs every layer call under
its own job group, then prints the per-layer metrics (``layers.py``)
instead; the details line then carries the spans and the job attribution.
Tracing overhead is this run's ``trace.wall_s`` minus the untraced
``wall_s`` of the same workload.

``--smoke`` runs tiny inputs with one timed unit; the benchmark's own tests
use it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = ROOT / "py_stringsimjoin_spark"
# Sized for the small inputs on a 16 GiB machine shared with the Python
# workers. The heap is fixed (-Xms = -Xmx) and made resident at start-up
# (AlwaysPreTouch): otherwise its pages become resident as the collector
# first uses them, which varies with GC timing (the JVM's peak read 1.8 to
# 2.7 GB over four runs of one workload), and so would peak_rss_mb.
HEAP = "2g"


def _process_age() -> float:
    """Seconds since this process started, from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19]) / ticks
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _procs() -> dict[int, tuple]:
    """pid -> (ppid, name, resident pages), from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:  # the process ended meanwhile
            continue
        fields = rest.split()
        out[int(d)] = (int(fields[1]), head.split("(", 1)[1], int(fields[21]))
    return out


def _tree(root: int, procs: dict) -> list[int]:
    """``root`` and all its descendant processes."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident bytes of ``pid``: a page shared with other
    processes counts by its share."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended meanwhile
        pass
    return 0


def _tree_memory(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, by process name. The
    Python processes count their proportional size, as forked workers share
    most of their pages with each other. The JVM counts its resident size:
    it shares next to nothing, and reading its proportional size takes tens
    of milliseconds."""
    procs = _procs()
    out: dict[str, int] = {}
    for pid in _tree(root, procs):
        if pid in procs:
            _, name, rss = procs[pid]
            size = rss * os.sysconf("SC_PAGE_SIZE") if name == "java" else _pss_bytes(pid)
            out[name] = out.get(name, 0) + size
    return out


def _stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched, and wait until it and the Python
    workers it started have exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout)
    deadline = time.time() + timeout
    while len(_tree(os.getpid(), _procs())) > 1 and time.time() < deadline:
        time.sleep(0.1)


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s, and
    keeps the peak and its split by process name."""

    def __init__(self, interval: float = 0.2):
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        pid = os.getpid()
        while True:
            by_name = _tree_memory(pid)
            if sum(by_name.values()) > self.peak:
                self.peak, self.peak_by_name = sum(by_name.values()), by_name
            if self._stop.wait(interval):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def _session_conf(work: Path, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": HEAP,
        # get_spark picks /dev/shm only when it has >= 32 GiB free; pin the
        # shuffle dir so every machine runs the same storage path
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(trace).lower(),
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _environment(spark, n: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": n,
        "master": spark.sparkContext.master,
        "driver_heap": HEAP,
        "spark_local_dir": spark.conf.get("spark.local.dir"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one timed unit")
    return p.parse_args(argv)


def main(argv=None) -> int:
    age0 = _process_age()
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no package at {PACKAGE}", file=sys.stderr)
        return 2
    rss = RssSampler()
    cpu0 = _cpu_times()
    work = BENCH / ".work" / f"{os.getpid()}-{time.time_ns()}"
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    # The JVM, the Python workers and every temporary file stay inside the
    # run's workdir; the workers import the package from this checkout.
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    sys.path.insert(0, str(ROOT))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # still clean up
    try:
        return _run(args, work, rss, cpu0, age0)
    finally:
        rss.stop()
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: Path, rss: RssSampler, cpu0: list[int], age0: float) -> int:
    import layers
    from spans import Spans
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    t = time.time()
    from py_stringsimjoin_spark import get_spark

    import_s = time.time() - t
    n = len(os.sched_getaffinity(0))
    master = f"local[{n}]"
    size = "smoke" if args.smoke else "full"
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(None, Spans(), work, BENCH / ".cache", size, args.seed, n)
    digest = wl.make_inputs(ctx)

    t = time.time()
    spark = get_spark(master=master, extra_conf=_session_conf(work, args.trace == 1))
    build_s = time.time() - t
    app_id = spark.sparkContext.applicationId
    ctx.spark = spark
    if args.trace:
        ctx.spans = Spans(spark.sparkContext)
    t = time.time()
    wl.warm_up(ctx)
    warm_up_s = time.time() - t
    t = time.time()
    wl.prepare(ctx)
    setup_s = age0 + import_s + build_s + (time.time() - t)
    deadline = time.time() + args.seconds
    roots = []
    while True:
        root = wl.iteration(ctx)
        if root is None:
            break
        roots.append(root)
        if args.smoke or len(roots) == wl.max_iterations or time.time() >= deadline:
            break
    env = _environment(spark, n)
    spark.stop()
    peak_mb = rss.stop()
    d_cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
    env["cpu_steal_pct"] = round(100.0 * d_cpu[7] / max(sum(d_cpu), 1), 3)

    walls = [r.seconds for r in roots]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "environment": env, "input": digest,
        "warm_up_timed": wl.max_iterations == 1, "warm_up_s": round(warm_up_s, 4),
        "setup_s": round(setup_s, 4), "session_build_s": round(build_s, 4),
        "wall_samples_s": [round(w, 4) for w in walls],
        "peak_rss_mb_by_process": {k: round(v / 2**20, 1)
                                   for k, v in rss.peak_by_name.items()},
        "pairwise_f1_samples": ctx.f1,
        "fail_rate": ctx.failed / max(ctx.attempted, 1), "errors": ctx.errors,
    }
    if args.trace:
        metrics, attribution = layers.per_layer(
            ctx.spans, roots, work / "events" / app_id, PACKAGE, build_s, warm_up_s)
        detail.update(spans=ctx.spans.as_json(), attribution=attribution)
    elif walls:
        wall = statistics.median(walls)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (wl.input_rows() / wall, "rows/s"),
            "peak_rss_mb": (peak_mb, "MB"),
            "pairwise_f1": (min(ctx.f1), "ratio"),
        }
    else:
        metrics = {}
    correct = ctx.failed == 0 and bool(roots)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
