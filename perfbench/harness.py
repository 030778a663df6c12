"""Run scaffolding shared by the workloads: the per-run directory, the
Spark session, the process-tree RSS sampler and the statistics.

Every path a run touches lives under one run-scoped directory
``<checkout>/.perfbench_runs/<workload>-s<seed>-<u|t>-<pid>-<ns>/``, so
two runs in one checkout never share an event log, a temp root or a
result file. The scratch tree is removed on exit; only ``result.json``
stays behind.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")
DRIVER_MEMORY = "2g"  # fits a 15 GB box with room for Python workers


class RunDir:
    def __init__(self, workload: str, seed: int, trace: bool):
        tag = f"{workload}-s{seed}-{'t' if trace else 'u'}-{os.getpid()}-{time.time_ns()}"
        self.path = os.path.join(RUNS, tag)
        self.scratch = os.path.join(self.path, "scratch")
        for sub in ("tmp", "spark-local", "eventlog", "data"):
            os.makedirs(os.path.join(self.scratch, sub), exist_ok=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)

    def fresh(self, name: str) -> str:
        """A new empty directory for one set-up's roots."""
        p = self.sub("data", name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


def prepare_env(run: RunDir) -> None:
    """Process environment, set before the JVM starts: Python workers
    import ``radares_spark`` from the checkout whatever the working
    directory, and every temp file lands in the run directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = run.sub("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run: RunDir, event_log: bool):
    """A session through the program's own factory, at
    ``local[<cores>]``, with the run's scratch and (optionally) a
    run-scoped Spark event log."""
    from radares_spark.session import get_spark

    forget_cached_udfs()
    n = cores()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": run.sub("spark-local"),
        "spark.sql.warehouse.dir": run.sub("tmp", "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
        # Prepended to the program's own extraJavaOptions. -Xms = -Xmx: G1
        # grows the heap when its collections take long, and on a shared
        # VM they take long when the host steals CPU; unpinned, peak RSS
        # spread 0.28 between runs of one seed set (IQR over median) and
        # followed the steal. Heap use shows in the traced run instead
        # (jvm.old_gen_peak_mb).
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={run.sub('tmp')} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
        ),
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + run.sub("eventlog")
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def old_gen_pool(spark):
    """The JVM's old-generation heap pool: what survives young
    collections, so its peak tracks the heap the program retains."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return next(p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName())


def forget_cached_udfs() -> None:
    """Module-level UDFs build their JVM half on first use and keep it,
    bound to that session's accumulator server. A later session in the
    same process must rebuild it, or every Python task reports to the
    stopped server and logs a failed accumulator update."""
    from pyspark.sql.udf import UserDefinedFunction

    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("radares_spark"):
            for v in list(vars(mod).values()):
                u = getattr(v, "_unwrapped", v)
                if isinstance(u, UserDefinedFunction):
                    u._judf_placeholder = None


def shutdown_jvm() -> None:
    """Stop the JVM (and with it the Python worker daemons) and wait
    for every child process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak resident set of the whole process tree (this driver, the
    JVM, the Python workers), sampled from /proc.

    Each process counts its proportional share of the pages it shares
    (``Pss``): the Python workers are forked from one daemon and share
    most of their pages, so summing their plain RSS counted those pages
    once per worker alive at the moment, and the peak swung by gigabytes
    with how many workers happened to be alive."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (OSError, StopIteration):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            self.peak = max(self.peak, self._rss())

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, self._rss())


def summary(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (None until there are eleven samples), and the count."""
    n = len(values)
    out = {"median": statistics.median(values) if values else None, "n": n, "p": None, "p_value": None}
    if n >= 11:
        s = sorted(values)
        k = n - 10  # s[k-1] has exactly ten samples above it
        out["p"] = round(100.0 * k / n, 1)
        out["p_value"] = s[k - 1]
    return out


class Ledger:
    """Operations attempted and failed; an operation fails when it
    raises or any of its output checks does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, name: str, checks: dict[str, bool]) -> bool:
        self.attempted += 1
        bad = [k for k, ok in checks.items() if not ok]
        if bad:
            self.failed += 1
            self.problems.append(f"{name}: {', '.join(bad)}")
        return not bad

    def error(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{name}: {type(exc).__name__}: {exc}")
