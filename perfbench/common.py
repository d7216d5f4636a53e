"""Shared paths, environment and small statistics for the request-level benchmark.

Everything the benchmark writes lives under ``.perfbench_data/`` at the
checkout root (git-ignored): prepared inputs, Spark scratch space, event
logs, per-run tables and result files.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA = os.path.join(ROOT, ".perfbench_data")
INPUTS = os.path.join(DATA, "inputs")
CORPUS_CACHE = os.path.join(INPUTS, "corpus")
WORK = os.path.join(DATA, "work")
RESULTS = os.path.join(DATA, "results")

# Bump when prepare.py changes what it writes; a stale input set is rebuilt.
INPUT_VERSION = "1"
READY_MARKER = os.path.join(INPUTS, f"_READY_v{INPUT_VERSION}")

N_TILES = 150_000  # sf0.1 orders: o_orderkey 0..149999, one tile per key
N_DOCS = 100_000  # synthetic documents corpus for near_dup
DAY_SLOTS = 64  # daily_drop: tiles land in 64 day slots, (i div 32) % 64
FLAGSHIP_RES = 6

SPARK_APP = "perfbench"


def benchmark() -> dict:
    """BENCHMARK.json: the workloads and every metric's name, unit,
    direction and bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def catalog() -> dict:
    """catalog.json: metric name -> module, the end-to-end metric it
    should move and on which workloads, or its definition."""
    with open(os.path.join(BENCH_DIR, "catalog.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to others while this machine's CPUs
    wanted to run, summed over CPUs since boot (the steal column of
    /proc/stat); 0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def child_env() -> dict:
    """Environment for every benchmark subprocess (and so for the Spark
    JVM and its Python workers): package importable from the checkout,
    scratch and native-kernel caches inside the checkout, explicit core
    count, bounded driver heap."""
    env = dict(os.environ)
    tmp = os.path.join(DATA, "tmp")
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        SPARK_GRAFT_CPUS=str(nproc()),
        # a fixed 2g driver heap, not the package's 16g default: every
        # workload here runs in 2g, and a benchmark host is often shared, so
        # the heap should not grow to what the machine happens to allow
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_NATIVE_DIR=os.path.join(DATA, "native"),
        SPARK_LOCAL_DIRS=os.path.join(DATA, "spark-local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=env.get("PYSPARK_PYTHON", "python3"),
        # every JVM (the spark-submit launcher included): no hsperfdata in
        # the system temp dir, temp files inside the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("OMP_NUM_THREADS", None)
    for d in (tmp, env["SPARK_LOCAL_DIRS"], env["SPARK_GRAFT_NATIVE_DIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def spark_conf(event_log_dir: str | None = None) -> dict[str, str]:
    """extra_conf for session.get_spark: keep every Spark side file inside
    the checkout, silence the console progress bar and, for a traced
    session, write an uncompressed single-file event log."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
        # the driver heap committed and touched at launch (-Xms = the 2g cap,
        # AlwaysPreTouch): the resident heap no longer grows with GC timing
        # over the run, so peak_rss_mb and request latency start level
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(DATA, 'derby')} -Xms2g -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


# ------------------------------------------------------------ statistics ---


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_rank(n: int, beyond: int = 10) -> int:
    """1-based rank of the tail sample: the highest percentile that still
    has at least ``beyond`` samples above it, i.e. rank n - beyond. With
    ``n <= beyond`` no percentile qualifies and the maximum (rank n) is
    reported instead."""
    if n < 1:
        raise ValueError("no samples")
    return n - beyond if n > beyond else n


def tail(samples: list[float], beyond: int = 10) -> dict:
    """The tail latency under the rule above, with the percentile it
    stands for and the number of samples beyond it."""
    xs = sorted(samples)
    r = tail_rank(len(xs), beyond)
    return {
        "value": xs[r - 1],
        "percentile": round(100.0 * r / len(xs), 3),
        "rank": r,
        "samples": len(xs),
        "samples_beyond": len(xs) - r,
    }


# ---------------------------------------------------------------- memory ---


def _tree(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Summed resident memory of a process tree (the Python driver, the
    Spark JVM it launched, the JVM's Python workers), sampled every 100 ms;
    the tree is re-walked every second. ``peak`` is the whole-run peak,
    ``window()`` returns and restarts the peak since the last call."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak, self._window = pid, 0, 0
        self._lock = threading.Lock()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pids: list[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        tick = 0
        while True:
            if tick % 10 == 0:
                pids = _tree(self.pid)
            rss = self._rss(pids)
            with self._lock:
                self.peak = max(self.peak, rss)
                self._window = max(self._window, rss)
            tick += 1
            time.sleep(0.1)

    def window(self) -> int:
        with self._lock:
            w, self._window = self._window, 0
        return w
