"""Host envelope, Spark session lifetime and Spark job counters.

Everything the benchmark writes goes under one work directory inside the
checkout: Spark's local dirs, the JVM's and Python's temp files, the
generated inputs and the indexes.  `configure_env` must run before
`pyspark` is imported.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import time


def configure_env(root: str, work: str, cores: int, driver_mem: str) -> None:
    """Point every temp/spill location at `work` and size Spark through the
    variables `tantivy_spark.session.get_spark` reads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)
    # Python workers forked by the JVM must import the engine from this
    # checkout, not from anything installed
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    # no /tmp/hsperfdata, no JVM temp files outside the work dir, no
    # console progress bars in the report
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def meminfo_available_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def envelope(root: str, cores: int, driver_mem: str) -> dict:
    import numpy
    import pyarrow

    try:
        import pyspark
        spark_version = pyspark.__version__
    except ImportError:
        spark_version = "missing"
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_available_mb": round(meminfo_available_mb(), 1),
        "python": platform.python_version(),
        "spark": spark_version,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": git_commit(root),
        "spark_master": f"local[{cores}]",
        "spark_driver_memory": driver_mem,
    }


# --------------------------------------------------------------------------
# Spark session lifetime
# --------------------------------------------------------------------------

def start_spark(cores: int):
    """A fresh local[`cores`] session through the engine's own factory."""
    from tantivy_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores,
                      shuffle_partitions=max(cores, 4))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """End the gateway JVM (and the Python workers it forked) and wait for
    it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class JobCounter:
    """Jobs, stages, tasks and failed tasks of each tagged operation, read
    from `SparkContext.statusTracker()` through a per-operation job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def run(self, fn, *args, **kwargs):
        """Call `fn` under a fresh job group; returns (result, counts)."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out, self.counts(group)

    def counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                si = st.getStageInfo(s)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "tasks_failed": failed}

    def job_floor_ms(self, n: int) -> list[float]:
        """Wall of `n` trivial one-task jobs: the scheduling floor every
        Spark operation pays."""
        out = []
        for _ in range(n):
            t = time.perf_counter()
            self.sc.parallelize([0], 1).count()
            out.append((time.perf_counter() - t) * 1e3)
        return out


# --------------------------------------------------------------------------
# summaries
# --------------------------------------------------------------------------

def summary(values: list[float]) -> dict:
    """Median, quartiles, highest supported percentile and sample count."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return {"n": 0}
    out = {"n": n, "median": statistics.median(v), "min": v[0],
           "max": v[-1]}
    if n >= 2:
        q = statistics.quantiles(v, n=4, method="inclusive")
        out["q1"], out["q3"] = q[0], q[2]
    # the highest percentile with at least ten samples beyond it
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = percentile(v, p)
            break
    return out


def percentile(values: list[float], p: float) -> float:
    v = sorted(values)
    if not v:
        return float("nan")
    i = min(len(v) - 1, max(0, int(round(p / 100 * (len(v) - 1)))))
    return v[i]


def dump(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant:
    the JVM and the Python workers it forks.  Reaped children count
    through their parent's cutime/cstime, so each tick counts once.
    Unlike wall time, it does not grow when other tenants of the host
    take the CPU away (steal)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        pid = int(d)
        parent[pid] = int(rest[1])
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


class SpeedRef:
    """A fixed task of the engine's kind, run among the timed operations
    whose figures are scaled to the host's speed: a filtered scan of a
    small parquet dataset through pyarrow's thread pools, the rows to
    Python, a numpy top-k.  Its input does not
    depend on the seed and it calls no engine code, so its CPU time moves
    with the host's speed (other tenants, CPU frequency) and not with the
    program.  The dataset is written once per work directory."""

    FILES = 8
    ROWS = 20_000
    TERMS = ["w40", "w300", "w2000"]

    def __init__(self, work: str):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.dir = os.path.join(work, "speed_ref")
        self.cpu_s: list[float] = []
        if os.path.isdir(self.dir):
            return
        rng = np.random.default_rng(1)
        tmp = f"{self.dir}.{os.getpid()}"
        os.makedirs(tmp)
        for i in range(self.FILES):
            ranks = rng.zipf(1.3, self.ROWS) % 30_000
            pq.write_table(pa.table({
                "term": [f"w{r}" for r in ranks],
                "v": rng.integers(0, 1 << 30, self.ROWS)}),
                os.path.join(tmp, f"part{i}.parquet"), row_group_size=2_000)
        os.rename(tmp, self.dir)

    def run(self) -> float:
        """One pass; its CPU seconds are appended to `cpu_s`."""
        import numpy as np
        import pyarrow.parquet as pq

        c = time.process_time()
        tab = pq.read_table(self.dir, filters=[("term", "in", self.TERMS)])
        v = np.fromiter((r["v"] for r in tab.to_pylist()), dtype=np.int64)
        np.argpartition(-v, min(10, len(v) - 1))
        self.cpu_s.append(time.process_time() - c)
        return self.cpu_s[-1]
