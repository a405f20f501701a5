"""Shared pieces of the benchmark: session start, resource sampling,
environment record and summary statistics."""

from __future__ import annotations

import os
import platform
import statistics
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(event_dir: str | None):
    """A fresh ``local[nproc]`` session.  ``event_dir`` turns the Spark
    event log on (uncompressed) for a traced run."""
    n = nproc()
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from beyond_vector_search_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            # one plain file per application (Spark 4 rolls by default)
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop the active session and its JVM, and wait for the JVM to exit
    (it exits when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every ``every`` s."""

    def __init__(self, every: float = 0.5):
        self.every = every
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _descendants(me)))
            self._stop.wait(self.every)

    def __enter__(self) -> "RssSampler":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between two
    ``cpu_ticks`` readings (field 8 is steal)."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def host_load() -> dict:
    """Load average and CPU pressure (share of time some task waited for a
    CPU, last 60 s), so runs on an inflated host can be recognised."""
    out = {"loadavg": list(os.getloadavg())}
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()
        out["cpu_pressure_some_avg60"] = float(some[2].split("=")[1])
    except (OSError, IndexError, ValueError):
        pass
    return out


def environment(seed: int, spark) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "seed": seed,
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory", ""),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
    }


def summary(values: list[float], unit: str) -> dict:
    """Median, n and unit; p90 only where at least ten samples lie above
    it (n >= 100)."""
    vals = sorted(values)
    out = {"median": statistics.median(vals) if vals else None, "n": len(vals), "unit": unit}
    if len(vals) >= 100:
        out["p90"] = statistics.quantiles(vals, n=10)[-1]
    else:
        out["p90"] = None
    return out

