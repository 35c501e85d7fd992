"""Shared plumbing for the benchmark: run directories, the Spark session,
host metadata, peak memory and percentile helpers.

Everything the benchmark or the program writes goes under the checkout:
``.perfbench_tmp/`` holds one directory per run (warehouses, stream inputs,
checkpoints, fixture trees, Spark local dirs), removed when the run ends;
``.perfbench_cache/`` holds generated inputs keyed by seed and size;
``.perfbench_out/`` holds span dumps of traced runs.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import resource
import shutil
import statistics
import time
import uuid

ROOT = os.getcwd()
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
CACHE_ROOT = os.path.join(ROOT, ".perfbench_cache")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

_RUN_DIR_RE = re.compile(r"owl_.+?_(\d+)_[0-9a-f]{12}$")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spin_canary() -> float:
    """Fixed single-thread spin (about 0.1 s on an idle core). A reading
    several times higher means other tenants hold the cores."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i
    return round(time.perf_counter() - t0, 3)


def host_meta() -> dict:
    return {"nproc": nproc(), "spin_canary_s": spin_canary(),
            "loadavg_1m": round(os.getloadavg()[0], 2)}


def clean_stale_run_dirs() -> int:
    """Remove run directories whose owning pid is dead (bench.py's rule,
    applied to this benchmark's own temp root)."""
    removed = 0
    for d in glob.glob(os.path.join(TMP_ROOT, "owl_*_*_*")):
        m = _RUN_DIR_RE.search(d)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return removed


def new_run_dir() -> str:
    d = os.path.join(TMP_ROOT,
                     f"owl_perfbench_{os.getpid()}_{uuid.uuid4().hex[:12]}")
    os.makedirs(d)
    return d


def _redirect_shared_tables(run_dir: str) -> None:
    """The serving layer keeps its per-session shared tables under a fixed
    ``/tmp/owl_<kind>_<pid>_<tag>`` root. Point that root into the run
    directory so a run writes only inside the checkout and leaves nothing
    behind. Names and keying are unchanged."""
    from owl_n4j_spark.plans import graph_algos, kg_analytics

    def warehouse_dir(spark, sf_dir, kind):
        app, full = kg_analytics._cache_key(spark, sf_dir)
        tag = hashlib.sha1(f"{app}|{full}".encode()).hexdigest()[:12]
        return os.path.join(run_dir, f"owl_{kind}_{os.getpid()}_{tag}")

    for mod in (kg_analytics, graph_algos):
        if hasattr(mod, "warehouse_dir"):
            mod.warehouse_dir = warehouse_dir


def start_spark(run_dir: str):
    """One driver process, ``local[nproc]``, fresh session; returns
    (spark, seconds). Python workers get the checkout on PYTHONPATH and the
    run directory as their local and temp dirs."""
    local_dir = os.path.join(run_dir, "spark-local")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    import tempfile
    tempfile.tempdir = None
    _redirect_shared_tables(run_dir)

    from owl_n4j_spark.session import get_spark

    n = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{n}]", app_name="owl-n4j-perfbench",
        shuffle_partitions=max(n, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "sql-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(
                int(st.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver process plus the JVM and its Python workers
    (sum of each process's high-water mark, read before the JVM stops)."""
    jvm = spark.sparkContext._gateway.proc.pid
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kb += sum(_hwm_kb(p) for p in _descendants(jvm))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:   # noqa: BLE001 - a JVM that ignores stdin EOF is killed
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in procs[1:]:          # Python workers exit with the JVM
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])
