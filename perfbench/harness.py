"""Host sizing, Spark session lifetime, process-tree memory, the
per-core CPU probe and the content fingerprint shared by every
workload."""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "legal_knowledge_graph_spark"


def host_cores() -> int:
    """CPUs this process may run on (cgroup/affinity aware)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of host RAM, clamped to [1 GiB, 8 GiB]: the JVM heap,
    the Python workers and the page cache share the host."""
    return max(1024, min(mem_total_mb() // 8, 8192))


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by Python workers whatever their cwd."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int, event_dir: str | None = None):
    """SparkSession through the package's own factory, sized to the
    host; ``event_dir`` turns the Spark event log on."""
    from legal_knowledge_graph_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        # a fixed-size heap: its growth would otherwise make the
        # process-tree RSS depend on GC timing
        "spark.driver.extraJavaOptions": f"-Xms{driver_memory_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session (if one started), the JVM and its Python
    workers, and wait until each of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [proc.pid] + _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 60
    while alive := [pid for pid in tree if _running(pid)]:
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants, from statm
    (smaps_rollup would avoid counting pages shared by forked Python
    workers twice, but walking the JVM's page tables every sample
    stalls it measurably)."""
    total = 0
    for pid in [root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), sampled from /proc every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        prev = tree_rss_bytes(me)
        while not self._stop.wait(self.interval):
            cur = tree_rss_bytes(me)
            with self._lock:
                # a level counts once it holds over two samples: a child
                # the JVM forks to exec a helper briefly shows all of the
                # JVM's pages in its own statm
                self._peak = max(self._peak, min(prev, cur))
            prev = cur

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 1e6


def _probe_init(barrier) -> None:
    global _BARRIER
    _BARRIER = barrier


def _probe_work(_: int) -> float:
    # same chained-md5 loop as bench_cpuprobe.py, shortened
    _BARRIER.wait()
    t0 = time.perf_counter()
    h = b"x" * 4096
    for _ in range(20000):
        h = hashlib.md5(h).digest() + h[:4084]
    return time.perf_counter() - t0


def cpu_probe(cores: int) -> dict:
    """Seconds per process of a fixed pure-CPU loop at concurrency 1 and
    ``cores``, barrier-started: the host's per-core speed right now.

    Runs before any thread or JVM exists, so forking is safe; unlike
    spawn it starts no resource-tracker process that would outlive the
    benchmark's own cleanup."""
    if threading.active_count() != 1:
        raise RuntimeError("cpu_probe must run before any thread starts")
    ctx = mp.get_context("fork")
    out = {}
    for n in sorted({1, cores}):
        barrier = ctx.Barrier(n)
        with ctx.Pool(n, initializer=_probe_init, initargs=(barrier,)) as pool:
            times = pool.map(_probe_work, range(n), chunksize=1)
        out[str(n)] = round(sum(times) / n, 4)
    return out


def source_digest() -> str:
    """sha256 over the package sources: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_block(cores: int, probe: dict) -> dict:
    import pyarrow
    import pyspark

    return {
        "cores": cores,
        "mem_total_mb": mem_total_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "cpuprobe_s_by_concurrency": probe,
    }


def fingerprint(df) -> tuple[int, int]:
    """Order-insensitive, non-cancelling content fingerprint: the
    decimal sum of an all-column xxhash64 (sorted columns, stringified)
    and the row count. A sum moves when a row's multiplicity changes;
    the lineage table's bit_xor does not for duplicated pairs."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("_h"))
        .agg(F.coalesce(F.sum("_h"), F.lit(0)).alias("s"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    return int(row["s"]), int(row["n"])


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)
