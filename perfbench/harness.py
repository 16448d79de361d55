"""Process plumbing shared by the workloads: paths, the Spark session, the
HTTP client, latency statistics and memory high-water marks."""

from __future__ import annotations

import http.client
import json
import os
import resource
import shutil
import statistics
import sys
import time
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUEST_TIMEOUT_S = 170.0


def repo_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "influxdb_ha_spark",
                                       "__init__.py"))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# inputs that are the same for every run and seed, kept between runs
CACHE_DIR = os.path.join(WORK_ROOT, "cache")


def make_work_dir() -> str:
    """A private scratch directory inside the checkout, removed by
    `remove_work_dir` when the run ends."""
    path = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(path, "tmp"), exist_ok=True)
    os.makedirs(CACHE_DIR, exist_ok=True)
    return path


def remove_work_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def prepare_env(work_dir: str) -> None:
    """Environment for this process, the JVM and Spark's Python workers.

    The workers import `influxdb_ha_spark` (line-protocol parsing runs in
    `mapInPandas`), so the repo root must be on their PYTHONPATH; without
    it every /write fails with ModuleNotFoundError and the server drops
    the connection."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p and p != ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ.pop("SPARK_MASTER", None)


def spark_conf(work_dir: str, event_log: bool) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.sql.shuffle.partitions": str(cpus()),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work_dir} "
            "-XX:-UsePerfData -Xms1g",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        # Plain JSON lines, one file: the default compressed rolling
        # layout cannot be read back with the standard library.
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(work_dir: str, event_log: bool = False):
    from influxdb_ha_spark.session import get_spark
    return get_spark(app_name="perfbench", master=f"local[{cpus()}]",
                     extra_conf=spark_conf(work_dir, event_log))


def jvm_process():
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def shutdown_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until the JVM has exited
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext
    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — already closed
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort
                proc.kill()
                proc.wait(timeout=30)


# -- memory -------------------------------------------------------------------

def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM) of the
    Python process, the JVM and every process below the JVM (Spark's Python
    daemon and workers), read once at the end of the run."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_process()
    if proc is not None:
        kb += _hwm_kb(proc.pid)
        kb += sum(_hwm_kb(p) for p in _descendants(proc.pid))
    return kb / 1024.0


# -- HTTP -----------------------------------------------------------------------

class Client:
    """A closed-loop client: one request at a time, one keep-alive-free
    connection per request (the façade answers HTTP/1.0)."""

    def __init__(self, port: int):
        self.port = port

    def request(self, method: str, path: str, params: dict,
                body: bytes | None = None) -> tuple[int | None, bytes, float]:
        """Returns (status or None on a transport failure, body, seconds)."""
        url = path + "?" + urllib.parse.urlencode(params)
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request(method, url, body=body)
            resp = conn.getresponse()
            data = resp.read()
            status = resp.status
        except (OSError, http.client.HTTPException):
            status, data = None, b""
        finally:
            conn.close()
        return status, data, time.perf_counter() - t0

    def query(self, q: str, db: str):
        return self.request("GET", "/query",
                            {"q": q, "db": db, "epoch": "ns"})

    def write(self, db: str, body: bytes):
        return self.request("POST", "/write", {"db": db}, body)

    def ping(self) -> bool:
        status, _, _ = self.request("GET", "/ping", {})
        return status == 204


def ok_status(status: int | None) -> bool:
    return status is not None and 200 <= status < 300


# -- statistics -------------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def beyond(values: list[float], p: float) -> int:
    """How many samples lie strictly above the nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return len(s) - 1 - k


def drift(round_seconds: list[float]) -> float:
    """Relative change from the first to the last third of the measured
    rounds (median round time); a steady run reads near 0."""
    n = max(1, len(round_seconds) // 3)
    first = statistics.median(round_seconds[:n])
    last = statistics.median(round_seconds[-n:])
    return (last - first) / first if first else 0.0


def emit(result: dict) -> None:
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
