"""Local Spark standalone cluster management (multi-executor evidence).

The north rule requires running via spark-submit-style deployment on a
multi-executor cluster at two cluster sizes (N and 4N executors) and
showing >=0.8 throughput scaling efficiency between them. A single
local[k] JVM conflates executor scaling with one shared heap/GC, so
the bench instead launches a REAL standalone cluster on this machine:
one Master JVM, one Worker JVM advertising 4*n_executors cores, and
``spark.executor.cores=4`` so the app gets n_executors separate
executor JVMs with private heaps, exchanging shuffle blocks over
netty — the same process topology as a production cluster, minus the
network hops. The engine package is shipped to executors with
``spark.submit.pyFiles`` (the --py-files contract).
"""

from __future__ import annotations

import os
import socket
import subprocess
import sys
import time
import zipfile

import pyspark
from pyspark.sql import SparkSession

from .session import PYTHON_DAEMON

SPARK_HOME = os.path.dirname(pyspark.__file__)
MASTER_PORT = 7077
MASTER_URL = f"spark://127.0.0.1:{MASTER_PORT}"

# Orphan-JVM watchdog (round 6, r5 verdict #1c): the round-5 driver
# run was SIGKILLed by an outer timeout mid-cluster-phase, `stop()`'s
# finally never ran, and the orphaned Master/Worker/executor JVMs
# burned cores into the NEXT measurement. Each daemon now starts as
# its own process-group leader (executors fork inside the Worker's
# group), and a tiny detached watchdog process kills those groups the
# moment its parent (the bench process) disappears — robust against
# SIGKILL, where no in-process cleanup can run. The pgid file always
# lists exactly the daemons alive now.
_WATCHDOG_SRC = """
import os, signal, sys, time
pgid_file, parent = sys.argv[1], int(sys.argv[2])
# an orphan is re-parented to init or to a subreaper: either way its
# parent pid changes
while os.getppid() == parent:
    time.sleep(1.0)
try:
    with open(pgid_file) as fh:
        pgids = [int(x) for x in fh.read().split()]
except Exception:
    pgids = []
for pg in pgids:
    # a recorded pgid the OS has since reused must not be killed: the
    # group leader is the daemon itself, so check it still is one
    try:
        with open(f"/proc/{pg}/cmdline", "rb") as fh:
            if b"org.apache.spark.deploy" not in fh.read():
                continue
        os.killpg(pg, signal.SIGKILL)
    except Exception:
        pass
try:
    os.unlink(pgid_file)
except Exception:
    pass
"""


def _launch(cls: str, *args: str, mem: str = "1g") -> subprocess.Popen:
    log = f"/tmp/s2js-{cls.split('.')[-1].lower()}.log"
    return subprocess.Popen(
        ["java", f"-Xmx{mem}", "-cp", f"{SPARK_HOME}/jars/*", cls, *args],
        stdout=open(log, "w"),
        stderr=subprocess.STDOUT,
        preexec_fn=os.setsid,  # own process group (executors join it)
        env={
            **os.environ,
            "SPARK_LOCAL_IP": "127.0.0.1",
            "SPARK_HOME": SPARK_HOME,
            # the pip layout confuses the launcher's scala-version probe
            "SPARK_SCALA_VERSION": "2.13",
        },
    )


def _wait_port(port: int, timeout: float = 40.0) -> bool:
    t0 = time.time()
    while time.time() - t0 < timeout:
        try:
            socket.create_connection(("127.0.0.1", port), 1).close()
            return True
        except OSError:
            time.sleep(0.5)
    return False


def package_zip(repo_root: str, out: str = "/tmp/s2js_spark_pkg.zip") -> str:
    """Zip the engine package for spark.submit.pyFiles shipping."""
    with zipfile.ZipFile(out, "w") as z:
        pkg = os.path.join(repo_root, "s2js_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo_root))
    return out


class StandaloneCluster:
    """Owns the master + worker daemons; one worker sized per level."""

    def __init__(self) -> None:
        self.master: subprocess.Popen | None = None
        self.worker: subprocess.Popen | None = None
        self.watchdog: subprocess.Popen | None = None
        self._pgid_file = f"/tmp/s2js-cluster-pgids-{os.getpid()}"

    def _record_pgids(self) -> None:
        pgids = [
            p.pid for p in (self.master, self.worker) if p is not None
        ]
        with open(self._pgid_file, "w") as fh:
            fh.write(" ".join(str(p) for p in pgids))
        if self.watchdog is None or self.watchdog.poll() is not None:
            self.watchdog = subprocess.Popen(
                [sys.executable, "-c", _WATCHDOG_SRC, self._pgid_file, str(os.getpid())],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )

    def start_master(self) -> None:
        self.master = _launch(
            "org.apache.spark.deploy.master.Master",
            "-h", "127.0.0.1", "-p", str(MASTER_PORT), "--webui-port", "8090",
        )
        self._record_pgids()
        if not _wait_port(MASTER_PORT):
            raise RuntimeError("standalone master did not start")

    def start_worker(self, cores: int, mem: str = "96g") -> None:
        self.stop_worker()
        self.worker = _launch(
            "org.apache.spark.deploy.worker.Worker", MASTER_URL,
            "-c", str(cores), "-m", mem, "-h", "127.0.0.1",
            "--webui-port", "8091",
        )
        self._record_pgids()
        time.sleep(3)

    def stop_worker(self) -> None:
        if self.worker is not None:
            self.worker.terminate()
            self.worker.wait(timeout=15)
            self.worker = None
            self._record_pgids()
            time.sleep(1)

    def stop(self) -> None:
        self.stop_worker()
        if self.master is not None:
            self.master.terminate()
            self.master.wait(timeout=15)
            self.master = None
        if self.watchdog is not None:
            self.watchdog.terminate()
            self.watchdog.wait(timeout=15)
            self.watchdog = None
        try:
            os.unlink(self._pgid_file)
        except OSError:
            pass

    def session(
        self,
        n_executors: int,
        executor_cores: int = 4,
        executor_mem: str = "8g",
        repo_root: str = ".",
        app_name: str = "s2js-cluster",
    ) -> SparkSession:
        """SparkSession against the cluster with exactly n_executors
        executor JVMs of executor_cores each."""
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
            time.sleep(1)
        total = n_executors * executor_cores
        self.start_worker(cores=total)
        pyzip = package_zip(os.path.abspath(repo_root))
        spark = (
            SparkSession.builder.master(MASTER_URL)
            .appName(f"{app_name}-{n_executors}x{executor_cores}")
            .config("spark.executor.cores", str(executor_cores))
            .config("spark.executor.memory", executor_mem)
            .config("spark.cores.max", str(total))
            # the FIRST SparkSession in a python process launches the
            # shared driver JVM; size its heap here or every later
            # local[k] session in the same process inherits the 1g
            # default and OOMs
            .config(
                "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g")
            )
            .config("spark.submit.pyFiles", pyzip)
            .config("spark.executorEnv.PYTHONPATH", pyzip)
            # executors start the daemon entry from the pyFiles zip
            .config(*PYTHON_DAEMON)
            .config("spark.sql.shuffle.partitions", str(total * 2))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.local.dir", "/dev/shm/spark-cluster")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        # block until all executors registered (avoid timing ramp-up)
        t0 = time.time()
        sc = spark.sparkContext
        while time.time() - t0 < 60:
            n_up = sc._jsc.sc().getExecutorMemoryStatus().size() - 1
            if n_up >= n_executors:
                break
            time.sleep(0.5)
        return spark
