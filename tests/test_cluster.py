"""The standalone cluster's orphan watchdog, driven without Java:
daemons are stand-in processes, each its own process group."""

from __future__ import annotations

import signal
import subprocess
import sys
import time
import types

from s2js_spark.spark import cluster


def _group(*argv: str) -> subprocess.Popen:
    return subprocess.Popen(list(argv), start_new_session=True)


def _reap(*procs: subprocess.Popen | None) -> None:
    for p in procs:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()


def test_pgid_file_follows_daemons_and_stop_reaps_watchdog(tmp_path, monkeypatch):
    monkeypatch.setattr(cluster, "_launch", lambda cls, *a, **k: _group("sleep", "60"))
    monkeypatch.setattr(cluster, "_wait_port", lambda port, timeout=40.0: True)
    monkeypatch.setattr(cluster, "time", types.SimpleNamespace(sleep=lambda s: None))
    c = cluster.StandaloneCluster()
    pgid_file = tmp_path / "pgids"
    c._pgid_file = str(pgid_file)
    recorded = lambda: {int(x) for x in pgid_file.read_text().split()}  # noqa: E731
    try:
        c.start_master()
        c.start_worker(cores=1)
        master, worker, watchdog = c.master, c.worker, c.watchdog
        assert recorded() == {master.pid, worker.pid}
        c.stop_worker()
        assert recorded() == {master.pid}
        c.stop()
        assert watchdog.returncode is not None  # wait()ed, not a zombie
        assert c.watchdog is None and not pgid_file.exists()
        assert master.returncode is not None and worker.returncode is not None
    finally:
        _reap(c.master, c.worker, c.watchdog)


def test_orphaned_watchdog_kills_only_spark_daemons(tmp_path):
    other = _group("sleep", "60")
    daemon = _group(
        sys.executable, "-c", "import time; time.sleep(60)",
        "org.apache.spark.deploy.master.Master",
    )
    pgid_file = tmp_path / "pgids"
    pgid_file.write_text(f"{other.pid} {daemon.pid}")
    # the watchdog's parent starts it and exits at once
    launcher = (
        "import os, subprocess, sys; "
        "subprocess.Popen([sys.executable, '-c', sys.argv[1], sys.argv[2], str(os.getpid())])"
    )
    try:
        subprocess.run(
            [sys.executable, "-c", launcher, cluster._WATCHDOG_SRC, str(pgid_file)],
            check=True, timeout=30,
        )
        deadline = time.time() + 30
        while pgid_file.exists() and time.time() < deadline:
            time.sleep(0.2)
        assert not pgid_file.exists(), "watchdog did not fire"
        assert daemon.wait(timeout=10) == -signal.SIGKILL
        assert other.poll() is None
    finally:
        _reap(other, daemon)
