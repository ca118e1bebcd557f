"""Process handling for the benchmark: launching the daemon, sampling
the resident memory of a process tree from /proc, and stopping every
process a run started."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

# the driver JVM's heap, in place of the engine's 16 GB default, so a run
# fits a small host beside its load generator
DRIVER_MEM = "4g"
# memory sampling period: one sample reads /proc for every process and
# walks the JVM's mappings, ~50 ms of CPU with a 3 GB daemon tree
RSS_EVERY_S = 1.0
# how long a stopped daemon may take to drain its in-flight batches
# (a live daemon may be mid-way through a multi-second micro-batch)
STOP_GRACE_S = 60.0


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
        # the command name may hold spaces and parens: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of a process tree, as the sum of each process's
    proportional set size: a page shared by k processes counts 1/k in
    each, so workers forked from one parent are not counted twice."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Resident memory of one process tree, sampled on demand at most
    every RSS_EVERY_S seconds."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.samples: list[int] = []
        self._last = 0.0

    def sample(self, force: bool = False) -> None:
        now = time.monotonic()
        if force or now - self._last >= RSS_EVERY_S:
            self._last = now
            self.samples.append(tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return max(self.samples) / 2**20

    @property
    def median_mb(self) -> float:
        return statistics.median(self.samples) / 2**20

    @contextlib.contextmanager
    def sampling(self):
        """Sample from a background thread while the caller blocks in a
        long call of its own."""
        done = threading.Event()

        def loop():
            while not done.wait(RSS_EVERY_S):
                self.sample(force=True)

        t = threading.Thread(target=loop, name="rss-sampler", daemon=True)
        t.start()
        try:
            yield self
        finally:
            done.set()
            t.join()
            self.sample(force=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# Spark's share of the cores on the daemon workloads. The daemon's
# Python driver threads and UDF workers, the JVM's compiler and GC
# threads, and the load generator run beside Spark's tasks. At
# local[nproc] on 4 cores live_fanout's latency doubled and turned
# bimodal from run to run, and a capture_drain `--once` drain took ~10%
# longer and spread more (IQR/median 0.11-0.14 against 0.08-0.10).
DAEMON_CPUS = max(1, nproc() // 2)


def spark_env(cpus: int, tmp: str) -> dict:
    """The engine's deployment settings the benchmark fixes: Spark's
    local[N] core count, the driver heap, and every scratch directory
    (shuffle and spill files, temporary streaming checkpoints, Python
    temp files) under `tmp`, so a run writes only inside its checkout."""
    os.makedirs(tmp, exist_ok=True)
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}"}


def system_env(root: str, cpus: int, tmp: str) -> dict:
    """Environment for the daemon: the checkout on the import path plus
    spark_env."""
    env = dict(os.environ)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    env.update(spark_env(cpus, tmp))
    return env


class Daemon:
    """`python -m pqstream_spark ARGS` in its own process group, stderr
    to a file (a pipe nobody drains would block the daemon)."""

    def __init__(self, root: str, args: list[str], log_path: str,
                 cpus: int, tmp: str) -> None:
        self.log_path = log_path
        self._log = open(log_path, "wb")
        self.t_launch = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "pqstream_spark", *args],
            cwd=root, env=system_env(root, cpus, tmp), stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=self._log,
            start_new_session=True,
        )
        self.rss = RssSampler(self.proc.pid)

    def log_text(self) -> str:
        with open(self.log_path, errors="replace") as f:
            return f.read()

    def wait(self, timeout: float) -> int:
        """Wait for the daemon's own exit; the rest of its tree is
        reaped by stop()."""
        deadline = time.monotonic() + timeout
        while self.proc.poll() is None:
            if time.monotonic() >= deadline:
                raise TimeoutError(f"daemon still running after {timeout}s")
            self.rss.sample()
            time.sleep(0.02)
        return self.proc.returncode

    def stop(self) -> None:
        """SIGTERM (the daemon's graceful stop: drain in-flight batches,
        then exit), then SIGKILL to the whole group if it outlives
        STOP_GRACE_S; returns once every process of the group has ended.

        Not SIGINT: the SparkContext the daemon creates replaces the
        daemon's SIGINT handler with one that raises KeyboardInterrupt,
        so SIGINT kills the daemon mid-batch instead of draining it."""
        if self.proc.poll() is None:
            try:
                os.kill(self.proc.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
            try:
                self.proc.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
        kill_group(self.proc.pid)
        if self.proc.poll() is None:
            self.proc.wait()
        self._log.close()


def kill_group(pgid: int, timeout: float = 10.0) -> None:
    """Wait for a process group to empty; SIGKILL what is left after
    `timeout`."""
    deadline = time.monotonic() + timeout
    sent = False
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() >= deadline:
            if sent:
                raise TimeoutError(f"process group {pgid} did not end")
            os.killpg(pgid, signal.SIGKILL)
            sent = True
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def stop_inprocess_spark(spark) -> None:
    """Stop a SparkSession this process started and wait for its JVM
    (and the Python workers under it) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
