"""Run context shared by the workloads: the Spark session, the work
directory, operation and failure counting, and the tracer."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

import hostenv
from tracing import Tracer


def p50(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet data files, total bytes of those files) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
        self.out = os.path.join(root, ".perfbench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        os.makedirs(self.out, exist_ok=True)
        self.cores = hostenv.nproc()
        self.ram_mb = hostenv.mem_total_mb()
        self.tracer = Tracer(False)
        self.spark = None
        self.conf: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark_start_s: list[float] = []
        # per operation name: CPU seconds of the process tree, and the
        # share of the host's CPU time stolen by other guests meanwhile
        self.op_cpu_s: dict[str, list[float]] = {}
        self.op_steal: dict[str, list[float]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- Spark lifetime ---------------------------------------------------
    def start_spark(self, event_log_dir: str | None = None) -> None:
        """(Re)start the session. An event log is written only when
        ``event_log_dir`` is given, i.e. in the traced phase."""
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
        self.conf = hostenv.spark_conf(self.cores, self.ram_mb, event_log_dir)
        self.conf["spark.sql.warehouse.dir"] = self.path("warehouse")
        # a fixed heap size (initial = maximum) keeps the JVM's resident
        # memory from depending on when it chose to grow the heap
        self.conf["spark.driver.extraJavaOptions"] = (
            f"-Djava.io.tmpdir={self.path('tmp')} -Xms{self.conf['spark.driver.memory']}"
            " -XX:TieredStopAtLevel=1"
        )
        t = time.time()
        self.spark = hostenv.start_spark(self.conf, self.path("spark-local"))
        self.spark_start_s.append(time.time() - t)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM the gateway launched, and wait until
        every process this run started has ended."""
        self.stop_spark()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if proc is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap_descendants()
        shutil.rmtree(self.work, ignore_errors=True)

    # -- operations and checks ---------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One attempted operation. An exception counts it as failed and
        is recorded; the run carries on with the next operation."""
        self.attempted += 1
        pid = os.getpid()
        c0, s0, t0 = hostenv.tree_cpu_s(pid), hostenv.steal_s(), time.perf_counter()
        try:
            with self.tracer.span(name, op=self.attempted):
                yield
            wall = time.perf_counter() - t0
            self.op_cpu_s.setdefault(name, []).append(hostenv.tree_cpu_s(pid) - c0)
            self.op_steal.setdefault(name, []).append(
                (hostenv.steal_s() - s0) / max(1e-9, wall * self.cores))
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=4)}")

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """A correctness check counts as one attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed {detail}")
        return ok

    def span(self, name: str):
        return self.tracer.span(name)


def _reap_descendants(timeout: float = 30.0) -> None:
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        kids = hostenv.children()
        desc, stack = [], list(kids.get(me, ()))
        while stack:
            pid = stack.pop()
            desc.append(pid)
            stack.extend(kids.get(pid, ()))
        desc = [p for p in desc if _alive(p)]
        if not desc:
            return
        if time.time() > deadline:
            for p in desc:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # zombie: reap it if it is our child
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
