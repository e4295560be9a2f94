"""Spark session lifecycle for one benchmark process.

All scratch state (Spark local dirs, warehouse, temp files, outputs)
lives under one work directory inside the checkout, removed on
``close``.  Executors get the checkout on ``PYTHONPATH``, so workers
import ``rdf_canonize_spark`` and this package from source.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

SPARK_MARKERS = (b"org.apache.spark.deploy.SparkSubmit", b"pyspark.daemon",
                 b"pyspark.worker")


def _proc_table():
    """pid -> (ppid, cmdline bytes) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name, "rb") as f:
                stat = f.read()
            with open("/proc/%s/cmdline" % name, "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        table[int(name)] = (ppid, cmd)
    return table


def _descendants(table, root):
    children = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def foreign_spark_pids():
    """Spark JVMs or PySpark workers that this process did not start."""
    table = _proc_table()
    mine = _descendants(table, os.getpid()) | {os.getpid()}
    return sorted(pid for pid, (_, cmd) in table.items()
                  if pid not in mine
                  and any(m in cmd for m in SPARK_MARKERS))


def wait_for_exclusive_host(timeout_s=60.0):
    """Scaling legs are only valid with no other Spark on the host:
    wait up to ``timeout_s`` for foreign Spark processes to end."""
    deadline = time.monotonic() + timeout_s
    while True:
        pids = foreign_spark_pids()
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(2.0)


def _vm_hwm_kb(pid):
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_steal_s():
    """CPU time the hypervisor withheld from this machine's CPUs so far
    (the ``steal`` column of ``/proc/stat``), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class SparkEnv:
    def __init__(self, root, work_dir):
        self.root = root
        self.work = work_dir
        self._jvm = None
        self._runs = 0
        for sub in ("spark-local", "tmp", "warehouse", "out"):
            os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = (root + os.pathsep + path) if path else root
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
        os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")

    def start(self, master, shuffle_partitions):
        from rdf_canonize_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        spark = get_spark(
            app_name="kgbench",
            master=master,
            shuffle_partitions=shuffle_partitions,
            extra_conf={
                "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work,
                                                        "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + tmp,
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        if self._jvm is None:
            self._jvm = spark.sparkContext._gateway.proc
        return spark

    def fresh_dir(self):
        self._runs += 1
        return os.path.join(self.work, "out", "run%04d" % self._runs)

    def worker_peak_rss_mb(self):
        """Highest VmHWM among the PySpark Python processes (the worker
        daemon and its forked workers) under this process's JVM."""
        table = _proc_table()
        pids = _descendants(table, os.getpid())
        peaks = [_vm_hwm_kb(pid) for pid in pids
                 if b"pyspark.daemon" in table[pid][1]]
        return max(peaks, default=0) / 1024.0

    def close(self):
        """Stop the active session, then the JVM, and wait for both."""
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        jvm = self._jvm
        if jvm is not None and jvm.poll() is None:
            jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run still holds its work directory
