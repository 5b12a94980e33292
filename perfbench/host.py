"""Host-side probes: the environment fingerprint, the peak-RSS sampler
and shutdown of the Spark JVM the benchmark started."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
from typing import Dict, List, Optional

# every (env var, file name) the package resolves through
# functions.resource_loaders.resolve_resource
RESOURCES = (
    ("PIKES_EL_DICT", "el_candidates.tsv"),
    ("PIKES_FRAMEBASE_TSV", "FrameBase.tsv"),
    ("PIKES_PROPBANK_TSV", "PropBank.tsv"),
    ("PIKES_NOMBANK_TSV", "NomBank.tsv"),
    ("PIKES_SUMO_TSV", "Sumo.tsv"),
    ("PIKES_YAGO_TSV", "YagoTaxonomy.tsv"),
    ("PIKES_LINKING_STOPWORDS", "linking_stopwords"),
    ("PIKES_MAPPINGS_FRAMES", "mappings-frames.tsv"),
    ("PIKES_MAPPINGS_ROLES", "mappings-roles.tsv"),
)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def resource_fingerprint() -> Dict[str, Optional[str]]:
    """file name -> content hash when it resolves, None on a miss (the
    package then runs on its in-code fixture tables)."""
    from pikes_spark.functions.resource_loaders import resolve_resource

    out: Dict[str, Optional[str]] = {}
    for env, fname in RESOURCES:
        path = resolve_resource(env, fname)
        out[fname] = _sha256(path) if path else None
    return out


def fingerprint(spark) -> Dict:
    import pyspark

    return {
        "nproc": host_cpus(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "resources": resource_fingerprint(),
    }


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and all its descendants, in MiB."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PeakRss:
    """Samples the summed RSS of the Spark JVM and its Python workers
    every ``interval`` seconds while active; ``peak_mb`` is the maximum."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.jvm_pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.jvm_pid))


def jvm_process():
    """The Popen of the JVM behind the active SparkContext."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python
    workers) and wait until it has exited — also when the stop itself
    fails, e.g. after a signal interrupted a call into the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
