"""Run-time plumbing shared by the workloads: run directories, the Spark
session, spans, memory readings and input provenance.

Everything a run writes lands under ``.perfbench_out/`` at the root of
the checkout (shuffle files, temp files, the event log, reports), so a
run reads and writes nothing outside the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
OUT_ROOT = os.path.join(REPO, ".perfbench_out")


def require_program() -> None:
    """Exit non-zero, printing no result, when the engine's sources are
    not next to the benchmark."""
    pkg = os.path.join(REPO, "streamevmon_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: engine package not found at {pkg}", file=sys.stderr)
        raise SystemExit(2)
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


class RunDir:
    """One run's private directory tree under ``.perfbench_out``."""

    def __init__(self, tag: str):
        self.root = os.path.join(OUT_ROOT, tag)
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "data", "report"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def drop_data(self) -> None:
        """Remove inputs, outputs and shuffle files; keep the reports."""
        for sub in ("data", "spark-local", "tmp"):
            shutil.rmtree(self.path(sub), ignore_errors=True)


def start_spark(rd: RunDir, cores: int, trace: bool, app: str):
    """The engine's own session factory, pointed at the run directory.

    Temp and shuffle files go under the run directory; with ``trace`` the
    event log is written uncompressed (no zstandard module here) so the
    profiler can read it with the stdlib json module."""
    tmp = rd.path("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIR"] = rd.path("spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the engine's own memory settings; only temp files are redirected
    conf = {
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": rd.path("tmp", "warehouse"),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + rd.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from streamevmon_spark.session import build_spark, ensure_workers_can_import

    spark = build_spark(app, master=f"local[{cores}]", extra_conf=conf)
    ensure_workers_can_import(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it to exit (the
    gateway JVM exits when its stdin closes; its Python workers with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def event_log_file(run_root: str) -> str:
    """The one event log a traced run under ``run_root`` wrote."""
    logs = os.path.join(run_root, "eventlog")
    names = [n for n in os.listdir(logs) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log, found {names}")
    return os.path.join(logs, names[0])


class Tracer:
    """Spans kept in memory and written out when the run ends.

    Each span sets the Spark job group to its own id, so every job the
    span's calls submit carries the id in the event log. Jobs submitted
    from threads that do not inherit the group (the streaming query's
    micro-batch thread) are joined to the innermost span covering their
    submission time by the profiler. With tracing off a span only runs
    its body."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self.run_id}#{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_memory_mb(spark) -> dict[str, float]:
    """VmHWM of the driver JVM and of this Python driver, and the peak
    occupancy of the JVM's old generation (G1 sizes the young generation
    anew in every run, so the resident peak swings by a third between
    runs of the same input; the old generation holds what survives)."""
    jvm = spark._jvm
    old_gen = 0.0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP" and "Old Gen" in pool.getName():
            old_gen += pool.getPeakUsage().getUsed() / 2**20
    if old_gen <= 0:
        raise RuntimeError("no old-generation heap pool with a peak")
    return {
        "jvm_rss": vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()),
        "python_rss": vm_hwm_mb("self"),
        "jvm_old_gen": old_gen,
    }


def data_files(path: str) -> list[str]:
    """Parquet data files under ``path`` (recursive), sorted."""
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))


def provenance(path: str) -> dict:
    """File count, row groups, rows, bytes and a content fingerprint:
    sha256 over each data file's rows (as Arrow IPC, in path order). The
    rows, not the file bytes: parquet-mr writes its footer's encoding
    lists in an order that changes from process to process."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = data_files(path)
    h = hashlib.sha256()
    row_groups = rows = size = 0
    for f in files:
        pf = pq.ParquetFile(f)
        row_groups += pf.metadata.num_row_groups
        rows += pf.metadata.num_rows
        size += os.path.getsize(f)
        table = pf.read()
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(hashlib.sha256(sink.getvalue()).digest())
    return {
        "files": len(files),
        "row_groups": row_groups,
        "rows": rows,
        "bytes": size,
        "fingerprint": h.hexdigest(),
    }
