"""One benchmark run's environment: a private temporary directory under
the checkout, the Spark session, the engine, the HTTP server and the
process-level measurements taken around ops.

Everything the run writes (store, Spark local and warehouse dirs, Derby
home, JVM and Python temp files) lives under
``.enginebench_tmp/run-<pid>-*/`` in the checkout and is removed when the
run ends, failed or not.
"""

from __future__ import annotations

import http.client
import logging
import os
import shutil
import tempfile
import threading

MASTER = "local[3]"
JVM_HEAP = "2g"
TMP_DIRNAME = ".enginebench_tmp"
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def make_session(tmp: str):
    """Built like the repo's ``serve`` entry point: UTC session time zone
    and library defaults otherwise (Arrow ``toPandas`` stays off).  Pinned
    here: the master, the JVM heap (initial = maximum, so the JVM's
    footprint does not follow heap resizing), no console progress bar,
    no UI, and every scratch directory inside ``tmp``."""
    from pyspark.sql import SparkSession

    java_tmp = os.path.join(tmp, "java-tmp")
    os.makedirs(java_tmp)
    spark = (
        SparkSession.builder.master(MASTER)
        .appName("enginebench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", JVM_HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={os.path.join(tmp, 'derby')} "
            f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData -Xms{JVM_HEAP}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit, so a later
    session in the same interpreter starts a fresh one."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def proc_cpu_ms(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) * 1000.0 / _CLK_TCK


def cpu_steal_s() -> float:
    """CPU seconds, summed over this host's CPUs, that the hypervisor ran
    other guests on while this one had work (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total


def snapshot(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for fn in files:
            p = os.path.join(d, fn)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int, int]:
    """(bytes, parquet files, chunk dirs) new or rewritten between two
    snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    chunks = {os.path.dirname(p) for p in changed if p.endswith(".parquet")}
    return (
        sum(after[p][0] for p in changed),
        sum(1 for p in changed if p.endswith(".parquet")),
        len(chunks),
    )


class Env:
    """Owns the run's directory, session, engine and (optionally) HTTP
    server; ``close`` releases all of them and waits for the JVM."""

    def __init__(self, root: str):
        base = os.path.join(root, TMP_DIRNAME)
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        self._base = base
        # PySpark stages the gateway's connection file with tempfile
        self._saved_tempdir, tempfile.tempdir = tempfile.tempdir, self.tmp
        self.spark = None
        self.server = None
        self._server_thread = None
        self.app = None
        try:
            self.spark = make_session(self.tmp)
            from ong_tsdb_spark.engine import OngTsdbSpark

            self.store = os.path.join(self.tmp, "store")
            self.engine = OngTsdbSpark(self.spark, self.store)
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        except BaseException:
            self.close()
            raise

    # -- HTTP ---------------------------------------------------------
    def start_http(self) -> None:
        from werkzeug.serving import make_server

        from ong_tsdb_spark.service.server import create_app

        logging.getLogger("werkzeug").setLevel(logging.ERROR)
        self.app = create_app(self.engine)
        self.server = make_server("127.0.0.1", 0, self.app, threaded=False)
        self._server_thread = threading.Thread(
            target=self.server.serve_forever, name="enginebench-http", daemon=True
        )
        self._server_thread.start()

    def post(self, path: str, body: bytes, content_type: str) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.server.server_port, timeout=170)
        try:
            conn.request("POST", path, body=body, headers={"Content-Type": content_type})
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    # -- measurements -------------------------------------------------
    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(self.jvm_pid)) / 1024.0

    def jvm_cpu_ms(self) -> float:
        return proc_cpu_ms(self.jvm_pid)

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def spark_jobs_after(self, hwm: int) -> tuple[list[int], int]:
        """Job ids above ``hwm`` once the listener bus has drained."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = [j for j in sc.statusTracker().getJobIdsForGroup() if j > hwm]
        return ids, max([hwm, *ids])

    def job_tasks(self, job_ids: list[int]) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        tasks = failed = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return tasks, failed

    def versions(self) -> dict:
        import pandas
        import pyarrow
        import pyspark

        jv = self.spark._jvm.java.lang.System.getProperty("java.version")
        return {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "java": str(jv),
        }

    def close(self) -> None:
        try:
            if self.server is not None:
                self.server.shutdown()
                self.server.server_close()
                self._server_thread.join(timeout=30)
        finally:
            try:
                if self.spark is not None:
                    stop_session(self.spark)
            finally:
                tempfile.tempdir = self._saved_tempdir
                shutil.rmtree(self.tmp, ignore_errors=True)
                try:
                    os.rmdir(self._base)  # only when no other run is using it
                except OSError:
                    pass

