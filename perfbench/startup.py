"""The engine's session, as the benchmark starts and stops it, and one
timed set-up in a fresh process.

    python3 perfbench/startup.py <work dir>

prints one JSON line: the seconds from this process's start until
``get_spark`` returned and one trivial job ran (``setup_s``), and the
two parts of it. ``run.py`` starts it after its own session has
stopped, so that every set-up it reports launches a fresh JVM.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402


class Session:
    """Sets the engine's session up (and down) with the benchmark's own
    scratch space; all session defaults stay as ``get_spark`` has them."""

    def __init__(self, work: str, trace: bool):
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        if trace:
            self.log_dir = os.path.join(work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            self.conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{self.log_dir}",
            }
        self.spark = None

    def start(self) -> tuple[float, float]:
        """(seconds until get_spark returned, seconds for one trivial job)."""
        from syncquill_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(0, 8, 1, 4).selectExpr("sum(id)").collect()
        return t1 - t0, time.perf_counter() - t1

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — last resort: do not leave it behind
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main(work: str) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import workloads  # noqa: F401 — the same imports as run.py before its set-up

    session = Session(work, trace=False)
    try:
        start, warm = session.start()
        total = time.perf_counter() - T_PROCESS
    finally:
        session.stop()
    print(json.dumps({"setup_s": total, "get_spark_s": start, "first_job_s": warm}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
