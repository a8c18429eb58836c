"""Process-level helpers: peak memory, the IO control and JVM shutdown."""

from __future__ import annotations

import os
import resource
import subprocess
import time


#: driver heap: session.py's 16g default exceeds a 15 GB machine; 2g holds
#: this run's working set
DRIVER_MEM = "2g"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_proc(spark) -> subprocess.Popen | None:
    return getattr(spark.sparkContext._gateway, "proc", None)


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python driver and of its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = jvm_proc(spark)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return py_kb / 1024.0, jvm_kb / 1024.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM and wait until it and its Python
    worker daemon (which exits when the JVM's pipe closes) are gone."""
    proc = jvm_proc(spark)
    workers = _children(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


def io_control_s(spark, paths: list[str]) -> float:
    """Engine-free parquet scan + full shuffle of the same WAL bytes the
    bulk epoch reads: the host's IO weather, with no engine code in it."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*paths).select("conv_id", "text")
    t0 = time.monotonic()
    (
        df.repartition(32, "conv_id")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("b"))
        .agg(F.sum("n"), F.sum("b"))
        .collect()
    )
    return time.monotonic() - t0


def local_env(work: str, repo: str) -> dict[str, str]:
    """Environment for Spark and its Python workers, kept inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": repo + (os.pathsep + pp if pp else ""),
        "TMPDIR": tmp,
        # every JVM of the run (spark-submit's launcher too): temp files in
        # `work`, and no hsperfdata, which goes to /tmp whatever tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    }
