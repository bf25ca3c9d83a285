"""Process and Spark-session plumbing shared by the untraced and traced runs."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_age_s() -> float:
    """Seconds since this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep the files Spark and its workers write inside ``work``, and
    let Python workers import the package and the benchmark."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    # every JVM, the launcher's included: temp files in ``work`` and no
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"


def start_spark(extra: dict | None = None):
    """The package's session factory; ``app`` reuses it through
    ``getOrCreate``."""
    from maillogsentinel_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident set size of this Python process plus the JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f
                             if line.startswith("VmHWM:"))
    return total_kb / 1024

