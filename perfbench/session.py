"""The benchmark's Spark session: settings fitted to the host, a JVM
class-data-sharing archive built once per checkout, and a stop that
waits for the JVM to exit.

The archive only changes how the JVM loads classes at start-up (from a
memory-mapped archive instead of the jars); the engine's code paths are
unchanged. On this 4-vCPU host it halves session start (about 11 s to
6 s) and shortens the first job by about 4 s, which is what lets two
workloads fit the benchmark's time budget.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
ARCHIVE = os.path.join(STATE, "jvm-classes.jsa")
ARCHIVE_FAILED = ARCHIVE + ".failed"
EMPTY_CONF = os.path.join(STATE, "spark-conf")


def host_env(work: str) -> dict:
    """Session settings fitted to this host, applied before the JVM starts."""
    from perfbench.host import mem_total_bytes

    cpus = len(os.sched_getaffinity(0))
    # an eighth of RAM, at most 2 GiB: the host is shared and the
    # workloads stage well under 100 MB
    mem_mb = min(2048, mem_total_bytes() // (8 << 20))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
    )
    time.tzset()
    return {
        "cpus": cpus,
        "driver_mem_mb": mem_mb,
        "shuffle_partitions": 2 * cpus,
        "java_options": [f"-Djava.io.tmpdir={tmp}"],
        "class_archive": _use_empty_conf_dir() and os.path.exists(ARCHIVE),
    }


def _use_empty_conf_dir() -> bool:
    """The JVM archives classes only when no classpath directory holds
    files, and Spark puts its conf dir on the classpath. When that dir
    holds nothing but templates, point Spark at an empty one instead."""
    from pyspark.find_spark_home import _find_spark_home

    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if conf == EMPTY_CONF:
        return True
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        return False
    os.makedirs(EMPTY_CONF, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = EMPTY_CONF
    return True


def start(app: str, env: dict, archive_out: str | None = None):
    """(spark, jvm_pid). ``archive_out`` makes the JVM write its class
    archive there at exit (the build); otherwise an existing archive is
    used."""
    from pyspark import SparkContext

    from picsure_dictionary_etl_spark.session import get_spark

    opts = list(env["java_options"])
    if archive_out:
        opts.append(f"-XX:ArchiveClassesAtExit={archive_out}")
    elif env["class_archive"]:
        opts.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    if archive_out or env["class_archive"]:
        opts.append("-Xlog:cds=off")
    spark = get_spark(
        app,
        master=f"local[{env['cpus']}]",
        shuffle_partitions=env["shuffle_partitions"],
        extra_conf={
            # the status store is where per-layer stage totals come
            # from; the default caps (1000) drop the earliest stages
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": " ".join(opts),
        },
    )
    return spark, SparkContext._gateway.proc.pid


def stop(spark, timeout: float = 60) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def ensure_archive() -> None:
    """Build the class archive on the first run in a checkout: one JVM
    runs every workload's set-up, then writes the classes it loaded at
    exit. A failed build is recorded and not retried."""
    if os.path.exists(ARCHIVE) or os.path.exists(ARCHIVE_FAILED):
        return
    os.makedirs(STATE, exist_ok=True)
    if not _use_empty_conf_dir():
        open(ARCHIVE_FAILED, "w").close()
        return
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.session"],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
        timeout=800,
    )
    if proc.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(proc.stderr[-4000:])
        print("perfbench: class archive build failed; runs start without it", file=sys.stderr)
        open(ARCHIVE_FAILED, "w").close()


def _build() -> None:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(STATE, f"build-{os.getpid()}")
    tmp_archive = f"{ARCHIVE}.{os.getpid()}.tmp"
    os.makedirs(work)
    try:
        env = host_env(work)
        spark, _ = start("perfbench-build", env, archive_out=tmp_archive)
        try:
            for name, cls in WORKLOADS.items():
                wl = cls(spark, os.path.join(work, name), 0, Tracer(spark), lambda: 0.0)
                wl.stage()
                wl.prepare()
        finally:
            stop(spark, timeout=600)  # the archive is written at exit
        os.replace(tmp_archive, ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(tmp_archive):
            os.remove(tmp_archive)


if __name__ == "__main__":
    _build()
