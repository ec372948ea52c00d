"""Process plumbing shared by the benchmark's parent and set-up child.

Driving rules: the session is ``get_spark(master=f"local[{nproc}]")`` with
every other program default untouched, and the jobs run in-process through
their ``main()`` with ``sys.argv`` set and an explicit ``--run-id``.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, *p))
        for p in (
            ("docling_rag_spark", "session.py"),
            ("jobs", "extract_job.py"),
            ("jobs", "select_job.py"),
        )
    )


def prepare_env(work_dir: str) -> None:
    """Keep Spark's scratch inside ``work_dir`` and let Python workers import
    the program. Must run before the JVM starts."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(extra_conf: dict[str, str] | None = None):
    """Import the session module and build the session; returns
    (spark, seconds)."""
    t0 = time.perf_counter()
    from docling_rag_spark.session import get_spark

    spark = get_spark(master=f"local[{nproc()}]", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def open_and_count(spark, path: str) -> tuple[int, float]:
    t0 = time.perf_counter()
    n = spark.read.parquet(path).count()
    return n, time.perf_counter() - t0


def stop_jvm(timeout_s: float = 60) -> None:
    """End the JVM this process launched and wait for it to exit. Call after
    the last ``spark.stop()``; the JVM exits once its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


@contextlib.contextmanager
def session_kept_alive(spark):
    """The jobs end with ``spark.stop()``; keep the shared session up."""
    cls = type(spark)
    real = cls.stop
    cls.stop = lambda self: None
    try:
        yield
    finally:
        cls.stop = real


def run_job(module: str, argv: list[str]) -> str:
    """Call ``jobs.<module>.main()`` with ``argv``; return what it printed."""
    import importlib

    main = importlib.import_module(f"jobs.{module}").main
    saved = sys.argv
    sys.argv = [f"{module}.py", *argv]
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            main()
    finally:
        sys.argv = saved
    return buf.getvalue()


def jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def effective_session(spark) -> dict:
    conf = spark.sparkContext.getConf()
    task_cpus = int(conf.get("spark.task.cpus", "1"))
    cores = spark.sparkContext.defaultParallelism
    return {
        "master": spark.sparkContext.master,
        "cores": cores,
        "task_cpus": task_cpus,
        "slots": cores // task_cpus,
        "driver_memory": conf.get("spark.driver.memory", None),
        "arrow_batch": conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions", None),
        "spark_version": spark.version,
    }
