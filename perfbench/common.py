"""Run environment, Spark session and store set-up shared by workloads."""

from __future__ import annotations

import os
import shlex
import shutil
import sys

#: Spark task slots; the benchmark is sized for a 4-core host
CPUS = 4
DRIVER_MEMORY = "1g"


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the run's work directory, so a run writes nothing outside its
    checkout. Must run before pyspark starts a JVM. A traced run keeps
    every job, stage, task and SQL execution in Spark's status store,
    where the per-op job groups are read from; an untraced run keeps
    Spark's defaults, as the retained plans of thousands of SQL
    executions otherwise hold hundreds of MB of the driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    retain = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    confs = {
        **(retain if trace else {}),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is sized up front, so the JVM's resident memory does
        # not depend on when garbage collection chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xms{DRIVER_MEMORY}"
        ),
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def start_spark():
    from alma_memory_spark.session import ensure_package_shipped, get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    # executor Python workers import the package from the shipped zip
    ensure_package_shipped(spark)
    spawn_python_workers(spark)
    return spark


def spawn_python_workers(spark) -> None:
    """Start one Python worker per task slot up front. Spark keeps idle
    workers for reuse, so every run holds the same worker set from the
    start instead of however many its busiest moment happened to need;
    that keeps peak RSS comparable between runs."""
    import time

    spark.sparkContext.parallelize(range(CPUS), CPUS).foreach(
        lambda _: time.sleep(0.3)
    )


def in_parallel(*fns) -> list:
    """Run each fn in its own thread; return their results, re-raising
    the first exception."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(len(fns)) as pool:
        futures = [pool.submit(f) for f in fns]
        return [f.result() for f in futures]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def build_store(spark, inputs, root: str):
    """A fresh engine over a store holding the generated tables, written
    through the store's own append path."""
    from alma_memory_spark import schemas
    from alma_memory_spark.engine import AlmaSpark

    from gen import NOW

    eng = AlmaSpark(spark, fresh_dir(root), clock=lambda: NOW)
    for table, pdf in inputs.tables.items():
        df = spark.createDataFrame(pdf, schemas.ALL_TABLES[table])
        eng.store.append(table, df)
    return eng


def store_layout(root: str, tables) -> dict:
    """Files, bytes and rows per table, from a directory listing and the
    parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        files = nbytes = rows = 0
        for dirpath, _, names in os.walk(os.path.join(root, t)):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(dirpath, n)
                    files += 1
                    nbytes += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
        out[t] = {"files": files, "bytes": nbytes, "rows": rows}
    return out


class OpRunner:
    """Runs, times and counts workload ops from any number of caller
    threads. A failed op is recorded and counted, never raised: it
    counts as attempted and missing every latency figure. In a traced
    run each op gets its own Spark job group, and ops flagged `traced`
    open a root span in the tracer."""

    def __init__(self, tracer=None, jobs=None):
        import itertools
        import threading

        self.tracer = tracer
        self.jobs = jobs
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._n = itertools.count()

    def call(self, kind: str, fn, items: int = 1, traced: bool = False, tag=None):
        """Run fn() as one op; `tag(result)` may return extra fields
        for the op's record."""
        import contextlib
        import time

        n = next(self._n)
        gid = f"pb-{kind}-{n}" if self.jobs is not None else None
        if gid:
            self.jobs.enter(gid)
        scope = (
            self.tracer.op(kind, traced)
            if self.tracer is not None
            else contextlib.nullcontext({})
        )
        out, err = None, None
        t0 = time.perf_counter()
        try:
            with scope:
                out = fn()
        except Exception as e:  # counted as a failed op, never raised
            err = f"{type(e).__name__}: {e}"[:500]
        t1 = time.perf_counter()
        if gid:
            self.jobs.leave()
        rec = {"kind": kind, "t0": t0, "t1": t1, "ms": (t1 - t0) * 1000.0,
               "items": items, "ok": err is None, "err": err, "gid": gid,
               "traced": traced}
        if tag is not None and err is None:
            rec.update(tag(out))
        with self._lock:
            self.records.append(rec)
        return out

    def of(self, *kinds, ok=True) -> list[dict]:
        return [
            r for r in self.records
            if (not kinds or r["kind"] in kinds) and (ok is None or r["ok"] == ok)
        ]
