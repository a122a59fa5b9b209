"""Session set-up and the calls into the program that the benchmark times.

Run from the root of a checkout: the program is the ``jigsaw_spark``
package in the working directory.  Everything the benchmark writes (Spark
local dirs, JVM and Python temp files, export shards) goes under
``.perfbench_work/`` there and is removed when the benchmark ends.

Deployment settings made here, before the driver JVM starts:

- the checkout is put on ``PYTHONPATH`` so the Python workers can import
  ``jigsaw_spark`` (without it, queries whose kernels reference the
  package fail on the workers with ``ModuleNotFoundError``, which would
  measure the launcher rather than the program);
- console progress bars are off and the log level is ``ERROR``, so stdout
  carries only the benchmark's own lines.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
WORK = ROOT / ".perfbench_work"
# Set in the environment the driver JVM and its Python workers inherit, so
# ``shutdown`` can find every process this run started, orphans included.
MARK = "PERFBENCH_RUN"


class ProgramMissing(RuntimeError):
    """The working directory holds no ``jigsaw_spark`` to benchmark."""


def prepare() -> None:
    """Point Python, the JVM and Spark at the checkout; call before the
    first import of ``pyspark``-backed program modules."""
    if not (ROOT / "jigsaw_spark" / "__init__.py").is_file():
        raise ProgramMissing(f"no jigsaw_spark package under {ROOT}")
    if WORK.exists():
        shutil.rmtree(WORK)
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ[MARK] = f"{os.getpid()}-{time.time_ns()}"
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf",
            shlex.quote(f"spark.local.dir={local}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _marked() -> list[int]:
    """Pids of the live processes, other than this one, whose environment
    carries this run's mark."""
    mark = f"{MARK}={os.environ.get(MARK)}".encode()
    pids = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit() or int(d.name) == os.getpid():
            continue
        try:
            if mark not in (d / "environ").read_bytes().split(b"\0"):
                continue
            if (d / "stat").read_text().rsplit(")", 1)[1].split()[0] == "Z":
                continue  # a zombie has ended; its parent reaps it
        except OSError:
            continue
        pids.append(int(d.name))
    return pids


def shutdown(spark) -> None:
    """Stop the session and the driver JVM, end every process this run
    started and wait until each has ended; then remove ``.perfbench_work``.
    Safe to call on any path out, also before a session exists."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # the JVM is ended below either way
            pass
    if MARK in os.environ:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits once its stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            pids = _marked()
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
            while pids and time.monotonic() < deadline:
                time.sleep(0.05)
                pids = _marked()
            if not pids:
                break
    shutil.rmtree(WORK, ignore_errors=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def sf_dir() -> str:
    """The fixed read-only sf0.1 tables the program's own bench reads."""
    from jigsaw_spark.session import DEFAULT_SF_DIR

    return os.environ.get("PERFBENCH_SF_DIR", DEFAULT_SF_DIR)


def start_session(cpus: int, sf: str, previous=None):
    """One set-up: (re)start the session, read every table's footer and
    warm one Python worker per core.  Returns ``(spark, seconds)``.  A
    previous session is stopped first, so repeated set-ups after the first
    reuse the JVM but build a new SparkContext and new Python workers."""
    from jigsaw_spark.session import TABLES, get_spark, load_table

    if previous is not None:
        previous.stop()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for name in TABLES:
        if os.path.exists(os.path.join(sf, f"{name}.parquet")):
            load_table(spark, sf, name)

    def warm(batches):
        import numpy  # noqa: F401

        import jigsaw_spark.operators.dedup  # noqa: F401

        for pdf in batches:
            yield pdf

    spark.range(0, cpus * 1000, numPartitions=cpus).mapInPandas(
        warm, "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark, time.perf_counter() - t0


def build(spark, name: str, sf: str):
    """Plan construction: ``QuerySpec.spark`` (includes eager barriers
    and stream drains the query performs while building)."""
    from jigsaw_spark.plans.queries import QUERIES

    return QUERIES[name].spark(spark, sf)


def execute(df) -> None:
    """Run the built plan to completion through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def export_input(spark, sf: str):
    """The export's source frame: documents with a ``tags`` array."""
    from pyspark.sql import functions as F

    from jigsaw_spark.session import load_table

    return load_table(spark, sf, "documents").withColumn(
        "tags", F.array("lang", "source")
    )


def export_spec(spec: dict):
    """``PipelineSpec`` from the workload file's export entry."""
    from jigsaw_spark.operators.filters import FilterGroup, FilterStep
    from jigsaw_spark.plans.pipeline import PipelineSpec

    return PipelineSpec(
        name=spec["name"],
        key_cols=spec["key_cols"],
        groups=[
            FilterGroup(
                name=g["name"],
                steps=[FilterStep(type=g["type"], tags=g["tags"])],
            )
            for g in spec["groups"]
        ],
        test_fraction=0.0,
        num_folds=None,
    )


def export_dir(n: int) -> str:
    return str(WORK / f"export-{n}")
