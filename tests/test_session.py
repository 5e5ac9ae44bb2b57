"""Every Python worker of a ``get_spark`` session keeps the archives it
was launched with (``session.keep_launch_archives``, applied by the
session's Python daemon before it forks any worker), and still imports
what ``addPyFile`` sends it.  The JVM reaches every Python task over a
Unix domain socket in ``session.SOCKET_DIR``, whatever the checkout's or
the temp dir's path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid
import zipfile
from typing import Iterator

import pandas as pd

# One-row tasks: idle workers are handed out first in, first out, so a
# job with more tasks than workers reaches every idle worker.
TASKS = 32
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def setup_reports(spark, tasks: int) -> list[dict]:
    """Run a plain ``mapInArrow`` of ``tasks`` one-row tasks.  Each task
    runs again the function pyspark runs before every task,
    ``setup_spark_files``, and reports how many
    ``importlib.invalidate_caches()`` calls it made and, per launch
    archive, whether ``zipimport._zip_directory_cache`` kept the same
    directory object: it was not read again.  The count makes the
    check fail if pyspark stops making that call and the hook has
    nothing left to do."""

    def probe(batches):
        import importlib
        import io
        import struct
        import zipimport

        import pyarrow as pa
        from pyspark import SparkFiles
        from pyspark import worker_util

        for _ in batches:
            pass
        launch = [p for p in os.environ["PYTHONPATH"].split(os.pathsep) if os.path.isfile(p)]
        before = {p: zipimport._zip_directory_cache.get(p) for p in launch}
        calls = []
        invalidate = importlib.invalidate_caches

        def counted():
            calls.append(1)
            invalidate()

        importlib.invalidate_caches = counted
        try:  # the next task's setup: the same root, no new includes
            root = SparkFiles.getRootDirectory().encode()
            worker_util.setup_spark_files(io.BytesIO(struct.pack(">i", len(root)) + root + struct.pack(">i", 0)))
        finally:
            importlib.invalidate_caches = invalidate
        kept = {
            os.path.basename(p): before[p] is not None and zipimport._zip_directory_cache.get(p) is before[p]
            for p in launch
        }
        yield pa.RecordBatch.from_pylist([{"report": json.dumps({"calls": len(calls), "kept": kept})}])

    rows = spark.range(0, tasks, 1, tasks).mapInArrow(probe, "report string").collect()
    return [json.loads(r["report"]) for r in rows]


def socket_reports(spark, operator: str) -> list[list[str]]:
    """Run one task of a Python ``operator`` (``mapInArrow``,
    ``mapInPandas`` or a Series-iterator ``pandas_udf``).  The task reports, for
    each socket its process holds open, the address family and the local
    address: for the worker's socket to the JVM, the daemon's path."""

    def sockets() -> str:
        import socket

        found = []
        for fd in os.listdir("/proc/self/fd"):
            try:
                if not os.readlink(f"/proc/self/fd/{fd}").startswith("socket:"):
                    continue
            except OSError:  # the listing's own fd, closed by now
                continue
            sock = socket.socket(fileno=int(fd))
            try:
                found.append([sock.family.name, str(sock.getsockname())])
            finally:
                sock.detach()
        return json.dumps(found)

    def arrow(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"sockets": sockets()}])

    def pandas(frames):
        for _ in frames:
            pass
        yield pd.DataFrame({"sockets": [sockets()]})

    def series(ids: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in ids:
            yield pd.Series([sockets()] * len(s))

    one = spark.range(0, 1, 1, 1)
    if operator == "mapInArrow":
        df = one.mapInArrow(arrow, "sockets string")
    elif operator == "mapInPandas":
        df = one.mapInPandas(pandas, "sockets string")
    else:
        from pyspark.sql import functions as F

        df = one.select(F.pandas_udf(series, "string")("id").alias("sockets"))
    (row,) = df.collect()
    return json.loads(row["sockets"])


def test_python_tasks_reach_the_jvm_over_unix_sockets(spark):
    """Each Python operator of the paper's path (the scorer's
    ``mapInArrow``, the PDF decoder's ``mapInPandas``, the embedder's
    and ``llm_extract``'s Series-iterator ``pandas_udf``) runs in a worker whose
    sockets are Unix domain sockets: none is TCP."""
    for operator in ("mapInArrow", "mapInPandas", "pandas_udf"):
        families = [family for family, _ in socket_reports(spark, operator)]
        assert "AF_UNIX" in families, (operator, families)
        assert not {"AF_INET", "AF_INET6"} & set(families), (operator, families)


def test_session_starts_from_a_long_temp_dir(tmp_path):
    """A session whose ``TMPDIR`` and ``java.io.tmpdir`` are 100+
    characters long still starts, runs a Python task and stops: a
    socket path in that dir would not fit ``sun_path``.  Its daemon's
    and accumulator server's sockets are in ``SOCKET_DIR`` and are gone
    after ``stop``; none is left in the temp dir."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import SOCKET_DIR

    deep = tmp_path / ("t" * 100)
    deep.mkdir()
    assert len(str(deep)) >= 100
    script = (
        "import json, sys\n"
        f"sys.path[:0] = [{ROOT!r}, {os.path.dirname(os.path.abspath(__file__))!r}]\n"
        "from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import get_spark\n"
        "from test_session import socket_reports\n"
        "spark = get_spark()\n"
        "paths = [name for family, name in socket_reports(spark, 'mapInArrow') if family == 'AF_UNIX']\n"
        "paths.append(spark.sparkContext._accumulatorServer.server_address)\n"
        "spark.stop()\n"
        "print(json.dumps(paths))\n"
    )
    env = dict(
        os.environ,
        SPARK_DRIVER_MEMORY="1g",
        TMPDIR=str(deep),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={deep} pyspark-shell",
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    paths = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(paths) >= 2 and all(os.path.dirname(p) == SOCKET_DIR for p in paths), paths
    deadline = time.monotonic() + 10  # the daemon removes its socket on the JVM's SIGTERM
    while any(os.path.exists(p) for p in paths) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not [p for p in paths if os.path.exists(p)]
    assert not list(deep.rglob("*.sock"))


def _assert_kept(reports: list[dict], tasks: int) -> None:
    assert len(reports) == tasks
    for report in reports:
        assert report["calls"] == 1, report
        names = set(report["kept"])
        assert "pyspark.zip" in names and any(n.startswith("py4j-") for n in names), report
        assert all(report["kept"].values()), report


def test_next_task_does_not_reread_launch_archives(spark):
    """In every worker, a task's ``setup_spark_files`` leaves each
    launch archive's directory in place, whatever UDF ran there."""
    _assert_kept(setup_reports(spark, TASKS), TASKS)


def test_first_task_keeps_launch_archives():
    """The first task of a fresh session, a plain ``mapInArrow`` that
    calls no engine code, already runs in a worker that keeps the
    launch archives: the session's daemon applied the hook before it
    forked the worker.  A fresh process, so no earlier task has run."""
    script = (
        "import json, sys\n"
        f"sys.path[:0] = [{ROOT!r}, {os.path.dirname(os.path.abspath(__file__))!r}]\n"
        "from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import get_spark\n"
        "from test_session import setup_reports\n"
        "spark = get_spark()\n"
        "print(json.dumps(setup_reports(spark, 1)))\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    _assert_kept(json.loads(proc.stdout.strip().splitlines()[-1]), 1)


def test_added_py_files_import_in_a_kept_worker(spark, tmp_path):
    """A ``.py`` file and a ``.zip`` module sent with ``addPyFile`` still
    import in the session's workers: the hook leaves the SparkFiles
    root's finder and new archives' importers alone."""
    import pyarrow as pa

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"added_py_{tag}", f"added_zip_{tag}"
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 'py'\n")
    with zipfile.ZipFile(tmp_path / f"{zip_mod}.zip", "w") as z:
        z.writestr(f"{zip_mod}.py", "VALUE = 'zip'\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_mod}.py"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{zip_mod}.zip"))

    def imports(batches):
        import importlib
        import sys
        import zipimport

        kept = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        fresh = py_mod not in sys.modules and zip_mod not in sys.modules
        values = [importlib.import_module(m).VALUE for m in (py_mod, zip_mod)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"kept": kept, "fresh": fresh, "values": ",".join(values)}])

    rows = spark.range(0, TASKS, 1, TASKS).mapInArrow(imports, "kept boolean, fresh boolean, values string")
    got = rows.collect()
    assert {r["values"] for r in got} == {"py,zip"}
    assert all(r["kept"] for r in got) and any(r["fresh"] for r in got), got
