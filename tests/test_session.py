"""The engine's Python workers keep the archives they were launched with
(``session.keep_launch_archives``), and still import what ``addPyFile``
sends them."""

from __future__ import annotations

import json
import uuid
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
    make_embedder,
)

# One-row tasks: idle workers are handed out first in, first out, so a
# job with more tasks than workers reaches every idle worker.
TASKS = 32


def _after_embedder(spark, probe) -> pd.Series:
    """``probe`` chained after the engine's embedder in one pandas UDF:
    per task, it runs in the same worker, once the embedder's body has
    started.  Returns the probe's output, one value per task."""
    df = spark.range(0, TASKS, 1, TASKS).select(F.lit("a b").alias("text"))
    out = df.select(F.pandas_udf(probe, T.StringType())(make_embedder()(F.col("text"))).alias("out"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan  # chained: one runner, one worker
    return pd.Series([r["out"] for r in out.collect()])


def test_next_task_does_not_reread_launch_archives(spark):
    """After an engine UDF has run in a worker, the next task's
    ``setup_spark_files`` leaves each launch archive's directory in
    ``zipimport._zip_directory_cache`` as the same object: it was not
    read again.  The probe runs the function pyspark runs before every
    task, and counts its ``importlib.invalidate_caches()`` calls, so
    the test fails if pyspark stops making that call and the hook has
    nothing left to do."""

    def probe(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import importlib
        import io
        import os
        import struct
        import zipimport

        from pyspark import SparkFiles
        from pyspark import worker_util

        for s in it:  # the embedder's body has run
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
                worker_util.setup_spark_files(
                    io.BytesIO(struct.pack(">i", len(root)) + root + struct.pack(">i", 0))
                )
            finally:
                importlib.invalidate_caches = invalidate
            kept = {
                os.path.basename(p): before[p] is not None
                and zipimport._zip_directory_cache.get(p) is before[p]
                for p in launch
            }
            yield pd.Series([json.dumps({"calls": len(calls), "kept": kept})] * len(s))

    reports = [json.loads(r) for r in _after_embedder(spark, probe)]
    assert len(reports) == TASKS
    for report in reports:
        assert report["calls"] == 1, report
        names = set(report["kept"])
        assert "pyspark.zip" in names and any(n.startswith("py4j-") for n in names), report
        assert all(report["kept"].values()), report


def test_added_py_files_import_in_a_kept_worker(spark, tmp_path):
    """A ``.py`` file and a ``.zip`` module sent with ``addPyFile`` after
    the workers ran an engine UDF still import there: the hook leaves
    the SparkFiles root's finder and new archives' importers alone."""
    import pyarrow as pa

    def passthrough(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield pd.Series(["ran"] * len(s))

    assert set(_after_embedder(spark, passthrough)) == {"ran"}

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
    assert any(r["kept"] and r["fresh"] for r in got), got
