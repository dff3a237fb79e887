"""The package's import-time set-up on Spark's Python workers: the lazy
zip-cache invalidation backport (CPython gh-103200), then a ``gc.freeze()``
of the import-time heap so the worker's per-task ``gc.collect()`` does not
rescan pandas, pyarrow and numpy. A driver process that imports the
package gets neither."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

import pandas as pd
import pytest

import asctb_ct_label_mapper_spark

ROOT = Path(__file__).resolve().parents[1]


def test_worker_invalidate_caches_reads_no_zip_directory(spark):
    """On a Python worker that has unpickled package code (this probe
    reads a package attribute, so unpickling it imports the package),
    ``importlib.invalidate_caches()`` — which PySpark calls for every
    task — re-reads no zip directory. Before the backport, Python < 3.13
    re-read a zip archive's directory (pyspark.zip's among them) once per
    zipimporter over it."""
    def probe(batches):
        import importlib
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        for pdf in batches:
            yield pd.DataFrame({
                "reads": [len(reads)] * len(pdf),
                "zips": zips,
                "v": asctb_ct_label_mapper_spark.__version__,
            })

    out = spark.range(8).repartition(4).mapInPandas(probe, "reads long, zips long, v string").collect()
    if not any(r["zips"] for r in out):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [r["reads"] for r in out] == [0] * 8
    assert {r["v"] for r in out} == {asctb_ct_label_mapper_spark.__version__}


def test_worker_heap_is_frozen_after_package_import(spark):
    """A Python worker that has unpickled package code has frozen its
    import-time heap: the freeze count is non-zero, and after a collect
    the objects left in the oldest generation (what PySpark's per-task
    ``gc.collect()`` scans) are fewer than the frozen ones."""
    def probe(batches):
        import gc
        import os

        version = asctb_ct_label_mapper_spark.__version__
        gc.collect()
        left = len(gc.get_objects(generation=2))
        for pdf in batches:
            yield pd.DataFrame({
                "pid": [os.getpid()] * len(pdf),
                "frozen": gc.get_freeze_count(),
                "left": left,
                "v": version,
            })

    out = spark.range(8).repartition(4).mapInPandas(
        probe, "pid long, frozen long, left long, v string"
    ).collect()
    assert len(out) == 8
    assert {r["v"] for r in out} == {asctb_ct_label_mapper_spark.__version__}
    for r in out:
        assert r["frozen"] > 0, r
        assert r["left"] < r["frozen"], r


def test_driver_import_freezes_nothing():
    """Importing the package in a plain driver process leaves its heap
    unfrozen: the freeze is worker-only."""
    done = subprocess.run(
        [sys.executable, "-c",
         "import gc, asctb_ct_label_mapper_spark; print(gc.get_freeze_count())"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "0"


def test_lazy_zip_invalidation_still_sees_a_rewritten_zip(tmp_path):
    """With the backport installed, a module added to a zip on sys.path
    after its first import from that zip still imports once the caches
    are invalidated: invalidation is lazy, not dropped."""
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile
        from asctb_ct_label_mapper_spark import _lazy_zip_invalidation

        _lazy_zip_invalidation()
        archive = {str(tmp_path / "mods.zip")!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("first_mod.py", "X = 1\\n")
        sys.path.insert(0, archive)
        import first_mod

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("padding.txt", "p" * 4096)
            z.writestr("first_mod.py", "X = 1\\n")
            z.writestr("second_mod.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import second_mod

        assert (first_mod.X, second_mod.Y) == (1, 2)
        print("ok")
        """
    )
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True, timeout=120
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip() == "ok"


def test_flagship_report_task_imports_package(spark, monkeypatch):
    """Unpickling the flagship report writer's ``mapInPandas`` function —
    what each of its Python tasks does first — imports the package, so
    the backport is installed in every worker that writes a report. A
    closure that pickled by value with only numpy in its globals would
    not import it."""
    import io
    import pickle

    from pyspark import cloudpickle
    from pyspark.broadcast import _from_id
    from pyspark.sql import functions as F

    from asctb_ct_label_mapper_spark.functions.nlp import clean_text_expr
    from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
    from asctb_ct_label_mapper_spark.operators.mapping import (
        map_labels_to_reference,
        reference_projection,
    )

    reference = (
        spark.createDataFrame(
            [("CL:9201", "alpha cell", "def a"), ("CL:9202", "beta cell", "def b")],
            "CT_ID string, CT_NAME string, definition string",
        )
        .withColumn("all_text", F.concat_ws(" ", "CT_NAME", "definition"))
        .withColumn("ct_name_cleaned", clean_text_expr(F.col("CT_NAME")))
        .withColumn("embedding", stub_encode_udf(F.col("all_text")))
    )
    labels = spark.createDataFrame(
        [("t", "beta cell")], "source string, raw_input_label string"
    )
    funcs = []
    frame = type(reference)
    map_in_pandas = frame.mapInPandas

    def spy(self, func, *args, **kwargs):
        funcs.append(func)
        return map_in_pandas(self, func, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInPandas", spy)
    sc = spark.sparkContext
    with reference_projection(reference) as ref:
        map_labels_to_reference(labels, ref, strategy="blocked")
        (write,) = funcs
        try:
            blob = cloudpickle.dumps(write)
        finally:
            # pickling registered the handle's broadcasts for the next job
            sc._pickled_broadcast_vars.clear()

    modules = set()

    class Recorder(pickle.Unpickler):
        def find_class(self, module, name):
            modules.add(module)
            if (module, name) == (_from_id.__module__, "_from_id"):
                return lambda bid: None  # no broadcast registry on the driver
            return super().find_class(module, name)

    Recorder(io.BytesIO(blob)).load()
    assert any(m.split(".")[0] == "asctb_ct_label_mapper_spark" for m in modules), modules
