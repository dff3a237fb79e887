"""PySpark-native analytics engine with the query/data-processing
capabilities of ``hubmapconsortium/asctb-ct-label-mapper``.

The reference (/root/reference, 653 LoC of eager pandas/numpy/sklearn) maps
free-text cell-type labels onto the ASCT+B vocabulary via sentence embeddings
and cosine similarity.  This package re-expresses every operator the reference
implements (SURVEY.md §2) as lazy, Catalyst-optimized DataFrame plans, and
adds the large-scale training-data-pipeline operators (dedup, similarity
search, multimodal plumbing, text analysis) the reference never needed.

Design rules (see SURVEY.md §4):
- DataFrame/SQL first; UDFs only where built-ins can't express the semantics
  (encoder, lemmatizer, contractions) and then always Arrow-vectorized.
- Broadcast the small (reference) side of every join; never collect-loop.
- Explicit schemas everywhere; Parquet as the native format.
"""

import gc
import sys

from pyspark import SparkFiles

from asctb_ct_label_mapper_spark.pipeline import (
    build_reference_embeddings,
    map_raw_labels,
)
from asctb_ct_label_mapper_spark.session import get_spark

__version__ = "0.2.0"


def _lazy_zip_invalidation() -> None:
    """Backport Python 3.13's lazy ``zipimporter.invalidate_caches``
    (CPython gh-103200) to the running interpreter.

    Before 3.13, ``invalidate_caches`` re-reads the archive's whole
    directory at once, in every zipimporter over it. PySpark's Python
    worker calls ``importlib.invalidate_caches()`` for every task, and its
    path holds three archives, ``pyspark.zip`` (1328 entries), the py4j
    zip and Spark's core jar (5359 entries), behind 16 zipimporters: 16
    directory reads per task, 0.22-0.24 s of CPU on a 4-vCPU host
    (SCALING.md). Made
    lazy, invalidating drops the cached directory and the next lookup in
    the archive reads it once, so a zip rewritten in place is still seen.
    """
    import zipimport

    cls = zipimport.zipimporter
    if isinstance(cls.__dict__.get("_files"), property):
        return

    def files(self):
        cache = zipimport._zip_directory_cache
        try:
            return cache[self.archive]
        except KeyError:
            try:
                found = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                found = {}
            return found

    def set_files(self, value):
        # __init__ assigns the directory it has just cached
        pass

    def invalidate_caches(self):
        zipimport._zip_directory_cache.pop(self.archive, None)

    cls._files = property(files, set_files)
    cls.invalidate_caches = invalidate_caches


def _worker_setup() -> None:
    """Set up a Python worker process that has just imported the package:
    install the zip-invalidation backport (Python < 3.13), then freeze the
    heap built so far.

    A reused PySpark worker runs a full ``gc.collect()`` after every task
    (``pyspark/daemon.py``). By the time package code is unpickled the
    heap holds about 73k tracked objects (pandas, pyarrow, numpy,
    ``pyspark.sql.pandas``, this package) that live as long as the
    process, and each collect rescanned them: about 40 ms of CPU per
    task. ``gc.freeze()`` moves them to the permanent generation, so the
    per-task collect scans only what was made since (SCALING.md). The
    price is paid once per worker process: cyclic garbage that exists at
    the freeze is never collected.
    """
    if sys.version_info < (3, 13):
        _lazy_zip_invalidation()
    gc.freeze()


__all__ = [
    "build_reference_embeddings",
    "get_spark",
    "map_raw_labels",
    "__version__",
]


# Package code unpickled in a Python worker imports this module: set the
# worker up there, once per worker process, after the imports above have
# loaded pandas, pyarrow and numpy.
if SparkFiles._is_running_on_worker:
    _worker_setup()
