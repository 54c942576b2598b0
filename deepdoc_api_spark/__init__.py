"""deepdoc_api_spark — a PySpark-native extraction-and-chunking engine.

A from-scratch rebuild of the capabilities of TrueSelph/deepdoc_api (a
FastAPI + docling document-processing service) as a distributed Spark
DataFrame job over a table of interleaved text+media documents:

    (doc_id: string,
     spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Architecture (Spark-first, not a port):

- ``kernels/``  — pure-Python document kernels (HTML main-content
  extraction, PDF-layout formatting, chunkers, tokenizer). Zero Spark
  imports; unit-testable; double as the in-driver correctness oracle.
- ``job/``      — the Spark layer: Arrow-vectorized ``mapInArrow``
  pipeline, skew sharding for giant documents, per-partition
  checkpointed progress with resume.
- ``ops/``      — corpus-level training-data operations (dedup,
  similarity search, text analysis) as declarative DataFrame plans.
- ``datagen.py`` — deterministic synthetic interleaved-span corpus
  generator (seed-stable, derived from the driver-provided
  ``documents`` table).

Importing the package also makes zip-archive import caches re-read an
archive only when it changed (see :func:`_install_zip_reread_on_change`).
"""

__version__ = "0.1.0"


def _install_zip_reread_on_change() -> None:
    """Before Python 3.13, ``zipimporter.invalidate_caches`` re-reads the
    archive's whole directory on every call. PySpark calls
    ``importlib.invalidate_caches()`` at the start of every Python task,
    so each task re-read ``pyspark.zip`` (1,328 entries) once per cached
    zip importer (16 of them) before user code ran: a warm 64-task
    stage of empty tasks took 5.2 s instead of 1.25 s at local[4]. The
    replacement re-reads only when this importer has not read the
    archive yet or the file's ``(st_mtime_ns, st_size)`` changed since
    its last read. Every worker-side stage imports this package, so a
    reused worker has it from its second task on. 3.13 made the re-read
    lazy upstream, so there it is left alone."""
    import os
    import sys
    import zipimport

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or self.__dict__.get("_read_sig") != sig:
            reread(self)
            self._read_sig = sig

    cls.invalidate_caches = invalidate_caches


_install_zip_reread_on_change()
