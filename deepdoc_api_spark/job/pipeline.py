"""The distributed extraction+chunking pipeline.

Plan shape (SURVEY §3.1 Spark lifecycle):

    read spans table
      ├─ size-class on size(spans)                (JVM-side, no shuffle)
      ├─ small docs  → fused mapInArrow kernel    (no shuffle at all)
      └─ giant docs  → repartition(doc_id)        (one giant per task)
                      → the same fused kernel
    union → chunks DataFrame

Why two branches: chunking is per-document-sequential (hierarchy
state), so a document is the atomic unit of the fused kernel. That
makes one 20 000-span document a straggler inside whatever partition
it lands in — and AQE does not split a skewed *UDF* stage (it only
handles shuffle joins/aggregations). The size-class gives each giant
its own task instead (SURVEY §4, axis B). Both branches run the same
kernel code, so output is byte-identical regardless of branch —
tests/test_spark_equality.py asserts it. The checkpointed job
(``job/checkpoint.py``) decodes spans and builds chunk batches with the
same helpers, :func:`_decode` and :func:`_batch_of`.

Every per-row Python kernel of the package (this module's corpus
generator and chunking stage, the flat-class oracle ops, the fallback
window op and the media ops) runs through :func:`map_rows`: one
``mapInArrow`` stage that decodes the named input columns and builds
each output batch from the stage's DDL.

Reference parity: the reference splits PDFs over 100 pages into parts
and recombines them (``app/mineru_adapter/layout_processor.py:266-359``
and ``:24-47``); here a giant document stays whole on one task. One
10^6-span document took 73-80 s at 3.9-4.7 GB peak Python RSS that way
(local[4], 4-core x86 host), where a span-sharded explode → extract →
regroup plan took 96-105 s at 5.4-5.5 GB.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from ..datagen import doc_id_str, gen_doc_spans
from ..kernels.pipeline import chunk_document
from ..schema import CHUNK_DDL, SPANS_DDL
from .arrow_decode import decode_column


def _arrow_schema_of(struct_type):
    """PyArrow schema for a Spark StructType — the exact mapping Spark's
    own Arrow serializer uses, so hand-built RecordBatches match what
    ``mapInArrow`` declares."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct_type)


def _decode(rb: pa.RecordBatch, *names: str) -> list:
    """The named columns of ``rb`` as Python lists
    (:func:`~deepdoc_api_spark.job.arrow_decode.decode_column`)."""
    return [decode_column(rb.column(rb.schema.get_field_index(n))) for n in names]


def _batch_of(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    """Row dicts (e.g. ``chunk_document`` output) as one RecordBatch of
    ``schema``; keys outside the schema are ignored."""
    return pa.RecordBatch.from_arrays(
        [pa.array([r[f.name] for r in rows], type=f.type) for f in schema],
        schema=schema,
    )


def _row_kernel(fn, schema: pa.Schema, cols: tuple):
    """Worker side of :func:`map_rows`: for each Arrow batch, decode
    ``cols``, call ``fn`` once per input row and emit everything the
    calls returned as one batch of ``schema``. A batch whose rows
    return nothing emits no batch."""

    def run(batches):
        for rb in batches:
            rows: list = []
            for values in zip(*_decode(rb, *cols)):
                rows.extend(fn(*values))
            if rows:
                yield _batch_of(rows, schema)

    return run


def map_rows(df: DataFrame, fn, ddl: str, *cols: str) -> DataFrame:
    """Run the per-row kernel ``fn`` over ``df`` as one ``mapInArrow``
    stage with output schema ``ddl``.

    ``fn`` receives the values of ``cols`` for one input row, decoded
    by :func:`_decode` (a null ``list<struct>`` arrives as ``None``),
    and returns that row's output rows as dicts keyed by the ``ddl``
    column names; other keys are ignored. The DDL is parsed once, when
    the stage is built."""
    schema = _arrow_schema_of(_parse_datatype_string(ddl))
    return df.mapInArrow(_row_kernel(fn, schema, cols), ddl)


#: docs with at least this many spans take the giant-doc path. Round-8
#: re-derivation (guide §1.2: algorithm before config): the giant
#: branch costs a SECOND full scan of the span table (the size-class
#: predicate is computed, not stored, so parquet cannot prune it) plus
#: a shuffle — an O(corpus) price paid whether or not any giant
#: exists. Isolation only pays for itself when one document's kernel
#: time could stall a whole task wave: at the measured ~35k spans/s
#: per core, a 32k-span document is ~1 s of kernel — the same order as
#: a task under the 4 MB kernel splits — so anything smaller now runs
#: inline in the fused kernel (identical bytes either way, tested).
#: The old 4000-span threshold isolated ~0.12 s documents: at sf0.1×4
#: it spent ~0.5-2.5 s of wall on the second scan + exchange to save
#: nothing (measured round 8; plans/r08/). True monsters (≥ ~10^5
#: spans) still get a task of their own.
DEFAULT_SKEW_THRESHOLD = 32768
#: span-cache entries idle longer than this are sweepable (mtime is
#: refreshed on every cache hit, so this measures idleness, not age)
_CACHE_SWEEP_AGE_S = 6 * 3600


# ---------------------------------------------------------------------------
# corpus source
# ---------------------------------------------------------------------------


def spans_from_documents(
    spark: SparkSession,
    sf_dir: str,
    num_partitions: Optional[int] = None,
    limit: Optional[int] = None,
    replicate: int = 1,
) -> DataFrame:
    """Derive the deterministic span corpus from ``documents.parquet``.

    Scan reads only (doc_id, text) — column pruning reaches the parquet
    scan. The repartition gives the downstream CPU-bound kernel ~4
    waves per core (the tiny source parquet is a single split, which
    would otherwise serialize the whole pipeline on one task).

    ``replicate`` scales the corpus deterministically for benchmarks:
    source doc ``d`` spawns docs ``d*replicate .. d*replicate+r-1``,
    preserving the generator's giant-doc fraction and keeping every
    doc_id's content a pure function of ``(doc_id, source text)``.
    """
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet").select(
        "doc_id", "text"
    )
    if limit:
        docs = docs.limit(limit)
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 4
    docs = docs.repartition(num_partitions, "doc_id")

    def gen(doc_id, text):
        return [
            {"doc_id": doc_id_str(did), "spans": gen_doc_spans(did, text or "")}
            for did in range(doc_id * replicate, (doc_id + 1) * replicate)
        ]

    return map_rows(docs, gen, SPANS_DDL, "doc_id", "text")


def spans_parquet_cached(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Parquet-backed span corpus (round-3 VERDICT #10).

    The deterministic corpus is generated ONCE per (generator version,
    source dir, replicate) into a shared on-disk cache and every
    consumer reads the parquet — so a driver sweeping dozens of
    ``queries()`` entries (possibly across sessions) pays one
    materialization instead of one persist per session, and each query
    gets a pruned columnar scan instead of a memory-pinned full-row
    cache. The cache key hashes the generator SOURCE (datagen.py
    bytes) AND the input data's identity (file list + sizes + mtimes of
    documents.parquet), so editing the corpus logic OR regenerating the
    source table at the same path invalidates stale cache dirs
    automatically. Writers race safely: the corpus is written to a
    unique tmp dir and atomically renamed into place (dir existence ==
    completion — no reliance on Spark's _SUCCESS marker, which a user
    conf can disable); the loser of the rename discards its tmp and
    reads the winner's output (identical — the corpus is
    deterministic). New generations evict superseded ones for the same
    (source, replicate), and orphaned tmp dirs are swept, both guarded
    by ``_CACHE_SWEEP_AGE_S`` (6 h) of idleness, so the shared cache
    stays bounded across sessions. Every cache HIT touches the dir
    mtime, so the age guard counts from last *use* — an actively-read
    generation is never evicted under a live session; only a session
    idle longer than the guard can lose a superseded generation, and
    its next action then fails with a parquet path/IO error whose
    remedy is simply re-running the query (regeneration is
    deterministic).

    Portability (round-6 VERDICT #6): this cache's commit protocol is
    LOCAL-FS-bound by design (os.rename atomicity, mtime age guard,
    listdir sweep) — it is test-corpus infrastructure, not engine
    state. A lake deployment reads real span tables (``--input``) and
    never enters this path; see deepdoc_api_spark/fsutil.py for the
    engine's driver-side FS assumptions and the object-storage gap.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import time
    import uuid

    import deepdoc_api_spark.datagen as datagen

    from deepdoc_api_spark.cacheid import path_stat_signature

    with open(datagen.__file__, "rb") as fh:
        gen_ver = hashlib.md5(fh.read()).hexdigest()[:10]
    src = os.path.abspath(sf_dir.rstrip("/"))
    key = hashlib.md5(src.encode()).hexdigest()[:10]
    data_ver = path_stat_signature(os.path.join(src, "documents.parquet"))[:10]
    root = os.environ.get(
        "SPARK_GRAFT_SPANS_CACHE",
        os.path.join(tempfile.gettempdir(), "ddspark-spans-cache"),
    )
    suffix = f"-s{key}-r{replicate}"
    dest = os.path.join(root, f"g{gen_ver}-d{data_ver}{suffix}")
    if os.path.isdir(dest):
        # cache hit: refresh the mtime so the idle-age sweep below
        # counts from last USE — a generation under active reads can
        # never age out beneath a live session (round-4 ADVICE)
        try:
            os.utime(dest, None)
        except OSError:
            pass
    else:
        os.makedirs(root, exist_ok=True)
        # Best-effort sweep of superseded generations of this (source,
        # replicate) and of tmp dirs abandoned by crashed writers. Both
        # are age-guarded at _CACHE_SWEEP_AGE_S of IDLENESS (mtime is
        # refreshed on every cache hit above): a tmp younger than that
        # may belong to a LIVE writer (Spark only sets the dir mtime at
        # job start), and a superseded generation younger than that may
        # still be lazily read by a session that opened it before the
        # input changed. Residual race (documented, accepted for a
        # test-data cache): a session IDLE beyond the guard that still
        # holds DataFrames over a superseded generation fails its next
        # action with a parquet path/IO error — re-running the query
        # regenerates deterministically. Every stat/rmtree is
        # exception-guarded: a concurrent sweeper or renamer can remove
        # entries between listdir and stat (TOCTOU), which must never
        # abort this run.
        now = time.time()
        for name in os.listdir(root):
            full = os.path.join(root, name)
            try:
                old = now - os.path.getmtime(full) > _CACHE_SWEEP_AGE_S
                stale_gen = (
                    old
                    and name.endswith(suffix)
                    and name != os.path.basename(dest)
                )
                stale_tmp = old and name.startswith("tmp-")
                if stale_gen or stale_tmp:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                continue  # entry vanished under us — someone else swept
        tmp = os.path.join(root, f"tmp-{uuid.uuid4().hex}")
        try:
            spans_from_documents(
                spark, sf_dir, replicate=replicate
            ).write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, dest)
            except OSError:
                # only a concurrent winner excuses the failure — any
                # other cause (permissions, cross-device root) must
                # surface as itself, not as a bogus read-miss later
                if not os.path.isdir(dest):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(dest)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def chunk_documents(
    spans_df: DataFrame,
    chunker_type: str = "hybrid",
    token_budget: int = 512,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    toc_params=None,
) -> DataFrame:
    """spans table → chunks table (declarative; caller triggers action).

    Docs with at least ``skew_threshold`` spans are repartitioned one
    doc per task and run through the same fused kernel, so a giant
    never holds up a task full of small docs; output is byte-identical
    to running every doc inline (tested).
    """
    if toc_params and toc_params.get("section_pattern"):
        import re as _re

        # fail fast driver-side: a syntactically invalid section_pattern
        # would otherwise be swallowed per-document by the fallback
        # cascade, silently degrading ALL TOC output to window chunks
        _re.compile(toc_params["section_pattern"])
    spark = spans_df.sparkSession
    # an EXPLICIT partition count: with a bare repartition-by-column AQE
    # coalesces the small-byte giant shuffle into a handful of
    # partitions, serializing the per-document chunk pass. Chunking cost
    # is per-doc CPU, not bytes.
    n_parts = spark.sparkContext.defaultParallelism * 2
    src = spans_df.select("doc_id", "spans")
    n_spans = F.size(F.col("spans"))

    def chunk(doc_id, spans):
        return chunk_document(
            doc_id, spans or [], chunker_type, token_budget, toc_params=toc_params
        )

    small = src.filter(n_spans < skew_threshold)
    giant = src.filter(n_spans >= skew_threshold).repartition(n_parts, "doc_id")
    return map_rows(small, chunk, CHUNK_DDL, "doc_id", "spans").unionByName(
        map_rows(giant, chunk, CHUNK_DDL, "doc_id", "spans")
    )
