"""The distributed extraction+chunking pipeline.

Plan shape (SURVEY §3.1 Spark lifecycle):

    read spans table
      ├─ size-class on size(spans)                (JVM-side, no shuffle)
      ├─ small docs  → fused mapInArrow kernel    (no shuffle at all)
      └─ giant docs  → posexplode → sharded per-span extraction
                      → groupBy(doc_id) reassembly → chunk pass
    union → chunks DataFrame

Why two paths: chunking is per-document-sequential (hierarchy state),
so a document is the atomic unit of the fused kernel. That makes one
20 000-span document a straggler inside whatever partition it lands in
— and AQE does not split a skewed *UDF* stage (it only handles shuffle
joins/aggregations). The explicit size-class + shard path is the
axis-B skew answer (SURVEY §4): the expensive per-span extraction
(HTML DOM parsing) of a giant document is spread over many tasks via
``repartition(doc_id, shard)``, and only the cheap ordered fold +
chunk pass runs single-task per document after a narrow-ish shuffle of
the 0.1% giant tail. Both paths share the same kernel cascade
(``kernels.pipeline.chunks_from_prepared``), so output is
byte-identical regardless of path — tests/test_spark_equality.py
asserts it.

Reference parity: large-doc splitting + recombination mirrors
``/root/reference/app/mineru_adapter/layout_processor.py:266-359`` (split)
and ``:24-47`` (combine) — there: 100-page PDF parts through a CLI;
here: span-range shards through a shuffle.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CHUNK_COLUMNS, CHUNK_DDL, CHUNK_SCHEMA, SPANS_DDL, SPANS_SCHEMA


def _arrow_schema_of(struct_type):
    """PyArrow schema for a Spark StructType — the exact mapping Spark's
    own Arrow serializer uses, so hand-built RecordBatches match what
    ``mapInArrow`` declares."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct_type)

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
#: spans) still take the isolate/shard path unchanged.
DEFAULT_SKEW_THRESHOLD = 32768
#: spans per extraction shard on the giant path
SHARD_SPANS = 512
#: span-cache entries idle longer than this are sweepable (mtime is
#: refreshed on every cache hit, so this measures idleness, not age)
_CACHE_SWEEP_AGE_S = 6 * 3600

_RECORD_RAW_DDL = (
    "doc_id string, pos int, rec_idx int, kind string, content string, "
    "media_ref string, page int, bbox_json string"
)


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

    # mapInArrow with direct RecordBatch construction (round 8, guide
    # §4.2): the pandas round-trip serialized every span struct through
    # an object column on both sides of the worker; building the Arrow
    # list<struct> array straight from the generator's dicts removes
    # that transpose (measured 3.1 → 2.4 s noop-isolated at sf0.1×4,
    # bit-identical rows — the corpus is a pure function of the input).
    def gen(batches):
        import pyarrow as pa

        from deepdoc_api_spark.datagen import doc_id_str, gen_doc_spans
        from deepdoc_api_spark.job.arrow_decode import decode_column

        schema = _arrow_schema_of(SPANS_SCHEMA)
        span_type = schema.field(1).type
        for rb in batches:
            ids = decode_column(rb.column(rb.schema.get_field_index("doc_id")))
            texts = decode_column(rb.column(rb.schema.get_field_index("text")))
            out_ids: list = []
            out_spans: list = []
            for d, t in zip(ids, texts):
                for r in range(replicate):
                    did = int(d) * replicate + r
                    out_ids.append(doc_id_str(did))
                    out_spans.append(gen_doc_spans(did, t or ""))
            if out_ids:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_ids, type=pa.string()),
                        pa.array(out_spans, type=span_type),
                    ],
                    schema=schema,
                )

    return docs.mapInArrow(gen, SPANS_DDL)


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
# fused small-doc kernel
# ---------------------------------------------------------------------------


def _fused_kernel(chunker_type: str, token_budget: int, toc_params=None):
    """Arrow-native fused kernel (round 8, guide §4.2): spans arrive as
    one ``list<struct>`` Arrow column and chunk rows leave as a
    directly-built RecordBatch — the pandas object-column transpose on
    both sides of the worker is gone (measured ~0.4 s off the flagship
    at sf0.1×4; chunk values are byte-identical, the kernel itself is
    untouched). The spans column is decoded child column by child
    column (:func:`~deepdoc_api_spark.job.arrow_decode.decode_column`),
    not through ``to_pylist``, whose per-element scalar objects cost
    ~8x as much; a null span element arrives as an all-``None`` span,
    which extraction drops and the fallback raw text skips."""

    def run(batches):
        import pyarrow as pa

        from deepdoc_api_spark.job.arrow_decode import decode_column
        from deepdoc_api_spark.kernels.pipeline import chunk_document

        schema = _arrow_schema_of(CHUNK_SCHEMA)
        types = [schema.field(i).type for i in range(len(schema))]
        for rb in batches:
            ids = decode_column(rb.column(rb.schema.get_field_index("doc_id")))
            spans = decode_column(rb.column(rb.schema.get_field_index("spans")))
            rows: list = []
            for doc_id, s in zip(ids, spans):
                rows.extend(
                    chunk_document(
                        doc_id,
                        s if s is not None else [],
                        chunker_type,
                        token_budget,
                        toc_params=toc_params,
                    )
                )
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([r[c] for r in rows], type=t)
                        for c, t in zip(CHUNK_COLUMNS, types)
                    ],
                    schema=schema,
                )

    return run


# ---------------------------------------------------------------------------
# sharded giant-doc path
# ---------------------------------------------------------------------------


def _extract_span_shards(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-span extraction (the shardable half): one input row per span,
    output rows are normalized records plus one ``_raw`` row per span
    (rec_idx = -1) carrying the raw text for the fallback cascade."""
    import json

    from deepdoc_api_spark.kernels.layout import span_to_records

    for pdf in batches:
        rows = []
        for doc_id, pos, kind, text, media_ref, offset in zip(
            pdf["doc_id"], pdf["pos"], pdf["kind"], pdf["text"],
            pdf["media_ref"], pdf["offset"],
        ):
            rows.append((doc_id, int(pos), -1, "_raw", text or "", "", 0, None))
            # a null int column arrives as float NaN, which ``or`` keeps
            recs = span_to_records(
                kind or "", text or "", media_ref,
                0 if pd.isna(offset) else int(offset),
            )
            for i, r in enumerate(recs):
                rows.append(
                    (
                        doc_id,
                        int(pos),
                        i,
                        r["kind"],
                        r["content"],
                        r["media_ref"],
                        int(r["page"]),
                        # json round-trips floats exactly (repr-based),
                        # so shard-path bboxes stay byte-identical to
                        # the fused path's
                        json.dumps(r["bbox"]) if r.get("bbox") else None,
                    )
                )
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "pos", "rec_idx", "kind", "content",
                    "media_ref", "page", "bbox_json",
                ],
            )


def _assemble_group(chunker_type: str, token_budget: int, toc_params=None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import json

        from deepdoc_api_spark.kernels.pipeline import chunks_from_prepared

        pdf = pdf.sort_values(["pos", "rec_idx"], kind="mergesort")
        doc_id = pdf["doc_id"].iloc[0]
        raw_texts = [
            t or "" for t in pdf.loc[pdf["rec_idx"] < 0, "content"]
        ]
        recs = [
            {
                "kind": k,
                "content": c or "",
                "media_ref": m or "",
                "page": int(p),
                "offset": 0,
                "bbox": json.loads(bj) if bj else None,
            }
            for k, c, m, p, bj in zip(
                pdf["kind"], pdf["content"], pdf["media_ref"], pdf["page"],
                pdf["bbox_json"],
            )
            if k != "_raw"
        ]
        chunks = chunks_from_prepared(
            doc_id, recs, raw_texts, chunker_type, token_budget, toc_params
        )
        return pd.DataFrame(chunks, columns=CHUNK_COLUMNS)

    return run


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def chunk_documents(
    spans_df: DataFrame,
    chunker_type: str = "hybrid",
    token_budget: int = 512,
    skew_threshold: int = DEFAULT_SKEW_THRESHOLD,
    shard_spans: int = SHARD_SPANS,
    skew_strategy: str = "isolate",
    toc_params=None,
) -> DataFrame:
    """spans table → chunks table (declarative; caller triggers action).

    ``skew_strategy`` for docs above ``skew_threshold`` spans:

    * ``"isolate"`` (default): repartition giants one-doc-per-task and
      run the same fused kernel — zero extra shuffle. Measured best for
      giants up to ~10^5 spans: at sf0.1×8 the shard path spent as much
      wall time on 0.1% of docs as on the other 99.9% (two full-text
      shuffles + a pandas re-sort), while isolation costs only the
      kernel itself.
    * ``"shard"``: posexplode → per-span extraction shards → groupBy
      reassembly. The right tool once a SINGLE document's extraction
      exceeds what one task should hold (≳10^6 spans) — it trades two
      shuffles of the doc's text for span-level parallelism.

    Both strategies produce byte-identical chunks (tested).
    """
    if toc_params and toc_params.get("section_pattern"):
        import re as _re

        # fail fast driver-side: a syntactically invalid section_pattern
        # would otherwise be swallowed per-document by the fallback
        # cascade, silently degrading ALL TOC output to window chunks
        _re.compile(toc_params["section_pattern"])
    spark = spans_df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism * 2
    src = spans_df.select("doc_id", "spans")
    n_spans = F.size(F.col("spans"))

    small = src.filter(n_spans < skew_threshold)
    giant = src.filter(n_spans >= skew_threshold)

    small_chunks = small.mapInArrow(
        _fused_kernel(chunker_type, token_budget, toc_params), CHUNK_DDL
    )

    if skew_strategy == "isolate":
        giant_chunks = giant.repartition(n_parts, "doc_id").mapInArrow(
            _fused_kernel(chunker_type, token_budget, toc_params), CHUNK_DDL
        )
        return small_chunks.unionByName(giant_chunks)

    # --- shard strategy ---
    # Both skew-path exchanges carry EXPLICIT partition counts: with a
    # bare repartition-by-column AQE coalesces the small-byte shuffles
    # into a handful of partitions, serializing the per-document chunk
    # pass (measured: a ~15 s straggler tail at local[32] that capped
    # scaling efficiency at 0.41). Chunking cost is per-DOC CPU, not
    # bytes — AQE's size heuristic is the wrong objective here.
    exploded = (
        giant.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .select(
            "doc_id",
            "pos",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
        # spread one giant doc's spans over many tasks
        .repartition(
            n_parts, F.col("doc_id"), (F.col("pos") / F.lit(shard_spans)).cast("int")
        )
    )
    giant_records = exploded.mapInPandas(_extract_span_shards, _RECORD_RAW_DDL)
    giant_chunks = (
        giant_records.repartition(n_parts, "doc_id")
        .groupBy("doc_id")
        .applyInPandas(
            _assemble_group(chunker_type, token_budget, toc_params), CHUNK_DDL
        )
    )

    return small_chunks.unionByName(giant_chunks)
