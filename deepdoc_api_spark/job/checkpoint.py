"""Per-partition checkpointed execution with resume (P4/P5 analogue).

The reference keeps job state in Redis (``/root/reference/app/main.py:45-95``:
status/stage/progress/details, 24 h TTL) and recovers nothing on crash —
a failed job restarts from zero. The rebuild makes progress *durable and
partition-granular*: the corpus is hash-bucketed on ``doc_id``, each
bucket's chunks are written atomically (tmp file + rename) by the task
that computed them, and a progress row (docs/chunks/bytes/wall_ms +
input-snapshot lineage) is recorded per bucket. A re-run anti-joins the
input against completed buckets and processes only the remainder —
cancel (``sc.cancelJobGroup``) and crash recovery are therefore the
same code path (SURVEY §3.3). The bucket writer is a ``mapInArrow``
stage on the flagship's kernel code (``job/pipeline.py``: the same span
decode, ``chunk_document`` and chunk RecordBatch build), so committed
chunks are the flagship's chunks.

Storage abstraction: on a production cluster this is an Iceberg
``chunks`` table + ``progress`` table written with ``writeTo().append()``
(atomic snapshot commits, expiry ↔ the reference's Redis TTL). The
sandbox has no Iceberg runtime jar, so this module implements the same
logical contract on a shared filesystem: one parquet file per bucket,
``os.replace`` for atomicity, idempotent under task retry/speculation
(deterministic file name per bucket; last writer wins with identical
bytes). The resume anti-join is Spark-side either way.
"""

from __future__ import annotations

import glob
import json
import os
import time
from typing import List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CHUNK_SCHEMA, PROGRESS_DDL, PROGRESS_SCHEMA
from .pipeline import _arrow_schema_of, _batch_of, _decode

DEFAULT_NUM_BUCKETS = 64


def _chunks_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "chunks")


def _progress_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "progress")


def _meta_path(out_dir: str) -> str:
    return os.path.join(out_dir, "run-meta.json")


def _load_meta(out_dir: str) -> Optional[dict]:
    try:
        with open(_meta_path(out_dir), "r", encoding="utf-8") as f:
            return json.load(f)
    except Exception:
        return None


def _write_meta(out_dir: str, meta: dict) -> None:
    tmp = _meta_path(out_dir) + f".tmp-{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(out_dir))


def completed_buckets(
    out_dir: str,
    input_snapshot: Optional[str] = None,
    num_buckets: Optional[int] = None,
) -> List[int]:
    """Bucket ids with a committed chunk file + completed progress row.

    When ``input_snapshot``/``num_buckets`` are given, only progress rows
    recorded against the SAME input lineage and bucketing count — a row
    written for a different corpus snapshot or a different bucket count
    must not suppress re-processing (it would silently mix stale chunks
    into the output table).
    """
    done = []
    pdir = _progress_dir(out_dir)
    if not os.path.isdir(pdir):
        return done
    for path in sorted(glob.glob(os.path.join(pdir, "*.json"))):
        try:
            with open(path, "r", encoding="utf-8") as f:
                row = json.load(f)
            if row.get("status") != "completed":
                continue
            if (
                input_snapshot is not None
                and row.get("input_snapshot") != input_snapshot
            ):
                continue
            if num_buckets is not None and row.get("num_buckets") != num_buckets:
                continue
            if os.path.exists(
                os.path.join(_chunks_dir(out_dir), f"bucket-{row['partition_id']}.parquet")
            ):
                done.append(int(row["partition_id"]))
        except Exception:
            continue
    return sorted(set(done))


def progress_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The progress table as a DataFrame (A3/A4 metrics source)."""
    rows = []
    pdir = _progress_dir(out_dir)
    if os.path.isdir(pdir):
        for path in sorted(glob.glob(os.path.join(pdir, "*.json"))):
            try:
                with open(path, "r", encoding="utf-8") as f:
                    rows.append(json.load(f))
            except Exception:
                continue
    cols = PROGRESS_SCHEMA.fieldNames()
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], PROGRESS_DDL
    )


#: chunk rows buffered per bucket before a row-group flush to the
#: incremental ParquetWriter — bounds kernel memory to
#: O(buckets_in_task × FLUSH_ROWS), independent of bucket size
FLUSH_ROWS = 4096


def _writer_kernel(
    out_dir: str,
    run_id: str,
    input_snapshot: str,
    chunker_type: str,
    token_budget: int,
    num_buckets: int,
):
    """mapInArrow kernel: chunk each bucket's docs, stream them to a
    per-bucket ``pq.ParquetWriter`` (bounded buffer — a bucket larger
    than worker memory must not be accumulated in RAM), commit each
    bucket file atomically by rename, emit one progress row per bucket.
    A bucket's ``wall_ms`` is the time spent on its own docs and its
    own writes, not the task's running total."""

    def run(batches):
        from deepdoc_api_spark.kernels.pipeline import chunk_document

        chunks_dir = _chunks_dir(out_dir)
        progress_dir = _progress_dir(out_dir)
        os.makedirs(chunks_dir, exist_ok=True)
        os.makedirs(progress_dir, exist_ok=True)
        schema = _arrow_schema_of(CHUNK_SCHEMA)
        per_bucket: dict = {}

        def flush(b: int, st: dict) -> None:
            if st["writer"] is None:
                st["tmp"] = os.path.join(
                    chunks_dir, f"bucket-{b}.parquet.tmp-{os.getpid()}"
                )
                st["writer"] = pq.ParquetWriter(st["tmp"], schema)
            if st["rows"]:
                st["writer"].write_batch(_batch_of(st["rows"], schema))
                st["chunks"] += len(st["rows"])
                st["rows"] = []

        for rb in batches:
            for doc_id, spans, b in zip(*_decode(rb, "doc_id", "spans", "bucket")):
                t0 = time.monotonic()
                st = per_bucket.setdefault(
                    b,
                    {
                        "rows": [], "docs": 0, "bytes": 0, "chunks": 0,
                        "writer": None, "tmp": None, "wall_s": 0.0,
                    },
                )
                spans = spans or []
                st["docs"] += 1
                st["bytes"] += sum(len(s.get("text") or "") for s in spans)
                st["rows"].extend(
                    chunk_document(doc_id, spans, chunker_type, token_budget)
                )
                if len(st["rows"]) >= FLUSH_ROWS:
                    flush(b, st)
                st["wall_s"] += time.monotonic() - t0

        out_rows = []
        for b, st in sorted(per_bucket.items()):
            t0 = time.monotonic()
            # a bucket whose docs produced zero chunk rows still commits
            # an (empty) file, so its progress row is honest
            flush(b, st)
            st["writer"].close()
            final = os.path.join(chunks_dir, f"bucket-{b}.parquet")
            os.replace(st["tmp"], final)  # atomic commit of the bucket
            st["wall_s"] += time.monotonic() - t0
            prow = {
                "run_id": run_id,
                "partition_id": b,
                "status": "completed",
                "docs": st["docs"],
                "chunks": st["chunks"],
                "bytes": st["bytes"],
                "wall_ms": int(st["wall_s"] * 1000),
                "input_snapshot": input_snapshot,
                "ts": time.time(),
                # lineage guard consumed by completed_buckets on resume
                # (extra JSON key; not part of the PROGRESS_DDL columns)
                "num_buckets": num_buckets,
            }
            ptmp = os.path.join(progress_dir, f"bucket-{b}.json.tmp-{os.getpid()}")
            with open(ptmp, "w", encoding="utf-8") as f:
                json.dump(prow, f)
            os.replace(ptmp, os.path.join(progress_dir, f"bucket-{b}.json"))
            out_rows.append(prow)
        if out_rows:
            yield _batch_of(out_rows, _arrow_schema_of(PROGRESS_SCHEMA))

    return run


def run_checkpointed(
    spark: SparkSession,
    spans_df: DataFrame,
    out_dir: str,
    run_id: str,
    chunker_type: str = "hybrid",
    token_budget: int = 512,
    num_buckets: int = DEFAULT_NUM_BUCKETS,
    input_snapshot: str = "",
    bucket_filter: Optional[List[int]] = None,
    on_mismatch: str = "refuse",
) -> dict:
    """Execute the pipeline with per-bucket checkpoints; resumable.

    ``bucket_filter`` limits processing to specific buckets (used by
    tests to simulate a mid-run crash). Returns a summary dict.

    Resume safety: the run records ``(input_snapshot, num_buckets)`` in
    ``run-meta.json`` and on every progress row. A re-run against a
    DIFFERENT corpus snapshot or bucket count must not trust the old
    progress — it would skip buckets and mix stale chunks from the old
    bucketing into the output. ``on_mismatch="refuse"`` (default) raises;
    ``"rebuild"`` discards the stale chunk/progress state and reprocesses
    from scratch.
    """
    os.makedirs(out_dir, exist_ok=True)
    meta = {"input_snapshot": input_snapshot, "num_buckets": int(num_buckets)}
    existing = _load_meta(out_dir)
    if existing is not None and existing != meta:
        if on_mismatch == "rebuild":
            import shutil

            for d in (_chunks_dir(out_dir), _progress_dir(out_dir)):
                shutil.rmtree(d, ignore_errors=True)
        else:
            raise ValueError(
                f"checkpoint dir {out_dir} was written for "
                f"{existing}, current run is {meta}; pass "
                'on_mismatch="rebuild" to discard the stale state'
            )
    _write_meta(out_dir, meta)
    done = completed_buckets(out_dir, input_snapshot, int(num_buckets))

    work = spans_df.select("doc_id", "spans").withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )
    if done:
        # resume anti-join (P4): at bucket granularity this is a pruned
        # filter; the Iceberg-scale equivalent is
        # input.join(progress_done, "partition_id", "left_anti")
        work = work.filter(~F.col("bucket").isin([int(b) for b in done]))
    if bucket_filter is not None:
        work = work.filter(F.col("bucket").isin([int(b) for b in bucket_filter]))

    # co-locate each bucket in exactly one task → atomic bucket commit
    work = work.repartition(num_buckets, "bucket")

    spark.sparkContext.setJobGroup(run_id, f"deepdoc chunk run {run_id}")
    try:
        progress_rows = work.mapInArrow(
            _writer_kernel(
                out_dir, run_id, input_snapshot, chunker_type,
                token_budget, int(num_buckets),
            ),
            PROGRESS_DDL,
        ).collect()
    finally:
        spark.sparkContext.setJobGroup("", "")

    return {
        "run_id": run_id,
        "buckets_done_before": len(done),
        "buckets_written": len(progress_rows),
        "docs": sum(r["docs"] for r in progress_rows),
        "chunks": sum(r["chunks"] for r in progress_rows),
        "out_dir": out_dir,
    }


def load_chunks(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the committed chunks of all completed buckets."""
    pattern = os.path.join(_chunks_dir(out_dir), "bucket-*.parquet")
    files = sorted(glob.glob(pattern))
    if not files:
        raise FileNotFoundError(f"no committed chunk buckets under {out_dir}")
    return spark.read.parquet(*files)


def cancel_run(spark: SparkSession, run_id: str) -> None:
    """P5 — cancel a running job group; completed buckets stay durable,
    so a later ``run_checkpointed`` resumes where it stopped
    (reference: app/main.py:764-813, threading.Event between files)."""
    spark.sparkContext.cancelJobGroup(run_id)
