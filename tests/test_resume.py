"""Checkpoint/resume tests (SURVEY §5 item 4): a partial run followed by
a resume must equal one clean full run — no duplicates, no gaps."""

import os

from pyspark.sql import functions as F

from deepdoc_api_spark.job.checkpoint import (
    completed_buckets,
    load_chunks,
    progress_df,
    run_checkpointed,
)
from deepdoc_api_spark.job.pipeline import chunk_documents, spans_from_documents

N_DOCS = 60
BUCKETS = 8


def test_partial_then_resume_equals_full(spark, sf_dir, tmp_path):
    spans = spans_from_documents(spark, sf_dir, num_partitions=8, limit=N_DOCS)
    spans.cache()

    out_partial = str(tmp_path / "partial")
    out_full = str(tmp_path / "full")

    # simulate a crash: only buckets 0-2 complete on the first attempt
    s1 = run_checkpointed(
        spark, spans, out_partial, run_id="r1",
        num_buckets=BUCKETS, bucket_filter=[0, 1, 2],
    )
    assert s1["buckets_written"] <= 3
    done_after_crash = completed_buckets(out_partial)
    assert set(done_after_crash).issubset({0, 1, 2})

    # resume: anti-join skips completed buckets
    s2 = run_checkpointed(
        spark, spans, out_partial, run_id="r2", num_buckets=BUCKETS
    )
    assert s2["buckets_done_before"] == len(done_after_crash)

    # clean full run for comparison
    run_checkpointed(spark, spans, out_full, run_id="rf", num_buckets=BUCKETS)

    key = ["doc_id", "chunk_index", "kind", "text", "media_ref"]
    resumed = sorted(map(tuple, load_chunks(spark, out_partial).select(*key).collect()))
    full = sorted(map(tuple, load_chunks(spark, out_full).select(*key).collect()))
    assert resumed == full
    assert len(resumed) == len(set(resumed))  # no duplicates

    # every input doc accounted for exactly once
    n_docs_out = (
        load_chunks(spark, out_partial).select("doc_id").distinct().count()
    )
    assert n_docs_out == spans.count()
    spans.unpersist()


def test_rerun_after_completion_is_noop(spark, sf_dir, tmp_path):
    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=20)
    out = str(tmp_path / "o")
    s1 = run_checkpointed(spark, spans, out, run_id="a", num_buckets=4)
    assert s1["buckets_written"] >= 1
    s2 = run_checkpointed(spark, spans, out, run_id="b", num_buckets=4)
    assert s2["buckets_written"] == 0
    assert s2["docs"] == 0


def test_progress_rows_have_lineage_and_metrics(spark, sf_dir, tmp_path):
    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=20)
    out = str(tmp_path / "o")
    run_checkpointed(
        spark, spans, out, run_id="runX", num_buckets=4,
        input_snapshot="documents.parquet@sf0.001",
    )
    pdf = progress_df(spark, out).toPandas()
    assert (pdf["status"] == "completed").all()
    assert (pdf["run_id"] == "runX").all()
    assert (pdf["input_snapshot"] == "documents.parquet@sf0.001").all()
    assert pdf["docs"].sum() == 20
    assert (pdf["chunks"] > 0).any()
    assert (pdf["wall_ms"] >= 0).all()

    # A3 analogue: counts by status (app/main.py:98-114)
    status_counts = (
        progress_df(spark, out).groupBy("status").count().collect()
    )
    assert {r["status"]: r["count"] for r in status_counts}["completed"] == len(pdf)


def test_checkpointed_equals_plain_pipeline(spark, sf_dir, tmp_path):
    """The checkpointed writer and the plain DataFrame pipeline must
    produce identical chunks."""
    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=30)
    spans.cache()
    out = str(tmp_path / "o")
    run_checkpointed(spark, spans, out, run_id="x", num_buckets=4)
    key = ["doc_id", "chunk_index", "kind", "text", "media_ref"]
    a = sorted(map(tuple, load_chunks(spark, out).select(*key).collect()))
    b = sorted(
        map(tuple, chunk_documents(spans, "hybrid").select(*key).collect())
    )
    assert a == b
    spans.unpersist()


def test_resume_rejects_changed_input_snapshot(spark, sf_dir, tmp_path):
    import pytest

    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=20)
    spans.cache()
    out = str(tmp_path / "snap")
    run_checkpointed(
        spark, spans, out, run_id="a", num_buckets=4,
        input_snapshot="corpus@v1", bucket_filter=[0, 1],
    )
    # different snapshot: stale progress must NOT be trusted
    with pytest.raises(ValueError, match="rebuild"):
        run_checkpointed(
            spark, spans, out, run_id="b", num_buckets=4,
            input_snapshot="corpus@v2",
        )
    # rebuild discards the stale state and processes everything
    s = run_checkpointed(
        spark, spans, out, run_id="b", num_buckets=4,
        input_snapshot="corpus@v2", on_mismatch="rebuild",
    )
    assert s["buckets_done_before"] == 0
    assert s["docs"] == spans.count()
    spans.unpersist()


def test_resume_rejects_changed_num_buckets(spark, sf_dir, tmp_path):
    import pytest

    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=20)
    spans.cache()
    out = str(tmp_path / "nb")
    run_checkpointed(
        spark, spans, out, run_id="a", num_buckets=4, bucket_filter=[0]
    )
    with pytest.raises(ValueError):
        run_checkpointed(spark, spans, out, run_id="b", num_buckets=8)
    spans.unpersist()


def test_streaming_writer_bounded_buffer(spark, sf_dir, tmp_path, monkeypatch):
    """A bucket far larger than the flush buffer must stream through the
    incremental ParquetWriter and still produce exactly the chunks of a
    direct (non-checkpointed) run."""
    import deepdoc_api_spark.job.checkpoint as cp

    monkeypatch.setattr(cp, "FLUSH_ROWS", 64)
    spans = spans_from_documents(spark, sf_dir, num_partitions=4, limit=40)
    spans.cache()
    out = str(tmp_path / "stream")
    s = run_checkpointed(spark, spans, out, run_id="s", num_buckets=1)
    assert s["chunks"] > 64, "test corpus too small to exercise flushing"

    key = ["doc_id", "chunk_index", "kind", "text", "media_ref"]
    got = sorted(map(tuple, load_chunks(spark, out).select(*key).collect()))
    want = sorted(
        map(tuple, chunk_documents(spans, "hybrid").select(*key).collect())
    )
    assert got == want
    spans.unpersist()


def test_writer_wall_ms_is_per_bucket(tmp_path):
    """Each bucket's wall_ms counts its own docs and writes only, so the
    buckets of one task add up to no more than the task's time. Runs the
    writer function directly on batches that interleave two buckets."""
    import time

    import pyarrow as pa

    from deepdoc_api_spark.datagen import doc_id_str, gen_doc_spans
    from deepdoc_api_spark.job.checkpoint import _writer_kernel
    from deepdoc_api_spark.job.pipeline import _arrow_schema_of
    from deepdoc_api_spark.schema import SPANS_SCHEMA

    span_type = _arrow_schema_of(SPANS_SCHEMA).field("spans").type
    text = "A heading\n\n" + "Body text of a paragraph that goes on. " * 40

    def batch(doc_ids, buckets):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([doc_id_str(d) for d in doc_ids]),
                pa.array([gen_doc_spans(d, text) for d in doc_ids], span_type),
                pa.array(buckets, pa.int32()),
            ],
            names=["doc_id", "spans", "bucket"],
        )

    batches = [batch(range(0, 20), [3, 5] * 10), batch(range(20, 40), [5, 3] * 10)]
    run = _writer_kernel(str(tmp_path), "w", "snap", "hybrid", 512, 8)
    t0 = time.monotonic()
    out = pa.Table.from_batches(list(run(iter(batches)))).to_pylist()
    elapsed_ms = (time.monotonic() - t0) * 1000

    assert [(r["partition_id"], r["docs"]) for r in out] == [(3, 20), (5, 20)]
    assert all(r["chunks"] > 0 and r["wall_ms"] >= 0 for r in out)
    assert sum(r["wall_ms"] for r in out) <= elapsed_ms
    assert completed_buckets(str(tmp_path), "snap", 8) == [3, 5]


def test_resolve_master_respects_launcher():
    """Round-5 deployment fix: get_spark must NOT override a
    spark-submit-provided master — with a pre-launched gateway
    (PYSPARK_GATEWAY_PORT set) and no explicit master, the builder gets
    none (the launcher's spark.master wins); standalone sessions keep
    the SPARK_GRAFT_CPUS local default; an explicit master always
    wins."""
    from deepdoc_api_spark.job.session import _resolve_master

    assert _resolve_master(None, {"PYSPARK_GATEWAY_PORT": "1234"}) is None
    assert (
        _resolve_master("local[4]", {"PYSPARK_GATEWAY_PORT": "1234"})
        == "local[4]"
    )
    assert _resolve_master(None, {}) == "local[32]"
    assert _resolve_master(None, {"SPARK_GRAFT_CPUS": "8"}) == "local[8]"
