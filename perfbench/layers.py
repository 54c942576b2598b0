"""Per-layer metrics: what ``--trace 1`` runs.

Two sources, neither of which changes an engine file:

* timers in this file around calls into each layer's public functions.
  Inside the Python workers the kernel entry points are wrapped for the
  duration of one traced job: every call records a span ``(name,
  start, end, parent)`` in memory, and each task folds its spans to
  per-name call counts, total and self time (a span's duration minus
  the time its child spans cover) when it ends;
* a Spark event log, switched on through ``get_spark(extra_conf=...)``
  and read after the session stops (stage times, task skew, GC, Python
  bytes, shuffle bytes).

Every traced run prints every name of :data:`PER_LAYER`; a layer the
workload does not reach reads 0.
"""

from __future__ import annotations

import contextlib
import io
import os
import time
from typing import Dict, List

from . import harness, inputs, workloads
from .harness import fold, labelled

PER_LAYER = (
    [
        ("session.get_spark_s", "s"),
        ("pipeline.spans_from_documents_s", "s"),
        ("pipeline.spans_bytes_written", "bytes"),
        ("pipeline.scan_s", "s"),
        ("pipeline.arrow_in_s", "s"),
        ("pipeline.kernel_s", "s"),
        ("pipeline.full_s", "s"),
        ("pipeline.output_self_s", "s"),
        ("pipeline.giant_docs", "count"),
        ("pipeline.giant_branch_s", "s"),
        ("pipeline.task_s_max_over_median", "ratio"),
        ("pipeline.python_bytes_sent", "bytes"),
        ("pipeline.python_bytes_returned", "bytes"),
        ("pipeline.gc_s", "s"),
        ("pipeline.scaling_eff", "ratio"),
        ("kernels.layout.extract_records_s", "s"),
        ("kernels.html_extract.extract_html_blocks_s", "s"),
        ("kernels.layout.records", "count"),
        ("kernels.chunkers.hybrid_chunks_s", "s"),
        ("kernels.chunkers.assemble_chunks_s", "s"),
        ("kernels.chunkers.chunks", "count"),
        ("kernels.pipeline.docs_primary", "count"),
        ("kernels.pipeline.docs_fallback", "count"),
        ("kernels.pipeline.docs_error", "count"),
        ("trace.overhead_s", "s"),
        ("checkpoint.pass1_s", "s"),
        ("checkpoint.pass2_s", "s"),
        ("checkpoint.completed_buckets_s", "s"),
        ("checkpoint.tasks_with_work", "count"),
        ("checkpoint.max_buckets_per_task", "count"),
        ("checkpoint.task_s_max_over_median", "ratio"),
        ("checkpoint.bytes_written", "bytes"),
        ("checkpoint.files_written", "count"),
        ("checkpoint.load_chunks_s", "s"),
    ]
    + [
        (f"ops.{q}.{m}", "bytes" if m == "shuffle_bytes" else "s")
        for q in workloads.OPS
        for m in ("first_s", "warm_s", "plan_s", "shuffle_bytes")
    ]
)

#: kernel entry points wrapped in a traced job: (module, attribute,
#: span name). ``kernels.pipeline`` and ``kernels.layout`` import these
#: by name, so the wrapper replaces the name where it is called.
WRAPPED = (
    ("deepdoc_api_spark.kernels.pipeline", "extract_records", "kernels.layout.extract_records"),
    ("deepdoc_api_spark.kernels.layout", "extract_html_blocks", "kernels.html_extract.extract_html_blocks"),
    ("deepdoc_api_spark.kernels.pipeline", "hybrid_chunks", "kernels.chunkers.hybrid_chunks"),
    ("deepdoc_api_spark.kernels.pipeline", "assemble_chunks", "kernels.chunkers.assemble_chunks"),
)
TRACE_DDL = "name string, calls long, total_s double, self_s double, items long"


# ---------------------------------------------------------------------------
# worker-side phase jobs (shaped like the shipped mapInArrow path)
# ---------------------------------------------------------------------------


def _decode(rb):
    ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
    spans = rb.column(rb.schema.get_field_index("spans")).to_pylist()
    return ids, spans


def _one_row(n: int):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])


def arrow_in_job(batches):
    """Scan plus the ``to_pylist`` decode; one row out per batch."""
    for rb in batches:
        _ids, spans = _decode(rb)
        yield _one_row(sum(len(s or ()) for s in spans))


def kernel_job(batches):
    """Decode plus ``kernels.pipeline.chunk_document``; counts only."""
    from deepdoc_api_spark.kernels.pipeline import chunk_document

    for rb in batches:
        n = 0
        for d, s in zip(*_decode(rb)):
            n += len(chunk_document(d, s or [], "hybrid"))
        yield _one_row(n)


def traced_kernel_job(batches):
    """:func:`kernel_job` with every entry of :data:`WRAPPED` timed."""
    import importlib

    import pyarrow as pa

    from deepdoc_api_spark.kernels import pipeline as kp

    spans: List[list] = []  # [name, start, end, parent, items]
    stack: List[int] = []

    def traced(name, fn):
        def call(*a, **kw):
            i = len(spans)
            spans.append([name, time.perf_counter(), 0.0, stack[-1] if stack else -1, 0])
            stack.append(i)
            try:
                out = fn(*a, **kw)
                spans[i][4] = len(out)
                return out
            finally:
                stack.pop()
                spans[i][2] = time.perf_counter()

        return call

    saved = []
    for mod_name, attr, name in WRAPPED:
        mod = importlib.import_module(mod_name)
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, traced(name, getattr(mod, attr)))
    root = traced("kernels.pipeline.chunk_document", kp.chunk_document)
    used: Dict[str, int] = {}
    try:
        for rb in batches:
            for d, s in zip(*_decode(rb)):
                out = root(d, s or [], "hybrid")
                key = "docs_" + (out[0]["extractor_used"] if out else "error")
                used[key] = used.get(key, 0) + 1
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)

    stats: Dict[str, list] = {}
    child = [0.0] * len(spans)
    for name, t0, t1, parent, _items in spans:
        if parent >= 0:
            child[parent] += t1 - t0
    for i, (name, t0, t1, _parent, items) in enumerate(spans):
        st = stats.setdefault(name, [0, 0.0, 0.0, 0])
        st[0] += 1
        st[1] += t1 - t0
        st[2] += t1 - t0 - child[i]
        st[3] += items
    for k, v in used.items():
        stats[k] = [v, 0.0, 0.0, 0]
    names = sorted(stats)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(names, pa.string()),
            pa.array([stats[n][0] for n in names], pa.int64()),
            pa.array([stats[n][1] for n in names], pa.float64()),
            pa.array([stats[n][2] for n in names], pa.float64()),
            pa.array([stats[n][3] for n in names], pa.int64()),
        ],
        names=["name", "calls", "total_s", "self_s", "items"],
    )


# ---------------------------------------------------------------------------
# traced runs
# ---------------------------------------------------------------------------


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return time.monotonic() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session(ctx) -> object:
    s, spark = _timed(ctx.spark)
    ctx.out.metric("session.get_spark_s", s, "s")
    return spark


def _spans_input(ctx, spark, src: int, replicate: int, giants=()):
    docs, dest, s = workloads.build_spans(ctx, spark, src, replicate, giants)
    ctx.out.metric("pipeline.spans_from_documents_s", s, "s")
    ctx.out.metric("pipeline.spans_bytes_written", harness.dir_bytes(dest, ".parquet")[1], "bytes")
    return docs, dest


def pipeline_layers(ctx, src: int, replicate: int, giants=()):
    """The chunking pipeline, phase by phase, plus the traced kernel.
    Returns the live session and the span parquet path."""
    from pyspark.sql import functions as F

    from deepdoc_api_spark.job.pipeline import DEFAULT_SKEW_THRESHOLD, chunk_documents

    spark = _session(ctx)
    docs, dest = _spans_input(ctx, spark, src, replicate, giants)
    spans = spark.read.parquet(dest).select("doc_id", "spans")
    workloads.check_sample(ctx, spans, workloads.sample_ids(ctx, docs, replicate))

    phases = {
        "scan": lambda: _noop(spans),
        "arrow_in": lambda: _noop(spans.mapInArrow(arrow_in_job, "n long")),
        "kernel": lambda: _noop(spans.mapInArrow(kernel_job, "n long")),
        "full": lambda: fold(chunk_documents(spans, "hybrid")),
    }
    took = {}
    for name, fn in phases.items():
        with ctx.out.op(name), labelled(spark, name):
            took[name], _ = _timed(fn)
        ctx.out.metric(f"pipeline.{name}_s", took[name], "s")
    ctx.out.metric("pipeline.output_self_s", took["full"] - took["kernel"], "s")

    with ctx.out.op("traced_kernel"):
        s, rows = _timed(lambda: spans.mapInArrow(traced_kernel_job, TRACE_DDL).collect())
    ctx.out.metric("trace.overhead_s", s - took["kernel"], "s")
    agg: Dict[str, list] = {}
    for r in rows:
        a = agg.setdefault(r["name"], [0, 0.0, 0.0, 0])
        for i, k in enumerate(("calls", "total_s", "self_s", "items")):
            a[i] += r[k]
    get = lambda n, i: agg.get(n, [0, 0.0, 0.0, 0])[i]  # noqa: E731
    for n in (
        "kernels.layout.extract_records", "kernels.html_extract.extract_html_blocks",
        "kernels.chunkers.hybrid_chunks", "kernels.chunkers.assemble_chunks",
    ):
        ctx.out.metric(f"{n}_s", get(n, 2), "s")
    ctx.out.metric("kernels.layout.records", get("kernels.layout.extract_records", 3), "count")
    ctx.out.metric("kernels.chunkers.chunks", get("kernels.chunkers.assemble_chunks", 3), "count")
    for k in ("primary", "fallback", "error"):
        ctx.out.metric(f"kernels.pipeline.docs_{k}", get(f"docs_{k}", 0), "count")
    ctx.out.metric(
        "pipeline.giant_docs",
        spans.filter(F.size("spans") >= DEFAULT_SKEW_THRESHOLD).count(),
        "count",
    )
    return spark, dest


def pipeline_stages(ctx, stages: Dict[str, List[dict]]) -> None:
    """Event-log metrics of the ``full`` pass of :func:`pipeline_layers`."""
    stages = stages.get("full", [])
    py = [st for st in stages if st["python_sent"] > 0]
    # the giant branch: its scan stage (input, shuffle out, no Python)
    # and its kernel stage (shuffle in, Python)
    giant = [
        st for st in stages
        if (st["python_sent"] == 0 and st["in_bytes"] > 0)
        or (st["python_sent"] > 0 and st["shuffle_read"] > 0)
    ]
    ctx.out.metric("pipeline.giant_branch_s", sum(st["wall_s"] for st in giant), "s")
    ctx.out.metric(
        "pipeline.task_s_max_over_median",
        max((st["max_over_median"] for st in py), default=0.0),
        "ratio",
    )
    ctx.out.metric("pipeline.python_bytes_sent", sum(st["python_sent"] for st in py), "bytes")
    ctx.out.metric(
        "pipeline.python_bytes_returned", sum(st["python_returned"] for st in py), "bytes"
    )
    ctx.out.metric("pipeline.gc_s", sum(st["gc_s"] for st in stages), "s")
    ctx.out.detail["stages_full"] = [
        {k: v for k, v in st.items() if k != "task_s"} for st in stages
    ]


def _scaling(ctx, spark, spans):
    """docs/s at ``local[nproc]`` on the input over nproc x docs/s at
    ``local[1]`` on the source documents once each (the input without
    its replicas), each level in a fresh session. Returns the last one."""
    n_docs = spans.count()
    passes, _ = workloads.chunk_passes(ctx, spark, spans, f"scaling_level_{ctx.cores}")
    many = n_docs / harness.median(passes)
    part = ctx.path("scaling-part.parquet")
    inputs.write_spans(spark, ctx.sf_dir, part, 1)
    spark.stop()
    spark = ctx.spark(cores=1, app="perfbench-level-1")
    sub = spark.read.parquet(part)
    sub_docs = sub.count()
    # the first pass of the fresh session starts its Python worker
    passes, _ = workloads.chunk_passes(ctx, spark, sub, "scaling_level_1", 3)
    one = sub_docs / harness.median(passes[1:])
    ctx.out.metric("pipeline.scaling_eff", many / (ctx.cores * one), "ratio")
    ctx.out.detail["scaling"] = {
        "levels": [1, ctx.cores],
        "docs": {"1": sub_docs, str(ctx.cores): n_docs},
        "docs_per_s": {"1": one, str(ctx.cores): many},
    }
    return spark


def checkpoint_metrics(ctx, spark, dest: str):
    """One crashed-and-resumed checkpointed run over the span parquet at
    ``dest``, timed layer by layer. Returns the session pass 2 ran in."""
    from pyspark.sql import functions as F

    from deepdoc_api_spark.job.checkpoint import completed_buckets, load_chunks

    timings: Dict[str, List] = {"pass1": [], "pass2": [], "docs": []}
    spark, out_dir = workloads.checkpoint_cycle(ctx, spark, dest, 0, timings)
    ctx.out.metric("checkpoint.pass1_s", timings["pass1"][0], "s")
    ctx.out.metric("checkpoint.pass2_s", timings["pass2"][0], "s")
    s, _ = _timed(
        lambda: completed_buckets(out_dir, f"perfbench:{ctx.seed}", workloads.NUM_BUCKETS)
    )
    ctx.out.metric("checkpoint.completed_buckets_s", s, "s")
    with ctx.out.op("load_chunks"):
        s, _ = _timed(lambda: fold(load_chunks(spark, out_dir)))
    ctx.out.metric("checkpoint.load_chunks_s", s, "s")
    files, nbytes = harness.dir_bytes(os.path.join(out_dir, "chunks"), ".parquet")
    ctx.out.metric("checkpoint.files_written", files, "count")
    ctx.out.metric("checkpoint.bytes_written", nbytes, "bytes")

    # which task each bucket lands on: repartition(n, "bucket") is
    # hash partitioning, pmod(murmur3(bucket), n)
    present = workloads.present_buckets(spark.read.parquet(dest))
    per_task = (
        spark.createDataFrame([(b,) for b in present], "bucket int")
        .groupBy(F.pmod(F.hash("bucket"), F.lit(workloads.NUM_BUCKETS)))
        .count()
        .collect()
    )
    ctx.out.metric("checkpoint.tasks_with_work", len(per_task), "count")
    ctx.out.metric(
        "checkpoint.max_buckets_per_task", max(r["count"] for r in per_task), "count"
    )
    return spark


def checkpoint_stages(ctx, stages: Dict[str, List[dict]]) -> None:
    """Event-log metrics of the resume pass of :func:`checkpoint_metrics`."""
    py = [st for st in stages.get("pass2", []) if st["python_sent"] > 0]
    ctx.out.metric(
        "checkpoint.task_s_max_over_median",
        max((st["max_over_median"] for st in py), default=0.0),
        "ratio",
    )


def flagship_layers(ctx) -> None:
    """The pipeline and kernel layers, the checkpointed job over the
    same span parquet, and the 1 -> nproc scaling pair."""
    sz = ctx.size
    spark, dest = pipeline_layers(ctx, sz["flagship_src"], sz["replicate"])
    spark = checkpoint_metrics(ctx, spark, dest)
    spark = _scaling(ctx, spark, spark.read.parquet(dest))
    spark.stop()
    stages = harness.event_log_stages(ctx.event_log)
    pipeline_stages(ctx, stages)
    checkpoint_stages(ctx, stages)


def giant_layers(ctx) -> None:
    sz = ctx.size
    spark, _dest = pipeline_layers(ctx, sz["giant_src"], 1, sz["giants"])
    spark.stop()
    pipeline_stages(ctx, harness.event_log_stages(ctx.event_log))


def checkpoint_layers(ctx) -> None:
    sz = ctx.size
    spark = _session(ctx)
    _docs, dest = _spans_input(ctx, spark, sz["checkpoint_src"], sz["replicate"])
    spark = checkpoint_metrics(ctx, spark, dest)
    spark.stop()
    checkpoint_stages(ctx, harness.event_log_stages(ctx.event_log))


def ops_layers(ctx) -> None:
    spark = _session(ctx)
    workloads.write_ops_inputs(ctx)
    for name, q in workloads.ops_queries().items():
        for run in ("first", "warm"):
            with ctx.out.op(name), labelled(spark, f"{name}.{run}"):
                s, _ = _timed(lambda: [fold(df) for df in q(spark, ctx.sf_dir)])
            ctx.out.metric(f"ops.{name}.{run}_s", s, "s")
        # built after the timed runs: building some queries runs jobs
        # (k-means, counts), which would warm up the first run
        dfs = q(spark, ctx.sf_dir)
        t0 = time.monotonic()
        with contextlib.redirect_stdout(io.StringIO()):
            for df in dfs:
                df.explain("formatted")
        ctx.out.metric(f"ops.{name}.plan_s", time.monotonic() - t0, "s")
    spark.stop()
    stages = harness.event_log_stages(ctx.event_log)
    for name in workloads.OPS:
        ctx.out.metric(
            f"ops.{name}.shuffle_bytes",
            sum(st["shuffle_write"] for st in stages.get(f"{name}.first", [])),
            "bytes",
        )


LAYERS = {
    "hybrid_flagship": flagship_layers,
    "checkpoint_resume": checkpoint_layers,
    "giant_skew": giant_layers,
    "corpus_ops": ops_layers,
}


def run(ctx, workload: str) -> None:
    """Run the traced variant of ``workload``; every per-layer metric
    it does not reach reads 0. Repeated steps run their minimum number
    of times, whatever ``--seconds`` says: these numbers carry no bound,
    and a traced run must stay well inside its time limit."""
    ctx.seconds = 0
    LAYERS[workload](ctx)
    got = ctx.out.metrics
    ctx.out.metrics = {n: (got.get(n, (0, u))[0], u) for n, u in PER_LAYER}
