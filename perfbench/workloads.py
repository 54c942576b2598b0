"""The benchmark's workloads.

Each workload is a closed loop with one client: this process runs one
Spark action at a time on ``local[nproc]``; Spark's Python workers are
the only other processes. A workload builds its inputs from the seed,
times its operations until ``--seconds`` have passed (at least
``MIN_PASSES`` times where an operation repeats), checks every output,
and fills an :class:`~perfbench.harness.Outcome`.

``--trace 1`` runs :mod:`perfbench.layers` instead, which reports the
per-layer metrics of the same workload.
"""

from __future__ import annotations

import json
import os
import random
import time
from typing import Callable, Dict, List

from . import harness, inputs
from .harness import fold, labelled, median

#: the seed whose outputs are pinned in ``pins.json``
DEFAULT_SEED = 0
#: timed passes of a repeating operation, at least
MIN_PASSES = 2
#: chunking passes of a run, at least: the first (cold workers) and
#: three warm ones. Passes go on until ``--seconds`` have passed: on a
#: shared 4-core host consecutive ~4 s passes differ by up to ~15%, so
#: ``second_s`` is the median of as many warm passes as fit.
CHUNK_PASSES = 4
#: set-ups per run, each a fresh session plus freshly written inputs.
#: ``setup_s`` is their median. JVM launch is not part of it: it swings
#: by 2x on a shared host.
SETUPS = 3
#: documents recomputed driver-side per run
SAMPLE_DOCS = 6
NUM_BUCKETS = 64

#: input sizes: ``full`` is what the benchmark measures; ``smoke``
#: runs every workload in seconds for the benchmark's own test
SIZES = {
    "full": {
        "flagship_src": 375,
        "checkpoint_src": 300,
        "replicate": 4,
        "giant_src": 1000,
        "giants": [60_000] * 4 + [30_000] * 4,
        "ops_docs": 1000,
        "ops_vecs": 1000,
    },
    "smoke": {
        "flagship_src": 40,
        "checkpoint_src": 40,
        "replicate": 4,
        "giant_src": 40,
        "giants": [33_000, 5_000],
        "ops_docs": 200,
        "ops_vecs": 200,
    },
}


class Ctx:
    """Everything a workload needs: arguments, paths, the outcome."""

    def __init__(self, work, seed, seconds, size, outcome, rss, event_log=None):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size_name = size
        self.size = SIZES[size]
        self.out = outcome
        self.rss = rss
        self.event_log = event_log
        self.sf_dir = os.path.join(work, "sf")
        self.cores = harness.nproc()

    def spark(self, cores=None, app="perfbench"):
        from deepdoc_api_spark.job.session import KERNEL_SPLIT_BYTES, get_spark

        cores = cores or self.cores
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log:
            conf.update(harness.event_log_conf(self.event_log))
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        return get_spark(
            app_name=app,
            master=f"local[{cores}]",
            shuffle_partitions=max(2 * cores, 16),
            kernel_split_bytes=KERNEL_SPLIT_BYTES,
            extra_conf=conf,
        )

    def path(self, name):
        return os.path.join(self.work, name)

    def set_up(self, build: Callable, app: str = "perfbench"):
        """Build a fresh session and call ``build(spark)`` :data:`SETUPS`
        times, stopping the previous session each time; ``setup_s`` is
        the median. The JVM is launched before the first of them, in a
        session of its own that is not timed. Returns the last session
        and what ``build`` returned in it."""
        times, spark = [], self.spark(app=app)
        for _ in range(SETUPS):
            spark.stop()
            t0 = time.monotonic()
            spark = self.spark(app=app)
            out = build(spark)
            times.append(time.monotonic() - t0)
        self.out.metric("setup_s", median(times), "s")
        self.out.detail["setups_s"] = times
        return spark, out

    def loop(self, min_passes: int = MIN_PASSES):
        """Yield pass numbers until ``seconds`` have passed and at least
        ``min_passes`` passes ran."""
        t0 = time.monotonic()
        i = 0
        while i < min_passes or time.monotonic() - t0 < self.seconds:
            yield i
            i += 1


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _pins() -> dict:
    with open(os.path.join(os.path.dirname(__file__), "pins.json")) as f:
        return json.load(f)


def check_pin(ctx: Ctx, key: str, value) -> None:
    """At the default seed, ``value`` must equal the pinned one."""
    ctx.out.detail.setdefault("outputs", {})[key] = value
    if ctx.seed != DEFAULT_SEED:
        return
    pin = _pins().get(ctx.size_name, {}).get(key)
    ok = pin is not None and pin == value
    ctx.out.check(f"{key} = {value}, pinned {pin}", ok)


def _norm_chunk(row: dict) -> str:
    from deepdoc_api_spark.schema import CHUNK_COLUMNS

    return json.dumps({c: row[c] for c in CHUNK_COLUMNS}, sort_keys=True)


def check_sample(ctx: Ctx, spans, doc_ids: List[str]) -> None:
    """Recompute ``doc_ids`` driver-side with the pure kernel and
    compare with what the Spark pipeline returns for them."""
    from pyspark.sql import functions as F

    from deepdoc_api_spark.job.pipeline import chunk_documents
    from deepdoc_api_spark.kernels.pipeline import chunk_document

    sub = spans.filter(F.col("doc_id").isin(doc_ids))
    got = sorted(
        _norm_chunk(r.asDict(recursive=True))
        for r in chunk_documents(sub, "hybrid").collect()
    )
    want = []
    for r in sub.collect():
        sp = [s.asDict() for s in (r["spans"] or [])]
        want.extend(_norm_chunk(c) for c in chunk_document(r["doc_id"], sp, "hybrid"))
    ctx.out.detail["sample_docs"] = doc_ids
    ctx.out.check(
        f"driver-side recompute of {len(doc_ids)} sampled docs",
        bool(want) and got == sorted(want),
    )


def sample_ids(ctx: Ctx, docs, replicate: int) -> List[str]:
    from deepdoc_api_spark.datagen import doc_id_str

    rng = random.Random(ctx.seed)
    picks = rng.sample(range(len(docs)), min(SAMPLE_DOCS, len(docs)))
    return sorted(
        doc_id_str(docs[i][0] * replicate + rng.randrange(replicate)) for i in picks
    )


# ---------------------------------------------------------------------------
# chunking workloads
# ---------------------------------------------------------------------------


def build_spans(ctx: Ctx, spark, src_docs: int, replicate: int, giants=()):
    """Write the documents and their span parquet. Returns the source
    ``(doc_id, text)`` rows, the parquet path and the seconds
    ``spans_from_documents`` took to write it."""
    docs = inputs.write_documents(ctx.sf_dir, src_docs, ctx.seed)
    dest = ctx.path("spans.parquet")
    t0 = time.monotonic()
    inputs.write_spans(spark, ctx.sf_dir, dest, replicate)
    spans_s = time.monotonic() - t0
    if giants:
        inputs.write_giants(spark, docs, dest, list(giants))
    return docs, dest, spans_s


def chunk_passes(ctx: Ctx, spark, spans, label: str, min_passes: int = MIN_PASSES):
    """Fold the hybrid chunks of ``spans`` once per pass; every pass
    must give the same digest. Returns the pass times and the fold."""
    from deepdoc_api_spark.job.pipeline import chunk_documents

    passes, outs = [], set()
    for _ in ctx.loop(min_passes):
        with ctx.out.op(label, fatal=False), ctx.rss.active():
            t0 = time.monotonic()
            outs.add(fold(chunk_documents(spans, "hybrid")))
            passes.append(time.monotonic() - t0)
    if len(passes) < 2:
        raise RuntimeError(f"{label}: only {len(passes)} pass(es) ran through")
    ctx.out.check(f"{label}: every pass folds to one digest", len(outs) == 1)
    ctx.out.detail[f"{label}_passes_s"] = passes
    return passes, sorted(outs)[0]


def _chunking(ctx: Ctx, key: str, src: int, replicate: int, giants=()) -> tuple:
    """Set up, then time chunking passes: ``first_s`` is the first pass
    of the session (its Python workers start cold), ``second_s`` the
    median of the passes after it."""

    def build(spark):
        docs, spans_path, _ = build_spans(ctx, spark, src, replicate, giants)
        spans = spark.read.parquet(spans_path)
        return docs, spans, spans.count()

    spark, (docs, spans, n_docs) = ctx.set_up(build)
    passes, (n_chunks, digest) = chunk_passes(ctx, spark, spans, key, CHUNK_PASSES)
    check_pin(ctx, key, [n_chunks, digest])
    ctx.out.metric("first_s", passes[0], "s")
    ctx.out.metric("second_s", median(passes[1:]), "s")
    ctx.out.metric("docs_per_s", n_docs / median(passes[1:]), "docs/s")
    ctx.out.detail.update(n_docs=n_docs, n_chunks=n_chunks)
    return spark, spans, docs


def hybrid_flagship(ctx: Ctx) -> None:
    sz = ctx.size
    spark, spans, docs = _chunking(ctx, "hybrid_flagship", sz["flagship_src"], sz["replicate"])
    check_sample(ctx, spans, sample_ids(ctx, docs, sz["replicate"]))
    spark.stop()


def giant_skew(ctx: Ctx) -> None:
    from pyspark.sql import functions as F

    from deepdoc_api_spark.datagen import doc_id_str
    from deepdoc_api_spark.job.pipeline import DEFAULT_SKEW_THRESHOLD

    sz = ctx.size
    spark, spans, docs = _chunking(ctx, "giant_skew", sz["giant_src"], 1, sz["giants"])
    sizes = sorted(
        r["n"] for r in spans.select(F.size("spans").alias("n")).filter("n >= 10000").collect()
    )
    isolated = sum(1 for n in sizes if n >= DEFAULT_SKEW_THRESHOLD)
    ctx.out.check(
        "giant docs above and below the skew threshold",
        isolated >= 1 and len(sizes) > isolated,
    )
    # the sample holds the smallest generated giant as well
    smallest = min(range(len(sz["giants"])), key=lambda k: sz["giants"][k])
    top = (max(d for d, _ in docs) // inputs.SEED_ID_STRIDE + 1) * inputs.SEED_ID_STRIDE
    ids = sample_ids(ctx, docs, 1) + [doc_id_str(top + inputs.SEED_ID_STRIDE * smallest)]
    check_sample(ctx, spans, ids)
    ctx.out.detail["giant_spans"] = sizes
    spark.stop()


def present_buckets(spans, num_buckets: int = NUM_BUCKETS) -> List[int]:
    """The checkpoint buckets that hold at least one document (the
    bucket function of ``job.checkpoint.run_checkpointed``)."""
    from pyspark.sql import functions as F

    col = F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    return sorted(r[0] for r in spans.select(col).distinct().collect())


def checkpoint_cycle(ctx: Ctx, spark, spans_path: str, i: int, timings: Dict[str, List]):
    """One crashed run and its resume. Pass 1 commits the even buckets
    only; pass 2 runs in a fresh session and must commit exactly the
    odd ones. The passes' jobs carry the labels ``pass1``/``pass2``.
    Returns the session pass 2 ran in and the checkpoint directory."""
    from deepdoc_api_spark.job.checkpoint import run_checkpointed

    out_dir = ctx.path(f"checkpoint-{i}")
    snapshot = f"perfbench:{ctx.seed}"
    spans = spark.read.parquet(spans_path)
    present = present_buckets(spans)
    even = [b for b in present if b % 2 == 0]
    odd = [b for b in present if b % 2 == 1]
    with ctx.out.op("checkpoint_pass1"), ctx.rss.active(), labelled(spark, "pass1"):
        t0 = time.monotonic()
        s1 = run_checkpointed(
            spark, spans, out_dir, f"crashed-{i}", "hybrid",
            num_buckets=NUM_BUCKETS, input_snapshot=snapshot,
            bucket_filter=list(range(0, NUM_BUCKETS, 2)),
        )
        timings["pass1"].append(time.monotonic() - t0)
    ctx.out.check("pass 1 commits the even buckets", s1["buckets_written"] == len(even))

    spark.stop()
    spark = ctx.spark(app=f"perfbench-resume-{i}")
    spans = spark.read.parquet(spans_path)
    with ctx.out.op("checkpoint_resume"), ctx.rss.active(), labelled(spark, "pass2"):
        t0 = time.monotonic()
        s2 = run_checkpointed(
            spark, spans, out_dir, f"resume-{i}", "hybrid",
            num_buckets=NUM_BUCKETS, input_snapshot=snapshot,
        )
        timings["pass2"].append(time.monotonic() - t0)
    ctx.out.check(
        "resume commits exactly the odd buckets",
        s2["buckets_done_before"] == len(even) and s2["buckets_written"] == len(odd),
    )
    timings["docs"].append(s1["docs"] + s2["docs"])
    return spark, out_dir


def checkpoint_resume(ctx: Ctx) -> None:
    from deepdoc_api_spark.job.checkpoint import load_chunks
    from deepdoc_api_spark.job.pipeline import chunk_documents

    sz = ctx.size

    def build(spark):
        _docs, spans_path, _ = build_spans(ctx, spark, sz["checkpoint_src"], sz["replicate"])
        return spans_path, spark.read.parquet(spans_path).count()

    spark, (spans_path, n_docs) = ctx.set_up(build)
    timings: Dict[str, List] = {"pass1": [], "pass2": [], "docs": []}
    digests = set()
    for i in ctx.loop(min_passes=1):
        spark, out_dir = checkpoint_cycle(ctx, spark, spans_path, i, timings)
        digests.add(fold(load_chunks(spark, out_dir)))
    ctx.out.check("every resumed run holds every doc", set(timings["docs"]) == {n_docs})
    # the committed chunks are the flagship's chunks
    want = fold(chunk_documents(spark.read.parquet(spans_path), "hybrid"))
    ctx.out.check(
        f"committed chunks {sorted(digests)} fold like the flagship {want}",
        digests == {want},
    )
    check_pin(ctx, "checkpoint_resume", list(want))
    both = [a + b for a, b in zip(timings["pass1"], timings["pass2"])]
    ctx.out.metric("first_s", median(timings["pass1"]), "s")
    ctx.out.metric("second_s", median(timings["pass2"]), "s")
    ctx.out.metric("docs_per_s", n_docs / median(both), "docs/s")
    ctx.out.detail.update(
        n_docs=n_docs, pass1_s=timings["pass1"], resume_s=timings["pass2"]
    )
    spark.stop()


# ---------------------------------------------------------------------------
# corpus ops
# ---------------------------------------------------------------------------


#: the ops queries ``bench.py`` times, by their bench names
OPS = (
    "dedup_minhash_lsh", "dedup_jaccard_pairs", "dedup_simhash",
    "dedup_simhash64_pairs", "embedding_near_dup", "ann_topk_cosine",
    "ann_topk_ivf", "semantic_dedup", "dedup_containment",
    "fallback_window", "text_quality_lang",
)


def ops_queries() -> Dict[str, Callable]:
    """:data:`OPS`, each mapping ``(spark, sf_dir)`` to the DataFrames
    it folds."""
    from deepdoc_api_spark.ops import dedup, fallback_text, similarity, text_analysis

    one = lambda fn: (lambda spark, sf: [fn(spark, sf)])  # noqa: E731
    queries = [
        one(dedup.lsh_band_buckets),
        one(dedup.jaccard_near_dup_pairs),
        one(dedup.simhash16),
        one(dedup.simhash_near_dup_pairs),
        one(similarity.embedding_near_dup_pairs),
        one(similarity.brute_force_topk),
        one(similarity.ivf_topk),
        one(similarity.semantic_dedup),
        one(dedup.containment_near_dup_pairs),
        one(fallback_text.fallback_window_chunks),
        lambda spark, sf: [
            text_analysis.quality_score(spark, sf),
            text_analysis.lang_id(spark, sf),
        ],
    ]
    return dict(zip(OPS, queries))


def write_ops_inputs(ctx: Ctx) -> None:
    inputs.write_documents(ctx.sf_dir, ctx.size["ops_docs"], ctx.seed)
    inputs.write_embeddings(ctx.sf_dir, ctx.size["ops_vecs"], ctx.seed)


def corpus_ops(ctx: Ctx) -> None:
    """The first sweep runs every query once, then again at once (warm);
    further sweeps of warm runs go on until ``--seconds`` have passed.
    A query's warm time is the median of its warm runs."""
    spark, _ = ctx.set_up(lambda spark: write_ops_inputs(ctx), app="perfbench-ops")

    queries = ops_queries()
    first: Dict[str, float] = {}
    runs: Dict[str, List[float]] = {name: [] for name in queries}
    got: Dict[str, List] = {name: [] for name in queries}
    for sweep in ctx.loop(min_passes=1):
        for name, q in queries.items():
            for run in range(1 if sweep else 2):
                with ctx.out.op(name, fatal=False), ctx.rss.active():
                    t0 = time.monotonic()
                    got[name].append([fold(df) for df in q(spark, ctx.sf_dir)])
                    took = time.monotonic() - t0
                    if sweep == run == 0:
                        first[name] = took
                    else:
                        runs[name].append(took)
    lost = [name for name in queries if name not in first or not runs[name]]
    if lost:
        raise RuntimeError(f"no first or no warm run of {lost} ran through")
    for name, outs in got.items():
        ctx.out.check(f"{name}: every run agrees", all(o == outs[0] for o in outs))
        check_pin(ctx, f"ops.{name}", [list(x) for x in outs[0]])
    warm = {name: median(r) for name, r in runs.items()}
    ops_warm_s = sum(warm.values())
    ctx.out.metric("first_s", sum(first.values()), "s")
    ctx.out.metric("second_s", ops_warm_s, "s")
    # documents through the queries per second of warm runs
    ctx.out.metric("docs_per_s", ctx.size["ops_docs"] * len(warm) / ops_warm_s, "docs/s")
    ctx.out.detail.update(ops_first=first, ops_warm=warm)
    spark.stop()


WORKLOADS = {
    "hybrid_flagship": hybrid_flagship,
    "checkpoint_resume": checkpoint_resume,
    "giant_skew": giant_skew,
    "corpus_ops": corpus_ops,
}
