"""Round-3 VERDICT #9: a CI-style kernel micro-benchmark gate so kernel
CPU regressions surface before the driver bench: 400 docs end-to-end
(extract_records -> chunkers -> assembly) single-core. The guard
asserts the CALIB-NORMALIZED ratio (kernel_sec / calib_sec) stays under
a generous ceiling of the measured value, and skips entirely when the
host is too loaded for the probe to mean anything."""

import time

import duckdb
import pytest

from deepdoc_api_spark.datagen import gen_doc_spans
from deepdoc_api_spark.kernels.pipeline import chunk_document

# measured on this corpus mix (sf0.001 docs modulo-replicated to 400,
# giants included): round-4 ~2.35 s at calib ~0.40 (ratio ~5.9);
# round-5 kernel pass ~1.49 s at calib ~0.36 (ratio ~4.2); round-6
# (subn token counting + shared heading snapshots collapsing the
# ctx_tok cache) ~1.10 s at calib 0.36 (ratio ~3.05). The guard trips
# on a ~65% kernel-CPU regression from the round-6 level.
MAX_RATIO = 5.0
# a calib this slow (>4x the idle-box 0.35 s) means the box is swamped;
# normalization across that much contention is not trustworthy -> skip
CALIB_SKIP_S = 1.5
N_DOCS = 400
#: timed kernel passes; the fastest counts
N_PASSES = 3


def _calibrate() -> float:
    import hashlib

    buf = b"\xab" * 65536
    t0 = time.monotonic()
    h = buf
    for _ in range(3000):
        h = hashlib.md5(h).digest() + buf
    return time.monotonic() - t0


def _kernel_pass(spans) -> tuple:
    t0 = time.monotonic()
    n_chunks = 0
    for doc_id, sp in spans:
        n_chunks += len(chunk_document(doc_id, sp, "hybrid"))
    return time.monotonic() - t0, n_chunks


def test_kernel_throughput_guard(sf_dir):
    """Both sides of the ratio take their fastest sample: the
    calibration before and after the kernel passes, and the best of
    N_PASSES passes, so one descheduled sample on a shared host
    cannot trip the guard while a real slowdown of every pass does."""
    calib = _calibrate()
    if calib > CALIB_SKIP_S:
        pytest.skip(f"host too loaded for a perf probe (calib {calib:.2f}s)")

    rows = duckdb.sql(
        "select doc_id, text from "
        f"read_parquet('{sf_dir}/documents.parquet') order by doc_id"
    ).fetchall()
    # replicate the small corpus up to N_DOCS deterministically (same
    # doc text under distinct ids — the kernel cost model is per-doc)
    work = [(i, rows[i % len(rows)][1]) for i in range(N_DOCS)]

    spans = [(f"doc-{i:08d}", gen_doc_spans(i, t)) for i, t in work]
    passes = [_kernel_pass(spans) for _ in range(N_PASSES)]
    kernel_sec = min(t for t, _n in passes)
    calib = min(calib, _calibrate())

    assert all(n > 0 for _t, n in passes)
    ratio = kernel_sec / calib
    assert ratio < MAX_RATIO, (
        f"kernel CPU regression: {N_DOCS} docs took {kernel_sec:.2f}s at "
        f"calib {calib:.2f}s (ratio {ratio:.1f}, guard {MAX_RATIO}); "
        f"round-6 reference ratio ~3.05"
    )
