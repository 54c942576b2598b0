#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload hybrid_flagship --seed 0 \\
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is ``{"detail": ...}`` with the seed, the host-noise fields
(steal % around each timed operation, the md5 calibration probe,
``nproc``, load average), the scaling levels and the output digests.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. ``--smoke`` shrinks every input to a few seconds of
work. Everything the run writes goes under ``perfbench/.work`` and is
removed when it ends. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    # measure the engine's own settings, whatever the caller exported
    for knob in ("SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_NO_WARM", "SPARK_DRIVER_MEM"):
        os.environ.pop(knob, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark() -> None:
    """Stop the session and the gateway JVM, and wait until every
    process this run started has ended."""
    from pyspark import SparkContext

    from perfbench.harness import descendants

    started = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    # the Python workers outlive the JVM briefly: their daemon exits
    # when the JVM closes its pipe
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{pid}") for pid in started
    ):
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "deepdoc_api_spark")):
        print(f"no engine source next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    _prepare_env(work)

    from perfbench import harness, layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    outcome = harness.Outcome()
    rss = harness.RssSampler()
    ctx = workloads.Ctx(
        work, args.seed, args.seconds, "smoke" if args.smoke else "full",
        outcome, rss,
        event_log=os.path.join(work, "events") if args.trace else None,
    )
    try:
        if args.trace:
            layers.run(ctx, args.workload)
        else:
            workloads.WORKLOADS[args.workload](ctx)
            peak = rss.close()
            outcome.metric("peak_py_rss_mb", peak["python"], "MB")
            outcome.detail.update(peak_rss_mb=peak["tree"], peak_jvm_rss_mb=peak["jvm"])
            outcome.metric(
                "ok_ops_ratio",
                (outcome.attempted - outcome.failed) / max(outcome.attempted, 1),
                "ratio",
            )
    except Exception:
        traceback.print_exc()
        print(f"errors: {outcome.errors}", file=sys.stderr)
        return 1
    finally:
        rss.close()
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    detail = dict(
        outcome.detail,
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        size="smoke" if args.smoke else "full",
        errors=outcome.errors,
        attempted=outcome.attempted,
        failed=outcome.failed,
        failed_ops_ratio=outcome.failed / max(outcome.attempted, 1),
        host=harness.host_noise(outcome),
    )
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in outcome.metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
