#!/usr/bin/env python3
"""Cross-check the pinned ops outputs against their DuckDB twins.

    python3 perfbench/oracle_check.py [--smoke]

Generates the seed-0 ``corpus_ops`` inputs, and for every timed query
that has an ``oracle_sql()`` twin compares Spark's rows with DuckDB's
(order-insensitive, numerics normalized like ``tests/test_ops_oracle``)
and Spark's fold with ``pins.json``. Prints one line per query; exits 1
on any mismatch.
"""

from __future__ import annotations

import argparse
import decimal
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def oracles() -> dict:
    """Timed query -> the DuckDB SQL of each of its DataFrames, in
    order: the SQL ``__spark_entry__.oracle_sql()`` maps the query to,
    or the raw twin where that entry holds the planted variant."""
    from deepdoc_api_spark.ops import dedup, fallback_text, similarity, text_analysis

    return {
        "dedup_minhash_lsh": [dedup.LSH_BAND_BUCKETS_SQL],
        "dedup_jaccard_pairs": [dedup.jaccard_near_dup_pairs_sql()],
        "dedup_simhash64_pairs": [dedup.simhash_near_dup_pairs_sql()],
        "embedding_near_dup": [similarity.embedding_near_dup_pairs_sql()],
        "ann_topk_cosine": [similarity.brute_force_topk_sql()],
        "ann_topk_ivf": [similarity.ivf_topk_sql()],
        "dedup_containment": [dedup.containment_near_dup_pairs_sql()],
        "fallback_window": [fallback_text.fallback_window_chunks_sql()],
        "text_quality_lang": [text_analysis.QUALITY_SCORE_SQL, text_analysis.LANG_ID_SQL],
    }


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return int(v) if v == int(v) else float(v)
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    work = os.path.join(HERE, ".work", f"oracle-{os.getpid()}")
    sys.path.insert(0, ROOT)
    from perfbench.run import _prepare_env, _stop_spark

    _prepare_env(work)
    import duckdb

    from perfbench import harness, workloads

    size = "smoke" if args.smoke else "full"
    ctx = workloads.Ctx(
        work, workloads.DEFAULT_SEED, 0, size, harness.Outcome(), None
    )
    bad = 0
    try:
        spark = ctx.spark(app="perfbench-oracle")
        workloads.write_ops_inputs(ctx)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"create view {t} as select * from read_parquet('{ctx.sf_dir}/{t}.parquet')"
            )
        pins = workloads._pins()[size]
        queries = workloads.ops_queries()
        for name, sqls in oracles().items():
            dfs = queries[name](spark, ctx.sf_dir)
            same = all(
                _rows(df.collect()) == _rows(con.execute(q).fetchall())
                for df, q in zip(dfs, sqls)
            )
            pinned = [list(harness.fold(df)) for df in dfs] == pins[f"ops.{name}"]
            bad += not (same and pinned)
            print(f"{name}: duckdb {'==' if same else '!='} spark, pin {'ok' if pinned else 'MISMATCH'}")
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
