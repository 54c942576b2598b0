#!/usr/bin/env python
"""Driver-side profiling of the flagship Python kernel (guide §1):
splits per-doc cost into (a) datagen span generation, (b) the chunk
kernel ``chunk_document``, and the Arrow steps the shipped stages take
around them: the span list -> ``list<struct>`` build of corpus
generation, the column-wise span decode
(``job.arrow_decode.decode_column``) and the chunk RecordBatch build
(``job.pipeline._batch_of``).

Run: python tools/profile_kernel.py [n_docs]
"""
import cProfile
import io
import os
import pstats
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow as pa
import pyarrow.parquet as pq


def main(n_docs: int = 2000) -> None:
    from deepdoc_api_spark.datagen import doc_id_str, gen_doc_spans
    from deepdoc_api_spark.job.arrow_decode import decode_column
    from deepdoc_api_spark.job.pipeline import _arrow_schema_of, _batch_of
    from deepdoc_api_spark.kernels.pipeline import chunk_document
    from deepdoc_api_spark.schema import CHUNK_SCHEMA, SPANS_SCHEMA

    tbl = pq.read_table(
        "/root/testdata/sf0.1/documents.parquet", columns=["doc_id", "text"]
    )
    docs = list(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )[:n_docs]

    # (a) datagen
    t0 = time.monotonic()
    spans_all = [
        (doc_id_str(int(d)), gen_doc_spans(int(d), t or "")) for d, t in docs
    ]
    t_gen = time.monotonic() - t0
    n_spans = sum(len(s) for _, s in spans_all)

    # span lists -> Arrow list<struct> (corpus generation's output build)
    span_type = _arrow_schema_of(SPANS_SCHEMA).field("spans").type
    t0 = time.monotonic()
    arr = pa.array([s for _, s in spans_all], type=span_type)
    t_span_arrow = time.monotonic() - t0

    # Arrow -> span dicts (the chunking stage's input decode)
    t0 = time.monotonic()
    decoded = decode_column(arr)
    t_decode = time.monotonic() - t0

    # (b) the kernel
    t0 = time.monotonic()
    rows = []
    for (ds, _), spans in zip(spans_all, decoded):
        rows.extend(chunk_document(ds, spans, "hybrid", 512))
    t_kernel = time.monotonic() - t0

    # chunk row dicts -> RecordBatch (the chunking stage's output build)
    t0 = time.monotonic()
    _batch_of(rows, _arrow_schema_of(CHUNK_SCHEMA))
    t_batch = time.monotonic() - t0

    print(f"n_docs={len(docs)} n_spans={n_spans} n_chunks={len(rows)}")
    print(f"datagen gen_doc_spans      : {t_gen:7.3f} s")
    print(f"spans list->arrow          : {t_span_arrow:7.3f} s")
    print(f"spans arrow->dicts decode  : {t_decode:7.3f} s")
    print(f"kernel chunk_document      : {t_kernel:7.3f} s")
    print(f"chunks dicts->RecordBatch  : {t_batch:7.3f} s")

    if os.environ.get("PROFILE_CPROFILE"):
        pr = cProfile.Profile()
        pr.enable()
        for ds, spans in spans_all[:500]:
            chunk_document(ds, spans, "hybrid", 512)
        pr.disable()
        s = io.StringIO()
        pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
        print(s.getvalue())


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 2000)
