"""Seed-driven benchmark inputs.

Every table the benchmark feeds the engine is made here from ``--seed``
alone, so the same seed always gives the same bytes:

* ``documents.parquet`` / ``embeddings.parquet`` -- tables shaped like
  the ones the engine's ops read (``doc_id, text, lang, source,
  n_chars`` and ``vec_id, embedding, label``), built driver-side with
  numpy;
* the span table -- ``job.pipeline.spans_from_documents`` over that
  ``documents`` table, written to parquet (the same corpus generator
  the engine ships, so the engine only ever sees generated inputs);
* the giant documents of ``giant_skew`` -- several generator giants
  (``datagen.gen_doc_spans`` of a giant id) concatenated with re-based
  offsets, so one document carries well over the skew threshold.

The seed shifts every source ``doc_id`` by a multiple of
``SEED_ID_STRIDE``: giants are ``doc_id % 1000 == 7``, so the giant
share of the corpus stays at 0.1% for every seed.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: source doc ids of seed ``s`` start at ``s * SEED_ID_STRIDE``
SEED_ID_STRIDE = 1_000_000

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_N_SOURCES = 20
_DIM = 64
_N_LABELS = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def write_documents(sf_dir: str, n_docs: int, seed: int) -> List[Tuple[int, str]]:
    """Write ``documents.parquet``; return its ``(doc_id, text)`` rows.

    10-99 words per document from a 30-word vocabulary; 5% of documents
    are near-duplicates of an earlier one (its text plus ``dup``), so
    the dedup ops have true positives to find."""
    rng = _rng(seed, "documents")
    base = seed * SEED_ID_STRIDE
    vocab = np.array(_VOCAB)
    texts: List[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            cut = int(rng.integers(max(1, len(src) // 2), len(src) + 1))
            texts.append(" ".join(src[:cut] + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    ids = [base + i for i in range(n_docs)]
    langs = rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % _N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return list(zip(ids, texts))


def write_embeddings(sf_dir: str, n_vecs: int, seed: int) -> None:
    """Write ``embeddings.parquet``: unit-norm float32 vectors around
    ``_N_LABELS`` random centroids (ids 0..n-1, as the top-k queries
    take their query vectors from the lowest ids)."""
    rng = _rng(seed, "embeddings")
    centroids = rng.standard_normal((_N_LABELS, _DIM))
    labels = rng.integers(0, _N_LABELS, n_vecs)
    x = rng.standard_normal((n_vecs, _DIM)) + 0.15 * np.sqrt(_DIM) * (
        centroids[labels] / np.linalg.norm(centroids[labels], axis=1, keepdims=True)
    )
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))


def write_spans(spark, sf_dir: str, dest: str, replicate: int) -> None:
    """Materialize the span table of ``sf_dir`` (``replicate`` docs per
    source doc) to parquet with the engine's own generator."""
    from deepdoc_api_spark.job.pipeline import spans_from_documents

    spans_from_documents(
        spark,
        sf_dir,
        num_partitions=spark.sparkContext.defaultParallelism * 4,
        replicate=replicate,
    ).write.mode("overwrite").parquet(dest)


def giant_doc(doc_id: int, text: str, n_spans: int) -> List[dict]:
    """One document of ``n_spans`` spans: generator giants back to back
    (the last one cut short), each part's offsets re-based past the
    previous part's last offset so pages keep increasing."""
    from deepdoc_api_spark.datagen import GIANT_MOD, GIANT_REMAINDER, gen_doc_spans

    spans: List[dict] = []
    part_id = doc_id - doc_id % GIANT_MOD + GIANT_REMAINDER
    while len(spans) < n_spans:
        base = spans[-1]["offset"] if spans else 0
        part = gen_doc_spans(part_id, text)[: n_spans - len(spans)]
        spans.extend(dict(s, offset=s["offset"] + base) for s in part)
        part_id += GIANT_MOD
    return spans


def write_giants(
    spark, docs: List[Tuple[int, str]], dest: str, sizes: List[int]
) -> None:
    """Append one giant document per entry of ``sizes`` (its span
    count) to the span parquet at ``dest``, each generated in its own
    Spark task. Giant ids sit past the corpus' own ids, 10^6 apart, so
    no two giants share a generator part."""
    from deepdoc_api_spark.schema import SPANS_DDL

    top = (max(d for d, _ in docs) // SEED_ID_STRIDE + 1) * SEED_ID_STRIDE
    rows = [
        (top + SEED_ID_STRIDE * k, docs[k % len(docs)][1], n)
        for k, n in enumerate(sizes)
    ]

    def gen(batches):
        import pyarrow as pa

        from deepdoc_api_spark.datagen import doc_id_str
        from deepdoc_api_spark.job.pipeline import _arrow_schema_of
        from deepdoc_api_spark.schema import SPANS_SCHEMA
        from perfbench.inputs import giant_doc

        schema = _arrow_schema_of(SPANS_SCHEMA)
        for rb in batches:
            d = rb.to_pydict()
            ids = [doc_id_str(g) for g in d["gid"]]
            spans = [giant_doc(*r) for r in zip(d["gid"], d["text"], d["n_spans"])]
            if ids:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids, pa.string()), pa.array(spans, schema.field(1).type)],
                    schema=schema,
                )

    (
        spark.createDataFrame(rows, "gid long, text string, n_spans int")
        .repartition(len(rows))
        .mapInArrow(gen, SPANS_DDL)
        .write.mode("append")
        .parquet(dest)
    )
