"""Span-sequence equality: Spark pipeline output == in-driver oracle.

The contract (BASELINE.json): per-document chunk-sequence equality on
``(kind, text, media_ref, order)`` between the distributed pipeline and
the same kernels run sequentially in the driver over the deterministic
corpus.
"""

import duckdb
import pytest

from deepdoc_api_spark.datagen import doc_id_str, gen_doc_spans
from deepdoc_api_spark.job.pipeline import chunk_documents, spans_from_documents
from deepdoc_api_spark.kernels.pipeline import chunk_document

N_DOCS = 120  # subset for speed; includes doc 7 (giant) via limit>=8


def _oracle(sf_dir, chunker_type, n_docs=N_DOCS):
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet') "
        f"order by doc_id limit {n_docs}"
    ).fetchall()
    out = {}
    for d, t in rows:
        chunks = chunk_document(doc_id_str(d), gen_doc_spans(d, t or ""), chunker_type)
        out[doc_id_str(d)] = [
            (c["kind"], c["text"], c["media_ref"], c["chunk_index"]) for c in chunks
        ]
    return out


def _spark_result(spark, sf_dir, chunker_type, n_docs=N_DOCS, **kw):
    spans = spans_from_documents(spark, sf_dir, num_partitions=8, limit=n_docs)
    chunks = chunk_documents(spans, chunker_type, **kw)
    got = {}
    for row in chunks.select(
        "doc_id", "kind", "text", "media_ref", "chunk_index"
    ).collect():
        got.setdefault(row.doc_id, []).append(
            (row.kind, row.text, row.media_ref, row.chunk_index)
        )
    for doc in got.values():
        doc.sort(key=lambda t: t[3])
    return got


@pytest.mark.parametrize("chunker_type", ["hybrid", "toc", "mineru"])
def test_span_sequence_equality(spark, sf_dir, chunker_type):
    oracle = _oracle(sf_dir, chunker_type)
    got = _spark_result(spark, sf_dir, chunker_type)
    assert set(got) == set(oracle)
    for doc_id in oracle:
        assert got[doc_id] == oracle[doc_id], f"{chunker_type}:{doc_id}"


def test_hierarchical_and_fallback_equality(spark, sf_dir):
    for chunker_type in ("hierarchical", "fallback"):
        oracle = _oracle(sf_dir, chunker_type, n_docs=40)
        got = _spark_result(spark, sf_dir, chunker_type, n_docs=40)
        assert got == oracle


def test_media_refs_preserved_inline(spark, sf_dir):
    """North-rule invariant: every media span survives to the chunk
    stream, in order, with its ref intact (hybrid path)."""
    rows = duckdb.sql(
        f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet') "
        "order by doc_id limit 60"
    ).fetchall()
    got = _spark_result(spark, sf_dir, "hybrid", n_docs=60)
    for d, t in rows:
        spans = gen_doc_spans(d, t or "")
        want_refs = [s["media_ref"] for s in spans if s["kind"] == "media"]
        # html-inline images also become media chunks; count only span media
        have_refs = [
            ref
            for (kind, _txt, ref, _i) in got[doc_id_str(d)]
            if kind == "media" and ref.startswith("media://")
        ]
        # every span-level media ref must appear, in order
        it = iter(have_refs)
        assert all(ref in it for ref in want_refs), doc_id_str(d)


def test_giant_doc_skew_paths_equal_fused(spark, sf_dir):
    """The giant branch (every doc isolated on its own task) must
    produce the same chunks as the plain fused kernel."""
    spans = spans_from_documents(spark, sf_dir, num_partitions=8, limit=10)
    spans.cache()
    key = ["doc_id", "chunk_index", "kind", "text", "media_ref"]

    def run(threshold):
        return sorted(
            map(
                tuple,
                chunk_documents(spans, "hybrid", skew_threshold=threshold)
                .select(*key)
                .collect(),
            )
        )

    assert run(1) == run(10**9)
    spans.unpersist()


def test_chunk_index_dense_and_ordered(spark, sf_dir):
    got = _spark_result(spark, sf_dir, "hybrid", n_docs=30)
    for doc_id, chunks in got.items():
        assert [c[3] for c in chunks] == list(range(len(chunks)))


@pytest.mark.parametrize("budget", [48, 128, 2048])
def test_nondefault_token_budget_equality(spark, sf_dir, budget):
    """Round-6 parameter sweep: the Spark path must agree with the
    in-driver kernel for NON-default token budgets too — every prior
    equality suite ran at the default 512, leaving the budget plumbing
    through the fused kernel / skew paths value-unverified. 48 forces
    heavy splitting (at and below the 32-token piece floor), 2048
    collapses most documents into single merged chunks."""
    for chunker_type in ("hybrid", "hierarchical"):
        rows = duckdb.sql(
            f"select doc_id, text from read_parquet('{sf_dir}/documents.parquet') "
            "order by doc_id limit 40"
        ).fetchall()
        oracle = {}
        for d, t in rows:
            chunks = chunk_document(
                doc_id_str(d), gen_doc_spans(d, t or ""), chunker_type,
                token_budget=budget,
            )
            oracle[doc_id_str(d)] = [
                (c["kind"], c["text"], c["media_ref"], c["chunk_index"])
                for c in chunks
            ]
        spans = spans_from_documents(spark, sf_dir, num_partitions=8, limit=40)
        got = {}
        for row in (
            chunk_documents(spans, chunker_type, token_budget=budget)
            .select("doc_id", "kind", "text", "media_ref", "chunk_index")
            .collect()
        ):
            got.setdefault(row.doc_id, []).append(
                (row.kind, row.text, row.media_ref, row.chunk_index)
            )
        for doc in got.values():
            doc.sort(key=lambda t: t[3])
        assert set(got) == set(oracle)
        for doc_id in oracle:
            assert got[doc_id] == oracle[doc_id], (
                f"{chunker_type}:budget={budget}:{doc_id}"
            )
