"""Round-6 adversarial-spans sweep: fuzzed span SEQUENCES fed directly
through the Spark pipeline (Arrow boundary, fused kernel dispatch,
skew paths) must chunk identically to the same kernels run in-driver.

The edge/fuzz corpus sweeps (tests/test_edge_corpus_oracle.py) fuzz
document TEXT through the datagen recipe; this file removes the
generator from the loop and fuzzes the span table itself — unicode
classes, pathological HTML, empty/huge spans, unknown kinds, negative
and duplicate offsets, and a >skew-threshold giant that exercises the
isolate path under adversarial content. Nulls are one more input: a
null ``spans`` list, a null span element and null span fields must
chunk like the driver does with the null element read as an all-``None``
span; per-doc error isolation has its own suite."""

import random

import pyarrow as pa
import pytest

from deepdoc_api_spark.job.arrow_decode import decode_column
from deepdoc_api_spark.job.pipeline import _arrow_schema_of, chunk_documents
from deepdoc_api_spark.kernels.pipeline import chunk_document
from deepdoc_api_spark.schema import SPANS_DDL, SPANS_SCHEMA

_WEIRD_TEXT = [
    "",
    " ",
    "\u00a0\u2009\u3000",          # unicode spaces
    "\u200b\u200d",                # zero-width
    "náïve Ωμέγα 中文 العربية",     # mixed scripts
    "😀🎉\U0001f9e0",               # astral plane
    "line\nbreak\ttab\x0bvt",
    "word " * 400,                 # long repetitive
    "<not a tag",
    "a&b &amp; &lt;x&gt; &bogus;",
    "\u0085\u2028\u2029",          # NEL + line/para separators
    "\x00nul\x01soh\x08bs",          # control bytes (valid UTF-8)
    "e\u0301combining\u0300",        # combining marks (no NFC applied)
    "CONFIDENTIAL ALPHA",          # header-suppression collider
]

_WEIRD_HTML = [
    "<div><p>ok</p>",
    "<p class='nav'>navish</p><p>body text long enough to keep</p>",
    '<a href="x>y">link</a><p>' + "content " * 10 + "</p>",
    "<table><tr><td>a</td><td>b</td></tr>",
    "<script>var x='</p>';</script><p>after raw</p>",
    "<ul><li>one</li><li>two</li>",
    "<< << <3 <-- <p>stray</p>",
    "<P CLASS=\"Footer\">upper</P><p>" + "t" * 40 + "</p>",
    "<img src='ünï.png'><p>après l'image un paragraphe assez long</p>",
    "<!-- unterminated comment <p>gone</p>",
]

_KINDS = ["html", "title", "text", "list", "table", "media", "unknown",
          "TABLE", "text ", ""]


def _fuzz_spans(rng: random.Random, n: int):
    spans = []
    for i in range(n):
        kind = rng.choice(_KINDS)
        if kind == "html":
            text = rng.choice(_WEIRD_HTML)
        elif kind == "media":
            text = ""
        else:
            text = rng.choice(_WEIRD_TEXT)
        media_ref = (
            f"m://fuzz/{i}-\u00e9.png" if kind in ("media", "table") and rng.random() < 0.7
            else ""
        )
        # offsets: mostly ascending, sometimes negative/duplicate/huge
        r = rng.random()
        if r < 0.05:
            offset = -rng.randint(1, 50)
        elif r < 0.10:
            offset = spans[-1]["offset"] if spans else 0
        elif r < 0.15:
            offset = rng.randint(10**6, 10**7)
        else:
            offset = i * 7 + rng.randint(0, 6)
        spans.append(
            {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}
        )
    return spans


_SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
_NULL_SPAN = dict.fromkeys(_SPAN_FIELDS)


def _assert_spark_equals_driver(sdf, docs, chunker_type, **kw):
    """Spark's chunks per doc equal driver-side ``chunk_document``'s,
    with a null ``spans`` list read as [] and a null span element as an
    all-None span."""
    oracle = {
        did: [
            (c["kind"], c["text"], c["media_ref"], c["chunk_index"])
            for c in chunk_document(
                did,
                [_NULL_SPAN if s is None else s for s in spans or []],
                chunker_type,
            )
        ]
        for did, spans in docs
    }
    got = {}
    for row in (
        chunk_documents(sdf, chunker_type, **kw)
        .select("doc_id", "kind", "text", "media_ref", "chunk_index")
        .collect()
    ):
        got.setdefault(row.doc_id, []).append(
            (row.kind, row.text, row.media_ref, row.chunk_index)
        )
    for doc in got.values():
        doc.sort(key=lambda t: t[3])

    # empty-output docs: the driver oracle records [], Spark emits no rows
    for did, chunks in oracle.items():
        assert got.get(did, []) == chunks, f"{chunker_type}:{did}"
    assert set(got) <= set(oracle)


@pytest.mark.parametrize(
    "chunker_type", ["hybrid", "hierarchical", "toc", "mineru", "fallback"]
)
def test_adversarial_spans_spark_equals_driver(spark, chunker_type):
    rng = random.Random(f"advspans:{chunker_type}")
    docs = []
    for d in range(48):
        n = rng.choice([0, 1, 2, 5, 30, 120])
        docs.append((f"adv-{d:04d}", _fuzz_spans(rng, n)))
    # one giant over the skew threshold: the isolate path must chunk
    # adversarial content byte-identically too
    docs.append(("adv-giant", _fuzz_spans(rng, 4500)))

    _assert_spark_equals_driver(
        spark.createDataFrame(docs, SPANS_DDL).repartition(8, "doc_id"),
        docs,
        chunker_type,
    )


def _null_docs(rng: random.Random, n_docs: int):
    """Fuzzed docs with nulls at every level: whole ``spans`` lists,
    span elements and single span fields."""
    docs = []
    for d in range(n_docs):
        if rng.random() < 0.05:
            docs.append((f"null-{d:05d}", None))
            continue
        spans = _fuzz_spans(rng, rng.choice([0, 1, 2, 4, 9]))
        for s in spans:
            if rng.random() < 0.2:
                s[rng.choice(_SPAN_FIELDS)] = None
        for _ in range(rng.choice([0, 0, 1, 2])):
            spans.insert(rng.randint(0, len(spans)), None)
        docs.append((f"null-{d:05d}", spans))
    return docs


def test_decode_column_matches_to_pylist_on_slices():
    """decode_column is to_pylist with null elements read as all-None
    spans, on whole arrays and on slices (offsets then start past 0)."""
    docs = _null_docs(random.Random("decode-slices"), 300)
    col = pa.array(
        [spans for _, spans in docs],
        type=_arrow_schema_of(SPANS_SCHEMA).field("spans").type,
    )
    for offset, length in [(0, 300), (1, 299), (97, 64), (299, 1), (150, 0)]:
        part = col.slice(offset, length)
        want = [
            None if v is None else [_NULL_SPAN if s is None else s for s in v]
            for v in part.to_pylist()
        ]
        assert decode_column(part) == want, (offset, length)
    ids = pa.array([1, None, 3], type=pa.int32())
    assert decode_column(ids) == [1, None, 3]


@pytest.mark.parametrize(
    "chunker_type,skew_strategy",
    [
        ("hybrid", "isolate"),
        ("hierarchical", "isolate"),
        ("toc", "isolate"),
        ("mineru", "isolate"),
        ("fallback", "isolate"),
        ("hybrid", "shard"),
    ],
)
def test_null_spans_spark_equals_driver(spark, chunker_type, skew_strategy):
    """A null anywhere in the span table chunks like the driver with
    null elements read as all-None spans, instead of failing the job.
    1,100 docs in one partition cross the worker as several 1,024-row
    Arrow batches; docs of >= 8 spans take the giant path."""
    docs = _null_docs(random.Random(f"nullspans:{chunker_type}"), 1100)
    _assert_spark_equals_driver(
        spark.createDataFrame(docs, SPANS_DDL).repartition(1),
        docs,
        chunker_type,
        skew_threshold=8,
        skew_strategy=skew_strategy,
    )
