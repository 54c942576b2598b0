"""S8 — the MinerU middle-JSON source reader (round 5).

Three layers of evidence:

1. A hand fixture pinning the dispatch matrix (title/text span
   fan-out, nested list/table blocks, table-span filtering, image →
   media extension, missing-bbox default, cross-list sort, stability).
2. A DIFFERENTIAL against the reference's own ``process_layout``
   executed on randomized layouts: reader spans → the engine's
   extraction+fold must reproduce the reference's record stream
   exactly (the same oracle convention as
   tests/test_reference_differential.py, now covering the SOURCE
   READER + kernels composition instead of a hand mapping).
3. End-to-end: reader output chunks through ``chunk_documents``.
"""

import json
import os
import random

import pytest

from tests.test_reference_differential import (
    REF_PATH,
    _gen_layout,
    _load_reference,
)



def _write_jsonl(tmp_path, docs):
    p = str(tmp_path / "mineru.jsonl")
    with open(p, "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    return p


def _fixture_doc():
    line = lambda *contents: {  # noqa: E731
        "spans": [{"content": c} for c in contents]
    }
    return {
        "doc_id": "m-1",
        "pdf_info": [
            {
                "page_idx": 0,
                # para block BELOW the preproc block on the page — the
                # (y0, x0) sort must interleave across the three lists
                "para_blocks": [
                    {
                        "type": "text",
                        "bbox": [10, 500, 200, 520],
                        "lines": [line("low text")],
                    }
                ],
                "preproc_blocks": [
                    {
                        "type": "title",
                        "bbox": [10, 10, 200, 30],
                        "lines": [line("Top Title", "second span")],
                    },
                    {
                        "type": "list",
                        "bbox": [10, 200, 200, 240],
                        "blocks": [
                            {"lines": [line("item one")]},
                            {"lines": [line("item two")]},
                        ],
                    },
                    {
                        "type": "table",
                        "bbox": [10, 300, 200, 340],
                        "blocks": [
                            {
                                "lines": [
                                    {
                                        "spans": [
                                            {
                                                "type": "table",
                                                "html": "<table>x</table>",
                                                "image_path": "img://t.png",
                                            },
                                            {
                                                "type": "text",
                                                "content": "caption-ish",
                                            },
                                        ]
                                    }
                                ]
                            }
                        ],
                    },
                    {
                        "type": "image",
                        "bbox": [10, 400, 200, 440],
                        "lines": [
                            {"spans": [{"image_path": "img://fig.png"}]}
                        ],
                    },
                    {"type": "figure", "bbox": [10, 450, 200, 460]},
                ],
                "discarded_blocks": [
                    # no bbox → [0,0,0,0] default sorts FIRST; ties with
                    # nothing, stays ahead of the y0=10 title
                    {"type": "text", "lines": [line("header furniture")]}
                ],
            },
            {
                "page_idx": 1,
                "para_blocks": [
                    {
                        "type": "text",
                        "bbox": [0, 0, 10, 10],
                        "lines": [line("page two")],
                    }
                ],
            },
        ],
    }


def test_reader_dispatch_matrix(spark, tmp_path):
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    path = _write_jsonl(tmp_path, [_fixture_doc()])
    rows = spans_from_mineru_json(spark, path).collect()
    assert len(rows) == 1
    spans = [
        (s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in rows[0].spans
    ]
    assert spans == [
        ("text", "header furniture", "", 0),      # missing bbox → first
        ("title", "Top Title", "", 1),            # span fan-out in order
        ("title", "second span", "", 2),
        ("list", "item one", "", 3),
        ("list", "item two", "", 4),
        ("table", "<table>x</table>", "img://t.png", 5),  # text span dropped
        ("media", "", "img://fig.png", 6),        # image → media extension
        ("text", "low text", "", 7),              # para sorted below
        ("text", "page two", "", 1000),           # page 2 offset base
    ]


@pytest.mark.skipif(
    not os.path.exists(REF_PATH), reason="reference snapshot not available"
)
def test_reader_plus_kernels_match_reference_process_layout(spark, tmp_path):
    """Reader spans → extract_records → format_records must equal the
    reference's process_layout on randomized MinerU layouts — the
    source+fold composition under the reference's own oracle. Media
    spans are excluded from the compare (the reference drops images;
    our pass-through is the documented north-rule extension)."""
    from deepdoc_api_spark.kernels.layout import extract_records, format_records
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    ref = _load_reference()
    docs = []
    layouts = {}
    # 12 → 36 seeds in round 6: same cost class (one Spark read), 3×
    # the randomized layout coverage for the reader+fold composition
    for seed in range(36):
        rng = random.Random(f"srcdiff:{seed}")
        layout = _gen_layout(rng, n_pages=rng.randint(1, 3))
        doc_id = f"d{seed}"
        layouts[doc_id] = layout
        docs.append({"doc_id": doc_id, **layout})
    path = _write_jsonl(tmp_path, docs)

    got_spans = {
        r.doc_id: [s.asDict() for s in r.spans]
        for r in spans_from_mineru_json(spark, path).collect()
    }
    for doc_id, layout in layouts.items():
        expected = ref.process_layout(layout)
        spans = got_spans.get(doc_id, [])
        records = [
            r for r in extract_records(spans) if r["kind"] != "media"
        ]
        got = format_records(records)
        assert len(got) == len(expected), doc_id
        for g, e in zip(got, expected):
            assert g["type"] == e["type"], doc_id
            assert g["content"] == e["content"], doc_id
            assert g["page"] == e["page"], doc_id
            assert g["hierarchy"] == e["hierarchy"], doc_id
            assert g.get("media_ref", "") == e.get("image_path", ""), doc_id


def test_reader_feeds_chunk_documents_end_to_end(spark, tmp_path):
    from deepdoc_api_spark.job.pipeline import chunk_documents
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    path = _write_jsonl(tmp_path, [_fixture_doc()])
    chunks = chunk_documents(
        spans_from_mineru_json(spark, path), "mineru"
    ).collect()
    assert chunks, "no chunks from the MinerU-sourced document"
    texts = [c.text for c in chunks]
    assert any("item one" in t for t in texts)
    # media pass-through survives extraction+chunking inline
    assert any(c.kind == "media" and c.media_ref == "img://fig.png" for c in chunks)


def test_reader_plan_is_jvm_only(spark, tmp_path):
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    path = _write_jsonl(tmp_path, [_fixture_doc()])
    plan = (
        spans_from_mineru_json(spark, path)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "MapInArrow" not in plan


def test_overflow_page_keeps_reading_order(spark, tmp_path):
    """Round-5 ADVICE: a page with more than PAGE_SIZE spans must not
    interleave its tail into the NEXT page's reading order. The folded
    scalar sort key (page_idx*PAGE_SIZE + ordinal) did exactly that;
    the assembly now sorts on the unfolded (page_idx, ordinal) pair.
    Offset LABELS for the overflow tail stay capped at the page's last
    slot (documented, visible in the data)."""
    from deepdoc_api_spark.kernels.layout import PAGE_SIZE
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    n0 = PAGE_SIZE + 5  # overflow page 0
    doc = {
        "doc_id": "ovf-1",
        "pdf_info": [
            {
                "page_idx": 0,
                "para_blocks": [
                    {
                        "type": "text",
                        "bbox": [0, i, 10, i + 1],
                        "lines": [{"spans": [{"content": f"p0s{i}"}]}],
                    }
                    for i in range(n0)
                ],
            },
            {
                "page_idx": 1,
                "para_blocks": [
                    {
                        "type": "text",
                        "bbox": [0, i, 10, i + 1],
                        "lines": [{"spans": [{"content": f"p1s{i}"}]}],
                    }
                    for i in range(3)
                ],
            },
        ],
    }
    path = _write_jsonl(tmp_path, [doc])
    [row] = spans_from_mineru_json(spark, path).collect()
    texts = [s.text for s in row.spans]
    expect = [f"p0s{i}" for i in range(n0)] + [f"p1s{i}" for i in range(3)]
    assert texts == expect, "overflow tail must precede page 1 spans"
    offsets = [s.offset for s in row.spans]
    # tail labels capped at page 0's last slot; page 1 starts clean
    assert offsets[PAGE_SIZE - 1 : n0] == [PAGE_SIZE - 1] * 6
    assert offsets[n0:] == [PAGE_SIZE, PAGE_SIZE + 1, PAGE_SIZE + 2]
    assert offsets[: PAGE_SIZE - 1] == list(range(PAGE_SIZE - 1))


def test_reader_degenerate_shapes(spark, tmp_path):
    """Degenerate middle-JSON shapes must read gracefully, not crash:
    empty pdf_info, page with no block lists, blocks with no lines /
    no spans / missing content, and a doc that reduces to zero spans
    (which simply yields no row — the groupBy has nothing to fold)."""
    from deepdoc_api_spark.sources.mineru_json import spans_from_mineru_json

    docs = [
        {"doc_id": "empty-doc", "pdf_info": []},
        {"doc_id": "empty-page", "pdf_info": [{"page_idx": 0}]},
        {"doc_id": "no-lines", "pdf_info": [
            {"page_idx": 0, "para_blocks": [
                {"type": "text", "bbox": [0, 0, 1, 1]}]}]},
        {"doc_id": "no-spans", "pdf_info": [
            {"page_idx": 0, "para_blocks": [
                {"type": "text", "bbox": [0, 0, 1, 1], "lines": [{}]}]}]},
        {"doc_id": "no-content", "pdf_info": [
            {"page_idx": 0, "para_blocks": [
                {"type": "title", "bbox": [0, 0, 1, 1],
                 "lines": [{"spans": [{}]}]}]}]},
        {"doc_id": "real", "pdf_info": [
            {"page_idx": 0, "para_blocks": [
                {"type": "text", "bbox": [0, 0, 1, 1],
                 "lines": [{"spans": [{"content": "hello"}]}]}]}]},
    ]
    path = _write_jsonl(tmp_path, docs)
    rows = {r.doc_id: [s.asDict() for s in r.spans]
            for r in spans_from_mineru_json(spark, path).collect()}
    # zero-span docs produce no row at all (nothing to fold)
    for gone in ("empty-doc", "empty-page", "no-lines", "no-spans"):
        assert gone not in rows, gone
    # a span with a missing content field coalesces to ''
    assert rows["no-content"] == [
        {"kind": "title", "text": "", "media_ref": "", "offset": 0}
    ]
    assert rows["real"] == [
        {"kind": "text", "text": "hello", "media_ref": "", "offset": 0}
    ]


def test_jsonl_cache_keyed_on_doc_id_digest(tmp_path):
    """Round-6 ADVICE: the JSONL cache was keyed on sf-dir basename +
    doc count, so two sf dirs with the same basename and count but
    different doc_ids silently aliased each other's corpus. The key is
    now a digest of the ORDERED doc_id list: same ids -> same cached
    file, different ids (same basename/count) -> different file."""
    import duckdb

    from deepdoc_api_spark.sources.mineru_json import ensure_mineru_jsonl

    def mk(parent, ids):
        sf = tmp_path / parent / "sf"
        sf.mkdir(parents=True)
        duckdb.connect().execute(
            "copy (select unnest(?::BIGINT[]) as doc_id) to "
            f"'{sf}/documents.parquet' (format parquet)",
            [ids],
        )
        return str(sf)

    a = mk("a", [1, 2, 3])
    b = mk("b", [1, 2, 3])     # same ids, different dir -> cache hit
    c = mk("c", [4, 5, 6])     # same basename+count, different ids
    pa_, pb, pc = (ensure_mineru_jsonl(d) for d in (a, b, c))
    assert pa_ == pb
    assert pc != pa_
    # and the cached contents really are per-id-set
    assert '"doc_id": "4"' in open(pc).read().splitlines()[0]


def test_jsonl_cache_rejects_symlinked_root(tmp_path, monkeypatch):
    """A cache root planted as a symlink to another user-owned dir must
    be refused: ``stat`` would follow it and pass the ownership check."""
    import tempfile

    import duckdb

    from deepdoc_api_spark.sources.mineru_json import ensure_mineru_jsonl

    sf = tmp_path / "sf"
    sf.mkdir()
    duckdb.connect().execute(
        f"copy (select 1::BIGINT as doc_id) to '{sf}/documents.parquet' "
        "(format parquet)"
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    (tmp / f"ddspark-mineru-cache-{os.getuid()}").symlink_to(elsewhere)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    with pytest.raises(RuntimeError, match="symlink"):
        ensure_mineru_jsonl(str(sf))
    assert list(elsewhere.iterdir()) == []
