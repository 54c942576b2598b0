"""Externally-oracle'd pipeline queries over a FLAT-title record stream.

The main span corpus is RNG-generated (not SQL-expressible), so the
five ``extract_chunks_*`` queries can only get rows-only external
checks; their strong oracle is the in-repo differential suites. This
module closes the gap for a *restricted but real* input class: a
record stream with level-1 titles only and no adjacent headers,
generated from ``documents.text`` by pure index arithmetic — identical
in Spark SQL and DuckDB SQL. On that class:

* **K2 (hierarchical chunker)** reduces to window SQL: the heading
  snapshot is the last title at-or-before each text record
  (``last_value IGNORE NULLS``), contextualization is a string concat.
* **The mineru layout fold (O4/O5/O6) + K4 + K6** reduces to
  relational form: repeated-header suppression is a
  ``GROUP BY content HAVING count(*) > 3`` blacklist, the hierarchy
  stack degenerates to "last accepted title" (titles are always
  preceded by texts, so the stack never exceeds depth 1 — verified
  against ``layout.format_records``'s exact control flow), and the
  adjacent-text merge is classic sessionization (segment id = running
  title count, ``string_agg`` within segment, ``first - last`` page
  range labels).

The Spark side runs the REAL kernels (``hierarchical_chunks`` /
``format_records → mineru_chunks`` / ``assemble_chunks``), each in one
Arrow stage (:func:`~deepdoc_api_spark.job.pipeline.map_rows`); the
DuckDB oracle re-derives the same output relationally — an
independent re-implementation, so a hash match certifies the fold
semantics themselves (reference:
``/root/reference/app/mineru_adapter/layout_processor.py:131-176``,
``app/processing.py:985-1023,1543-1589``).

Generator spec (shared; all arithmetic on the group index ``i``):

* content words: ``documents.text`` replicated ``REPLICAS`` times
  (space-joined) → word groups of ``GROUP_WORDS``;
* every ``TITLE_EVERY``-th group is a title, others are texts —
  guaranteeing >= 3 texts between titles (no adjacent headers);
* title content: every ``REPEAT_EVERY``-th title is the constant
  ``REPEAT_HDR`` (long docs exceed the >3 suppression threshold, short
  docs stay below — both fold branches exercised), otherwise
  ``'H{i} ' + group`` (the ``H`` prefix keeps titles un-numbered →
  level 1, and distinct from any text);
* page = ``i // PAGE_EVERY + 1`` (merged runs cross pages → range
  labels).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..job.pipeline import map_rows
from ..kernels.chunkers import (
    assemble_chunks,
    hierarchical_chunks,
    hybrid_chunks,
    mineru_chunks,
)
from ..kernels.html_extract import extract_html_blocks
from ..kernels.layout import extract_records, sort_reading_order
from ..kernels.pipeline import chunk_document
from ..kernels.toc import toc_chunks

GROUP_WORDS = 8

#: Python's re \s / str.strip() whitespace set, spelled out for RE2 /
#: DuckDB trim (29 chars; round-5 review — RE2's \s is ASCII-minus-VT
#: and DuckDB trim defaults to spaces, so any oracle clause that mirrors
#: a PYTHON-kernel normalization must use these explicit sets)
_PY_WS_RE2 = (
    "\\t\\n\\x0b\\f\\r\\x1c-\\x1f \\x85\\xa0\\x{1680}"
    "\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}"
    "\\x{205f}\\x{3000}"
)
_PY_WS_CHARS_SQL = (
    "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
    " || chr(28) || chr(29) || chr(30) || chr(31) || chr(133)"
    " || chr(160) || chr(5760) || chr(8192) || chr(8193) || chr(8194)"
    " || chr(8195) || chr(8196) || chr(8197) || chr(8198) || chr(8199)"
    " || chr(8200) || chr(8201) || chr(8202) || chr(8232) || chr(8233)"
    " || chr(8239) || chr(8287) || chr(12288)"
)


def _py_norm_sql(x: str) -> str:
    """DuckDB twin of the kernel's `' '.join(text.split())` (Python
    whitespace semantics — collapses NBSP/NEL/Zs runs too)."""
    return (
        f"trim(regexp_replace({x}, '[{_PY_WS_RE2}]+', ' ', 'g'), ' ')"
    )


def _py_strip_sql(x: str) -> str:
    """DuckDB twin of Python str.strip()."""
    return f"trim({x}, {_PY_WS_CHARS_SQL})"


#: The flat record classes are ORACLE FIXTURES: their token contract
#: excludes tokens containing whitespace that Python treats as such
#: but Java/RE2 split regexes do not (FS-US, NEL, NBSP, Zs/Zl/Zp) —
#: otherwise a generated record content would be silently re-split /
#: stripped by the Python kernels but not by the relational oracle.
#: The REAL kernels' unicode behavior stays covered by the RNG-pipeline
#: checksums (rng_chunk_checksums runs them on the raw text).
#: one class string of REAL codepoints (no regex escapes): embedded
#: verbatim into both engines' pattern literals, so Java and RE2 parse
#: the identical character set and SQL-literal escape rules never
#: intervene (escape spellings diverged between the two parsers)
_EXOTIC_WS_CLASS = (
    "[\x1c-\x1f\x85\xa0\u1680\u2000-\u200a"
    "\u2028\u2029\u202f\u205f\u3000]"
)
_EXOTIC_WS_JAVA = _EXOTIC_WS_CLASS
_EXOTIC_WS_RE2 = _EXOTIC_WS_CLASS
TITLE_EVERY = 4
PAGE_EVERY = 6
REPLICAS = 9
REPEAT_EVERY = 3
REPEAT_HDR = "REPEAT HDR"

_REC_DDL = "doc_id bigint, recs array<struct<seq:int,kind:string,content:string,page:int>>"

HIER_FLAT_DDL = (
    "doc_id bigint, chunk_index int, kind string, text string, "
    "heading string, page int, chunk_size bigint"
)

MINERU_FLAT_DDL = (
    "doc_id bigint, chunk_index int, kind string, text string, "
    "hierarchy string, pages string, chunk_size bigint"
)


def _words(spark: SparkSession, sf_dir: str, replicas: int = REPLICAS) -> DataFrame:
    """(doc_id, ws) — the Spark word source of every flat class: each
    document's trimmed text, ``replicas`` copies joined by a space,
    split on whitespace, minus the tokens holding whitespace only
    Python splits on (:data:`_EXOTIC_WS_CLASS`). JVM-side expressions
    only; the DuckDB twins are the ``w AS (...)`` CTEs."""
    n = spark.sparkContext.defaultParallelism * 2
    rep = " || ' ' || ".join(["trim(text)"] * replicas)
    return (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        .select("doc_id", "text")
        .repartition(n, "doc_id")
        .selectExpr(
            "doc_id",
            f"filter(split({rep}, '\\\\s+'), x -> x != '' and not (x rlike '{_EXOTIC_WS_JAVA}')) as ws",
        )
    )


def _pages_json(pages) -> str:
    return json.dumps(pages, separators=(",", ":"))


def _records_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, recs) — the flat-title record stream, generated with
    JVM-side expressions only (no Python in the generation plan)."""
    return _words(spark, sf_dir).selectExpr(
        "doc_id",
        f"""
        transform(if(size(ws) > 0, sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1), array()),
          i -> named_struct(
            'seq', i,
            'kind', case when i % {TITLE_EVERY} = 0 then 'title' else 'text' end,
            'content', case
                when i % {TITLE_EVERY} = 0 and (i div {TITLE_EVERY}) % {REPEAT_EVERY} = 0
                  then '{REPEAT_HDR}'
                when i % {TITLE_EVERY} = 0
                  then concat('H', cast(i as string), ' ',
                              concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS})))
                else concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS}))
              end,
            'page', cast(i div {PAGE_EVERY} as int) + 1))
        as recs
        """,
    )


def _records_sql_cte() -> str:
    """DuckDB twin of :func:`_records_spark` → CTE ``r(doc_id, seq,
    kind, content, page)`` (exploded rows)."""
    rep = " || ' ' || ".join(["trim(text, ' ')"] * REPLICAS)
    return f"""
w AS (SELECT doc_id, list_filter(regexp_split_to_array({rep}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w),
r AS (
  SELECT doc_id, i AS seq,
    CASE WHEN i % {TITLE_EVERY} = 0 THEN 'title' ELSE 'text' END AS kind,
    CASE
      WHEN i % {TITLE_EVERY} = 0 AND (i // {TITLE_EVERY}) % {REPEAT_EVERY} = 0
        THEN '{REPEAT_HDR}'
      WHEN i % {TITLE_EVERY} = 0
        THEN 'H' || i || ' ' ||
             array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')
      ELSE array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')
    END AS content,
    (i // {PAGE_EVERY}) + 1 AS page
  FROM idx
)"""


def _to_kernel_records(recs) -> list:
    """A decoded ``recs`` value (``None`` for a null list) as the
    kernels' record dicts."""
    return [
        {
            "kind": r["kind"],
            "content": r["content"],
            "media_ref": "",
            "page": int(r["page"]),
            "offset": int(r["seq"]),
        }
        for r in recs or ()
    ]


# ---------------------------------------------------------------------------
# K2 hierarchical chunker — real kernel vs window-SQL oracle
# ---------------------------------------------------------------------------


def hierarchical_flat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rows(doc_id, recs):
        records = _to_kernel_records(recs)
        chunks = assemble_chunks(
            str(doc_id), hierarchical_chunks(records), "hierarchical"
        )
        return [
            dict(
                ch,
                doc_id=doc_id,
                heading=ch["headings"][-1] if ch["headings"] else None,
                page=int(ch["pages"][0]),
            )
            for ch in chunks
        ]

    return map_rows(
        _records_spark(spark, sf_dir), rows, HIER_FLAT_DDL, "doc_id", "recs"
    )


HIERARCHICAL_FLAT_SQL = f"""
WITH {_records_sql_cte()},
h AS (
  SELECT doc_id, seq, kind, content, page,
         last_value(CASE WHEN kind = 'title' THEN content END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS heading
  FROM r
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY seq) - 1)::INTEGER
         AS chunk_index,
       'text' AS kind,
       CASE WHEN heading IS NULL THEN content
            ELSE heading || chr(10) || content END AS text,
       heading,
       page::INTEGER AS page,
       length(CASE WHEN heading IS NULL THEN content
                   ELSE heading || chr(10) || content END)::BIGINT AS chunk_size
FROM h WHERE kind = 'text'
"""


# ---------------------------------------------------------------------------
# mineru fold (O4/O5/O6) + K4 + K6 — real kernels vs relational oracle
# ---------------------------------------------------------------------------


def _mineru_flat_row(doc_id: int, ch: dict) -> dict:
    return dict(
        ch,
        doc_id=doc_id,
        hierarchy=" >> ".join(ch["hierarchy"] or []),
        pages=_pages_json(ch["pages"]),
    )


def mineru_flat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rows(doc_id, recs):
        records = _to_kernel_records(recs)
        chunks = assemble_chunks(
            str(doc_id), mineru_chunks(records, str(doc_id)), "mineru"
        )
        return [_mineru_flat_row(doc_id, ch) for ch in chunks]

    return map_rows(
        _records_spark(spark, sf_dir), rows, MINERU_FLAT_DDL, "doc_id", "recs"
    )


MINERU_FLAT_SQL = f"""
WITH {_records_sql_cte()},
-- O4: contents of title/text records occurring > 3 times per doc are
-- blacklisted FROM THE HIERARCHY (layout_processor.py:131-134); all
-- records here are title/text so the count covers every record
supp AS (
  SELECT doc_id, content FROM r GROUP BY doc_id, content HAVING count(*) > 3
),
f AS (
  SELECT r.doc_id, r.seq, r.kind, r.content, r.page,
         (r.kind = 'title' AND s.content IS NOT NULL) AS suppressed,
         (r.kind = 'title' AND s.content IS NULL) AS accepted_title
  FROM r LEFT JOIN supp s ON s.doc_id = r.doc_id AND s.content = r.content
),
-- O5 on the flat-title class: the stack is exactly [last accepted
-- title] (titles always follow texts, so each accepted title pops the
-- previous one — format_records:142-153 traced on this input class)
g AS (
  SELECT *,
         last_value(CASE WHEN accepted_title THEN content END IGNORE NULLS)
           OVER (PARTITION BY doc_id ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hier,
         -- adjacency segments: EVERY title record (accepted or
         -- suppressed) resets last_type and breaks a text run
         sum(CASE WHEN kind = 'title' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM f
),
-- suppressed titles fall through to the else-branch of the fold: one
-- standalone formatted record of type 'title' with the hierarchy
-- prefix (format_records else-arm; titles never merge on this class)
sup_rec AS (
  SELECT doc_id, seq AS ord, 'title' AS kind,
         coalesce(hier, '') || chr(10) || content AS content,
         coalesce(hier, '') AS hierarchy,
         page AS p_first, page AS p_last
  FROM g WHERE suppressed
),
-- O6: maximal text runs merge into one record; content = hierarchy
-- prefix + first text + '\\n'-joined rest; page label 'first - last'
txt_rec AS (
  SELECT doc_id, min(seq) AS ord, 'text' AS kind,
         coalesce(min(hier), '') || chr(10) ||
           string_agg(content, chr(10) ORDER BY seq) AS content,
         coalesce(min(hier), '') AS hierarchy,
         min(page) AS p_first, max(page) AS p_last
  FROM g WHERE kind = 'text'
  GROUP BY doc_id, seg
),
fold AS (SELECT * FROM sup_rec UNION ALL SELECT * FROM txt_rec),
-- K4: text = doc_name >> stripped content; K6: pages json, sizes, index
chunks AS (
  SELECT doc_id, ord, kind,
         doc_id::VARCHAR || ' >> ' || trim(content, ' ' || chr(10)) AS text,
         hierarchy,
         '[' || array_to_string(
           list_transform(range(p_first, p_last + 1), x -> x::VARCHAR), ',')
           || ']' AS pages
  FROM fold
  WHERE length(trim(content, ' ' || chr(10))) > 0
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1)::INTEGER
         AS chunk_index,
       kind, text, hierarchy, pages,
       length(text)::BIGINT AS chunk_size
FROM chunks
"""


# ---------------------------------------------------------------------------
# K3 TOC chunker — real kernel vs sessionization oracle
# ---------------------------------------------------------------------------
#
# Restricted class: every title is numbered with a DISTINCT single-level
# number and a globally-unique marker word ('{j} U{j} ...'), so the
# reference's duplicate-section removal (cleaned-name count >= 2),
# continuation repair (un-numbered headers), and same-number merge never
# fire — those quirks keep their 60-seed differential suite as the
# oracle. What remains is K3's core: section = title, content = records
# until the next same-or-higher-level header, text = name + "\n" +
# "\n\n"-joined contents, empty sections skipped — relational.

TOC_FLAT_DDL = (
    "doc_id bigint, chunk_index int, text string, heading string, "
    "page int, chunk_size bigint"
)


def _toc_records_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _words(spark, sf_dir).selectExpr(
        "doc_id",
        f"""
        transform(if(size(ws) > 0, sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1), array()),
          i -> named_struct(
            'seq', i,
            'kind', case when i % {TITLE_EVERY} = 0 then 'title' else 'text' end,
            'content', case
                when i % {TITLE_EVERY} = 0
                  then concat(cast(i div {TITLE_EVERY} + 1 as string),
                              ' U', cast(i div {TITLE_EVERY} + 1 as string), ' ',
                              concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS})))
                else concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS}))
              end,
            'page', cast(i div {PAGE_EVERY} as int) + 1))
        as recs
        """,
    )


def _toc_records_sql_cte() -> str:
    rep = " || ' ' || ".join(["trim(text, ' ')"] * REPLICAS)
    return f"""
w AS (SELECT doc_id, list_filter(regexp_split_to_array({rep}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w),
r AS (
  SELECT doc_id, i AS seq,
    CASE WHEN i % {TITLE_EVERY} = 0 THEN 'title' ELSE 'text' END AS kind,
    CASE
      WHEN i % {TITLE_EVERY} = 0
        THEN (i // {TITLE_EVERY} + 1) || ' U' || (i // {TITLE_EVERY} + 1) || ' ' ||
             array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')
      ELSE array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')
    END AS content,
    (i // {PAGE_EVERY}) + 1 AS page
  FROM idx
)"""


def toc_flat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rows(doc_id, recs):
        records = _to_kernel_records(recs)
        chunks = assemble_chunks(str(doc_id), toc_chunks(records), "toc")
        return [
            dict(
                ch,
                doc_id=doc_id,
                heading=(ch["headings"] or [None])[0],
                page=int(ch["pages"][0]),
            )
            for ch in chunks
        ]

    return map_rows(
        _toc_records_spark(spark, sf_dir), rows, TOC_FLAT_DDL, "doc_id", "recs"
    )


TOC_FLAT_SQL = f"""
WITH {_toc_records_sql_cte()},
g AS (
  SELECT *,
         sum(CASE WHEN kind = 'title' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM r
),
sections AS (
  SELECT doc_id, seg, min(seq) AS ord,
         max(CASE WHEN kind = 'title' THEN content END) AS name,
         max(CASE WHEN kind = 'title' THEN page END) AS page,
         string_agg(CASE WHEN kind = 'text' THEN content END,
                    chr(10) || chr(10) ORDER BY seq) AS body
  FROM g GROUP BY doc_id, seg
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1)::INTEGER
         AS chunk_index,
       name || chr(10) || {_py_strip_sql('body')} AS text,
       name AS heading,
       page::INTEGER AS page,
       length(name || chr(10) || {_py_strip_sql('body')})::BIGINT AS chunk_size
FROM sections
WHERE body IS NOT NULL AND length({_py_strip_sql('body')}) > 0
"""


# ---------------------------------------------------------------------------
# K1 hybrid chunker — real kernel vs CASE-expressible greedy-merge oracle
# ---------------------------------------------------------------------------
#
# Restricted class making the DEFAULT chunker's token-budget merge
# relational: unique level-1 titles, exactly <= 3 text elements per
# heading run (TITLE_EVERY=4), VARIABLE group sizes (4 + i % 7 words) so
# the greedy fill lands on both sides of the budget, and a budget low
# enough (24) that merge decisions differ per run yet high enough that
# the split path never fires (piece capacity is floored at 32 body
# tokens > any group's token count — golden case G4). Greedy fill over
# <= 3 items is a closed-form CASE:
#   b12  = ctx+t1+t2 <= B          → e1,e2 merge
#   b123 = b12 and ctx+t1+t2+t3 <= B → e3 joins them
#   b23  = !b12 and ctx+t2+t3 <= B → e2,e3 merge
# Token counts use the engine tokenizer's regex (\w+ | single
# non-space-non-word) verbatim in SQL. Split/floor quirks stay pinned
# by the golden cases + the spark-equality suite.

HYBRID_FLAT_BUDGET = 24
_GLEN_PARTIAL = [0, 4, 9, 15, 22, 30, 39]  # prefix sums of 4+(i%7), period 49


def _hybrid_records_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    partial = ",".join(str(v) for v in _GLEN_PARTIAL)
    start = f"(49 * (i div 7) + element_at(array({partial}), (i % 7) + 1))"
    glen = "(4 + i % 7)"
    return _words(spark, sf_dir).selectExpr(
        "doc_id",
        f"""
        transform(
          filter(sequence(0, cast(size(ws) / 4 as int) + 1),
                 i -> {start} < size(ws)),
          i -> named_struct(
            'seq', i,
            'kind', case when i % {TITLE_EVERY} = 0 then 'title' else 'text' end,
            'content', case when i % {TITLE_EVERY} = 0
                then concat('H', cast(i as string), ' ',
                            concat_ws(' ', slice(ws, {start} + 1, {glen})))
                else concat_ws(' ', slice(ws, {start} + 1, {glen})) end,
            'page', cast(i div {PAGE_EVERY} as int) + 1))
        as recs
        """,
    )


def hybrid_flat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rows(doc_id, recs):
        records = _to_kernel_records(recs)
        chunks = assemble_chunks(
            str(doc_id), hybrid_chunks(records, budget=HYBRID_FLAT_BUDGET), "hybrid"
        )
        return [
            dict(
                ch,
                doc_id=doc_id,
                heading=(ch["headings"] or [None])[0],
                pages=_pages_json(ch["pages"]),
            )
            for ch in chunks
        ]

    return map_rows(
        _hybrid_records_spark(spark, sf_dir),
        rows,
        TOC_FLAT_DDL.replace("page int", "pages string"),
        "doc_id",
        "recs",
    )


def _hybrid_flat_sql(budget: int = HYBRID_FLAT_BUDGET) -> str:
    partial = ",".join(str(v) for v in _GLEN_PARTIAL)
    # The engine tokenizer: \w+ or a single non-word-non-space char.
    # RE2's \w is ASCII-only, so the oracle spells out the UNICODE
    # classes Python's re \w resolves to (letters, numbers, underscore;
    # round-5 edge fix — the ASCII form under-counted 'héllo' etc. and
    # skewed merge decisions on non-ASCII corpora). Combining marks
    # (Mn) sit outside \p{L}\p{N} in BOTH engines, so decomposed
    # accents tokenize identically too.
    # RE2's \s is ASCII-only (and excludes \x0b); Python's \s is the
    # 29-char unicode whitespace set — spelled out so the negated punct
    # class matches Python's re exactly (BMP-swept in the round-5
    # review: NBSP/VT/NEL/Zs all agree now)
    py_ws = (
        "\\t\\n\\x0b\\f\\r\\x1c-\\x1f \\x85\\xa0\\x{{1680}}"
        "\\x{{2000}}-\\x{{200a}}\\x{{2028}}\\x{{2029}}\\x{{202f}}"
        "\\x{{205f}}\\x{{3000}}"
    )
    tok = (
        "len(regexp_extract_all({x},"
        " '[\\p{{L}}\\p{{N}}_]+|[^\\p{{L}}\\p{{N}}_" + py_ws + "]'))"
    )
    t_title = tok.format(x="title")
    t = lambda k: tok.format(x=f"b{k}")  # noqa: E731
    pages_json = (
        "'[' || array_to_string(list_transform(list_sort(list_distinct({ps})),"
        " x -> x::VARCHAR), ',') || ']'"
    )
    return f"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array({' || chr(32) || '.join(["trim(text, ' ')"] * REPLICAS)}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx0 AS (SELECT doc_id, ws, unnest(range(0, CAST(len(ws) / 4 AS INTEGER) + 2)) AS i FROM w),
idx AS (
  SELECT doc_id, ws, i,
         (49 * (i // 7) + ([{partial}])[(i % 7) + 1]) AS st,
         (4 + i % 7) AS gl
  FROM idx0
  WHERE (49 * (i // 7) + ([{partial}])[(i % 7) + 1]) < len(ws)
),
r AS (
  SELECT doc_id, i AS seq,
    CASE WHEN i % {TITLE_EVERY} = 0 THEN 'title' ELSE 'text' END AS kind,
    CASE WHEN i % {TITLE_EVERY} = 0
      THEN 'H' || i || ' ' || array_to_string(ws[st + 1 : st + gl], ' ')
      ELSE array_to_string(ws[st + 1 : st + gl], ' ') END AS content,
    (i // {PAGE_EVERY}) + 1 AS page
  FROM idx
),
g AS (
  SELECT *, sum(CASE WHEN kind = 'title' THEN 1 ELSE 0 END)
         OVER (PARTITION BY doc_id ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM r
),
runs AS (
  SELECT doc_id, seg, min(seq) AS ord,
    max(CASE WHEN kind = 'title' THEN content END) AS title,
    min(CASE WHEN kind = 'title' THEN page END) AS tpage,
    max(CASE WHEN kind = 'text' AND rn = 1 THEN content END) AS b1,
    max(CASE WHEN kind = 'text' AND rn = 2 THEN content END) AS b2,
    max(CASE WHEN kind = 'text' AND rn = 3 THEN content END) AS b3,
    max(CASE WHEN kind = 'text' AND rn = 1 THEN page END) AS p1,
    max(CASE WHEN kind = 'text' AND rn = 2 THEN page END) AS p2,
    max(CASE WHEN kind = 'text' AND rn = 3 THEN page END) AS p3
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, seg, kind ORDER BY seq) AS rn FROM g)
  GROUP BY doc_id, seg
),
dec AS (
  SELECT *,
    {t_title} AS c,
    coalesce({t(1)}, 0) AS t1, coalesce({t(2)}, 0) AS t2, coalesce({t(3)}, 0) AS t3,
    (b2 IS NOT NULL AND {t_title} + {t(1)} + {t(2)} <= {budget}) AS m12
  FROM runs WHERE b1 IS NOT NULL
),
dec2 AS (
  SELECT *,
    (b3 IS NOT NULL AND m12 AND c + t1 + t2 + t3 <= {budget}) AS m123,
    (b3 IS NOT NULL AND NOT m12 AND c + t2 + t3 <= {budget}) AS m23
  FROM dec
),
slots AS (
  -- slot 1: e1 (+e2 if m12) (+e3 if m123)
  SELECT doc_id, ord, 1 AS slot,
    title || chr(10) || b1
      || CASE WHEN m12 THEN chr(10) || b2 ELSE '' END
      || CASE WHEN m123 THEN chr(10) || b3 ELSE '' END AS text,
    title AS heading,
    {pages_json.format(ps="CASE WHEN m123 THEN [p1, p2, p3] WHEN m12 THEN [p1, p2] ELSE [p1] END")} AS pages
  FROM dec2
  UNION ALL
  -- slot 2: (k>=2, !m12): e2 (+e3 if m23); (k=3, m12, !m123): e3
  SELECT doc_id, ord, 2 AS slot,
    title || chr(10) ||
      CASE WHEN NOT m12 THEN b2 || CASE WHEN m23 THEN chr(10) || b3 ELSE '' END
           ELSE b3 END AS text,
    title AS heading,
    {pages_json.format(ps="CASE WHEN NOT m12 AND m23 THEN [p2, p3] WHEN NOT m12 THEN [p2] ELSE [p3] END")} AS pages
  FROM dec2
  WHERE (b2 IS NOT NULL AND NOT m12) OR (b3 IS NOT NULL AND m12 AND NOT m123)
  UNION ALL
  -- slot 3: k=3, !m12, !m23: e3 alone
  SELECT doc_id, ord, 3 AS slot,
    title || chr(10) || b3 AS text, title AS heading,
    {pages_json.format(ps="[p3]")} AS pages
  FROM dec2 WHERE b3 IS NOT NULL AND NOT m12 AND NOT m23
)
SELECT doc_id,
  (row_number() OVER (PARTITION BY doc_id ORDER BY ord, slot) - 1)::INTEGER AS chunk_index,
  text, heading, pages, length(text)::BIGINT AS chunk_size
FROM slots
"""


HYBRID_FLAT_SQL = _hybrid_flat_sql()


# ---------------------------------------------------------------------------
# O1 HTML main-content extraction — real scanner vs templated oracle
# ---------------------------------------------------------------------------
#
# The scanner itself (tag tokenizer + block state machine) cannot be
# reproduced in SQL — but its OBSERVABLE CONTRACT on templated markup
# can: build per-doc HTML from the word groups with a fixed fragment
# template per index class, run the REAL `extract_html_blocks` on
# Spark, and have DuckDB compute the expected block records straight
# from the group arithmetic plus the engine's documented rules
# (nav dropped; <p> kept iff >= MIN_TEXT_CHARS; link-wrapped <p>
# dropped by link density; <h2> kept at any length; <img> -> media
# record in order; single-row table -> 'c1 | c2'). Fragment classes by
# i % 5: 0 = nav boilerplate, 1 = paragraph, 2 = heading, 3 = inline
# image, 4 = two-cell table; i % 10 == 6 upgrades the paragraph to a
# link-wrapped one (density-dropped — 'see ' prefix keeps density
# len(g)/(4+len(g)) > 1/3 for any non-trivial group).

HTML_FLAT_DDL = (
    "doc_id bigint, block_index int, kind string, text string, media_ref string"
)


def _html_fragment_expr(start: str, glen: str) -> str:
    grp = f"concat_ws(' ', slice(ws, {start} + 1, {glen}))"
    return f"""
      case
        when i % 5 = 0 then concat('<nav><ul><li><a href="/x">', {grp}, '</a></li></ul></nav>')
        when i % 10 = 6 then concat('<p>see <a href="/y">', {grp}, '</a></p>')
        when i % 5 = 1 then concat('<p>', {grp}, '</p>')
        when i % 5 = 2 then concat('<h2>', {grp}, '</h2>')
        when i % 5 = 3 then concat('<img src="m://', cast(doc_id as string), '/', cast(i as string), '.png">')
        else concat('<table><tr><td>', {grp}, '</td><td>tail cell</td></tr></table>')
      end
    """


def html_flat_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = f"(i * {GROUP_WORDS})"
    html_df = _words(spark, sf_dir).selectExpr(
        "doc_id",
        f"""
        concat_ws('', transform(
          if(size(ws) > 0,
             sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1),
             array()),
          i -> {_html_fragment_expr(start, str(GROUP_WORDS))})) as html
        """,
    )

    def rows(doc_id, html):
        return [
            dict(blk, doc_id=doc_id, block_index=j)
            for j, blk in enumerate(extract_html_blocks(html or ""))
        ]

    return map_rows(html_df, rows, HTML_FLAT_DDL, "doc_id", "html")


def _html_flat_sql(min_text_chars: int = 25) -> str:
    # the kernel's scanner normalizes block text with Python whitespace
    # semantics (_norm == ' '.join(text.split())) — NBSP/NEL inside a
    # ws token collapse to plain spaces; the oracle mirrors with
    # _py_norm_sql, and the MIN_TEXT_CHARS gate measures the SAME
    # normalized string the kernel measures (round-5 edge fix)
    raw = f"array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')"
    grp = _py_norm_sql(raw)
    rep = " || ' ' || ".join(["trim(text, ' ')"] * REPLICAS)
    return f"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array({rep}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w),
expected AS (
  SELECT doc_id, i,
    CASE
      WHEN i % 5 = 0 THEN NULL                           -- nav: boilerplate
      WHEN i % 10 = 6 THEN NULL                          -- link-density drop
      WHEN i % 5 = 1 AND length({grp}) >= {min_text_chars} THEN 'text'
      WHEN i % 5 = 1 THEN NULL                           -- short text drop
      WHEN i % 5 = 2 THEN 'title'
      WHEN i % 5 = 3 THEN 'media'
      ELSE 'table'
    END AS kind,
    CASE
      WHEN i % 5 = 1 THEN {grp}
      WHEN i % 5 = 2 THEN {grp}
      WHEN i % 5 = 3 THEN ''
      WHEN i % 5 = 4 THEN {grp} || ' | tail cell'
    END AS text,
    CASE WHEN i % 5 = 3
         THEN 'm://' || doc_id || '/' || i || '.png' ELSE '' END AS media_ref
  FROM idx
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1)::INTEGER
         AS block_index,
       kind, text, media_ref
FROM expected WHERE kind IS NOT NULL
"""


HTML_FLAT_SQL = _html_flat_sql()


# ---------------------------------------------------------------------------
# O3 mixed-kind fold — real span->record->fold kernels vs relational oracle
# ---------------------------------------------------------------------------
#
# Round-2 verdict gap: the flat family exercised only title/text records,
# leaving O3's list/table/media branches and the fold's type-merge matrix
# (layout_processor.py:104-129, 154-167) differential-only. This class
# feeds REAL SPANS (the external input contract shape) through the REAL
# `chunk_document(..., "mineru")` kernel — span_to_records (O3 dispatch +
# unknown-kind drop, S4) then the full fold — and DuckDB re-derives the
# output from the same index arithmetic. Slot map (i % 16; titles at
# i % 4 == 0 are unique, so O4 suppression never fires here — that branch
# is `mineru_flat_chunks`' job):
#
#   1 text, 2 UNKNOWN(dropped), 3 text   -> text-text merge ACROSS a drop
#   5 text, 6 list, 7 list              -> text->list + list->list merge
#   9 table, 10 table, 11 media         -> table-table merge, media break
#   13 media, 14 media, 15 list         -> adjacent media never merge; fresh list run
#
# offset = i*300 puts page boundaries (offset//1000+1) out of phase with
# titles, so merged runs cross pages -> "a - b" range labels exercised.

MIXED_FLAT_DDL = (
    "doc_id bigint, chunk_index int, kind string, text string, "
    "hierarchy string, pages string, media_ref string, chunk_size bigint"
)


def _mixed_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = f"concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS}))"
    return _words(spark, sf_dir).selectExpr(
        "doc_id",
        f"""
        transform(if(size(ws) > 0, sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1), array()),
          i -> named_struct(
            'kind', case when i % 4 = 0 then 'title'
                         when i % 16 in (1, 3, 5) then 'text'
                         when i % 16 in (6, 7, 15) then 'list'
                         when i % 16 in (9, 10) then 'table'
                         when i % 16 in (11, 13, 14) then 'media'
                         else 'unknown' end,
            'text', case when i % 4 = 0 then concat('H', cast(i as string), ' ', {grp})
                         when i % 16 in (9, 10) then concat('<table>', {grp}, '</table>')
                         when i % 16 in (11, 13, 14) then ''
                         else {grp} end,
            'media_ref', case
                when i % 16 in (11, 13, 14)
                  then concat('m://', cast(doc_id as string), '/', cast(i as string))
                when i % 16 in (9, 10)
                  then concat('t://', cast(doc_id as string), '/', cast(i as string))
                else '' end,
            'offset', cast(i * 300 as int)))
        as spans
        """,
    )


def mineru_flat_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rows(doc_id, spans):
        chunks = chunk_document(str(doc_id), spans or [], "mineru")
        return [_mineru_flat_row(doc_id, ch) for ch in chunks]

    return map_rows(
        _mixed_spans_spark(spark, sf_dir), rows, MIXED_FLAT_DDL, "doc_id", "spans"
    )


def _mixed_flat_sql() -> str:
    rep = " || ' ' || ".join(["trim(text, ' ')"] * REPLICAS)
    grp = (
        f"array_to_string(ws[i * {GROUP_WORDS} + 1 :"
        f" i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')"
    )
    return f"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array({rep}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w),
-- the span->record map (O3): unknown kinds dropped, others 1:1; the
-- kept stream below is what format_records sees
r AS (
  SELECT doc_id, i AS seq,
    CASE WHEN i % 4 = 0 THEN 'title'
         WHEN i % 16 IN (1, 3, 5) THEN 'text'
         WHEN i % 16 IN (6, 7, 15) THEN 'list'
         WHEN i % 16 IN (9, 10) THEN 'table'
         ELSE 'media' END AS kind,
    CASE WHEN i % 4 = 0 THEN 'H' || i || ' ' || {grp}
         WHEN i % 16 IN (9, 10) THEN '<table>' || {grp} || '</table>'
         WHEN i % 16 IN (11, 13, 14) THEN ''
         ELSE {grp} END AS content,
    CASE WHEN i % 16 IN (11, 13, 14) THEN 'm://' || doc_id || '/' || i
         WHEN i % 16 IN (9, 10) THEN 't://' || doc_id || '/' || i
         ELSE '' END AS media_ref,
    ((i * 300) // 1000) + 1 AS page
  FROM idx WHERE i % 16 != 2
),
-- hierarchy: unique titles -> stack == [last title] (O5 on this class)
h AS (
  SELECT *,
    last_value(CASE WHEN kind = 'title' THEN content END IGNORE NULLS)
      OVER (PARTITION BY doc_id ORDER BY seq
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hier,
    lag(kind) OVER (PARTITION BY doc_id ORDER BY seq) AS prev_kind
  FROM r
),
-- O6 merge matrix: same-kind (except media) or text->list continues a
-- run; titles and media always break (media also breaks what follows)
k AS (
  SELECT *,
    (NOT coalesce((kind = prev_kind AND kind != 'media')
                  OR (prev_kind = 'text' AND kind = 'list'), FALSE))::INTEGER
      AS new_seg
  FROM h WHERE kind != 'title'
),
segs AS (
  SELECT *, sum(new_seg) OVER (PARTITION BY doc_id ORDER BY seq
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
  FROM k
),
agg AS (
  SELECT doc_id, seg, min(seq) AS ord,
    arg_min(kind, seq) AS kind,
    arg_min(media_ref, seq) AS media_ref,
    coalesce(arg_min(hier, seq), '') AS hierarchy,
    string_agg(content, chr(10) ORDER BY seq) AS body,
    min(page) AS p_first, max(page) AS p_last
  FROM segs GROUP BY doc_id, seg
),
chunks AS (
  SELECT doc_id, ord, kind, hierarchy, media_ref,
    CASE WHEN kind = 'media' THEN ''
         ELSE doc_id::VARCHAR || ' >> ' ||
              trim(hierarchy || chr(10) || body, ' ' || chr(10)) END AS text,
    CASE WHEN kind = 'media' THEN '[' || p_first || ']'
         ELSE '[' || array_to_string(
                list_transform(range(p_first, p_last + 1), x -> x::VARCHAR), ',')
              || ']' END AS pages
  FROM agg
  WHERE kind = 'media'
     OR length(trim(hierarchy || chr(10) || body, ' ' || chr(10))) > 0
)
SELECT doc_id,
  (row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1)::INTEGER
    AS chunk_index,
  kind, text, hierarchy, pages, media_ref,
  length(text)::BIGINT AS chunk_size
FROM chunks
"""


MIXED_FLAT_SQL = _mixed_flat_sql()


# ---------------------------------------------------------------------------
# aggregate stats over the mixed flat class — pure SQL in both engines
# (round-2 verdict item 7: chunk_stats_per_doc / span_kind_histogram had
# rows-only checks over the RNG corpus; on the flat class both are
# value-exact: Spark aggregates the REAL kernel output, DuckDB aggregates
# its independent relational re-derivation)
# ---------------------------------------------------------------------------


def mixed_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = mineru_flat_mixed(spark, sf_dir)
    return (
        df.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("kind") == "media").cast("long")).alias("n_media"),
            F.sum("chunk_size").alias("total_chars"),
            F.max("chunk_size").alias("max_chunk"),
        )
        .selectExpr(
            "doc_id",
            "cast(n_chunks as bigint) n_chunks",
            "cast(n_media as bigint) n_media",
            "cast(total_chars as bigint) total_chars",
            "cast(max_chunk as bigint) max_chunk",
        )
    )


MIXED_CHUNK_STATS_SQL = f"""
SELECT doc_id,
       count(*)::BIGINT AS n_chunks,
       sum((kind = 'media')::INTEGER)::BIGINT AS n_media,
       sum(chunk_size)::BIGINT AS total_chars,
       max(chunk_size)::BIGINT AS max_chunk
FROM ({_mixed_flat_sql()})
GROUP BY doc_id
"""


def mixed_record_kind_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-kind histogram AFTER S4 validation: Spark runs the real
    ``extract_records`` (which drops unknown kinds), DuckDB re-derives
    the kept stream by index arithmetic."""
    from pyspark.sql import functions as F

    recs = map_rows(
        _mixed_spans_spark(spark, sf_dir),
        lambda spans: extract_records(spans or []),
        "kind string",
        "spans",
    )
    return (
        recs.groupBy("kind")
        .agg(F.count("*").alias("n_records"))
        .selectExpr("kind", "cast(n_records as bigint) n_records")
    )


def _mixed_kind_histogram_sql() -> str:
    rep = " || ' ' || ".join(["trim(text, ' ')"] * REPLICAS)
    return f"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array({rep}, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w)
SELECT CASE WHEN i % 4 = 0 THEN 'title'
            WHEN i % 16 IN (1, 3, 5) THEN 'text'
            WHEN i % 16 IN (6, 7, 15) THEN 'list'
            WHEN i % 16 IN (9, 10) THEN 'table'
            ELSE 'media' END AS kind,
       count(*)::BIGINT AS n_records
FROM idx WHERE i % 16 != 2
GROUP BY 1
"""


MIXED_KIND_HISTOGRAM_SQL = _mixed_kind_histogram_sql()


# ---------------------------------------------------------------------------
# multimodal geometry/schedule — real kernels vs md5-arithmetic oracle
# ---------------------------------------------------------------------------
#
# The media decode itself is an environment-blocked stub, but everything
# AROUND it — catalog typing, the deterministic fake-decode derivation,
# aspect-fit resize geometry, the frame-sampling schedule — is pure
# md5 + integer/double arithmetic that DuckDB can re-derive. These two
# queries run the REAL ops (media_catalog → resize_media /
# sample_frames, one map_rows stage each) over a media-only flat span
# class (ref = 'm://{doc}/{i}.{png|mp4|wav}' by i % 3) and verify
# value-exactly. Only the raw pixel/sample decode remains rows-only.

MEDIA_RESIZE_FLAT_DDL = (
    "doc_id string, media_ref string, media_kind string, width int, "
    "height int, resized_w int, resized_h int, scale_milli bigint"
)

MEDIA_FRAMES_FLAT_DDL = (
    "doc_id string, media_ref string, frame_idx int, ts_ms bigint"
)

_EXTS = ("png", "mp4", "wav")


def _media_spans_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ext = (
        "element_at(array('png','mp4','wav'), cast(i % 3 as int) + 1)"
    )
    return _words(spark, sf_dir, replicas=1).selectExpr(
        "cast(doc_id as string) as doc_id",
        f"""
        transform(if(size(ws) > 0, sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1), array()),
          i -> named_struct(
            'kind', 'media',
            'text', '',
            'media_ref', concat('m://', cast(doc_id as string), '/',
                                cast(i as string), '.', {ext}),
            'offset', cast(i as int)))
        as spans
        """,
    )


_MEDIA_REFS_SQL = f"""
w AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w),
m AS (
  SELECT doc_id,
         'm://' || doc_id || '/' || i || '.' ||
           (['png','mp4','wav'])[CAST(i % 3 AS INTEGER) + 1] AS media_ref,
         CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image'
              WHEN 1 THEN 'video' ELSE 'audio' END AS media_kind,
         md5(repeat(md5('m://' || doc_id || '/' || i || '.' ||
           (['png','mp4','wav'])[CAST(i % 3 AS INTEGER) + 1]), 4)) AS h
  FROM idx
)"""


def media_resize_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import media_catalog, resize_media

    spans_df = _media_spans_spark(spark, sf_dir)
    return resize_media(media_catalog(spans_df)).select(
        "doc_id", "media_ref", "media_kind", "width", "height",
        "resized_w", "resized_h", "scale_milli",
    )


MEDIA_RESIZE_FLAT_SQL = f"""
WITH {_MEDIA_REFS_SQL},
dims AS (
  SELECT doc_id, media_ref, media_kind,
         64 + ('0x' || substr(h, 1, 2))::INTEGER * 4 AS width,
         64 + ('0x' || substr(h, 3, 2))::INTEGER * 4 AS height
  FROM m
),
scaled AS (
  SELECT *, least(256.0 / width, 256.0 / height, 1.0) AS scale FROM dims
)
SELECT doc_id::VARCHAR AS doc_id, media_ref, media_kind,
       width::INTEGER AS width, height::INTEGER AS height,
       CAST(floor(width * scale) AS INTEGER) AS resized_w,
       CAST(floor(height * scale) AS INTEGER) AS resized_h,
       CAST(floor(scale * 1000) AS BIGINT) AS scale_milli
FROM scaled
"""


def media_frames_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import media_catalog, sample_frames

    spans_df = _media_spans_spark(spark, sf_dir)
    return sample_frames(media_catalog(spans_df)).select(
        "doc_id", "media_ref", "frame_idx", "ts_ms"
    )


MEDIA_FRAMES_FLAT_SQL = f"""
WITH {_MEDIA_REFS_SQL},
vids AS (
  SELECT doc_id, media_ref,
         1000 + ('0x' || substr(h, 1, 4))::INTEGER * 2 AS duration_ms
  FROM m WHERE media_kind = 'video'
)
SELECT doc_id::VARCHAR AS doc_id, media_ref,
       CAST(ts // 1000 AS INTEGER) AS frame_idx,
       ts::BIGINT AS ts_ms
FROM (SELECT doc_id, media_ref, unnest(range(0, duration_ms, 1000)) AS ts
      FROM vids)
"""


# ---------------------------------------------------------------------------
# embedding attachment over the flat class — integer-micro checksums
# ---------------------------------------------------------------------------
#
# attach_embeddings runs the real Arrow-batched attach stage (client
# batching, retry policy wiring, tokenizer truncation — identity here,
# flat texts are far under the 512-token limit) with the deterministic
# md5 fake embedder; the oracle re-derives each vector from md5(text)
# with the identical double arithmetic and compares integer-micro
# checksums (float-array columns cannot ride the driver canonicalizer).

EMBEDDINGS_FLAT_SQL = f"""
SELECT doc_id, chunk_index, 16 AS dim,
       list_sum(list_transform(raw,
         x -> floor(x / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)
                    * 1000000.0)))::BIGINT AS emb_micro_sum
FROM (
  SELECT doc_id, chunk_index, raw,
         sqrt(list_sum(list_transform(raw, x -> x * x))) AS nrm
  FROM (
    SELECT doc_id, chunk_index,
           list_transform(range(1, 17),
             i -> (('0x' || substr(md5(text), 2 * i - 1, 2))::INTEGER - 128)
                  / 128.0) AS raw
    FROM ({HIERARCHICAL_FLAT_SQL}) chunks
  )
)
"""


def media_features_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real catalog → feature-extraction kernel over the flat media
    class; features reduced to an integer-micro checksum (float arrays
    cannot ride the driver canonicalizer)."""
    from .multimodal import extract_media_features, media_catalog

    spans_df = _media_spans_spark(spark, sf_dir)
    feats = extract_media_features(media_catalog(spans_df), fake_decode=True)
    return feats.selectExpr(
        "doc_id",
        "media_ref",
        "media_kind",
        "width",
        "height",
        "cast(n_bytes as bigint) as n_bytes",
        "cast(size(feature) as int) as dim",
        "aggregate(transform(feature,"
        " x -> cast(round(cast(x as double) * 1000000) as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v) as feat_micro_sum",
    )


MEDIA_FEATURES_FLAT_SQL = f"""
WITH {_MEDIA_REFS_SQL}
SELECT doc_id::VARCHAR AS doc_id, media_ref, media_kind,
       64 + ('0x' || substr(h, 1, 2))::INTEGER * 4 AS width,
       64 + ('0x' || substr(h, 3, 2))::INTEGER * 4 AS height,
       128::BIGINT AS n_bytes,
       16 AS dim,
       list_sum(list_transform(range(1, 17),
         i -> floor((('0x' || substr(h, 2 * ((i - 1) % 16) + 1, 2))::INTEGER - 128)
                    / 128.0 * 1000000.0)))::BIGINT AS feat_micro_sum
FROM m
"""


# ---------------------------------------------------------------------------
# pipeline → dedup composition: chunk-level exact dedup over flat chunks
# ---------------------------------------------------------------------------
#
# The two halves of the engine composed under one oracle: the REAL
# extraction+chunking kernel produces the chunk table, then the exact-
# dedup machinery (md5 fingerprint → group → keeper) runs over it.
# The mixed flat class exercises both verdict branches: media chunks
# share the empty-text fingerprint (one corpus-wide boilerplate group,
# is_dup = true beyond the keeper) while text/list/table chunks carry
# hierarchy-prefixed unique texts (is_dup = false).


def chunk_exact_dedup_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # window over fp, not groupBy + self-join: the join shape would
    # evaluate the extraction kernel subtree twice (once per side). One
    # shuffle on fp, one kernel pass. Skew note: a degenerate hot
    # fingerprint (here: the corpus-wide empty-media group) lands in one
    # window partition — acceptable for a verify query; a production
    # chunk-dedup pass pre-filters empty texts or salts the hot fp.
    chunks = mineru_flat_mixed(spark, sf_dir).selectExpr(
        "doc_id", "chunk_index", "md5(text) as fp"
    )
    return chunks.selectExpr(
        "doc_id",
        "chunk_index",
        "fp",
        "min(named_struct('doc_id', doc_id, 'chunk_index', chunk_index))"
        " over (partition by fp) as k",
        "cast(count(*) over (partition by fp) as bigint) as group_size",
    ).selectExpr(
        "doc_id",
        "chunk_index",
        "fp",
        "k.doc_id as keeper_doc",
        "k.chunk_index as keeper_idx",
        "group_size",
        "cast(not (doc_id = k.doc_id and chunk_index = k.chunk_index)"
        " as boolean) as is_dup",
    )


CHUNK_EXACT_DEDUP_FLAT_SQL = f"""
WITH chunks AS (SELECT doc_id, chunk_index, md5(text) AS fp
                FROM ({_mixed_flat_sql()})),
keepers AS (
  SELECT fp,
         min(doc_id * 1000000 + chunk_index) AS kkey,
         count(*) AS group_size
  FROM chunks GROUP BY fp
)
SELECT c.doc_id, c.chunk_index, c.fp,
       (k.kkey // 1000000)::BIGINT AS keeper_doc,
       (k.kkey % 1000000)::INTEGER AS keeper_idx,
       k.group_size::BIGINT AS group_size,
       NOT (c.doc_id = k.kkey // 1000000
            AND c.chunk_index = k.kkey % 1000000) AS is_dup
FROM chunks c JOIN keepers k USING (fp)
"""


# ---------------------------------------------------------------------------
# O2 reading-order sort — real kernel vs arithmetic oracle
# ---------------------------------------------------------------------------
#
# The span contract delivers offset order, so O2 is normally folded into
# the offset convention — this query proves the operator itself: spans
# are emitted in a SCRAMBLED deterministic interleave (ordered by
# (i % 3, i)), the real span_to_records -> sort_reading_order kernel
# restores reading order from the synthesized bbox (page, top, left),
# and DuckDB re-derives the restored sequence by arithmetic (offset =
# i*300 is monotone in page-then-top, tops distinct within a page).


def reading_order_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    grp = f"concat_ws(' ', slice(ws, i * {GROUP_WORDS} + 1, {GROUP_WORDS}))"
    spans_df = _words(spark, sf_dir, replicas=1).selectExpr(
        "cast(doc_id as string) as doc_id",
        # scrambled interleave: all i % 3 == 0 groups first, then 1, 2
        f"""
        transform(
          array_sort(
            transform(if(size(ws) > 0, sequence(0, cast(ceil(size(ws) / {GROUP_WORDS}.0) as int) - 1), array()),
                      i -> named_struct('o', cast(i % 3 as int), 'i', i)),
            (a, b) -> case when a.o < b.o or (a.o = b.o and a.i < b.i) then -1
                           when a.o = b.o and a.i = b.i then 0 else 1 end),
          s -> named_struct(
            'kind', 'text',
            'text', concat('G', cast(s.i as string), ' ',
                           {grp.replace('i *', 's.i *').replace('(ws, i', '(ws, s.i')}),
            'media_ref', '',
            'offset', cast(s.i * 300 as int)))
        as spans
        """,
    )

    def rows(doc_id, spans):
        recs = sort_reading_order(extract_records(spans or []))
        return [dict(r, doc_id=doc_id, position=i) for i, r in enumerate(recs)]

    return map_rows(
        spans_df,
        rows,
        "doc_id string, position int, offset int, page int, content string",
        "doc_id",
        "spans",
    )


READING_ORDER_FLAT_SQL = f"""
WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text, ' '), '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '' AND NOT regexp_matches(x, '{_EXOTIC_WS_RE2}')) AS ws FROM documents),
idx AS (SELECT doc_id, ws, unnest(range(0, CAST(ceil(len(ws) / {GROUP_WORDS}.0) AS INTEGER))) AS i FROM w)
SELECT doc_id::VARCHAR AS doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1)::INTEGER
         AS position,
       (i * 300)::INTEGER AS offset,
       ((i * 300) // 1000 + 1)::INTEGER AS page,
       'G' || i || ' ' ||
         array_to_string(ws[i * {GROUP_WORDS} + 1 : i * {GROUP_WORDS} + {GROUP_WORDS}], ' ')
         AS content
FROM idx
"""
