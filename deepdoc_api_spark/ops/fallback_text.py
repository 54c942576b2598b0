"""K5 fallback window chunker over raw document text — DuckDB-oracle'd.

The reference's ``FallbackDocumentProcessor`` reads a text file raw and
window-chunks it (``/root/reference/app/processing.py:1959-1962`` +
``:2153-2203``). This op applies exactly that chunker to
``documents.text`` directly, making the flagship chunker family
externally checkable: the Spark side runs the *kernel*
(:func:`deepdoc_api_spark.kernels.chunkers.fallback_chunks`, the same
code the pipeline cascade uses), while the oracle re-derives the
identical windows in pure DuckDB SQL via a recursive CTE — a genuinely
independent re-implementation of the start/end/word-boundary/overlap
arithmetic, so a hash match certifies the K5 semantics, not just the
plumbing.

``documents.text`` rows are shorter than one window (≤ ~600 chars), so
the content is the text replicated ``REPLICAS`` times joined by single
spaces — long enough that every K5 rule fires (word-boundary break past
the midpoint, ``end - overlap`` stepping, first-chunk overlap 0).

Oracle contract: the text is ASCII (true of the driver's tables), so
Python ``str.strip()`` ≡ SQL ``trim`` over the six ASCII whitespace
characters and character offsets agree byte-for-byte (unicode
whitespace would diverge; documented limit).

Scale note: one row in → ~N/900 rows out, computed entirely inside one
``mapInArrow`` crossing with no shuffle — the scan partitioning is the
output partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

REPLICAS = 9

FALLBACK_WINDOW_DDL = (
    "doc_id bigint, chunk_index int, text string, "
    "chunk_size bigint, chunk_overlap int"
)


def fallback_window_chunks(
    spark: SparkSession, sf_dir: str, replicas: int = REPLICAS
) -> DataFrame:
    """K5 char-window chunks of the replicated document text."""
    n = spark.sparkContext.defaultParallelism * 2
    docs = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
        .select("doc_id", "text")
        .repartition(n, "doc_id")
    )

    # round 8: arrow-native wrapper (same shape as the flagship fused
    # kernel) — the K5 kernel itself is untouched; rows leave as a
    # directly-built RecordBatch instead of a pandas frame
    def run(batches):
        import pyarrow as pa

        from deepdoc_api_spark.job.arrow_decode import decode_column
        from deepdoc_api_spark.kernels.chunkers import fallback_chunks

        for rb in batches:
            ids = decode_column(rb.column(rb.schema.get_field_index("doc_id")))
            texts = decode_column(rb.column(rb.schema.get_field_index("text")))
            o_id: list = []
            o_idx: list = []
            o_txt: list = []
            o_sz: list = []
            o_ov: list = []
            for doc_id, text in zip(ids, texts):
                content = " ".join([text or ""] * replicas)
                for i, ch in enumerate(fallback_chunks(content)):
                    o_id.append(doc_id)
                    o_idx.append(i)
                    o_txt.append(ch["text"])
                    o_sz.append(len(ch["text"]))
                    o_ov.append(int(ch["chunk_overlap"]))
            if o_id:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(o_id, type=pa.int64()),
                        pa.array(o_idx, type=pa.int32()),
                        pa.array(o_txt, type=pa.string()),
                        pa.array(o_sz, type=pa.int64()),
                        pa.array(o_ov, type=pa.int32()),
                    ],
                    names=[
                        "doc_id", "chunk_index", "text",
                        "chunk_size", "chunk_overlap",
                    ],
                )

    return docs.mapInArrow(run, FALLBACK_WINDOW_DDL)


def fallback_window_chunks_sql(
    replicas: int = REPLICAS, chunk_size: int = 1000, overlap: int = 100
) -> str:
    """Recursive-CTE re-derivation of app/processing.py:2177-2203.

    Window math per iteration (0-based char offsets, mirroring Python):
    ``end = min(s + chunk_size, n)``; if ``end < n`` and the window's
    last space sits past the midpoint, ``end = space_idx + 1``;
    emit ``content[s:end].strip()``; step ``s = end`` when
    ``end - overlap <= s`` else ``end - overlap``.
    """
    half = chunk_size // 2
    # e (exclusive end) for the window starting at s:
    #   sp = 1-based position of the LAST space inside the cs-char
    #        window (strpos over the reversed window), so the space's
    #        0-based offset within the window is cs - sp
    e_expr = (
        f"CASE WHEN s + {chunk_size} < n AND sp > 0"
        f" AND ({chunk_size} - sp) > {half}"
        f" THEN s + ({chunk_size} - sp) + 1"
        f" ELSE s + least({chunk_size}, n - s) END"
    )
    sp_expr = (
        f"strpos(reverse(substr(c, s + 1, least({chunk_size}, n - s))), ' ')"
    )
    return f"""
WITH RECURSIVE d AS (
  -- exact twin of Python's ' '.join([text]*{replicas}) — text || 8×(' '||text)
  -- (an rtrim(repeat(...)) formulation diverges when text itself has
  -- trailing whitespace: join keeps it, rtrim strips it)
  SELECT doc_id, (text || repeat(' ' || text, {replicas - 1})) AS c FROM documents
),
dn AS (SELECT doc_id, c, length(c) AS n FROM d),
w AS (
  SELECT doc_id, c, n, 0 AS s FROM dn WHERE n > 0
  UNION ALL
  SELECT doc_id, c, n,
         CASE WHEN e - {overlap} <= s THEN e ELSE e - {overlap} END AS s
  FROM (
    SELECT doc_id, c, n, s, {e_expr} AS e
    FROM (SELECT doc_id, c, n, s, {sp_expr} AS sp FROM w)
  )
  WHERE (CASE WHEN e - {overlap} <= s THEN e ELSE e - {overlap} END) < n
),
emit AS (
  -- Python str.strip() strips the FULL 29-char unicode whitespace set
  -- (incl. \x1c-\x1f, NEL, NBSP, Zs/Zl/Zp): a whitespace-only window
  -- must produce ZERO chunks in both engines (round-5 edge-corpus fix;
  -- trim(x, ' ') kept tab/newline windows alive oracle-side only)
  SELECT doc_id, s,
         trim(substr(c, s + 1, e - s),
              ' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)
              || chr(28) || chr(29) || chr(30) || chr(31) || chr(133)
              || chr(160) || chr(5760) || chr(8192) || chr(8193)
              || chr(8194) || chr(8195) || chr(8196) || chr(8197)
              || chr(8198) || chr(8199) || chr(8200) || chr(8201)
              || chr(8202) || chr(8232) || chr(8233) || chr(8239)
              || chr(8287) || chr(12288))
           AS txt
  FROM (
    SELECT doc_id, c, n, s, {e_expr} AS e
    FROM (SELECT doc_id, c, n, s, {sp_expr} AS sp FROM w)
  )
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1)::INTEGER
         AS chunk_index,
       txt AS text,
       length(txt)::BIGINT AS chunk_size,
       (CASE WHEN s > 0 THEN {overlap} ELSE 0 END)::INTEGER AS chunk_overlap
FROM emit WHERE txt <> ''
"""
