"""Engine schemas (Spark StructTypes + DDL strings).

Input contract (BASELINE.json ``input_hint``):

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

Output chunk schema maps the reference's ``ChunkResult``/
``ChunkMetadata`` Pydantic model (``/root/reference/app/models.py:19-39``)
onto typed columns; the bbox dict becomes a typed struct per
``app/processing.py:1313-1321`` (fixed keys).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

SPANS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

# bbox provenance (O9) — typed struct with the reference's fixed keys
# (app/processing.py:1313-1321: left/top/right/bottom + width/height/area)
BBOX_STRUCT = T.StructType(
    [
        T.StructField("left", T.DoubleType()),
        T.StructField("top", T.DoubleType()),
        T.StructField("right", T.DoubleType()),
        T.StructField("bottom", T.DoubleType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("area", T.DoubleType()),
    ]
)

BBOX_DDL = (
    "struct<left:double,top:double,right:double,bottom:double,"
    "width:double,height:double,area:double>"
)

# chunk output — ChunkResult/ChunkMetadata analogue (app/models.py:19-39)
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("chunk_index", T.IntegerType(), nullable=False),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("pages", T.ArrayType(T.IntegerType())),
        T.StructField("hierarchy", T.ArrayType(T.StringType())),
        T.StructField("headings", T.ArrayType(T.StringType())),
        T.StructField("chunker_type", T.StringType()),
        T.StructField("chunk_size", T.IntegerType()),
        T.StructField("chunk_overlap", T.IntegerType()),
        T.StructField("bbox", BBOX_STRUCT),
        T.StructField("extractor_used", T.StringType()),
    ]
)

CHUNK_DDL = (
    "chunk_id string, doc_id string, chunk_index int, kind string, "
    "text string, media_ref string, pages array<int>, "
    "hierarchy array<string>, headings array<string>, chunker_type string, "
    f"chunk_size int, chunk_overlap int, bbox {BBOX_DDL}, "
    "extractor_used string"
)

CHUNK_COLUMNS = [f.name for f in CHUNK_SCHEMA.fields]

# progress / checkpoint table (FIXTURES.md §3; Redis job record analogue,
# app/main.py:318-328, at partition granularity)
PROGRESS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), nullable=False),
        T.StructField("partition_id", T.IntegerType(), nullable=False),
        T.StructField("status", T.StringType()),
        T.StructField("docs", T.LongType()),
        T.StructField("chunks", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("input_snapshot", T.StringType()),
        T.StructField("ts", T.DoubleType()),
    ]
)

PROGRESS_DDL = (
    "run_id string, partition_id int, status string, docs bigint, "
    "chunks bigint, bytes bigint, wall_ms bigint, input_snapshot string, "
    "ts double"
)
