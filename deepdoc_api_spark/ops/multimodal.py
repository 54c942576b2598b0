"""Multimodal column handling: opaque binary media + typed metadata.

The engine treats image/audio/video as opaque ``binary`` columns with
typed metadata, flowing through the same span pipeline (media spans are
preserved inline by the extraction kernels). This module adds the
decode / feature-extract plumbing a training-data pipeline needs:

* :func:`media_catalog` — the media table derived from the span corpus
  (doc_id, media_ref, media_kind, payload, size), all Spark-side;
* :func:`extract_media_features` — feature extraction in one Arrow
  stage (:func:`~deepdoc_api_spark.job.pipeline.map_rows`). The actual
  pixel/sample decode REQUIRES codec libraries (Pillow/ffmpeg) that are
  NOT in this environment, so the decode step is STUBBED:
  :func:`decode_media` raises ``NotImplementedError`` unless
  ``fake=True``, in which case a deterministic fake decoder (seeded by
  the payload hash) produces stable dimensions/features. The Spark-side plumbing — schema,
  partitioning, UDF signature, Arrow batch shape — is real and tested;
  swapping in a real decoder changes only the body of
  :func:`decode_media`.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..job.pipeline import map_rows

MEDIA_KINDS = {
    "png": "image", "jpg": "image", "gif": "image",
    "mp4": "video", "wav": "audio",
}

FEATURE_DIM = 16

MEDIA_FEATURES_DDL = (
    "doc_id string, media_ref string, media_kind string, width int, "
    "height int, n_bytes bigint, feature array<float>"
)


def media_catalog(spans_df: DataFrame) -> DataFrame:
    """Media spans → typed media table with a deterministic opaque
    payload (stands in for bytes fetched from a blob store; at scale
    this column comes from the lake, not from generation)."""
    media = (
        spans_df.select(
            "doc_id", F.explode("spans").alias("s")
        )
        .filter(F.col("s.kind") == "media")
        .selectExpr(
            "doc_id",
            "s.media_ref as media_ref",
            "element_at(split(s.media_ref, '\\\\.'), -1) as ext",
        )
    )
    kind_case = (
        "case "
        + " ".join(
            f"when ext = '{e}' then '{k}'" for e, k in MEDIA_KINDS.items()
        )
        + " else 'unknown' end"
    )
    return media.selectExpr(
        "doc_id",
        "media_ref",
        f"{kind_case} as media_kind",
        # deterministic opaque payload: the ref's md5 repeated — a
        # stand-in blob with content-dependent bytes (md5, not sha1:
        # DuckDB lacks sha1, and md5 keeps every stub-derived value
        # re-derivable by the external oracle)
        "cast(repeat(md5(media_ref), 4) as binary) as payload",
    ).withColumn("n_bytes", F.length("payload").cast("long"))


def decode_media(payload: bytes, media_kind: str, fake: bool = False):
    """Decode a media payload to (width, height, feature_vector).

    STUB: real decoding needs Pillow / torchaudio / ffmpeg — not
    available in this environment. With ``fake=True`` a deterministic
    pseudo-decode derives stable values from the payload hash (keeps
    the distributed plumbing testable end-to-end); otherwise raises.
    """
    if not fake:
        raise NotImplementedError(
            "media decode requires codec libraries (Pillow/ffmpeg); "
            "install them and replace this stub"
        )
    h = hashlib.md5(payload or b"").digest()
    return 64 + h[0] * 4, 64 + h[1] * 4, _stub_feature(h)


def _stub_feature(h: bytes) -> list:
    """The stub feature vector of digest ``h`` — floor-micro, not
    round(…, 6): floor is identical in both engines, so the feature
    arithmetic is re-derivable by the external oracle (Python round()
    banker's-rounds)."""
    return [
        math.floor((h[i % len(h)] - 128) / 128.0 * 1000000.0) / 1000000.0
        for i in range(FEATURE_DIM)
    ]


def extract_media_features(
    media_df: DataFrame, fake_decode: bool = True
) -> DataFrame:
    """Feature extraction over the media table in one Arrow stage — one
    Python crossing per Arrow batch, never per row; the batch (N rows
    with a binary payload column) is what a real image decoder would
    receive.
    """

    def rows(doc_id, ref, kind, payload, n_bytes):
        w, hgt, feat = decode_media(payload or b"", kind, fake=fake_decode)
        return [
            {
                "doc_id": doc_id, "media_ref": ref, "media_kind": kind,
                "width": w, "height": hgt, "n_bytes": n_bytes, "feature": feat,
            }
        ]

    return map_rows(
        media_df, rows, MEDIA_FEATURES_DDL,
        "doc_id", "media_ref", "media_kind", "payload", "n_bytes",
    )


def media_kind_histogram(spans_df: DataFrame) -> DataFrame:
    """Typed-metadata aggregate: media kind × count (rows-only check)."""
    return (
        media_catalog(spans_df)
        .groupBy("media_kind")
        .agg(F.count("*").alias("n_media"))
        .selectExpr("media_kind", "cast(n_media as bigint) n_media")
    )


# ---------------------------------------------------------------------------
# resize / frame-sample (the remaining multimodal plumbing ops)
# ---------------------------------------------------------------------------

RESIZED_DDL = (
    "doc_id string, media_ref string, media_kind string, width int, "
    "height int, resized_w int, resized_h int, scale_milli bigint"
)

FRAMES_DDL = (
    "doc_id string, media_ref string, frame_idx int, ts_ms bigint, "
    "frame_feature array<float>"
)


def fit_box(width: int, height: int, max_w: int, max_h: int):
    """Aspect-preserving fit-within-box resize arithmetic (the real
    logic of a resize op — the pixel resample itself is codec work).
    Never upscales; floors to ints; degenerate inputs collapse to 0."""
    if width <= 0 or height <= 0:
        return 0, 0, 0
    scale = min(max_w / width, max_h / height, 1.0)
    return int(width * scale), int(height * scale), int(scale * 1000)


def resize_media(
    media_df: DataFrame, max_w: int = 256, max_h: int = 256,
    fake_decode: bool = True,
) -> DataFrame:
    """Image/video resize planning over the media table: decode the
    dimensions (stubbed), compute the aspect-preserving target size.
    One Arrow crossing; the pixel resample slot is inside the same
    batch loop a real implementation fills in."""

    def rows(doc_id, ref, kind, payload):
        w, hgt, _feat = decode_media(payload or b"", kind, fake=fake_decode)
        rw, rh, sm = fit_box(w, hgt, max_w, max_h)
        return [
            {
                "doc_id": doc_id, "media_ref": ref, "media_kind": kind,
                "width": w, "height": hgt,
                "resized_w": rw, "resized_h": rh, "scale_milli": sm,
            }
        ]

    return map_rows(
        media_df, rows, RESIZED_DDL, "doc_id", "media_ref", "media_kind", "payload"
    )


def frame_timestamps_ms(duration_ms: int, every_ms: int):
    """Deterministic frame-sampling schedule: one frame per
    ``every_ms`` window starting at 0, never past the duration."""
    if duration_ms <= 0 or every_ms <= 0:
        return []
    return list(range(0, duration_ms, every_ms))


def sample_frames(
    media_df: DataFrame, every_ms: int = 1000, fake_decode: bool = True
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame — the
    table-generating batch shape (N media rows in → Σ frames out) a
    real ffmpeg-backed extractor uses. Duration and per-frame features
    are stub-derived from the payload hash (decode is codec work);
    the schedule arithmetic and the fan-out plumbing are real."""

    def rows(doc_id, ref, kind, payload):
        if kind != "video":
            return []
        if not fake_decode:
            decode_media(b"", kind, fake=False)  # raises: stub
        h = hashlib.md5(payload or b"").digest()
        duration_ms = 1000 + int.from_bytes(h[:2], "big") * 2
        return [
            {
                "doc_id": doc_id, "media_ref": ref, "frame_idx": idx,
                "ts_ms": ts,
                # one derivation contract for every stub feature
                "frame_feature": _stub_feature(
                    hashlib.md5(h + ts.to_bytes(8, "big")).digest()
                ),
            }
            for idx, ts in enumerate(frame_timestamps_ms(duration_ms, every_ms))
        ]

    return map_rows(
        media_df, rows, FRAMES_DDL, "doc_id", "media_ref", "media_kind", "payload"
    )
