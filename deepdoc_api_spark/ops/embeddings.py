"""Embedding attachment (P8/P9 analogue) — optional pipeline stage.

The reference embeds chunks serially, one HTTP request per chunk, with
3 retries + exponential backoff (×2 on HTTP 429) and a circuit breaker
that pauses 30 s after 5 consecutive 504s
(``/root/reference/app/processing.py:1591-1797``); a batch variant
exists on the fallback path (``:2005-2057``). Inputs are truncated to
the model's token limit with the tokenizer
(``app/jivas_embeddings.py:39-48``).

The rebuild keeps the *policy* and distributes the *work*: a
``mapInArrow`` stage embeds each partition's chunks in client batches
(never per-chunk requests), applying the same retry/backoff/breaker
rules per executor. Failures leave
``embeddings = NULL`` (chunk survives — reference behavior, chunks
are returned without embeddings on failure).

There is no embedding service in this environment, so the client is
pluggable: :class:`DeterministicFakeEmbedder` (default) derives a
stable unit vector from the text hash and can inject deterministic
failures for testing the policy. A real client implements
:class:`EmbeddingClient.embed_batch` and raises
:class:`TransientEmbeddingError` (retryable) or any other exception
(terminal for the batch).
"""

from __future__ import annotations

import hashlib
import math
import time
from typing import List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from ..job.pipeline import _arrow_schema_of, _decode
from ..kernels.tokenizer import truncate_tokens

DEFAULT_DIM = 16
MAX_EMBED_TOKENS = 512  # model-limit analogue; reference truncates to limit
MAX_RETRIES = 3          # app/processing.py:1633
BREAKER_THRESHOLD = 5    # consecutive failures -> pause (app/processing.py:1607)
BREAKER_PAUSE_S = 0.05   # 30 s in the reference; scaled for tests
BACKOFF_BASE_S = 0.01    # exponential ×2 per retry (app/processing.py:1679-1688)


class TransientEmbeddingError(RuntimeError):
    """Retryable failure (429/504/timeouts in the reference)."""


class EmbeddingClient:
    """Interface: embed a batch of texts → list of float vectors."""

    dim: int = DEFAULT_DIM

    def embed_batch(self, texts: Sequence[str]) -> List[List[float]]:
        raise NotImplementedError


class DeterministicFakeEmbedder(EmbeddingClient):
    """Stable hash-derived unit vectors; optional injected failures.

    ``fail_every``: every N-th batch raises a transient error on its
    first ``fail_times`` attempts (deterministic — lets tests exercise
    retry/backoff). ``poison_marker``: texts containing it always fail
    → their whole client batch returns None embeddings after retries.
    """

    def __init__(
        self,
        dim: int = DEFAULT_DIM,
        fail_every: int = 0,
        fail_times: int = 1,
        poison_marker: Optional[str] = None,
    ) -> None:
        self.dim = dim
        self.fail_every = fail_every
        self.fail_times = fail_times
        self.poison_marker = poison_marker
        self._batch_no = 0
        self._fail_counts: dict = {}

    def embed_batch(self, texts: Sequence[str]) -> List[List[float]]:
        self._batch_no += 1
        if self.poison_marker is not None and any(
            self.poison_marker in t for t in texts
        ):
            raise TransientEmbeddingError("poisoned batch")
        if self.fail_every and self._batch_no % self.fail_every == 0:
            n = self._fail_counts.get(self._batch_no, 0)
            if n < self.fail_times:
                self._fail_counts[self._batch_no] = n + 1
                self._batch_no -= 1  # retry keeps the same batch number
                raise TransientEmbeddingError("injected transient failure")
        out = []
        for t in texts:
            # md5 + floor-micro (not sha1 + round): DuckDB has md5 but
            # no sha1, and floor is identical in both engines while
            # Python round() is banker's — this exact arithmetic is
            # re-derived by the external oracle (embeddings_flat_checksums)
            h = hashlib.md5(t.encode("utf-8")).digest()
            raw = [(h[i % len(h)] - 128) / 128.0 for i in range(self.dim)]
            norm = math.sqrt(sum(x * x for x in raw)) or 1.0
            out.append([math.floor(x / norm * 1000000.0) / 1000000.0 for x in raw])
        return out


def _embed_partition_batches(
    texts: List[str],
    client: EmbeddingClient,
    batch_size: int,
) -> List[Optional[List[float]]]:
    """Apply the reference retry/backoff/breaker policy over client
    batches; failed batches yield None embeddings (chunks survive)."""
    results: List[Optional[List[float]]] = []
    consecutive_failures = 0
    for i in range(0, len(texts), batch_size):
        batch = [truncate_tokens(t, MAX_EMBED_TOKENS) for t in texts[i : i + batch_size]]
        vecs: Optional[List[List[float]]] = None
        for attempt in range(MAX_RETRIES):
            try:
                if consecutive_failures >= BREAKER_THRESHOLD:
                    time.sleep(BREAKER_PAUSE_S)  # breaker pause, then probe
                    consecutive_failures = 0
                vecs = client.embed_batch(batch)
                consecutive_failures = 0
                break
            except TransientEmbeddingError:
                consecutive_failures += 1
                if attempt < MAX_RETRIES - 1:
                    time.sleep(BACKOFF_BASE_S * (2 ** attempt))
            except Exception:
                break  # terminal for this batch
        if vecs is None:
            results.extend([None] * len(batch))
        else:
            results.extend(vecs)
    return results


def attach_embeddings(
    chunks_df: DataFrame,
    client_factory=DeterministicFakeEmbedder,
    batch_size: int = 64,
) -> DataFrame:
    """Add an ``embeddings array<float>`` column to a chunks DataFrame.

    ``client_factory`` is constructed once per task (executor-local
    connection/session reuse — vs the reference's per-chunk requests).
    Media chunks (empty text) get NULL embeddings.
    """
    # a new field list: ``schema.add`` would append to the list that
    # chunks_df's cached schema holds
    out = StructType(
        chunks_df.schema.fields + [StructField("embeddings", ArrayType(FloatType()))]
    )
    schema = _arrow_schema_of(out)

    def run(batches):
        client = client_factory()
        for rb in batches:
            (texts,) = _decode(rb, "text")
            keep = [i for i, t in enumerate(texts) if t]
            vecs = _embed_partition_batches(
                [texts[i] for i in keep], client, batch_size
            )
            col: List[Optional[List[float]]] = [None] * rb.num_rows
            for i, v in zip(keep, vecs):
                col[i] = v
            emb = pa.array(col, type=schema.field("embeddings").type)
            yield pa.RecordBatch.from_arrays(rb.columns + [emb], schema=schema)

    return chunks_df.mapInArrow(run, out)
