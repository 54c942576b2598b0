"""Vectorized (numpy) kernels for the embedding-family ops — bit-exact
twins of the JVM higher-order-function expressions they replace.

Why this exists: Spark evaluates ``aggregate`` /
``zip_with`` / ``transform`` lambdas per element with the interpreted
expression evaluator — no whole-stage codegen — so the hyperplane
sketches and centroid argmaxes cost tens of millions of interpreted
lambda steps per pass. Handing whole Arrow batches to numpy removes
that cost, PROVIDED float semantics do not move: every
DuckDB oracle in this family matched the JVM because both accumulate
``(acc, v) -> acc + v`` strictly left-to-right in double. numpy's
``ufunc.accumulate`` has exactly that definition (r[i] = r[i-1] + a[i],
no pairwise re-association), and a zero is prepended so the JVM's
``acc = 0.0; acc += v`` first step is reproduced bit-for-bit (including
the +0.0 result for a -0.0 leading product). Element products mirror
``cast(x as double) * cast(y as double)`` via float32→float64 casts,
which are exact.

Every function here is therefore a value-identical re-implementation,
covered by the oracle parity suites (tests/test_ops_oracle.py at two
scale factors + tests/test_edge_corpus_oracle.py) and a dedicated
bit-equality test that keeps the interpreted JVM expressions as its
reference (tests/test_veccore_bitexact.py).
"""

from __future__ import annotations

import numpy as np


def list_col_to_matrix(col, dim: int) -> np.ndarray:
    """Arrow list<float> column → (n, dim) float64 matrix.

    Fast path: flatten the value buffer and reshape (valid when every
    list is exactly ``dim`` long — the embeddings-table contract, checked
    per row from the offsets: a total of ``n * dim`` alone would let rows
    of ``dim+1`` and ``dim-1`` reshape silently into wrong rows);
    fallback to the generic python path otherwise (ragged/null rows
    cannot occur in the embeddings table, but never crash on them).
    Ragged rows are truncated or zero-padded to ``dim``.
    """
    n = len(col)
    if col.null_count == 0 and (np.diff(col.offsets.to_numpy()) == dim).all():
        flat = col.flatten().to_numpy(zero_copy_only=False)
        return flat.reshape(n, dim).astype(np.float64)
    rows = col.to_pylist()
    out = np.zeros((n, dim), dtype=np.float64)
    for i, r in enumerate(rows):
        if r is not None:
            r = r[:dim]
            out[i, : len(r)] = np.asarray(r, dtype=np.float64)
    return out


def seq_sum(products: np.ndarray) -> np.ndarray:
    """Left-to-right double sum over the LAST axis, starting from 0.0 —
    the exact fold ``aggregate(a, 0.0d, (acc, v) -> acc + v)``."""
    shape = products.shape[:-1] + (1,)
    padded = np.concatenate(
        [np.zeros(shape, dtype=np.float64), products], axis=-1
    )
    return np.add.accumulate(padded, axis=-1)[..., -1]


def seq_norm(X: np.ndarray) -> np.ndarray:
    """``sqrt(aggregate(a, 0.0d, (acc, x) -> acc + x*x))`` per row."""
    return np.sqrt(seq_sum(X * X))


#: bytes of the ``(rows, columns, dim)`` float64 product one tile of
#: :func:`sim_micro_matrix`, :func:`nearest_centroid` or :func:`band_keys`
#: may build (``seq_sum`` briefly holds about three arrays of that size).
#: Untiled, the IVF probe ranking at the IVF_MAX_NLIST cap of 65,536
#: centroids would build 268 MB for 8 queries at dim 64, and
#: :func:`band_keys` 1 GiB for 1,024 rows at 128 hyperplanes and dim 1,024.
NEAREST_TILE_BYTES = 32 << 20


def _col_tiles(X: np.ndarray, k: int) -> list:
    """Ascending slices of ``range(k)`` (at least one, possibly empty)
    whose ``(rows of X, columns, dim)`` float64 product stays within
    :data:`NEAREST_TILE_BYTES`."""
    n, dim = X.shape
    t = max(1, NEAREST_TILE_BYTES // (8 * max(n * dim, 1)))
    return [slice(lo, lo + t) for lo in range(0, k, t)] or [slice(0, 0)]


def pair_sim_micro(
    A: np.ndarray, B: np.ndarray, na: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """int64 ``floor(dot(a, b) / (na * nb) * 1e6)``, the floor-micro
    cosine, for rows of ``A`` and ``B`` (dot over the last axis; the
    leading axes and the norms broadcast). Callers pass only nonzero
    norms: a zero norm makes the quotient NaN or inf, whose int64 cast
    the platform defines. Every cosine op drops zero vectors before
    scoring (``_NONZERO_EXPR``) and every refined centroid set drops
    its zero centroids."""
    return np.floor(seq_sum(A * B) / (na * nb) * 1000000.0).astype(np.int64)


def sim_micro_matrix(
    X: np.ndarray, nv: np.ndarray, C: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """:func:`pair_sim_micro` of every (row, centroid) pair. X: (n, d);
    nv: (n,); C: (k, d); nb: (k,), all norms nonzero. Returns (n, k)
    int64, scored in centroid tiles of :func:`_col_tiles`."""
    return np.concatenate(
        [
            pair_sim_micro(X[:, None, :], C[None, s, :], nv[:, None], nb[None, s])
            for s in _col_tiles(X, len(C))
        ],
        axis=1,
    )


def nearest_centroid(
    X: np.ndarray, nv: np.ndarray, C: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """Row index into ``C`` of each row's best centroid by
    :func:`sim_micro_matrix`: highest sim, then lowest index. With ``C``
    ascending by cid (the array_sort contract of the JVM struct-max)
    that is the (sim DESC, cid ASC) tie-break of both engines' argmax.
    ``C`` is non-empty. Centroids are scored in ascending tiles of
    :func:`_col_tiles`; a later tile takes a row only on a strictly
    greater sim, so ties stay with the lower index."""
    n = len(X)
    best = np.zeros(n, dtype=np.int64)
    best_sim = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
    for s in _col_tiles(X, len(C)):
        sims = sim_micro_matrix(X, nv, C[s], nb[s])
        j = np.argmax(sims, axis=1)
        top = sims[np.arange(n), j]
        better = top > best_sim
        best[better] = j[better] + s.start
        best_sim[better] = top[better]
    return best


def band_keys(X: np.ndarray, signs: np.ndarray, band_bits: int) -> np.ndarray:
    """Hyperplane band keys: sign of the left-to-right signed sum per
    hyperplane, packed ``sum(bit_j << j)`` per band. X: (n, d); signs:
    (n_bits, d) ±1 float64, scored in hyperplane tiles of
    :func:`_col_tiles`. Returns (n, n_bands) int32."""
    sums = np.concatenate(
        [seq_sum(X[:, None, :] * signs[None, s, :]) for s in _col_tiles(X, len(signs))],
        axis=1,
    )  # (n, n_bits)
    bits = (sums >= 0).astype(np.int64)
    n_bits = signs.shape[0]
    n_bands = n_bits // band_bits
    weights = 1 << np.arange(band_bits, dtype=np.int64)
    per_band = bits.reshape(len(X), n_bands, band_bits)
    return (per_band * weights[None, None, :]).sum(axis=2).astype(np.int32)
