"""Vectorized (numpy) kernels for the embedding-family ops — bit-exact
twins of the JVM higher-order-function expressions they replace.

Why this exists (round 8, guide §4.2): Spark evaluates ``aggregate`` /
``zip_with`` / ``transform`` lambdas per element with the interpreted
expression evaluator — no whole-stage codegen — so the hyperplane
sketches and centroid argmaxes cost tens of millions of interpreted
lambda steps per pass. Handing whole Arrow batches to numpy is the
guide's prescribed fix, PROVIDED float semantics do not move: every
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
bit-equality test against the old JVM expressions
(tests/test_veccore_bitexact.py).
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


def sim_micro_matrix(
    X: np.ndarray, nv: np.ndarray, C: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """int64 ``floor(dot(x, c) / (nv * nb) * 1e6)`` for every (row,
    centroid) pair — the cosine body of ``_argmax_cell`` vectorized.
    X: (n, d); nv: (n,); C: (k, d); nb: (k,). Returns (n, k) int64."""
    dots = seq_sum(X[:, None, :] * C[None, :, :])  # (n, k)
    sims = dots / (nv[:, None] * nb[None, :]) * 1000000.0
    return np.floor(sims).astype(np.int64)


def argmax_cid(sims: np.ndarray, cids: np.ndarray) -> np.ndarray:
    """Per-row ``array_max(struct(sim, -cid))`` tie-break: highest sim,
    then lowest cid. ``cids`` must be ascending (the collect_list is
    array_sort'ed by cid), so numpy's first-max argmax IS the
    tie-break."""
    return cids[np.argmax(sims, axis=1)]


def band_keys(X: np.ndarray, signs: np.ndarray, band_bits: int) -> np.ndarray:
    """Hyperplane band keys: sign of the left-to-right signed sum per
    hyperplane, packed ``sum(bit_j << j)`` per band. X: (n, d); signs:
    (n_bits, d) ±1 float64. Returns (n, n_bands) int32."""
    sums = seq_sum(X[:, None, :] * signs[None, :, :])  # (n, n_bits)
    bits = (sums >= 0).astype(np.int64)
    n_bits = signs.shape[0]
    n_bands = n_bits // band_bits
    weights = 1 << np.arange(band_bits, dtype=np.int64)
    per_band = bits.reshape(len(X), n_bands, band_bits)
    return (per_band * weights[None, None, :]).sum(axis=2).astype(np.int32)
