"""Bit-equality of the round-8 numpy kernels (ops/veccore.py) against
the JVM higher-order expressions they replaced.

The embedding-family oracles match DuckDB because both engines
accumulate doubles strictly left-to-right; veccore claims the same
fold. This suite pins that claim directly — same inputs through the
OLD Spark expressions and the numpy kernels, exact equality — on
adversarial float32 vectors (denormals, huge/tiny magnitudes, ±0.0,
cancellation patterns), not just the well-behaved test corpus.
"""

import math
import random

import numpy as np
import pytest

from deepdoc_api_spark.ops.similarity import (
    _NORM,
    _WITH_NB,
    _argmax_cell,
    _band_sig_exprs,
    _hp_row,
    hyperplane_signs,
)
from deepdoc_api_spark.ops.veccore import (
    argmax_cid,
    band_keys,
    list_col_to_matrix,
    seq_norm,
    seq_sum,
    sim_micro_matrix,
)

DIM = 16
N_BANDS = 4
BAND_BITS = 8


def _adversarial_vectors(n=64, dim=DIM):
    rng = random.Random("veccore-bitexact")
    vecs = []
    for i in range(n):
        row = []
        for j in range(dim):
            r = rng.random()
            if r < 0.15:
                v = rng.choice([0.0, -0.0])
            elif r < 0.3:
                v = math.ldexp(rng.uniform(-1, 1), -140)  # subnormal range
            elif r < 0.45:
                v = math.ldexp(rng.uniform(-1, 1), rng.randint(20, 38))
            elif r < 0.6:
                # cancellation: alternating near-equal magnitudes
                v = (1.0 if j % 2 == 0 else -1.0) * (1.0 + rng.random() * 1e-7)
            else:
                v = rng.uniform(-1, 1)
            row.append(np.float32(v).item())
        if all(v == 0.0 for v in row):
            row[0] = 1.0  # keep norms nonzero for the cosine cases
        vecs.append(row)
    return vecs


@pytest.fixture(scope="module")
def vec_df(spark):
    vecs = _adversarial_vectors()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    return vecs, df


def test_band_keys_bitexact(spark, vec_df):
    vecs, df = vec_df
    sigs = _band_sig_exprs(DIM, quote=False, n_bands=N_BANDS, band_bits=BAND_BITS)
    hp = _hp_row(spark, DIM, N_BANDS * BAND_BITS)
    from pyspark.sql import functions as F

    jvm = (
        df.join(F.broadcast(hp))
        .selectExpr(
            "vec_id", *[f"cast({s} as int) as k{i}" for i, s in enumerate(sigs)]
        )
        .collect()
    )
    signs = np.array(
        [hyperplane_signs(b, DIM) for b in range(N_BANDS * BAND_BITS)],
        dtype=np.float64,
    )
    X = np.array(vecs, dtype=np.float32).astype(np.float64)
    got = band_keys(X, signs, BAND_BITS)
    for r in jvm:
        for i in range(N_BANDS):
            assert got[r.vec_id][i] == r[f"k{i}"], (r.vec_id, i)


def test_norm_and_argmax_bitexact(spark, vec_df):
    vecs, df = vec_df
    # centroids: a mix of the vectors themselves (float32 values) —
    # the assign1 seed case — with non-contiguous cids
    cents = [(2 * i, vecs[i * 7]) for i in range(6)]
    from pyspark.sql import functions as F

    cent_row = spark.createDataFrame(
        [([(cid, [float(v) for v in c]) for cid, c in cents],)],
        "cents array<struct<cid:bigint, c:array<double>>>",
    ).selectExpr(_WITH_NB)
    emb_n = df.selectExpr(
        "vec_id", "embedding", f"{_NORM.format(a='embedding')} as nv"
    )
    jvm = (
        emb_n.join(F.broadcast(cent_row))
        .selectExpr(
            "vec_id", "nv", f"{_argmax_cell('embedding', 'nv')} as cid"
        )
        .collect()
    )
    X = np.array(vecs, dtype=np.float32).astype(np.float64)
    nv_py = seq_norm(X)
    C = np.array([c for _cid, c in cents], dtype=np.float32).astype(np.float64)
    nb = seq_norm(C)
    cids = np.array([cid for cid, _c in cents], dtype=np.int64)
    sims = sim_micro_matrix(X, nv_py, C, nb)
    got_cid = argmax_cid(sims, cids)
    for r in jvm:
        # the JVM nv doubles must equal the numpy fold bit-for-bit —
        # they are consumed downstream by both engines' divides
        assert r.nv == nv_py[r.vec_id], r.vec_id
        assert got_cid[r.vec_id] == r.cid, r.vec_id


def test_pairwise_sim_matches_jvm_pair_expression(spark, vec_df):
    vecs, df = vec_df
    from deepdoc_api_spark.ops.similarity import _DOT

    emb_n = df.selectExpr(
        "vec_id", "embedding", f"{_NORM.format(a='embedding')} as nv"
    )
    a = emb_n.selectExpr("vec_id as id_a", "embedding as ea", "nv as na")
    b = emb_n.selectExpr("vec_id as id_b", "embedding as eb", "nv as nb")
    dot = _DOT.format(a="ea", b="eb")
    jvm = (
        a.join(b)
        .filter("id_a < id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"cast(floor({dot} / (na * nb) * 1000000) as bigint) as sim_micro",
        )
        .collect()
    )
    X = np.array(vecs, dtype=np.float32).astype(np.float64)
    nv = seq_norm(X)
    want = {}
    for r in jvm:
        want[(r.id_a, r.id_b)] = r.sim_micro
    ia, ib = np.triu_indices(len(vecs), 1)
    dots = seq_sum(X[ia] * X[ib])
    sims = np.floor(dots / (nv[ia] * nv[ib]) * 1000000.0).astype(np.int64)
    for x, y, s in zip(ia, ib, sims):
        assert want[(x, y)] == s, (x, y)


def test_seq_sum_is_strictly_sequential():
    # a pairwise/compensated sum would differ on this cancellation
    # pattern; the sequential fold must equal the explicit Python loop
    rng = np.random.RandomState(7)
    v = (rng.uniform(-1, 1, 513) * 10.0 ** rng.randint(-30, 30, 513)).astype(
        np.float64
    )
    acc = 0.0
    for x in v:
        acc = acc + x
    assert seq_sum(v[None, :])[0] == acc


def test_list_col_to_matrix_keeps_ragged_rows_apart():
    """Rows of dim+1 and dim-1 sum to 2*dim values: the fast path's
    reshape must not be taken on the total length alone, or the second
    row would start with the first row's extra value."""
    import pyarrow as pa

    long_row = [float(i + 1) for i in range(DIM + 1)]
    short_row = [float(100 + i) for i in range(DIM - 1)]
    col = pa.array([long_row, short_row], type=pa.list_(pa.float32()))
    got = list_col_to_matrix(col, DIM)
    assert got.tolist() == [long_row[:DIM], short_row + [0.0]]
    # a slice of a regular batch still takes the fast path, unshifted
    rows = _adversarial_vectors(n=6)
    col = pa.array(rows, type=pa.list_(pa.float32())).slice(2, 3)
    assert list_col_to_matrix(col, DIM).tolist() == rows[2:5]
