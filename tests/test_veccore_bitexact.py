"""Bit-equality of the numpy kernels (ops/veccore.py) against the JVM
higher-order expressions they replaced.

The embedding-family oracles match DuckDB because both engines
accumulate doubles strictly left-to-right; veccore claims the same
fold. This suite pins that claim directly — same inputs through the
interpreted Spark expressions (kept here as the reference) and the
numpy kernels, exact equality — on adversarial float32 vectors
(denormals, huge/tiny magnitudes, ±0.0, cancellation patterns), not
just the well-behaved test corpus. It also runs the sub-cluster cell
kernel on hand-built batches, without Spark.
"""

import math
import random

import numpy as np
import pyarrow as pa
import pytest

from deepdoc_api_spark.ops import veccore
from deepdoc_api_spark.ops.similarity import (
    _NORM,
    _cell_pieces,
    _decoded,
    _encoded,
    hyperplane_signs,
)
from deepdoc_api_spark.ops.veccore import (
    band_keys,
    list_col_to_matrix,
    nearest_centroid,
    pair_sim_micro,
    seq_norm,
    seq_sum,
    sim_micro_matrix,
)

#: the interpreted JVM dot product: a left-to-right double fold
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
#: a ``cents`` array<struct<cid, c>> column with each centroid's norm
_WITH_NB = (
    f"transform(cents, ct -> struct(ct.cid as cid, ct.c as c,"
    f" {_NORM.format(a='ct.c')} as nb)) as cents"
)


def _argmax_cell(vec: str, nv: str) -> str:
    """The interpreted nearest centroid over a broadcast ``cents``
    array (see ``_WITH_NB``): the max of struct(sim_micro, -cid) gives
    the (sim DESC, cid ASC) tie-break."""
    dot = _DOT.format(a=vec, b="ct.c")
    return (
        f"cast(-array_max(transform(cents, ct -> struct("
        f"cast(floor({dot} / ({nv} * ct.nb) * 1000000) as bigint)"
        f" as sim_micro,"
        f" cast(-ct.cid as bigint) as neg_cid))).neg_cid as bigint)"
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


def _jvm_band_sig_exprs(dim, n_bands, band_bits):
    """The interpreted JVM band keys the top-k and near-dup ops used
    before veccore: a left-to-right ``aggregate(zip_with(...))`` sign
    fold per hyperplane over the ``hp`` column of :func:`_jvm_hp_row`,
    packed ``sum(bit_j << j)`` per band."""
    out = []
    for band in range(n_bands):
        bits = []
        for j in range(band_bits):
            b = band * band_bits + j
            bits.append(
                f"case when aggregate(zip_with(embedding, element_at(hp, {b + 1}),"
                " (x, s) -> cast(x as double) * s), cast(0.0 as double),"
                f" (acc, v) -> acc + v) >= 0 then {1 << j} else 0 end"
            )
        out.append(" + ".join(bits))
    return out


def _jvm_hp_row(spark, dim, n_bits):
    """1-row ``hp: array<array<int>>`` table (row k = hyperplane k's ±1
    signs), broadcast-joined next to the vectors for
    :func:`_jvm_band_sig_exprs`."""
    hp = [hyperplane_signs(b, dim) for b in range(n_bits)]
    return spark.createDataFrame([(hp,)], "hp array<array<int>>")


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
    sigs = _jvm_band_sig_exprs(DIM, N_BANDS, BAND_BITS)
    hp = _jvm_hp_row(spark, DIM, N_BANDS * BAND_BITS)
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


def test_norm_and_argmax_bitexact(spark, vec_df, monkeypatch):
    vecs, df = vec_df
    # centroids: a mix of the vectors themselves (float32 values) —
    # the assign1 seed case — with non-contiguous cids; cid 13 repeats
    # cid 0's vector, so its members tie and must keep the lower cid
    cents = [(2 * i, vecs[i * 7]) for i in range(6)] + [(13, vecs[0])]
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
    got_cid = cids[nearest_centroid(X, nv_py, C, nb)]
    # a budget of two centroids per tile: four tiles, the tied cid 13
    # alone in the last one
    monkeypatch.setattr(veccore, "NEAREST_TILE_BYTES", 8 * len(X) * DIM * 2)
    tiled_cid = cids[nearest_centroid(X, nv_py, C, nb)]
    assert any(r.cid == 0 for r in jvm), "tie case not exercised"
    for r in jvm:
        # the JVM nv doubles must equal the numpy fold bit-for-bit —
        # they are consumed downstream by both engines' divides
        assert r.nv == nv_py[r.vec_id], r.vec_id
        assert got_cid[r.vec_id] == r.cid, r.vec_id
        assert tiled_cid[r.vec_id] == r.cid, r.vec_id


def test_pairwise_sim_matches_jvm_pair_expression(spark, vec_df):
    vecs, df = vec_df
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
    sims = pair_sim_micro(X[ia], X[ib], nv[ia], nv[ib])
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


def test_product_tiles_stay_under_the_budget(monkeypatch):
    """sim_micro_matrix and band_keys score their second axis in tiles
    of veccore.NEAREST_TILE_BYTES: under a budget of three columns
    (uneven against 7 centroids and 32 hyperplanes) no product passed
    to seq_sum exceeds it, and every value equals the untiled run."""
    X = np.array(_adversarial_vectors(n=10), dtype=np.float32).astype(np.float64)
    nv = seq_norm(X)
    C = X[:7].copy()
    nb = seq_norm(C)
    signs = np.array(
        [hyperplane_signs(b, DIM) for b in range(N_BANDS * BAND_BITS)],
        dtype=np.float64,
    )
    sims, keys = sim_micro_matrix(X, nv, C, nb), band_keys(X, signs, BAND_BITS)

    budget = 8 * len(X) * DIM * 3
    sizes = []

    def spy(products):
        sizes.append(products.nbytes)
        return seq_sum(products)

    monkeypatch.setattr(veccore, "NEAREST_TILE_BYTES", budget)
    monkeypatch.setattr(veccore, "seq_sum", spy)
    assert np.array_equal(sim_micro_matrix(X, nv, C, nb), sims)
    assert np.array_equal(band_keys(X, signs, BAND_BITS), keys)
    assert len(sizes) == 3 + 11 and max(sizes) <= budget, sizes


def _cell_batch(rows) -> pa.RecordBatch:
    """A decoded-stage input batch of (cid, kind, id, c) rows."""
    cid, kind, ids, c = zip(*rows)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cid, pa.int64()),
            pa.array(kind, pa.int32()),
            pa.array(ids, pa.int64()),
            pa.array(c, pa.list_(pa.float64())),
        ],
        names=["cid", "kind", "id", "c"],
    )


def test_cell_kernel_without_spark():
    """The sub-cluster cell kernel on hand-built sorted batches: cell 5's
    members span two batches behind its centroid rows, cell 6 has no
    centroid row, and cell 7's two centroids tie (given in descending
    scid order, the lower scid must win)."""
    batches = [
        _cell_batch(
            [
                (5, 0, 1, [0.0, 1.0]),
                (5, 0, 0, [1.0, 0.0]),
                (5, 1, 10, [2.0, 0.5]),
            ]
        ),
        _cell_batch(
            [
                (5, 1, 11, [0.25, 3.0]),
                (6, 1, 12, [1.0, 1.0]),
                (7, 0, 3, [1.0, 1.0]),
                (7, 0, 1, [2.0, 2.0]),
                (7, 1, 13, [1.0, 1.0]),
            ]
        ),
    ]
    schema = pa.schema(  # the sub-cluster assignment's output
        [
            ("cid", pa.int64()),
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("nv", pa.float64()),
            ("scid", pa.int64()),
        ]
    )
    out = [
        _encoded(p, schema)
        for p in _cell_pieces(_decoded(rb, 2, ("c",)) for rb in batches)
    ]
    rows = [r for rb in out for r in rb.to_pylist()]
    assert [(r["cid"], r["vec_id"], r["scid"]) for r in rows] == [
        (5, 10, 0),
        (5, 11, 1),
        (6, 12, None),
        (7, 13, 1),
    ]
    assert rows[0]["embedding"] == [2.0, 0.5]
    assert rows[3]["nv"] == math.sqrt(2.0)
