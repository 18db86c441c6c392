import ast
import os

import numpy as np
import pyarrow as pa
import pytest

import mahout_samsara_book_spark as pkg
from mahout_samsara_book_spark.drm.drm import FEAT, Drm, _decode, _encode
from mahout_samsara_book_spark.kernels.incore import symmetric_uniform_view
from mahout_samsara_book_spark.kernels.sparse import CsrMatrix


@pytest.fixture(scope="module")
def mx():
    return symmetric_uniform_view(40, 6, 1234)


@pytest.fixture(scope="module")
def drm(spark, mx):
    return Drm.from_numpy(spark, mx, num_partitions=4).checkpoint()


def test_roundtrip(drm, mx):
    assert drm.nrow == 40 and drm.ncol == 6
    assert np.allclose(drm.collect(), mx)


def test_collect_col(drm, mx):
    assert np.allclose(drm.collect_col(2), mx[:, 2])


def test_cbind_ones(drm, mx):
    out = drm.cbind_ones(prepend=True).collect()
    assert out.shape == (40, 7)
    assert np.all(out[:, 0] == 1.0)
    assert np.allclose(out[:, 1:], mx)


def test_cbind_two_drms(spark, mx):
    a = Drm.from_numpy(spark, mx[:, :2])
    b = Drm.from_numpy(spark, mx[:, 2:])
    assert np.allclose(a.cbind(b).collect(), mx)


def test_rbind(spark, mx):
    a = Drm.from_numpy(spark, mx[:10])
    b = Drm.from_numpy(spark, mx[10:25])
    out = a.rbind(b)
    assert np.allclose(out.collect(), mx[:25])
    assert out.nrow == 25


def test_slice_cols(drm, mx):
    assert np.allclose(drm.slice_cols(1, 4).collect(), mx[:, 1:4])


def test_abs_and_scalar_ops(drm, mx):
    assert np.allclose(drm.abs().collect(), np.abs(mx))
    assert np.allclose(drm.scalar_op("*", 2.5).collect(), mx * 2.5)
    assert np.allclose(drm.scalar_op("^", 2.0).collect(), mx**2)


def test_ewise(spark, mx):
    a = Drm.from_numpy(spark, mx)
    b = Drm.from_numpy(spark, mx * 0.5 + 1)
    assert np.allclose(a.ewise(b, "-").collect(), mx - (mx * 0.5 + 1))
    assert np.allclose(a.ewise(b, "*").collect(), mx * (mx * 0.5 + 1))


def test_colsums_rowsums(drm, mx):
    assert np.allclose(drm.colsums(), mx.sum(axis=0))
    rs = drm.rowsums().orderBy("row_id").toPandas()["row_sum"].to_numpy()
    assert np.allclose(rs, mx.sum(axis=1))
    assert np.allclose(drm.colmeans(), mx.mean(axis=0))


def test_colsums_wide(spark):
    wide = symmetric_uniform_view(30, 100, 9)  # > narrow threshold
    d = Drm.from_numpy(spark, wide)
    assert np.allclose(d.colsums(), wide.sum(axis=0))


def test_transpose(spark, mx):
    d = Drm.from_numpy(spark, mx, num_partitions=3)
    t = d.t()
    assert (t.nrow, t.ncol) == (6, 40)
    assert np.allclose(t.collect(), mx.T)
    # peephole: A.t.t is A, no plan built
    assert t.t() is d


def test_transpose_aggregates_duplicate_keys(spark, mx):
    # Samsara semantics (SURVEY §1.2): duplicate Int keys sum on transpose.
    labels = np.arange(40) % 4

    def relabel(keys, block):
        return labels[keys], block

    d = Drm.from_numpy(spark, mx, num_partitions=3).map_block(relabel)
    t = d.t(width=4)
    expect = np.zeros((6, 4))
    for lbl in range(4):
        expect[:, lbl] = mx[labels == lbl].sum(axis=0)
    assert np.allclose(t.collect(), expect)


def test_aggregate_rows_by_key(spark, mx):
    labels = np.arange(40) % 4
    d = Drm.from_numpy(spark, mx, num_partitions=3).map_block(
        lambda keys, block: (labels[keys], block)
    )
    agg = d.aggregate_rows_by_key()
    out_keys, out = agg.collect_keys_matrix()
    expect = np.vstack([mx[labels == k].sum(axis=0) for k in sorted(set(labels))])
    assert np.allclose(out, expect)
    assert list(out_keys) == [0, 1, 2, 3]


def test_gram(drm, mx):
    assert np.allclose(drm.gram(), mx.T @ mx, atol=1e-10)


def test_atx(drm, mx):
    y = np.arange(40, dtype=np.float64)
    assert np.allclose(drm.atx(y), mx.T @ y, atol=1e-10)


def test_ax_narrow_and_wide(spark, mx):
    beta = np.linspace(-1, 1, 6)
    d = Drm.from_numpy(spark, mx)
    assert np.allclose(d.ax(beta).collect()[:, 0], mx @ beta)
    wide = symmetric_uniform_view(20, 100, 3)
    bw = np.linspace(0, 1, 100)
    dw = Drm.from_numpy(spark, wide)
    assert np.allclose(dw.ax(bw).collect()[:, 0], wide @ bw)


def test_mmul_broadcast(spark, mx):
    b = symmetric_uniform_view(6, 3, 77)
    d = Drm.from_numpy(spark, mx)
    assert np.allclose(d.mmul(b).collect(), mx @ b, atol=1e-10)


def test_mmul_drm(spark, mx):
    b = symmetric_uniform_view(6, 5, 78)
    da = Drm.from_numpy(spark, mx, num_partitions=3)
    db = Drm.from_numpy(spark, b, num_partitions=2)
    # auto (broadcast, B is slim) and forced COO agree with numpy
    assert np.allclose(da.mmul(db).collect(), mx @ b, atol=1e-10)
    assert np.allclose(
        da.mmul(db, strategy="coo").collect(), mx @ b, atol=1e-10
    )


def test_coo_roundtrip(spark):
    """to_coo ↔ from_coo: dense roundtrip (no empty rows), zero cells
    dropped and restored as 0, duplicate triplets SUM (§1.2)."""
    a = np.array([[0.0, 2.0, 0.0], [1.0, 0.0, 3.0], [4.0, 5.0, 6.0]])
    d = Drm.from_numpy(spark, a, num_partitions=2)
    coo = d.to_coo()
    assert coo.count() == np.count_nonzero(a)
    back = Drm.from_coo(coo, ncol=3)
    assert np.allclose(back.collect(), a)
    # duplicate (row, pos) entries aggregate by sum
    dup = coo.union(coo)
    twice = Drm.from_coo(dup, ncol=3)
    assert np.allclose(twice.collect(), 2 * a)


def test_mmul_coo_wide_result(spark, mx):
    """COO path, n_out > 32 → the collect_list/higher-order-function
    branch (the slim branch pivots to conditional sums)."""
    b = symmetric_uniform_view(6, 40, 80)
    da = Drm.from_numpy(spark, mx, num_partitions=3)
    db = Drm.from_numpy(spark, b, num_partitions=2)
    assert np.allclose(
        da.mmul(db, strategy="coo").collect(), mx @ b, atol=1e-10
    )


def test_mmul_coo_zero_rows_and_cols(spark):
    """Sentinel geometry: an all-zero A row and an all-zero B column
    survive both COO branches."""
    a = np.array([[0.0, 0.0, 0.0], [1.0, 2.0, 3.0]])
    b = np.array([[1.0, 0.0], [2.0, 0.0], [3.0, 0.0]])
    da = Drm.from_numpy(spark, a, num_partitions=2)
    db = Drm.from_numpy(spark, b, num_partitions=2)
    assert np.allclose(da.mmul(db, strategy="coo").collect(), a @ b)


def test_mmul_preserves_duplicate_keys(spark, mx):
    b = symmetric_uniform_view(6, 2, 79)
    labels = np.arange(40) % 4
    da = Drm.from_numpy(spark, mx, num_partitions=3).map_block(
        lambda keys, block: (labels[keys], block)
    )
    db = Drm.from_numpy(spark, b)
    for strat in ("broadcast", "coo"):
        out = da.mmul(db, strategy=strat).df.toPandas()
        # 40 rows survive — mmul does NOT aggregate by key (that's
        # transpose's semantics, §1.2)
        assert len(out) == 40


def test_map_block_width_change(spark, mx):
    d = Drm.from_numpy(spark, mx)

    def add_rowsum(keys, block):
        return keys, np.hstack([block, block.sum(axis=1, keepdims=True)])

    out = d.map_block(add_rowsum, ncol=7).collect()
    assert np.allclose(out[:, :6], mx)
    assert np.allclose(out[:, 6], mx.sum(axis=1))


def test_allreduce_block(spark, mx):
    d = Drm.from_numpy(spark, mx, num_partitions=4)
    # rbind-reduce shape (TWCNB.scala:54-83): keep rows with rowsum > 0
    out = d.allreduce_block(
        lambda keys, block: block[block.sum(axis=1) > 0],
        lambda a, b: np.vstack([a, b]),
    )
    expect = mx[mx.sum(axis=1) > 0]
    assert out.shape == expect.shape
    assert np.allclose(np.sort(out.sum(axis=1)), np.sort(expect.sum(axis=1)))
    # sum-reduce shape (gram-like)
    g = d.allreduce_block(lambda k, b: b.T @ b, lambda a, b: a + b)
    assert np.allclose(g, mx.T @ mx, atol=1e-10)


def test_mllib_bridge(spark, mx):
    """C11 BlockMatrix trait parity: MLlib's distributed-matrix family as
    the 2-D-block view of a DRM, numerically identical to the source."""
    d = Drm.from_numpy(spark, mx, num_partitions=3)
    irm = d.to_indexed_row_matrix()
    assert (irm.numRows(), irm.numCols()) == (40, 6)
    bm = d.to_block_matrix(rows_per_block=16, cols_per_block=4)
    local = bm.toLocalMatrix().toArray()
    assert np.allclose(local, mx)
    # distributed block multiply cross-checks the DRM mmul (A6 MLlib twin)
    b = symmetric_uniform_view(6, 3, 81)
    db = Drm.from_numpy(spark, b)
    # multiply requires A.colsPerBlock == B.rowsPerBlock
    prod = bm.multiply(db.to_block_matrix(4, 3)).toLocalMatrix().toArray()
    assert np.allclose(prod, d.mmul(db).collect(), atol=1e-10)


def test_sample_k_rows_deterministic(spark, mx):
    d = Drm.from_numpy(spark, mx, num_partitions=4)
    s1 = d.sample_k_rows(5, seed=123)
    s2 = d.sample_k_rows(5, seed=123)
    assert s1.shape == (5, 6)
    assert np.allclose(s1, s2)
    s3 = d.sample_k_rows(5, seed=124)
    assert not np.allclose(s1, s3)


def test_t_width_guard_and_t_coo(spark, mx):
    """VERDICT r2 item 5: t() refuses to build rows wider than the
    guard; t_coo() is the any-width sparse path with the same dup-key
    SUM semantics."""
    from mahout_samsara_book_spark.drm import drm as drm_mod

    d = Drm.from_numpy(spark, mx, num_partitions=3)
    # force the guard with a tiny threshold instead of a 65k-row fixture
    orig = drm_mod._T_MAX_WIDTH
    drm_mod._T_MAX_WIDTH = 8
    try:
        with pytest.raises(ValueError, match="t_coo"):
            d.t()  # width would be nrow=40 > 8
    finally:
        drm_mod._T_MAX_WIDTH = orig
    # t_coo matches the dense transpose without materializing wide rows
    coo = d.t_coo().toPandas()
    dense = np.zeros((6, 40))
    dense[coo["row_id"].to_numpy(), coo["pos"].to_numpy()] = coo["v"].to_numpy()
    assert np.allclose(dense, mx.T)
    # dup-key SUM semantics match t(width=...)
    labels = np.arange(40) % 4
    dd = Drm.from_numpy(spark, mx, num_partitions=3).map_block(
        lambda keys, block: (labels[keys], block)
    )
    coo2 = dd.t_coo().toPandas()
    dense2 = np.zeros((6, 4))
    dense2[coo2["row_id"].to_numpy(), coo2["pos"].to_numpy()] = coo2["v"].to_numpy()
    expect = np.zeros((6, 4))
    for lbl in range(4):
        expect[:, lbl] = mx[labels == lbl].sum(axis=0)
    assert np.allclose(dense2, expect)


def test_mmul_coo_rejects_nonpositional_b(spark, mx):
    """VERDICT r2 item 6: a right operand whose keys aren't positional
    0..nrow-1 must error loudly (the sentinel pruning would silently
    drop rows), and reindex() restores the contract."""
    b = symmetric_uniform_view(6, 2, 79)
    da = Drm.from_numpy(spark, mx, num_partitions=3)
    db_bad = Drm.from_numpy(spark, b).map_block(
        lambda keys, block: (keys * 10 + 3, block)  # sparse, offset keys
    )
    with pytest.raises(ValueError, match="reindex"):
        da.mmul(db_bad, strategy="coo")
    fixed = db_bad.reindex(unique_keys=True)
    assert np.allclose(da.mmul(fixed, strategy="coo").collect(), mx @ b)


# --------------------------------------------------------------------- #
# the Arrow block codec
# --------------------------------------------------------------------- #


def test_decode_honours_slice_offsets():
    block = np.arange(40, dtype=np.float64).reshape(10, 4)
    batch = _encode(np.arange(10) + 100, block).slice(3, 4)
    keys, got = _decode(batch, 4)
    assert list(keys) == [103, 104, 105, 106]
    assert np.array_equal(got, block[3:7])
    empty = _encode(np.arange(0), np.zeros((0, 4)))
    assert empty.schema.field(FEAT).type == pa.list_(pa.float64())
    assert _decode(empty, 4)[1].shape == (0, 4)
    # other column names, width taken from the first row
    named = batch.rename_columns(["vec_id", "emb"])
    keys, got = _decode(named, key="vec_id", vec="emb")
    assert list(keys) == [103, 104, 105, 106]
    assert np.array_equal(got, block[3:7])
    ragged = pa.RecordBatch.from_pydict(
        {"id": [0, 1], "v": [[1.0, 2.0, 3.0], [1.0, 2.0]]}
    )
    with pytest.raises(ValueError, match="not all ncol=3 wide"):
        _decode(ragged, key="id", vec="v")


def test_codec_block_ops_on_many_batches(spark, mx, small_arrow_batches):
    d = Drm.from_numpy(spark, mx, num_partitions=2)
    assert np.allclose(d.gram(), mx.T @ mx, atol=1e-10)
    y = np.arange(40, dtype=np.float64)
    assert np.allclose(d.atx(y), mx.T @ y, atol=1e-10)
    b = symmetric_uniform_view(6, 3, 77)
    assert np.allclose(d.mmul(b).collect(), mx @ b, atol=1e-10)
    wide = symmetric_uniform_view(30, 100, 3)
    bw = np.linspace(0, 1, 100)
    dw = Drm.from_numpy(spark, wide, num_partitions=2)
    assert np.allclose(dw.ax(bw).collect()[:, 0], wide @ bw)


@pytest.mark.parametrize("flavor", ["dense", "sparse"])
def test_codec_map_and_allreduce_on_many_batches(
    spark, mx, small_arrow_batches, flavor
):
    def dense(block):  # local: worker closures cannot import test modules
        return block.to_dense() if isinstance(block, CsrMatrix) else block

    d = Drm.from_numpy(spark, mx, num_partitions=2)
    out = d.map_block(
        lambda k, b: (k, np.hstack([dense(b), k[:, None]])),
        ncol=7,
        flavor=flavor,
    )
    assert np.allclose(out.collect(), np.hstack([mx, np.arange(40)[:, None]]))
    g = d.allreduce_block(
        lambda k, b: dense(b).T @ dense(b), lambda a, b: a + b, flavor=flavor
    )
    assert np.allclose(g, mx.T @ mx, atol=1e-10)


def test_codec_rejects_ragged_rows(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "row_id long, features array<double>",
    ).coalesce(1)
    d = Drm.from_df(df, ncol=4)
    with pytest.raises(Exception, match="ValueError: DRM rows are not all"):
        d.gram()
    with pytest.raises(Exception, match="ValueError: DRM rows are not all"):
        d.map_block(lambda k, b: (k, b)).collect()


def test_map_block_returning_no_rows(spark, mx):
    out = Drm.from_numpy(spark, mx, num_partitions=2).map_block(
        lambda k, b: (k[:0], b[:0])
    )
    assert out.df.schema[FEAT].dataType.simpleString() == "array<double>"
    assert out.collect().shape == (0, 6)


def test_atx_rejects_non_positional_keys(spark, mx):
    """Keys shifted by -1 would index y[-1] (silent wrap) and y[len-1]."""
    d = Drm.from_numpy(spark, mx).map_block(lambda k, b: (k - 1, b))
    with pytest.raises(Exception, match="positional row keys"):
        d.atx(np.arange(40, dtype=np.float64))


# The block format has one owner: the codec in drm.py. These modules
# read and write vector blocks and must go through it.
CODEC_MODULES = (
    "drm/drm.py",
    "algorithms/regression.py",
    "operators/similarity.py",
    "operators/dedup.py",
    "operators/selection.py",
)
# drm.py's and regression.py's toPandas() collects are scalar results,
# not vector decodes; the operator modules collect vectors only
TOPANDAS_MODULES = CODEC_MODULES[2:]


def _codec_violations(rel: str, tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in (
            "mapInPandas",
            "applyInPandas",
        ):
            out.append(f"{rel}:{node.lineno} {node.attr}")
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "toPandas"
            and rel in TOPANDAS_MODULES
        ):
            out.append(f"{rel}:{node.lineno} toPandas")
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "tolist"
        ):
            out.append(f"{rel}:{node.lineno} .tolist()")
        elif isinstance(node, ast.Import) and any(
            a.name.split(".")[0] == "pandas" for a in node.names
        ):
            out.append(f"{rel}:{node.lineno} imports pandas")
        elif (
            isinstance(node, ast.ImportFrom)
            and (node.module or "").split(".")[0] == "pandas"
        ):
            out.append(f"{rel}:{node.lineno} imports from pandas")
    return out


def test_block_codec_has_one_owner():
    pkg_dir = os.path.dirname(pkg.__file__)
    found = []
    for rel in CODEC_MODULES:
        with open(os.path.join(pkg_dir, rel), encoding="utf-8") as fh:
            found += _codec_violations(rel, ast.parse(fh.read(), rel))
    assert found == []


def test_codec_scan_flags_the_list_detour():
    src = (
        "import pandas as pd\nfrom pandas import DataFrame\n"
        "df.mapInPandas(f, schema=s)\nrow.tolist()\n"
        "df.groupBy(k).applyInPandas(f, schema=s)\ndf.toPandas()\n"
    )
    tree = ast.parse(src)
    assert len(_codec_violations("operators/dedup.py", tree)) == 6
    assert len(_codec_violations("drm/drm.py", tree)) == 5
