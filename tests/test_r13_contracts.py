"""Round-13 optimization contracts: manifest path normalization, the
index id-type write guard, the rank-carrying probe pass, and the
observe-fused loop bookkeeping."""

import pytest
from pyspark.sql import functions as F

from mahout_samsara_book_spark.operators.dedup import (
    _assert_index_id_type,
    _manifest_local_path,
)


def test_manifest_local_path_normalization():
    # bare local paths and host-less file: URIs are LOCAL
    assert _manifest_local_path("/tmp/idx/manifest") == "/tmp/idx/manifest"
    assert _manifest_local_path("file:/tmp/idx/manifest") == (
        "/tmp/idx/manifest"
    )
    assert _manifest_local_path("file:///tmp/idx/manifest") == (
        "/tmp/idx/manifest"
    )
    # a file: URI with a non-empty host is REMOTE (ADVICE r12), as is
    # any other scheme
    assert _manifest_local_path("file://host/tmp/idx/manifest") is None
    assert _manifest_local_path("hdfs://nn:8020/idx/manifest") is None
    assert _manifest_local_path("s3://bucket/idx/manifest") is None


def test_index_id_type_guard(spark):
    ok = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    _assert_index_id_type(ok, "doc_id")  # long — passes
    bad = ok.select(
        F.col("doc_id").cast("int").alias("doc_id"), "text"
    )
    with pytest.raises(TypeError, match="must be BIGINT/long"):
        _assert_index_id_type(bad, "doc_id")


def test_probe_rank1_is_assignment(spark):
    """ivf_probes(with_rank=True) rank 1 must equal ivf_assign under
    the shared (d2, cid) tie contract — ivf_topk/ann_ivfpq_topk derive
    the IVF assignment from it (round-13 single-pass fusion)."""
    import random

    from mahout_samsara_book_spark.operators.similarity import (
        _centers_matrix,
        ivf_assign,
        ivf_centers,
        ivf_probes,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    centers = _centers_matrix(ivf_centers(emb, 8, 9))
    got = {
        (r["q_id"], r["cid"])
        for r in ivf_probes(emb, centers, 2, with_rank=True)
        .filter(F.col("rank") == 1)
        .collect()
    }
    want = {
        (r["vec_id"], r["cid"])
        for r in ivf_assign(emb, centers).collect()
    }
    assert got == want


def test_lsls_summary_probe_converges(spark):
    """The (count, xor) summary gate must not change LSLS labels or
    stop early: a long chain needs several contraction rounds, and the
    exact probe still decides convergence."""
    from mahout_samsara_book_spark.operators.dedup import (
        connected_components_lsls,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 100)],
        "doc_a long, doc_b long",
    )
    out = {
        (r["doc_id"], r["cluster"])
        for r in connected_components_lsls(pairs).collect()
    }
    assert out == {(i, 0) for i in range(41)} | {(100, 100)}


def test_widen_counts_row_groups(spark, tmp_path):
    """Once a parquet scan's splits reach the target,
    ensure_min_partitions counts the input's row groups: a one-row-group
    file cut into many splits still reads its rows in one task, so it is
    widened; a file with at least target row groups is left alone; an
    object-store path has an unknown layout and does not raise; the rows
    are identical either way."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mahout_samsara_book_spark.partitioning import (
        _row_group_count,
        ensure_min_partitions,
    )

    par = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "one_rg.parquet")
    tbl = pa.table({"k": list(range(50_000)), "v": [1.0] * 50_000})
    pq.write_table(tbl, p)  # one row group
    p2 = str(tmp_path / "many_rg.parquet")
    pq.write_table(tbl, p2, row_group_size=max(1, 50_000 // (par + 1)))
    assert _row_group_count([p], par) == 1
    assert _row_group_count([p2], par) >= par
    assert _row_group_count(["s3://bucket/x.parquet"], par) == -1
    assert _row_group_count([], par) == -1

    # byte-range splits small enough that each file's scan reaches the
    # target on its own
    ns = spark.newSession()
    ns.conf.set(
        "spark.sql.files.maxPartitionBytes", str(os.path.getsize(p) // (2 * par))
    )
    df = ns.read.parquet(p)
    assert df.rdd.getNumPartitions() >= par
    out = ensure_min_partitions(df)
    assert "Repartition" in out._jdf.queryExecution().logical().toString()
    assert out.rdd.getNumPartitions() == par
    assert sorted(r["k"] for r in out.collect()) == list(range(50_000))

    df2 = ns.read.parquet(p2)
    assert df2.rdd.getNumPartitions() >= par
    assert ensure_min_partitions(df2) is df2
