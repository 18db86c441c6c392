"""Parity gates for the round-7 BLAS IVF/PQ paths: the broadcast-BLAS
argmin/probe/encode passes must produce EXACTLY the rows of their
declared relational twins on real fixture data (including the corpus-
member-center self-distance ties and the lowest-cid/lowest-code tie
contract)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_ivf_assign_blas_matches_join_twin(spark, emb):
    from mahout_samsara_book_spark.operators.similarity import (
        auto_n_centers,
        ivf_assign,
        ivf_assign_join,
        ivf_centers,
    )

    centers = ivf_centers(emb, auto_n_centers(emb), seed=9)
    blas = {(r.vec_id, r.cid) for r in ivf_assign(emb, centers).collect()}
    join = {(r.vec_id, r.cid) for r in ivf_assign_join(emb, centers).collect()}
    assert blas == join
    # every vector assigned exactly once
    assert len({v for v, _ in blas}) == len(blas) == emb.count()


def test_ivf_probes_matches_window_formulation(spark, emb):
    """ivf_probes == the old crossJoin + window top-nprobe, including
    the (d2, cid) tie order."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.operators.similarity import (
        ivf_centers,
        ivf_probes,
    )

    centers = ivf_centers(emb, 16, seed=9)
    nprobe = 3
    got = {
        (r.q_id, r.cid)
        for r in ivf_probes(emb, centers, nprobe).collect()
    }
    v = F.col("embedding").cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(v, F.col("center"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("cid").asc()
    )
    old = (
        emb.crossJoin(F.broadcast(centers))
        .select("vec_id", "cid", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
    )
    expect = {(r.vec_id, r.cid) for r in old.collect()}
    assert got == expect


def test_pq_encode_blas_codes_and_exact_self_d2(spark, emb):
    """The BLAS encoder picks the same codes as the relational window
    argmin over pq_scored, and a codeword's own source row encodes to
    d2 exactly 0.0 (the difference-form recompute contract)."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_scored,
    )

    got = pq_encode(emb, m=8, k=16, seed=11).collect()
    books = pq_codebooks(emb, m=8, k=16, seed=11)
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    old = (
        pq_scored(emb, books, 8)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    )
    gmap = {(r.vec_id, r.m): (r.code, r.d2) for r in got}
    omap = {(r.vec_id, r.m): (r.code, r.d2) for r in old}
    assert set(gmap) == set(omap)
    for key, (code, d2) in gmap.items():
        ocode, od2 = omap[key]
        assert code == ocode, key
        assert d2 == pytest.approx(od2, rel=1e-12, abs=1e-15), key
    # the 16 sampled codeword source rows self-encode at exactly 0
    zero_rows = [r for r in got if r.d2 == 0.0]
    assert len(zero_rows) >= 8  # at least one full sampled vector


def test_blas_tie_contract_with_duplicate_centers(spark):
    """Two bit-identical centers force EXACT distance ties for every
    vector: both the assign and the probe list must break them to the
    smallest cid (the oracle's ORDER BY d2, cid), independent of chunk
    boundaries."""
    from mahout_samsara_book_spark.operators.similarity import (
        ivf_assign,
        ivf_probes,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # centers: cid 0 and 1 identical, cid 2 far away
    centers = spark.createDataFrame(
        [(0, [5.0, 1.0]), (1, [5.0, 1.0]), (2, [1e6, 1e6])],
        "cid long, center array<double>",
    )
    assign = ivf_assign(vecs, centers).collect()
    assert all(r.cid == 0 for r in assign)  # tie -> smallest cid
    probes = ivf_probes(vecs, centers, nprobe=2).collect()
    per_q = {}
    for r in probes:
        per_q.setdefault(r.q_id, []).append(r.cid)
    # (d2, cid) order: the duplicate pair first, cid-ascending
    assert all(cids == [0, 1] for cids in per_q.values())


def test_unrolled_dot_bit_identical_to_fold(spark):
    """The codegen'd unrolled dot must reproduce the HOF fold
    BIT-FOR-BIT (same left-associated addition order), including null
    propagation on ragged arrays (F.get past the end == zip_with's
    null padding), so the join-path verify keeps its oracle hashes."""
    import math
    import random

    from pyspark.sql import functions as F

    from mahout_samsara_book_spark.operators.similarity import (
        _dot,
        _dot_unrolled,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-10, 10) for _ in range(17)],
         [rng.uniform(-10, 10) for _ in range(17)])
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "i long, a array<double>, b array<double>"
    )
    got = df.select(
        "i",
        _dot(F.col("a"), F.col("b")).alias("fold"),
        _dot_unrolled(F.col("a"), F.col("b"), 17).alias("unrolled"),
    ).collect()
    for r in got:
        # bit-identical, not approximately equal
        assert math.isclose(r.fold, r.unrolled, rel_tol=0.0, abs_tol=0.0)

    # ragged pair: one array shorter than the unrolled dim -> null on
    # both paths (fold: zip_with null padding poisons the sum; unrolled:
    # F.get out of bounds yields null)
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0], [3.0, 4.0, 5.0])],
        "i long, a array<double>, b array<double>",
    ).select(
        _dot(F.col("a"), F.col("b")).alias("fold"),
        _dot_unrolled(F.col("a"), F.col("b"), 3).alias("unrolled"),
    ).first()
    assert ragged.fold is None and ragged.unrolled is None


def test_verify_topk_join_matches_broadcast(spark, small_arrow_batches):
    """The verify strategies must agree row-for-row on the same
    candidate stream — the join path is what runs past the broadcast
    byte limit, so its scores/ranks must be indistinguishable. Seven-row
    Arrow batches make every partition arrive as several."""
    import random

    from pyspark.sql import functions as F

    from mahout_samsara_book_spark.operators.similarity import (
        _normed,
        _verify_topk,
    )

    rng = random.Random(29)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    base = _normed(emb, "vec_id", "embedding")
    cand = (
        emb.select(F.col("vec_id"))
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor")))
        .filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") != F.col("neighbor")))
    )
    fmt = lambda rows: sorted(  # noqa: E731
        (r.vec_id, r.neighbor, f"{r.cosine:.7e}", r["rank"]) for r in rows
    )
    j = fmt(_verify_topk(base, cand, 3, "vec_id", strategy="join").collect())
    b = fmt(
        _verify_topk(base, cand, 3, "vec_id", strategy="broadcast").collect()
    )
    assert j == b and len(j) > 0
    # bounded-query serving path: broadcast just the query vectors,
    # score grouped-by-neighbor — must agree with both other strategies
    qids = emb.select("vec_id").filter(F.col("vec_id") % 3 == 0)
    q = fmt(
        _verify_topk(
            base, cand, 3, "vec_id", strategy="qbroadcast", query_ids=qids
        ).collect()
    )
    assert q == b


# --------------------------------------------------------------------- #
# the embedding operators on the Arrow block codec, under seven-row
# batches (small_arrow_batches): every task sees several batches
# --------------------------------------------------------------------- #


def test_cosine_topk_broadcast_matches_pairs(spark, small_arrow_batches):
    import random

    from mahout_samsara_book_spark.operators.similarity import cosine_topk

    rng = random.Random(31)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )

    def run(strategy):
        return sorted(
            (r.vec_id, r.neighbor, f"{r.cosine:.7e}", r["rank"])
            for r in cosine_topk(emb, k=3, strategy=strategy).collect()
        )

    got = run("broadcast")
    assert got == run("pairs") and len(got) == 180


def test_broadcast_path_rejects_ragged_embeddings(spark):
    from mahout_samsara_book_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0]), (2, [3.0, 2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not all ncol=3 wide"):
        cosine_topk(emb, k=1, strategy="broadcast")


def test_embedding_near_dups_broadcast_matches_pairs(
    spark, small_arrow_batches
):
    import random

    from mahout_samsara_book_spark.operators.dedup import embedding_near_dups

    rng = random.Random(5)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    # every fourth vector gets a near-copy
    near = [
        (100 + i, [x + rng.uniform(-0.01, 0.01) for x in base[i]])
        for i in range(0, 40, 4)
    ]
    emb = spark.createDataFrame(
        list(enumerate(base)) + near, "vec_id long, embedding array<double>"
    )

    def run(strategy):
        return sorted(
            (r.vec_a, r.vec_b, f"{r.cosine:.7e}")
            for r in embedding_near_dups(
                emb, threshold=0.95, strategy=strategy
            ).collect()
        )

    got = run("broadcast")
    assert got == run("pairs")
    assert {(i, 100 + i) for i in range(0, 40, 4)} <= {(a, b) for a, b, _ in got}


def test_decontaminate_embeddings_matches_numpy(spark, small_arrow_batches):
    import numpy as np

    from mahout_samsara_book_spark.operators.selection import (
        decontaminate_embeddings,
    )

    rng = np.random.default_rng(17)
    t = rng.normal(size=(50, 6))
    e = np.vstack([t[[3, 11, 29]] + rng.normal(scale=0.01, size=(3, 6)),
                   rng.normal(size=(8, 6))])
    t[7] = 0.0  # zero-norm train vector
    e[5] = 0.0  # zero-norm eval vector

    def frame(m, id0):
        return spark.createDataFrame(
            [(id0 + i, [float(x) for x in row]) for i, row in enumerate(m)],
            "vec_id long, embedding array<double>",
        )

    got = {
        (r.train_id, r.eval_id): r.cosine
        for r in decontaminate_embeddings(
            frame(t, 0), frame(e, 1000), threshold=0.9
        ).collect()
    }
    want = {}
    for i, tv in enumerate(t):
        for j, ev in enumerate(e):
            nt, ne = np.linalg.norm(tv), np.linalg.norm(ev)
            if nt > 0 and ne > 0 and round(tv @ ev / (nt * ne), 9) >= 0.9:
                want[(i, 1000 + j)] = tv @ ev / (nt * ne)
    assert set(got) == set(want)
    assert {(3, 1000), (11, 1001), (29, 1002)} <= set(got)
    for key, cos in want.items():
        assert got[key] == pytest.approx(cos, rel=1e-12)


def test_semantic_dedup_matches_numpy(spark, small_arrow_batches):
    import numpy as np

    from mahout_samsara_book_spark.operators.dedup import semantic_dedup
    from mahout_samsara_book_spark.operators.similarity import (
        _centers_matrix,
        ivf_centers,
    )

    rng = np.random.default_rng(23)
    x = rng.normal(size=(60, 8))
    for src, dst in [(0, 30), (0, 31), (5, 40), (12, 50), (50, 55)]:
        x[dst] = x[src] + rng.normal(scale=1e-3, size=8)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.keep, r.rep)
        for r in semantic_dedup(emb, n_centers=4, threshold=0.99).collect()
    }
    # reference: nearest center, within-cluster cosine pairs, min-id
    # representative of each connected group
    cids, cm = _centers_matrix(ivf_centers(emb, 4, 5))
    cell = cids[np.argmin(((x[:, None, :] - cm[None]) ** 2).sum(-1), axis=1)]
    u = x / np.linalg.norm(x, axis=1, keepdims=True)
    rep = list(range(len(x)))

    def find(i):
        while rep[i] != i:
            i = rep[i]
        return i

    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            if cell[i] == cell[j] and u[i] @ u[j] >= 0.99:
                a, b = sorted((find(i), find(j)))
                rep[b] = a
    want = {i: (find(i) == i, find(i)) for i in range(len(x))}
    assert got == want
    assert sum(not keep for keep, _ in got.values()) >= 3
