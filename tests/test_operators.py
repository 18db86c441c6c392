"""LLM-data-pipeline operators: dedup family, similarity search, text
analysis, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mahout_samsara_book_spark.functions.text_analysis import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)
from mahout_samsara_book_spark.operators.dedup import (
    dup_clusters,
    ngram_jaccard_dedup,
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard,
    shingles,
    simhash,
    simhash_pairs,
)
from mahout_samsara_book_spark.operators.multimodal import (
    attach_media,
    decode_features,
    frame_sample,
)
from mahout_samsara_book_spark.operators.similarity import (
    cosine_topk,
    lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and dreams of distant mice"
)


@pytest.fixture(scope="module")
def dup_docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("lazy", "sleepy")),  # near-duplicate
        (3, "completely different text about spark query engines and "
            "distributed columnar execution with vectorized operators"),
        (4, "short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(dup_docs):
    out = exact_dedup(dup_docs).toPandas()
    dup_groups = out[out.n_copies > 1]
    assert len(dup_groups) == 1
    assert int(dup_groups.n_copies.iloc[0]) == 2
    assert int(dup_groups.keeper.iloc[0]) == 0


def test_minhash_estimates_jaccard(spark, dup_docs):
    sh = shingles(dup_docs, n=3)
    pairs = spark.createDataFrame([(0, 2)], "doc_a long, doc_b long")
    exact = ngram_jaccard(sh, pairs).toPandas().jaccard.iloc[0]
    sig = minhash_signatures(sh, k=64, seed=7).toPandas().set_index("doc_id")
    est = np.mean(
        [sig.loc[0, f"mh_{i}"] == sig.loc[2, f"mh_{i}"] for i in range(64)]
    )
    assert abs(est - exact) < 0.25  # 64-perm estimator tolerance
    assert exact > 0.5  # genuinely near-dup


def test_minhash_lsh_dedup_finds_near_dups(dup_docs):
    out = minhash_lsh_dedup(
        dup_docs, n=3, k=16, bands=8, seed=7, threshold=0.5
    ).toPandas()
    found = {(int(a), int(b)) for a, b in zip(out.doc_a, out.doc_b)}
    assert (0, 1) in found  # exact dup: jaccard 1.0
    assert (0, 2) in found  # near-dup
    assert (0, 3) not in found and (1, 3) not in found


def test_ngram_jaccard_dedup_matches_lsh_ground_truth(dup_docs):
    out = ngram_jaccard_dedup(dup_docs, n=3, threshold=0.5).toPandas()
    found = {(int(a), int(b)): j for a, b, j in
             zip(out.doc_a, out.doc_b, out.jaccard)}
    assert found[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in found  # near-dup (no LSH false-negative risk)
    assert (0, 3) not in found and (0, 4) not in found


def test_ngram_jaccard_dedup_strategies_agree(dup_docs):
    # index (inline intersection count) and prefix (PPJoin candidates +
    # full-set verify) are both exact — identical output
    idx = ngram_jaccard_dedup(dup_docs, n=3, threshold=0.5).toPandas()
    pfx = ngram_jaccard_dedup(
        dup_docs, n=3, threshold=0.5, strategy="prefix"
    ).toPandas()
    key = ["doc_a", "doc_b"]
    i = idx.sort_values(key).reset_index(drop=True)
    p = pfx.sort_values(key).reset_index(drop=True)
    assert len(i) == len(p) > 0
    assert (i.doc_a == p.doc_a).all() and (i.doc_b == p.doc_b).all()
    assert abs(i.jaccard - p.jaccard).max() < 1e-15


def test_ngram_jaccard_dedup_max_df_caps_candidates(spark):
    # docs 0/1 share ONLY a corpus-wide stop-gram ("the quick brown" in
    # every doc); docs 2/3 share a rare overlap. With max_df set below
    # the corpus size, the stop-gram generates no candidates, so the
    # 0/1 pair disappears while the rare-overlap pair keeps its EXACT
    # full-set jaccard (the cap affects candidates, never scores).
    stop = "the quick brown"
    rows = [
        (0, f"{stop} alpha beta gamma"),
        (1, f"{stop} delta epsilon zeta"),
        (2, f"{stop} shared rare overlap tail one"),
        (3, f"{stop} shared rare overlap tail two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = ngram_jaccard_dedup(docs, n=3, threshold=0.01).toPandas()
    capped = ngram_jaccard_dedup(
        docs, n=3, threshold=0.01, max_df=3
    ).toPandas()
    full_pairs = {(int(a), int(b)) for a, b in zip(full.doc_a, full.doc_b)}
    capped_pairs = {(int(a), int(b)) for a, b in zip(capped.doc_a, capped.doc_b)}
    assert (0, 1) in full_pairs and (0, 1) not in capped_pairs
    assert (2, 3) in capped_pairs
    j_full = full.set_index(["doc_a", "doc_b"]).loc[(2, 3), "jaccard"]
    j_capped = capped.set_index(["doc_a", "doc_b"]).loc[(2, 3), "jaccard"]
    assert j_full == j_capped  # scores exact under the cap


def test_dup_clusters_connected_components(spark):
    # chain 1-2-3 + triangle 10-11-12 + isolated pair (20, 21):
    # components resolve to their min id even when no direct edge
    # connects the extremes (label propagation over >1 hop)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    out = dup_clusters(pairs).toPandas()
    got = dict(zip(out.doc_id, out.cluster))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_simhash_near_dup(dup_docs):
    sim = simhash(dup_docs)
    pairs = simhash_pairs(sim, max_hamming=6).toPandas()
    found = {(int(a), int(b)): int(h) for a, b, h in
             zip(pairs.doc_a, pairs.doc_b, pairs.hamming)}
    assert found[(0, 1)] == 0  # identical text → identical fingerprint
    assert (0, 2) in found  # near-dup within hamming 6
    assert (0, 3) not in found


def test_embedding_near_dups(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(6, 16))
    base[5] = base[0] + rng.normal(scale=0.01, size=16)  # planted near-dup
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dups(emb, threshold=0.95).toPandas()
    assert {(int(a), int(b)) for a, b in zip(out.vec_a, out.vec_b)} == {(0, 5)}


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_topk_matches_numpy(embeddings):
    out = cosine_topk(embeddings.limit(50), k=3).toPandas()
    emb = embeddings.limit(50).orderBy("vec_id").toPandas()
    mat = np.array(emb["embedding"].tolist(), dtype=np.float64)
    ids = emb["vec_id"].to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    np.fill_diagonal(sims, -np.inf)
    for qi in range(5):
        expect = ids[np.argsort(-sims[qi])[:3]]
        got = out[out.vec_id == ids[qi]].sort_values("rank").neighbor.to_numpy()
        assert list(got) == list(expect)


def test_lsh_topk_recall(embeddings):
    exact = cosine_topk(embeddings, k=1).toPandas()
    approx = lsh_topk(
        embeddings, k=1, n_planes=3, n_tables=8, seed=5
    ).toPandas()
    merged = exact.merge(approx, on="vec_id", suffixes=("_e", "_a"))
    # median NN angle in this table is ~69°: per-table collision
    # (1-θ/π)^3 ≈ 0.23 → 8 tables ≈ 0.88 expected recall
    recall = (merged.neighbor_e == merged.neighbor_a).mean()
    assert recall > 0.6
    # approx similarities are genuine cosines (subset of exact pair space)
    assert (merged.cosine_a <= merged.cosine_e + 1e-12).all()


def test_language_id(spark):
    rows = [
        (0, "the cat and the dog sat in the garden of the old house"),
        (1, "der hund und die katze ist mit den kindern in der stadt"),
        (2, "el perro y la casa de que en un dia es muy bonito no se"),
        (3, "xqz zzkj qwpv mmtr"),  # no stopwords at all
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = language_id(docs).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[1, "lang_pred"] == "de"
    assert out.loc[2, "lang_pred"] == "es"
    assert out.loc[3, "lang_pred"] == "und"


def test_token_stats(spark):
    docs = spark.createDataFrame(
        [(0, "Hello, world! 42 times"), (1, "")],
        "doc_id long, text string",
    )
    out = token_stats(docs).toPandas().set_index("doc_id")
    assert int(out.loc[0, "ws_tokens"]) == 4
    # BPE-ish: hello|,|world|!|42|times
    assert int(out.loc[0, "bpe_ish_tokens"]) == 6
    assert int(out.loc[1, "ws_tokens"]) == 0


def test_quality_score_ranges(spark, dup_docs):
    out = quality_score(dup_docs).toPandas()
    assert ((out.quality >= 0) & (out.quality <= 1)).all()
    assert ((out.alpha_ratio >= 0) & (out.alpha_ratio <= 1)).all()
    # the english prose doc outscores the 2-token fragment
    q = out.set_index("doc_id").quality
    assert q.loc[0] > q.loc[4]


def test_fingerprint(spark):
    docs = spark.createDataFrame(
        [
            (0, "The quick brown fox"),
            (1, "the  QUICK   brown fox!!"),  # same tokens after normalize
            (2, "the quick brown foxes"),
        ],
        "doc_id long, text string",
    )
    out = fingerprint(docs).toPandas().set_index("doc_id").fingerprint
    assert out.loc[0] == out.loc[1]
    assert out.loc[0] != out.loc[2]


def test_multimodal_plumbing(spark, dup_docs):
    media = attach_media(dup_docs)
    assert media.schema.simpleString() == (
        "struct<doc_id:bigint,media:binary,media_type:string,"
        "n_bytes:bigint,checksum:string>"
    )
    feats = decode_features(media, out_dim=8).toPandas()
    assert len(feats) == 5
    assert all(len(f) == 8 for f in feats.features)
    # deterministic: same bytes → same features
    feats2 = decode_features(media, out_dim=8).toPandas()
    f1 = np.array(feats.sort_values("doc_id").features.tolist())
    f2 = np.array(feats2.sort_values("doc_id").features.tolist())
    assert np.array_equal(f1, f2)
    frames = frame_sample(media, stride=16, max_frames=4).toPandas()
    assert set(frames.columns) == {"doc_id", "frame_idx", "frame_byte"}
    assert frames.frame_idx.max() <= 3
    # resize: adaptive average-pool 8 → 3, schema preserved around the
    # feature column, mean preserved under equal-width pooling to 1
    from mahout_samsara_book_spark.operators.multimodal import resize_features

    small = resize_features(decode_features(media, out_dim=8), out_dim=3)
    spdf = small.toPandas()
    assert all(len(f) == 3 for f in spdf.features)
    one = resize_features(decode_features(media, out_dim=8), out_dim=1).toPandas()
    means = {
        int(r.doc_id): float(np.mean(f))
        for r, f in zip(feats.itertuples(), feats.features)
    }
    for r in one.itertuples():
        assert np.isclose(r.features[0], means[int(r.doc_id)])


def test_multimodal_real_codec_raises(spark, dup_docs):
    # image/jpeg has no stdlib decoder — still the declared env-stub
    # (WAV, PPM and PNG are real codecs now)
    media = attach_media(dup_docs).withColumn(
        "media_type", F.lit("image/jpeg")
    )
    with pytest.raises(Exception, match="codec"):
        decode_features(media).collect()
    # bytes labeled image/png that are not a PNG stream hit the PNG
    # decoder's own contract, not the generic stub
    png = attach_media(dup_docs).withColumn("media_type", F.lit("image/png"))
    with pytest.raises(Exception, match="not a PNG"):
        decode_features(png).collect()


def test_ensure_min_partitions_contract(spark):
    from mahout_samsara_book_spark.partitioning import ensure_min_partitions

    narrow = spark.range(0, 1000, 1, 2)
    widened = ensure_min_partitions(narrow)
    assert widened.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    # already-wide input passes through untouched (no added shuffle at
    # scale): same plan object back
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism + 8
    )
    assert ensure_min_partitions(wide) is wide


def test_ensure_min_partitions_widens_a_pruned_sliver(spark, tmp_path):
    """A partition filter prunes a table's scan to one file; the widen
    sees the pruned scan's width, not the table's."""
    from pyspark.sql import functions as F

    from mahout_samsara_book_spark.partitioning import ensure_min_partitions

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "pt")
    (
        spark.range(0, 50000, 1, par)
        .withColumn("p", (F.col("id") % 10).cast("int"))
        .repartition("p")
        .write.partitionBy("p")
        .parquet(path)
    )
    sliver = spark.read.parquet(path).filter(F.col("p") == 3)
    out = ensure_min_partitions(sliver)
    assert out is not sliver
    assert out.rdd.getNumPartitions() == par
    assert sorted(r["id"] for r in out.collect()) == list(range(3, 50000, 10))


def test_ngram_jaccard_matches_python_sets(spark):
    rng = np.random.default_rng(11)
    sets = {i: set(rng.choice(40, size=rng.integers(1, 12), replace=False).tolist())
            for i in range(12)}
    sets[20] = set(sets[3])  # identical to doc 3
    sets[21] = {100, 101, 102}  # disjoint from every other doc
    sh = spark.createDataFrame(
        [(i, h) for i, s in sets.items() for h in s], "doc_id long, h long"
    )
    ids = sorted(sets)
    want = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in ids for b in ids if a < b
    }
    pairs = spark.createDataFrame(list(want), "doc_a long, doc_b long")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard(sh, pairs).collect()}
    # a pair sharing no hash has no row (the intersect-join contract)
    assert got == {p: j for p, j in want.items() if j > 0}
    assert got[(3, 20)] == 1.0
    assert not any(21 in p for p in got)
