"""incremental_dedup (batch-vs-corpus) and universe_sample
(join-preserving correlated sampling)."""

from pyspark.sql import functions as F

from mahout_samsara_book_spark.operators.dedup import incremental_dedup
from mahout_samsara_book_spark.operators.selection import universe_sample


def test_incremental_flags_corpus_dups_keeps_new(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark and parquet files"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 1 — must be dropped, regardless of
            # the batch id being LARGER than the corpus id
            (100, "the quick brown fox jumps over the lazy dog tonight"),
            # genuinely new
            (101, "a brand new document with entirely fresh content words"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_dedup(corpus, batch).collect()}
    assert set(out) == {100, 101}
    assert not out[100]["keep"] and out[100]["dup_of"] == 1
    assert abs(out[100]["jaccard"] - 1.0) < 1e-12
    assert out[101]["keep"] and out[101]["dup_of"] is None


def test_incremental_batch_batch_defers_to_earlier_id(spark):
    corpus = spark.createDataFrame(
        [(1, "some existing corpus content entirely distinct here")],
        "doc_id long, text string",
    )
    dup_text = "two new copies of the same incoming document text stream"
    batch = spark.createDataFrame(
        [(200, dup_text), (201, dup_text)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in incremental_dedup(corpus, batch).collect()}
    assert out[200]["keep"]  # earlier id wins
    assert not out[201]["keep"] and out[201]["dup_of"] == 200


def test_incremental_persisted_matches_in_session(spark, tmp_path):
    """The persisted dedup index (buckets partitioned by band +
    shingle sets) must reproduce incremental_dedup bit-for-bit — only
    the BATCH is shingled/minhashed at probe time."""
    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_persist,
        incremental_dedup_persisted,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark and parquet files"),
            (3, "a third corpus document mentioning streams and windows"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight"),
            (101, "a brand new document with entirely fresh content words"),
            (102, "a brand new document with entirely fresh content words"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ddx")
    dedup_index_persist(corpus, path)
    got = sorted(
        map(tuple, incremental_dedup_persisted(batch, path).collect())
    )
    want = sorted(map(tuple, incremental_dedup(corpus, batch).collect()))
    assert got == want
    # corpus dup flagged against the index; batch-batch pair defers to
    # the earlier id — both behaviors must survive the round-trip
    rows = {r[0]: r for r in got}
    assert not rows[100][1] and rows[100][2] == 1
    assert rows[101][1] and not rows[102][1] and rows[102][2] == 101


def test_shuffled_verify_above_pair_limit_matches_in_core(
    spark, tmp_path, monkeypatch
):
    """Above PAIRS_BCAST_LIMIT the probe verifies over the lazy
    candidate relation with shuffled joins instead of an in-core pair
    set; both paths, persisted and in-session, return the same rows —
    for a batch with keep and dup outcomes and an empty-text doc, and
    for an empty batch."""
    from mahout_samsara_book_spark.operators import dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark and parquet files"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog tonight"),
            (101, "a brand new document with entirely fresh content words"),
            (102, "a brand new document with entirely fresh content words"),
            (103, ""),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ddx")
    dedup.dedup_index_persist(corpus, path)
    small_pairs = []
    real_verify = dedup.ngram_jaccard

    def verify(*args, _small_pairs=False, **kw):
        small_pairs.append(_small_pairs)
        return real_verify(*args, _small_pairs=_small_pairs, **kw)

    monkeypatch.setattr(dedup, "ngram_jaccard", verify)

    def probes():
        return [
            (
                sorted(map(tuple, dedup.incremental_dedup_persisted(b, path).collect())),
                sorted(map(tuple, dedup.incremental_dedup(corpus, b).collect())),
            )
            for b in (batch, batch.filter("doc_id < 0"))
        ]

    in_core = probes()
    assert all(small_pairs)
    small_pairs.clear()
    monkeypatch.setattr(dedup, "PAIRS_BCAST_LIMIT", 0)
    shuffled = probes()
    # the two non-empty batches had candidates, so they took the
    # shuffled verify; the empty batches' zero pairs still fit
    assert small_pairs == [False, False, True, True]
    assert shuffled == in_core
    (persisted, session), (empty_p, empty_s) = in_core
    assert persisted == session
    assert empty_p == empty_s == []
    rows = {r[0]: r for r in persisted}
    assert not rows[100][1] and rows[100][2] == 1
    assert rows[101][1] and not rows[102][1] and rows[102][2] == 101
    assert rows[103][1:] == (True, None, None)


def test_universe_sample_preserves_joins(spark):
    orders = spark.range(1000).select(F.col("id").alias("o_orderkey"))
    li = spark.range(3000).select((F.col("id") % 1000).alias("l_orderkey"))
    so = universe_sample(orders, "o_orderkey", 20)
    sl = universe_sample(li, "l_orderkey", 20)
    # every sampled lineitem's key is present in the sampled orders —
    # the join of samples equals the sample of the join
    n_sampled_join = so.join(sl, so.o_orderkey == sl.l_orderkey).count()
    full_join_sampled = universe_sample(
        orders.join(li, orders.o_orderkey == li.l_orderkey),
        "o_orderkey",
        20,
    ).count()
    assert n_sampled_join == full_join_sampled > 0
    # sample fraction is in the right ballpark
    assert 100 <= so.count() <= 320


def test_salted_join_equals_plain_join(spark):
    from mahout_samsara_book_spark.operators.skew import salted_join

    big = spark.range(500).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("payload")
    )
    small = spark.createDataFrame(
        [(i, f"v{i}") for i in range(7)], "k long, label string"
    )
    got = (
        salted_join(big, small, "k", n_salts=4)
        .groupBy("label")
        .count()
        .collect()
    )
    want = big.join(small, "k").groupBy("label").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_value_anomalies_flags_outlier(spark):
    from mahout_samsara_book_spark.streaming.events import value_anomalies

    rows = [(i, "a", 10.0 + (i % 3) * 0.1) for i in range(50)]
    rows.append((99, "a", 1000.0))  # the outlier
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    out = value_anomalies(ev, z_thresh=3.0).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["z"] > 3.0


def test_index_append_two_batch_lifecycle(spark, tmp_path):
    """Round-10 lifecycle (VERDICT r9 item 3): after ingest_batch
    appends batch 1's rows, a LATER batch matches batch-1 docs purely
    through the persisted index — and the appended files land only in
    band=... partitions (no unpartitioned stragglers, no re-written
    corpus files)."""
    import os

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_persist,
        incremental_dedup,
        incremental_dedup_persisted,
        ingest_batch,
    )

    corpus = spark.createDataFrame(
        [(1, "some existing corpus content entirely distinct here")],
        "doc_id long, text string",
    )
    b1_text = "a first-batch document about streams windows and joins"
    batch1 = spark.createDataFrame(
        [(100, b1_text), (101, "another new unrelated first batch doc")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(200, b1_text), (201, "genuinely fresh second batch material")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ddx")
    dedup_index_persist(corpus, path)

    def _files(sub):
        out = set()
        for root, _dirs, files in os.walk(path + sub):
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.join(root, f))
        return out

    bkt_before = _files("/buckets")
    out1 = {r["doc_id"]: r for r in ingest_batch(batch1, path).collect()}
    # batch 1 probed the PRE-append snapshot: no self-matches
    assert out1[100]["keep"] and out1[101]["keep"]
    new_bkt = _files("/buckets") - bkt_before
    assert new_bkt, "append wrote no bucket files"
    assert all("/band=" in f for f in new_bkt), new_bkt
    assert bkt_before <= _files("/buckets"), "append rewrote corpus files"

    # batch 2 sees batch 1 through the appended rows only
    out2 = {
        r["doc_id"]: r
        for r in incremental_dedup_persisted(batch2, path).collect()
    }
    assert not out2[200]["keep"] and out2[200]["dup_of"] == 100
    assert out2[201]["keep"]
    # equivalent in-session run: corpus ∪ batch1 as the existing side
    want = sorted(
        map(
            tuple,
            incremental_dedup(
                corpus.unionByName(batch1), batch2
            ).collect(),
        )
    )
    got = sorted(
        map(tuple, incremental_dedup_persisted(batch2, path).collect())
    )
    assert got == want


def test_semantic_dedup_groups_and_singletons(spark):
    """SemDeDup keep/drop: near-identical vectors in the same cluster
    group to one representative (smallest id); distinct vectors keep
    themselves; transitive chains collapse to one keeper."""
    from mahout_samsara_book_spark.operators.dedup import semantic_dedup

    base = [float(i) for i in range(8)]
    off = [x + 0.001 for x in base]          # ~1.0 cosine to base
    other = [float(8 - i) for i in range(8)]  # far from base
    emb = spark.createDataFrame(
        [(1, base), (2, base), (3, off), (9, other)],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in semantic_dedup(
        emb, n_centers=2, threshold=0.999, seed=3
    ).collect()}
    assert len(out) == 4
    assert out[1].keep and out[1].rep == 1
    # 2 is an exact copy, 3 a near-copy chained through 1 — both drop
    assert not out[2].keep and out[2].rep == 1
    assert not out[3].keep and out[3].rep == 1
    assert out[9].keep and out[9].rep == 9


def test_ingest_single_writer_contract_racing_batches_miss_each_other(
    spark, tmp_path
):
    """VERDICT r10 item 5: the persisted index is SINGLE-WRITER.  Two
    batches 'racing' — each probing before the other's append lands —
    each miss the other's documents: the contract is 'a batch sees
    everything ingested BEFORE it', nothing more.  This test asserts
    the documented behavior (not a fix): interleaved probe/probe/
    append/append finds no cross-batch dup, while the serialized
    ingest of the same batches does."""
    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_append,
        dedup_index_persist,
        incremental_dedup_persisted,
        ingest_batch,
    )

    corpus = spark.createDataFrame(
        [(1, "some existing corpus content entirely distinct here")],
        "doc_id long, text string",
    )
    shared = "the same crawled document text arriving in two writers"
    batch_a = spark.createDataFrame(
        [(100, shared)], "doc_id long, text string"
    )
    batch_b = spark.createDataFrame(
        [(200, shared)], "doc_id long, text string"
    )

    # interleaved (the race the contract forbids): probe A, probe B,
    # then both appends — B's probe ran against an index without A
    path1 = str(tmp_path / "ddx_race")
    dedup_index_persist(corpus, path1)
    out_a = incremental_dedup_persisted(batch_a, path1).collect()
    out_b = incremental_dedup_persisted(batch_b, path1).collect()
    dedup_index_append(batch_a, path1)
    dedup_index_append(batch_b, path1)
    assert all(r["keep"] for r in out_a)
    assert all(r["keep"] for r in out_b)  # the documented MISS

    # serialized (the contract): ingest A fully, then B — B sees A
    path2 = str(tmp_path / "ddx_serial")
    dedup_index_persist(corpus, path2)
    assert all(
        r["keep"] for r in ingest_batch(batch_a, path2).collect()
    )
    out_b2 = {
        r["doc_id"]: r for r in ingest_batch(batch_b, path2).collect()
    }
    assert not out_b2[200]["keep"] and out_b2[200]["dup_of"] == 100


def test_ingest_crash_recovery_blind_rerun_is_safe(spark, tmp_path):
    """VERDICT r11 item 3: the manifest commit makes a failed append
    recoverable by a BLIND re-run.  For both crash points (between the
    two data writes, and after both but before the manifest row):
    (1) a probe after the crash sees NOTHING of the batch — the orphan
    rows are invisible, not recall-degraded; (2) re-running the same
    append commits under a fresh batch_id, after which a probe of a
    copy-batch resolves dup_of through the index with the correct
    (non-doubled-shingle) jaccard of exactly 1.0; (3) the committed
    shingle row count per doc equals a single append's."""
    from mahout_samsara_book_spark.operators.dedup import (
        committed_index_tables,
        dedup_index_append,
        dedup_index_persist,
        incremental_dedup_persisted,
    )
    import pytest

    for crash_point in ("after_buckets", "after_shingles"):
        path = str(tmp_path / f"ddx_{crash_point}")
        corpus = spark.createDataFrame(
            [(1, "some existing corpus content entirely distinct here")],
            "doc_id long, text string",
        )
        dedup_index_persist(corpus, path)
        batch = spark.createDataFrame(
            [(100, "a crawled document about windows streams and joins")],
            "doc_id long, text string",
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            dedup_index_append(batch, path, _crash_point=crash_point)
        # (1) the crashed batch is invisible to probes
        probe = spark.createDataFrame(
            [(200, "a crawled document about windows streams and joins")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               incremental_dedup_persisted(probe, path).collect()}
        assert out[200]["keep"], f"{crash_point}: orphan rows leaked"
        # (2) blind re-run commits; the copy now resolves with the
        # exact jaccard a single clean append would give
        dedup_index_append(batch, path)
        out = {r.doc_id: r for r in
               incremental_dedup_persisted(probe, path).collect()}
        assert not out[200]["keep"] and out[200]["dup_of"] == 100
        assert abs(out[200]["jaccard"] - 1.0) < 1e-12, crash_point
        # (3) committed shingle multiset is single-append sized:
        # compare against a parallel index built with ONE clean append
        clean = str(tmp_path / f"ddx_{crash_point}_clean")
        dedup_index_persist(corpus, clean)
        dedup_index_append(batch, clean)
        _, sh_crashed = committed_index_tables(spark, path)
        _, sh_clean = committed_index_tables(spark, clean)
        got = sorted(map(tuple, sh_crashed.collect()))
        want = sorted(map(tuple, sh_clean.collect()))
        assert got == want, f"{crash_point}: committed shingles diverge"


def test_stream_ingest_matches_sequential_ingest(spark, tmp_path):
    """VERDICT r11 item 8: foreachBatch(ingest_batch) over a 2-file
    stream computes exactly the sequential two-ingest answer — batch 2
    resolves its dup through batch 1's append, delivered and committed
    through the real streaming engine."""
    import glob
    import os
    import shutil

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_persist,
        ingest_batch,
    )
    from mahout_samsara_book_spark.streaming.ingest import run_stream_ingest

    corpus = spark.createDataFrame(
        [(1, "some existing corpus content entirely distinct here")],
        "doc_id long, text string",
    )
    b1_text = "a first-batch document about streams windows and joins"
    b1 = spark.createDataFrame(
        [(100, b1_text)], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(200, b1_text), (201, "genuinely fresh second batch material")],
        "doc_id long, text string",
    )
    # stage the two batches as mtime-ordered single files
    batches = str(tmp_path / "batches")
    os.makedirs(batches)
    for i, b in enumerate([b1, b2]):
        tmp = f"{batches}/_w{i}"
        b.coalesce(1).write.parquet(tmp)
        (f,) = glob.glob(tmp + "/part-*.parquet")
        dst = f"{batches}/b{i:02d}.parquet"
        shutil.move(f, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    idx_s = str(tmp_path / "idx_stream")
    dedup_index_persist(corpus, idx_s)
    out = run_stream_ingest(
        spark, batches, idx_s, str(tmp_path / "out")
    )
    got = sorted(map(tuple, out.collect()))
    # sequential twin on a parallel index
    idx_q = str(tmp_path / "idx_seq")
    dedup_index_persist(corpus, idx_q)
    rows = []
    for i, b in enumerate([b1, b2], start=1):
        r = ingest_batch(b, idx_q).collect()
        rows.extend([(*t, i) for t in map(tuple, r)])
    want = sorted((d, k, df_, j, b) for (d, k, df_, j, b) in rows)
    got = sorted((d, k, df_, j, b) for (d, k, df_, j, b) in got)
    assert got == want
    # the streamed batch 2 resolved through batch 1's append
    by_id = {t[0]: t for t in got}
    assert by_id[200][1] is False and by_id[200][2] == 100

    # EXACTLY-ONCE under re-delivery: replay the WHOLE stream against
    # the already-mutated index (fresh checkpoint = every epoch
    # re-runs, the at-least-once worst case).  Committed epochs skip
    # their appends and the per-epoch output overwrites are
    # idempotent, so the index shingle multiset and the output are
    # byte-identical to the first run.
    from mahout_samsara_book_spark.operators.dedup import (
        committed_index_tables,
    )

    sh_before = sorted(
        map(tuple, committed_index_tables(spark, idx_s)[1].collect())
    )
    out2 = run_stream_ingest(
        spark, batches, idx_s, str(tmp_path / "out")
    )
    got2 = sorted(
        (d, k, df_, j, b)
        for (d, k, df_, j, b) in map(tuple, out2.collect())
    )
    assert got2 == want
    sh_after = sorted(
        map(tuple, committed_index_tables(spark, idx_s)[1].collect())
    )
    assert sh_after == sh_before, "replay re-appended a committed epoch"


def test_index_compact_preserves_probes_and_collects_garbage(
    spark, tmp_path
):
    """dedup_index_compact: after two ingests plus one crashed append,
    compaction (1) preserves probe results bit-for-bit, (2) collapses
    the per-batch directories to one generation, (3) deletes the
    crashed append's orphan rows, and (4) a blind re-run from every
    staged-swap crash point completes recovery."""
    import glob
    import os
    import shutil

    import pytest

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_append,
        dedup_index_compact,
        dedup_index_persist,
        incremental_dedup_persisted,
        ingest_batch,
    )

    corpus = spark.createDataFrame(
        [(1, "some existing corpus content entirely distinct here")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(100, "a first-batch document about streams windows and joins")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(200, "second batch content with its own fresh wording")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ddx")
    dedup_index_persist(corpus, path)
    ingest_batch(b1, path)
    ingest_batch(b2, path)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_index_append(
            spark.createDataFrame(
                [(300, "orphaned crashed append text")],
                "doc_id long, text string",
            ),
            path,
            _crash_point="after_shingles",
        )
    probe = spark.createDataFrame(
        [
            (500, "a first-batch document about streams windows and joins"),
            (501, "orphaned crashed append text"),
        ],
        "doc_id long, text string",
    )
    before = sorted(
        map(tuple, incremental_dedup_persisted(probe, path).collect())
    )
    n_dirs_before = len(glob.glob(path + "/shingles/batch_id=*"))
    assert n_dirs_before == 4  # corpus + 2 ingests + 1 orphan
    gen = dedup_index_compact(spark, path)
    after = sorted(
        map(tuple, incremental_dedup_persisted(probe, path).collect())
    )
    assert after == before
    assert glob.glob(path + "/shingles/batch_id=*") == [
        f"{path}/shingles/batch_id={gen}"
    ]
    for d in glob.glob(path + "/buckets/band=*/batch_id=*"):
        assert d.endswith(f"batch_id={gen}")
    # orphan text really gone from storage (501 kept on both probes —
    # never matched — and no stray rows survive the GC)
    assert [t for t in after if t[0] == 501][0][1] is True

    # ---- staged-swap crash recovery: re-run completes from each point
    # (a) crash after manifest_next written, before any rename
    man, man_next, man_old = (
        path + "/manifest", path + "/manifest_next", path + "/manifest_old"
    )
    shutil.copytree(man, man_next)
    gen2 = dedup_index_compact(spark, path)
    assert os.path.exists(man) and not os.path.exists(man_next)
    assert not os.path.exists(man_old)
    # (b) crash between the two renames: manifest absent
    shutil.copytree(man, man_next)
    os.rename(man, man_old)
    gen3 = dedup_index_compact(spark, path)
    assert os.path.exists(man) and not os.path.exists(man_next)
    assert not os.path.exists(man_old)
    final = sorted(
        map(tuple, incremental_dedup_persisted(probe, path).collect())
    )
    assert final == before


def test_incremental_equal_jaccard_tie_goes_to_lowest_id(spark):
    text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [(7, text), (3, text), (5, "completely unrelated text about spark")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame([(100, text)], "doc_id long, text string")
    (row,) = incremental_dedup(corpus, batch).collect()
    assert not row["keep"] and row["dup_of"] == 3 and row["jaccard"] == 1.0


def _random_batch(spark, seed: int, n_docs: int = 60, first_id: int = 500):
    """Docs over a 12-word vocabulary (near-dups are common), plus an
    empty text, a two-token text and a repeated text."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (first_id + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 25))))
        for i in range(n_docs)
    ]
    rows += [
        (first_id + n_docs, ""),
        (first_id + n_docs + 1, "w1 w2"),
        (first_id + n_docs + 2, rows[0][1]),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_in_core_band_keys_match_spark_functions(spark):
    """The shingles and band keys of the driver-side ingest batch and of
    the map-only per-document sketch equal the aggregate Spark
    builders' rows, for k divisible by bands and not, over docs shorter
    than n, empty and null texts and docs repeating a gram."""
    from mahout_samsara_book_spark.operators import dedup

    rows = [tuple(r) for r in _random_batch(spark, seed=3).collect()]
    rows += [(900, None), (901, "w1 w2 w3 w1 w2 w3 w1 w2 w3"), (902, "w4 w4 w4 w4")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    for n, k, bands, seed in [(3, 16, 8, 7), (2, 12, 4, 11), (3, 10, 3, 5)]:
        b = dedup._batch_in_core(batch, n, k, bands, seed)
        sh = dedup.shingle_hashes(batch, n)
        want_bkt = dedup.band_buckets(
            dedup.minhash_signatures(sh, k, seed), bands, k // bands
        )
        got_sh = sorted(zip(*b.sh.to_pydict().values()))
        got_bkt = sorted(zip(*b.bkt.to_pydict().values()))
        assert got_sh == sorted(map(tuple, sh.collect()))
        assert got_bkt == sorted(
            map(tuple, want_bkt.select("doc_id", "band", "sig").collect())
        )
        assert sorted(b.ids.to_pylist()) == sorted(
            r[0] for r in batch.select("doc_id").collect()
        )
        # the per-document sketch: the same rows, and no sketch row for
        # a doc without shingles (null, empty, fewer than n tokens)
        sk = dedup._doc_sketch(batch, n, k, seed)
        sk_sh = sorted(map(tuple, dedup._sketch_shingles(sk, "doc_id").collect()))
        assert sk_sh == got_sh
        assert sorted(
            map(tuple, dedup.band_buckets(sk, bands, k // bands).collect())
        ) == got_bkt
        assert {r[0] for r in sk.select("doc_id").collect()} == {r[0] for r in sk_sh}


def test_in_core_jaccard_matches_shuffled_verify(spark):
    """ngram_jaccard's in-core engine gives the shuffled engine's rows
    bit for bit; a pair that shares no shingle has no row in either."""
    import random

    import pyarrow as pa

    from mahout_samsara_book_spark.operators.dedup import ngram_jaccard

    rng = random.Random(9)
    sets = {d: {rng.randrange(40) for _ in range(rng.randint(1, 15))} for d in range(30)}
    sets[100], sets[101] = {1, 2, 3}, {4, 5}  # disjoint
    sh_rows = sorted((d, h) for d, hs in sets.items() for h in hs)
    pair_rows = sorted(
        {(a, b) for a in range(30) for b in range(30) if a < b and rng.random() < 0.2}
        | {(100, 101)}
    )
    got = ngram_jaccard(
        pa.table({"doc_id": [r[0] for r in sh_rows], "h": [r[1] for r in sh_rows]}),
        pa.table({"doc_a": [p[0] for p in pair_rows], "doc_b": [p[1] for p in pair_rows]}),
        _small_pairs=True,
    )
    want = ngram_jaccard(
        spark.createDataFrame(sh_rows, "doc_id long, h long"),
        spark.createDataFrame(pair_rows, "doc_a long, doc_b long"),
    )
    got_rows = sorted(zip(*got.to_pydict().values()))
    assert got_rows == sorted(map(tuple, want.collect()))
    assert (100, 101) not in {r[:2] for r in got_rows}
    assert got_rows  # the random pairs do overlap


def test_in_core_probe_edge_cases(spark, tmp_path, monkeypatch):
    """The in-core verify (no shuffled fallback taken) on an empty
    batch, a batch of docs shorter than n tokens, an equal-Jaccard tie,
    a re-probe after the append and a skip_if_committed re-delivery."""
    from mahout_samsara_book_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [(7, text), (3, text), (5, "completely unrelated text about spark")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "ddx")
    dedup.dedup_index_persist(corpus, path)
    engines = []
    real_verify = dedup.ngram_jaccard

    def verify(*args, _small_pairs=False, **kw):
        engines.append(_small_pairs)
        return real_verify(*args, _small_pairs=_small_pairs, **kw)

    monkeypatch.setattr(dedup, "ngram_jaccard", verify)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    assert rows(dedup.incremental_dedup_persisted(empty, path)) == []
    short = spark.createDataFrame([(50, "two words"), (51, ""), (52, "a b")], schema)
    assert rows(dedup.incremental_dedup_persisted(short, path)) == [
        (50, True, None, None), (51, True, None, None), (52, True, None, None)
    ]
    # equal-Jaccard tie between corpus docs 3 and 7: the lower id wins
    tie = spark.createDataFrame([(100, text), (101, "fresh words for a new doc")], schema)
    first = rows(dedup.ingest_batch(tie, path, batch_id="e1", skip_if_committed=True))
    assert first == [(100, False, 3, 1.0), (101, True, None, None)]
    # the index now holds the batch's own rows: the re-probe excludes them
    assert rows(dedup.incremental_dedup_persisted(tie, path)) == first
    # re-delivery of a committed batch: same answer, no second append
    sh_before = rows(dedup.committed_index_tables(spark, path)[1])
    again = rows(dedup.ingest_batch(tie, path, batch_id="e1", skip_if_committed=True))
    assert again == first
    assert rows(dedup.committed_index_tables(spark, path)[1]) == sh_before
    assert dedup.manifest_batch_ids(spark, path).count("e1") == 1
    assert engines and all(engines)


def test_append_writes_one_shingle_file_and_one_bucket_file_per_band(
    spark, tmp_path
):
    """An append lands exactly one shingle file and one bucket file per
    band, whatever the session's parallelism slices the batch into."""
    import glob

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_append,
        dedup_index_persist,
        ingest_batch,
    )

    path = str(tmp_path / "ddx")
    dedup_index_persist(_random_batch(spark, seed=1, first_id=0), path)
    assert spark.sparkContext.defaultParallelism > 1
    ingest_batch(_random_batch(spark, seed=2, first_id=1000), path, batch_id="i1")
    dedup_index_append(
        _random_batch(spark, seed=4, first_id=2000), path, batch_id="a1"
    )
    for bid in ("i1", "a1"):
        assert len(glob.glob(f"{path}/shingles/batch_id={bid}/*.parquet")) == 1
        per_band = [
            len(glob.glob(f"{path}/buckets/band={band}/batch_id={bid}/*.parquet"))
            for band in range(8)
        ]
        assert per_band == [1] * 8, (bid, per_band)


def test_index_build_writes_one_shingle_file_and_one_bucket_file_per_band(
    spark, tmp_path
):
    """The corpus build is map-only on the corpus's scan partitions: a
    single-partition corpus lands exactly one shingle file and one
    bucket file per band, whatever the session's parallelism."""
    import glob

    from mahout_samsara_book_spark.operators.dedup import dedup_index_persist

    assert spark.sparkContext.defaultParallelism > 1
    corpus = _random_batch(spark, seed=6, first_id=0).coalesce(1)
    path = str(tmp_path / "ddx")
    dedup_index_persist(corpus, path)
    assert len(glob.glob(f"{path}/shingles/**/*.parquet", recursive=True)) == 1
    per_band = [
        len(glob.glob(f"{path}/buckets/band={band}/**/*.parquet", recursive=True))
        for band in range(8)
    ]
    assert per_band == [1] * 8
