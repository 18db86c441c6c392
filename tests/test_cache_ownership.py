"""cache.py is the one owner of cached intermediates: no other package
module persists, checkpoints or unpersists a DataFrame; every cache a
call makes is released on every exit path; and no operator drops a
cache its caller created."""

import ast
import glob
import os
import shutil
import threading

import numpy as np
import pytest

import mahout_samsara_book_spark as pkg
from mahout_samsara_book_spark import cache
from mahout_samsara_book_spark.cache import release_tracked
from mahout_samsara_book_spark.drm.drm import Drm

PKG_DIR = os.path.dirname(pkg.__file__)
CACHE_CALLS = {"persist", "unpersist", "localCheckpoint"}
# Drm.unpersist() is the Samsara DSL (A4) and delegates to
# cache.release; an AST scan cannot type a receiver, so the book code's
# DSL calls are listed by (module, receiver name)
DRM_DSL_CALLS = {
    ("algorithms/bahmani.py", "prev"),
    ("algorithms/regression.py", "xb"),
}


def _violations(rel: str, tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr, recv = node.func.attr, node.func.value
            if attr not in CACHE_CALLS:
                continue
            if isinstance(recv, ast.Name) and (rel, recv.id) in DRM_DSL_CALLS:
                continue
            out.append(f"{rel}:{node.lineno} .{attr}(")
        elif isinstance(node, ast.ImportFrom):
            if any(a.name == "StorageLevel" for a in node.names):
                out.append(f"{rel}:{node.lineno} imports StorageLevel")
        elif isinstance(node, ast.Attribute) and node.attr == "StorageLevel":
            out.append(f"{rel}:{node.lineno} uses StorageLevel")
    return out


def test_only_cache_module_persists_checkpoints_or_unpersists():
    found = []
    for path in sorted(glob.glob(f"{PKG_DIR}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG_DIR)
        if rel == "cache.py":
            continue
        with open(path, encoding="utf-8") as fh:
            found += _violations(rel, ast.parse(fh.read(), rel))
    assert found == []


def test_scan_flags_a_stray_call():
    src = "from pyspark import StorageLevel\ndf.persist()\nprev.unpersist()\n"
    assert len(_violations("operators/x.py", ast.parse(src))) == 3
    assert _violations("algorithms/bahmani.py", ast.parse("prev.unpersist()")) == []


class _FakeFrame:
    """Stands in for a DataFrame in the registry bookkeeping test."""

    class _Level:
        useMemory = useDisk = False

    storageLevel = _Level()
    dropped = False

    def persist(self, level):
        return self

    def unpersist(self, blocking=False):
        self.dropped = True


def test_registry_is_consistent_under_concurrent_track_and_release():
    import sys
    from concurrent.futures import ThreadPoolExecutor

    n0 = len(cache._TRACKED)

    def worker(_):
        mine = [cache.track(_FakeFrame()) for _ in range(200)]
        for df in mine[::2]:
            cache.release(df)
        return mine

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=2 * os.cpu_count()) as pool:
            frames = [df for mine in pool.map(worker, range(16)) for df in mine]
    finally:
        sys.setswitchinterval(interval)
    kept = frames[1::2]
    assert all(df.dropped for df in frames[::2])
    assert not any(df.dropped for df in kept)
    assert {id(df) for df in cache._TRACKED[n0:]} == {id(df) for df in kept}
    for df in kept:
        cache.release(df)
    assert len(cache._TRACKED) == n0 and all(df.dropped for df in kept)


# ------------------------------------------------------------------ #
# allreduce_block: empty DRM vs a map that returns nothing
# ------------------------------------------------------------------ #


def test_allreduce_block_raises_on_a_drm_without_rows(spark):
    d = Drm.from_numpy(spark, np.ones((6, 3)), num_partitions=2)
    empty = Drm(d.df.filter("row_id < 0"), ncol=3)
    with pytest.raises(ValueError, match="empty DRM"):
        empty.allreduce_block(lambda k, b: b.sum(axis=0), lambda a, b: a + b)


def test_allreduce_block_map_returning_no_rows_is_a_zero_row_result(spark):
    d = Drm.from_numpy(spark, np.arange(24.0).reshape(8, 3), num_partitions=3)
    none = d.allreduce_block(
        lambda k, b: b[:0, :2], lambda a, b: np.vstack([a, b])
    )
    assert none.shape == (0, 2)
    # partitions that return nothing drop out of a reduce that has rows
    some = d.allreduce_block(
        lambda k, b: b[k == 5], lambda a, b: np.vstack([a, b])
    )
    np.testing.assert_array_equal(some, [[15.0, 16.0, 17.0]])


def test_d_sample_survives_a_round_that_samples_nothing(spark, monkeypatch):
    from mahout_samsara_book_spark.algorithms.bahmani import (
        compute_point_weights,
        d_sample,
    )

    rng = np.random.default_rng(0)
    a = Drm.from_numpy(spark, rng.normal(size=(40, 2)), num_partitions=2)
    drawn = []
    real = Drm.allreduce_block

    def recording(self, *args, **kw):
        out = real(self, *args, **kw)
        drawn.append(out.shape[0])
        return out

    monkeypatch.setattr(Drm, "allreduce_block", recording)
    # ℓ = 1 candidate per round in expectation: seed 3 draws none in
    # some round
    centers, y = d_sample(a, sketch_size=1, iterations=6, seed=3)
    assert 0 in drawn
    assert centers.shape == (1 + sum(drawn), 2)
    w = compute_point_weights(y, centers.shape[0])
    assert abs(w.sum() - 1.0) < 1e-12
    y.unpersist()


# ------------------------------------------------------------------ #
# fault injection: every exit path leaves nothing cached
# ------------------------------------------------------------------ #


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _fail_on_call(n: int, real):
    calls = []

    def flaky(*args, **kw):
        calls.append(1)
        if len(calls) == n:
            raise RuntimeError("injected fault")
        return real(*args, **kw)

    return flaky


def _path_graph(spark, n: int = 12):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "some existing corpus content entirely distinct here"),
    (2, "another corpus document about parquet files and indexes"),
]
BATCH = [
    (100, "another corpus document about parquet files and indexes"),
    (101, "a crawled document about windows streams and joins"),
]


def test_kcore_peel_fault_releases_everything(spark, monkeypatch):
    from mahout_samsara_book_spark.operators import graph

    release_tracked(blocking=True)
    before = _persistent_rdds(spark)
    # checkpoint 1 = initial degrees, 2 = round 0, 3 = round 1
    monkeypatch.setattr(graph, "checkpoint", _fail_on_call(3, graph.checkpoint))
    with pytest.raises(RuntimeError, match="injected"):
        graph.kcore_peel(_path_graph(spark), k=2, rounds=4)
    release_tracked(blocking=True)
    assert _persistent_rdds(spark) <= before


def test_d_sample_fault_releases_everything(spark, monkeypatch):
    from mahout_samsara_book_spark.algorithms.bahmani import d_sample

    rng = np.random.default_rng(1)
    a = Drm.from_numpy(spark, rng.normal(size=(40, 2)), num_partitions=2)
    release_tracked(blocking=True)
    before = _persistent_rdds(spark)
    monkeypatch.setattr(
        Drm, "allreduce_block", _fail_on_call(2, Drm.allreduce_block)
    )
    with pytest.raises(RuntimeError, match="injected"):
        d_sample(a, sketch_size=6, iterations=3, seed=5)
    release_tracked(blocking=True)
    assert _persistent_rdds(spark) <= before


@pytest.mark.parametrize("materialize", [None, lambda df: df.count()])
def test_ingest_batch_fault_in_append_leaves_nothing_cached(
    spark, monkeypatch, tmp_path, materialize
):
    """``materialize``: the caller's action on the result, if any — the
    injected fault in the append raises before it could run."""
    from mahout_samsara_book_spark.operators import dedup

    path = str(tmp_path / "idx")
    dedup.dedup_index_persist(_docs(spark, CORPUS), path)
    release_tracked(blocking=True)
    before = _persistent_rdds(spark)
    n0 = len(cache._TRACKED)
    n_ckpt = []
    real_ckpt = dedup.checkpoint

    def counting(df):
        n_ckpt.append(1)
        return real_ckpt(df)

    monkeypatch.setattr(dedup, "checkpoint", counting)
    monkeypatch.setattr(dedup, "_append", _fail_on_call(1, dedup._append))
    with pytest.raises(RuntimeError, match="injected"):
        out = dedup.ingest_batch(_docs(spark, BATCH), path)
        if materialize is not None:
            materialize(out)
    # the batch shingles and the candidates are held in core
    assert n_ckpt == []
    assert len(cache._TRACKED) == n0
    assert _persistent_rdds(spark) <= before


def test_kcore_peel_keeps_the_callers_edge_cache(spark):
    from mahout_samsara_book_spark.operators.graph import kcore_peel

    edges = _path_graph(spark).cache()
    edges.count()
    try:
        kcore_peel(edges, k=2, rounds=4).collect()
        release_tracked(blocking=True)
        assert edges.storageLevel.useMemory
    finally:
        edges.unpersist(blocking=True)


def test_ingest_batch_with_materialize_releases_what_it_registered(
    spark, tmp_path
):
    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_persist,
        ingest_batch,
    )

    path = str(tmp_path / "idx")
    dedup_index_persist(_docs(spark, CORPUS), path)
    n0 = len(cache._TRACKED)
    rows = ingest_batch(_docs(spark, BATCH), path).collect()
    assert {r["doc_id"]: r["dup_of"] for r in rows} == {100: 2, 101: None}
    assert len(cache._TRACKED) == n0


def _stage_batches(spark, root: str, batches) -> str:
    bdir = f"{root}/batches"
    os.makedirs(bdir)
    for i, rows in enumerate(batches):
        tmp = f"{bdir}/_w{i}"
        _docs(spark, rows).coalesce(1).write.parquet(tmp)
        (f,) = glob.glob(tmp + "/part-*.parquet")
        dst = f"{bdir}/b{i:02d}.parquet"
        shutil.move(f, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    return bdir


def _threads() -> int:
    """``threading.active_count()`` less py4j's callback connections:
    py4j serves each JVM thread that calls into Python (every streaming
    query's execution thread) on its own thread, and keeps it."""
    return threading.active_count() - sum(
        getattr(getattr(t, "_target", None), "__module__", "").startswith("py4j")
        for t in threading.enumerate()
    )


THREE_BATCHES = [
    [(100, "a first-batch document about streams windows and joins")],
    [(200, "a first-batch document about streams windows and joins")],
    [(300, "genuinely fresh third batch material on sketches")],
]


def test_stream_ingest_pins_nothing_and_joins_its_threads(
    spark, tmp_path, monkeypatch
):
    from mahout_samsara_book_spark.operators.dedup import dedup_index_persist
    from mahout_samsara_book_spark.streaming import ingest

    root = str(tmp_path)
    bdir = _stage_batches(spark, root, THREE_BATCHES)
    dedup_index_persist(_docs(spark, CORPUS), f"{root}/idx")
    n0 = len(cache._TRACKED)
    out = ingest.run_stream_ingest(spark, bdir, f"{root}/idx", f"{root}/out")
    assert len(cache._TRACKED) <= n0
    got = {r["doc_id"]: r["dup_of"] for r in out.collect()}
    assert got == {100: None, 200: 100, 300: None}

    # a fault inside the sink: no thread or cache outlives the error
    threads = _threads()
    dedup_index_persist(_docs(spark, CORPUS), f"{root}/idx2")
    n0 = len(cache._TRACKED)
    monkeypatch.setattr(
        ingest, "ingest_batch", _fail_on_call(1, ingest.ingest_batch)
    )
    with pytest.raises(Exception, match="injected"):
        ingest.run_stream_ingest(spark, bdir, f"{root}/idx2", f"{root}/out2")
    assert _threads() == threads
    assert len(cache._TRACKED) <= n0
