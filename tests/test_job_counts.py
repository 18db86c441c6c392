"""Spark job-count guards for the text-NB train, the dedup ingest and
the partition-width rule: each corpus-sized reduction runs in one pass,
so the number of jobs a call submits stays flat, and deciding a width
runs none.  Counted per call with ``setJobGroup`` and
``statusTracker().getJobIdsForGroup``.  Jobs submitted from pool
threads (the two concurrent index writes of an append) do not carry
the caller's job group and are not counted."""

import itertools

from pyspark.sql import functions as F

from mahout_samsara_book_spark.algorithms.naive_bayes import train_text_nb
from mahout_samsara_book_spark.operators.dedup import (
    dedup_index_persist,
    incremental_dedup_persisted,
    ingest_batch,
)
from mahout_samsara_book_spark.partitioning import ensure_min_partitions

_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-count-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_WORDS = [f"w{i}" for i in range(60)]


def _text(i: int) -> str:
    return " ".join(_WORDS[(i * 7 + j * j) % len(_WORDS)] for j in range(14))


def test_train_text_nb_job_count(spark):
    docs = spark.createDataFrame(
        [(i, _text(i), f"l{i % 5}") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    # one corpus-aggregation plan and its collect: 12 jobs on local[4]
    assert _jobs(spark, lambda: train_text_nb(docs).collect()) <= 14


def _ingest_fixture(spark, tmp_path):
    corpus = spark.createDataFrame(
        [(i, _text(i)) for i in range(150)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1000 + i, _text(i if i % 3 else 10_000 + i)) for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "index")
    dedup_index_persist(corpus, path)
    return batch, path


def test_ingest_batch_job_count(spark, tmp_path):
    batch, path = _ingest_fixture(spark, tmp_path)
    n = _jobs(spark, lambda: ingest_batch(batch, path).collect())
    # 6 jobs in the caller's group on local[4]: the batch collect, the
    # candidate probe and the shingle fetch, and one broadcast job for
    # each of the three local relations they join
    assert n <= 6


def test_incremental_dedup_persisted_job_count(spark, tmp_path):
    batch, path = _ingest_fixture(spark, tmp_path)
    # the same 6 jobs: the probe without the append
    n = _jobs(spark, lambda: incremental_dedup_persisted(batch, path).collect())
    assert n <= 6


def test_ensure_min_partitions_runs_no_job(spark):
    """A plan holding an exchange comes back as it is, and deciding so
    runs nothing: reading such a plan's partition count would make the
    adaptive planner run its exchange first."""
    inputs = {
        "repartition": spark.range(1000).repartition(2),
        "group_by": spark.range(1000).groupBy(F.col("id") % 7).count(),
        "broadcast_join": spark.range(1000).join(
            F.broadcast(spark.range(10)), "id"
        ),
    }
    for name, df in inputs.items():
        out = []
        assert _jobs(spark, lambda: out.append(ensure_min_partitions(df))) == 0, name
        assert out[0] is df, name
