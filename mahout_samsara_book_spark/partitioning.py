"""The package's one partition-width rule.

Samsara decides a DRM's width once, at its source
(``drmParallelize(mx, numPartitions)``); :func:`ensure_min_partitions`
is that decision for every Spark input the package widens, and no other
module reads ``defaultParallelism`` or sets the scan split size.

A small parquet input arrives as a few scan partitions, and a parquet
row group is the smallest unit a scan task can read: Spark may cut a
one-row-group file into several byte-range splits, but only the split
holding the row group's midpoint reads rows. Every stage Catalyst
pipelines onto such a scan (tokenize/explode, quantize, candidate
generation) then runs on one core. The rule widens those inputs to the
session's default parallelism; a real-scale table has more splits and
row groups than cores, and the call adds nothing.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import DataFrame


def _row_group_count(files: list[str], stop: int) -> int:
    """Row groups across parquet ``files``, read from their footers in
    this process (no Spark job) and counted up to ``stop``. -1 when the
    layout is unknown: no input files, a path that is not a local file
    (an object store), or a file that is not parquet."""
    rg = 0
    for f in files:
        if rg >= stop:
            break
        u = urlparse(f)
        path = unquote(u.path)
        if u.scheme not in ("", "file") or u.netloc or not os.path.isfile(path):
            return -1
        try:
            rg += pq.read_metadata(path).num_row_groups
        except (OSError, ValueError):  # unreadable or not parquet
            return -1
    return rg if files else -1


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """``df``, repartitioned to the session's default parallelism when
    its scan is narrower than that; otherwise ``df`` itself.

    Decided from the plan alone, without running a Spark job:

    - a streaming plan, or one whose physical plan is adaptive (it holds
      an exchange, so its width is the exchange's, not the scan's),
      comes back untouched;
    - otherwise the width is the scan's partition count, or, when that
      count reaches the target, the row-group count of its parquet
      input files, since a split without a row group reads no rows.
    """
    if df.isStreaming:
        return df
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    width = qe.toRdd().getNumPartitions()
    if width >= target:
        rg = _row_group_count(df.inputFiles(), target)
        if rg >= 0:
            width = rg
    return df.repartition(target) if width < target else df
