"""Streaming crawl-ingest compose (round-12, VERDICT r11 item 8):
``foreachBatch`` around :func:`operators.dedup.ingest_batch` — the real
crawl shape, where micro-batches of documents dedup against an
ever-growing persisted index.

Why ``foreachBatch`` and not a stateful operator: the dedup index IS
the state, and it lives in storage (bucket/shingle/manifest tables),
not in the state store — each micro-batch needs full relational access
to it (band-bucket candidate join + Jaccard verify), which
applyInPandasWithState cannot express.  ``foreachBatch`` gives exactly
the contract the index requires: batches are delivered SEQUENTIALLY
(one sink invocation at a time — the single-writer contract holds by
construction), each batch probes the index snapshot every earlier
batch committed into, and the manifest append (dedup.py) makes a
mid-batch crash restartable — on recovery the batch re-runs under a
fresh batch_id and the orphaned half-append stays invisible.

Scale posture: per-batch cost is the lifecycle row's measured
batch-proportional probe+append (sf10: ~1.8× per 100× data); the
stream adds only micro-batch scheduling on top, so sustainable
ingest rate = batch size / (probe+append wall) — the SCALING.md
'streaming ingest' note records the measured ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from mahout_samsara_book_spark.operators.dedup import (
    ingest_batch,
    manifest_batch_ids,
)

DOCS_SCHEMA = "doc_id long, text string"


def run_stream_ingest(
    spark,
    batches_dir: str,
    index_path: str,
    out_path: str,
    n: int = 3,
    k: int = 16,
    bands: int = 8,
    seed: int = 7,
    threshold: float = 0.5,
) -> DataFrame:
    """Consume ``batches_dir`` (one parquet file per crawl batch,
    mtime-ordered) as a file stream with ``maxFilesPerTrigger=1`` and
    run every micro-batch through :func:`ingest_batch` against the
    persisted index at ``index_path``; each batch's keep/dup_of probe
    result lands under ``out_path`` tagged with its 1-based batch
    number.  Returns the accumulated result relation.  Batch numbering
    is deterministic: one file per trigger in mtime order under a
    fresh checkpoint means epoch i carries exactly file i.

    EXACTLY-ONCE: foreachBatch is an at-least-once sink — an epoch can
    re-run after its side effects finished (sink completed, stream
    checkpoint didn't land; or the whole stream is replayed under a
    fresh checkpoint).  Both side effects are therefore idempotent per
    epoch: the index append runs under the DETERMINISTIC batch_id
    ``epoch-<i>`` with ``skip_if_committed`` (a committed epoch's
    retry probes but never re-appends — the manifest is the
    exactly-once ledger), and the probe output OVERWRITES its own
    ``batch=<i+1>`` partition directory instead of appending.  Blind
    full-stream replay over a mutated index is a no-op that
    regenerates identical outputs (tested)."""
    src = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(batches_dir)
    )

    def sink(bdf: DataFrame, epoch_id: int) -> None:
        if bdf.isEmpty():  # trailing empty micro-batch — nothing to ingest
            return
        bid = f"epoch-{int(epoch_id)}"
        dst = f"{out_path}/batch={int(epoch_id) + 1}"
        # the output _SUCCESS check is a free local stat — test it FIRST
        # so the normal forward path (no prior output) never reads the
        # manifest here at all (ingest_batch's own skip_if_committed
        # check covers the committed-but-no-output recovery case); the
        # manifest read itself is driver-side metadata, not a Spark job
        committed = os.path.exists(dst + "/_SUCCESS") and bid in (
            manifest_batch_ids(spark, index_path)
        )
        if committed:
            # fully-processed epoch re-delivered: a FULL no-op.  The
            # probe must not re-run here — on a whole-stream replay the
            # index already holds LATER batches, so a recomputed probe
            # would see the future; the preserved output is the one
            # this epoch's true snapshot produced.
            return
        # committed-but-no-output can only mean the stream died between
        # the manifest commit and the output write — no later epoch ran
        # (foreachBatch serializes) — so the recomputed probe sees
        # exactly {corpus + earlier batches + own committed rows}, and
        # the self-row anti-join makes it identical to first-attempt.
        # ingest_batch probes the index in core before its append and
        # returns the result as a local relation, written here once the
        # append has committed.  Epochs stay sequential (foreachBatch).
        ingest_batch(
            bdf.select("doc_id", "text"), index_path,
            n=n, k=k, bands=bands, seed=seed, threshold=threshold,
            batch_id=bid, skip_if_committed=True,
        ).write.mode("overwrite").parquet(dst)

    q = src.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        if q.isActive:  # pragma: no cover — availableNow self-terminates
            q.stop()
    return spark.read.parquet(out_path)
