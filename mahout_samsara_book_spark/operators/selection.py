"""Training-set assembly operators (north-star extension, BASELINE.json):
deterministic split / stratified sample / shard / sequence-pack — the
selection-and-layout stage that turns a filtered corpus into training
shards. Everything is keyed on the portable md5-derived hash
(:mod:`mahout_samsara_book_spark.operators.hashing`), never ``rand()``,
so (a) the DuckDB oracle replays every decision bit-identically and
(b) task retries / speculative execution can't flip an assignment —
the determinism rule SURVEY §7 pins for the engine (reference analog:
seeded per-partition RNG, BahmaniSketch.scala:71).

Scale posture (100 TB): every operator is a narrow projection or a
window PARTITIONED BY a key whose cardinality the caller controls
(shard count) — no global single-partition window, no driver collect.
The pack operator deliberately packs WITHIN shards for exactly that
reason: a global greedy pack is a sequential scan by definition, while
per-shard packing is how production pipelines lay out training data
anyway (each output file packed independently).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mahout_samsara_book_spark.operators.hashing import h60

def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 42,
    buckets: int = 1000,
) -> DataFrame:
    """``(id, split)`` — deterministic train/val/test assignment.

    bucket = h60(seed || id) % buckets; cumulative weight thresholds
    carve the bucket range. A pure per-row projection: no shuffle, no
    RNG, stable under retries, and joinable back to the corpus as a
    broadcast-free equi-join on the id. The classic hash-mod split used
    for LLM corpus holdouts (doc-level, so near-dups of a train doc
    can't leak into test once dedup ran upstream).
    """
    if len(weights) != len(names):
        raise ValueError("weights and names must align")
    total = float(sum(weights))
    bucket = h60(F.concat(F.lit(f"s{seed}:"), F.col(id_col).cast("string"))) % buckets
    # CASE WHEN bucket < t1 THEN n1 WHEN bucket < t2 ... chain over the
    # cumulative thresholds
    acc = 0.0
    conds = []
    for w, n in zip(weights[:-1], names[:-1]):
        acc += w / total
        conds.append((int(acc * buckets), n))
    expr = F.lit(names[-1])
    for t, n in reversed(conds):
        expr = F.when(bucket < t, n).otherwise(expr)
    return df.select(F.col(id_col), expr.alias("split"))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    resolution: int = 10_000,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    h60(seed || stratum || id) % resolution < fraction·resolution.

    The hash replaces ``DataFrame.sampleBy`` (whose rand() draw is not
    replayable across engines or retries); the acceptance decision is a
    pure function of (seed, stratum, id). Strata missing from
    ``fractions`` default to 0.0 (dropped) — matching sampleBy.
    Narrow op: filter only, no shuffle; at 100 TB this is a pushed-down
    scan predicate over the id/stratum columns.
    """
    frac_col = None
    for k, v in sorted(fractions.items()):
        thresh = F.lit(int(round(v * resolution)))
        frac_col = (
            F.when(F.col(strata_col) == k, thresh)
            if frac_col is None
            else frac_col.when(F.col(strata_col) == k, thresh)
        )
    frac_col = frac_col.otherwise(F.lit(0)) if frac_col is not None else F.lit(0)
    draw = (
        h60(
            F.concat(
                F.lit(f"s{seed}:"),
                F.col(strata_col),
                F.lit(":"),
                F.col(id_col).cast("string"),
            )
        )
        % resolution
    )
    return df.filter(draw < frac_col)


def shard_assign(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """``(id, shard, pos)`` — the global deterministic shuffle that
    precedes training: every row lands in shard h60(seed||id) % n with
    a dense position ordered by (hash, id) inside the shard.

    This IS the scalable formulation of "shuffle the corpus": the only
    wide operation is one hash-partitioned window whose partition count
    (n_shards) the caller sizes to the cluster — each shard's sort is
    independent and spills locally. A global orderBy(rand()) would be
    one total sort with a nondeterministic key; this is n independent
    sorts with a replayable key.
    """
    h = h60(F.concat(F.lit(f"s{seed}:"), F.col(id_col).cast("string")))
    shard = (h % n_shards).alias("shard")
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), shard, h.alias("h"))
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", "pos")
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """``(id, shard, pack_id, pack_off)`` — contiguous token-budget
    packing of the sharded, hash-shuffled corpus: within each shard,
    documents are laid out in shard order and cut into packs of
    ``budget`` tokens; ``pack_id = floor(exclusive_cumsum / budget)``,
    ``pack_off`` the doc's token offset inside its pack.

    The sequence-packing layout LLM loaders consume (docs concatenated
    then split at context-window boundaries — a doc may straddle two
    packs, exactly like the loader's token stream does). One window
    per shard (cumulative sum), same scale shape as :func:`shard_assign`:
    parallelism = n_shards, no global sort, no collect.
    """
    h = h60(F.concat(F.lit(f"s{seed}:"), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col), F.col(token_col).alias("_tok"), h.alias("h")
    ).withColumn("shard", F.col("h") % n_shards)
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("_tok").over(w), F.lit(0).cast("long"))
    return base.select(
        id_col,
        "shard",
        F.floor(cum / budget).cast("long").alias("pack_id"),
        (cum % budget).cast("long").alias("pack_off"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id, n_hits, contaminated)`` — benchmark decontamination: flag
    every training document sharing at least one word n-gram with the
    held-out eval corpus (the n-gram-overlap rule LLM pipelines apply
    before training; n=13 in the GPT-3/PaLM writeups, parameterized
    here).

    Scale shape: the eval side is a benchmark suite — tiny relative to
    a 100 TB corpus — so its DISTINCT hashed-gram set is broadcast and
    the train side streams through one explode + broadcast-hash
    semi-join + per-doc count; the only wide op keyed on the corpus is
    the final per-doc aggregation (map-side combinable count). Gram
    identity is the hashed-fold from
    :func:`~mahout_samsara_book_spark.operators.dedup.shingle_hashes`
    (8-byte longs, no gram strings move through the join).
    ``n_hits`` counts the train doc's DISTINCT grams seen in eval.
    """
    from mahout_samsara_book_spark.operators.dedup import shingle_hashes

    ev_grams = (
        shingle_hashes(eval_df, n=n, id_col=id_col, text_col=text_col,
                       distinct=False)
        .select("h")
        .distinct()
    )
    tr_grams = shingle_hashes(
        train, n=n, id_col=id_col, text_col=text_col, distinct=True
    )
    hits = (
        tr_grams.join(F.broadcast(ev_grams), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0).cast("long")).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_embeddings(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(train_id, eval_id, cosine)`` — SEMANTIC benchmark
    decontamination: every (train, eval) vector pair whose cosine
    reaches ``threshold``. The embedding companion to the n-gram
    :func:`decontaminate` — paraphrased eval leakage shares no 13-gram
    but sits next to the eval point in embedding space; modern
    pipelines run both rules. Callers anti-join train against the
    flagged train_ids.

    Scale shape: the eval side is a benchmark suite — tiny vs a 100 TB
    corpus — so it broadcasts and the train side streams through ONE
    narrow pass (broadcast nested-loop with the threshold filter; no
    shuffle of the corpus, no pair materialization below threshold).
    At extreme eval sizes, restrict candidates first with the IVF
    partitioner (operators/similarity.py) and verify only same-cell
    pairs.

    Execution is the BLAS broadcast shape (same as
    ``embedding_near_dups``' small-corpus path): the eval suite
    collects to one numpy matrix, ships once per executor, and every
    Arrow batch of train vectors does a single matmul against it —
    NOT a SQL cross join with per-pair interpreted array folds, which
    measured >50× slower on the same flops (a 18k×2k×64 sweep timed
    out where the matmul takes milliseconds). Sub-%.7e float noise
    from BLAS summation order is absorbed by the output convention,
    the same contract as every other distributed float sum here.

    Determinism contracts (round-7): zero-norm vectors are EXCLUDED
    from both sides (cosine is undefined; numpy would yield NaN —
    silently dropped — while an engine with NaN-greatest float
    ordering would admit the pair). And the threshold compare runs on
    the cosine ROUNDED to 9 decimals, so a pair within ~1 ulp of the
    cutoff cannot be included by one engine and excluded by a
    recomputing oracle (filter MEMBERSHIP is not absorbed by the
    %.7e value convention; same caveat class as the bahmani φ
    threshold). Emitted cosine stays unrounded."""
    from mahout_samsara_book_spark.drm.drm import _decode
    from mahout_samsara_book_spark.operators.similarity import _collect_block
    from mahout_samsara_book_spark.partitioning import ensure_min_partitions

    e_ids, e_m = _collect_block(
        eval_df.select(
            F.col(id_col).cast("long").alias("eval_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        "eval_id",
        "v",
    )
    e_nrm = np.sqrt((e_m * e_m).sum(axis=1))
    bc = train.sparkSession.sparkContext.broadcast((e_ids, e_m, e_nrm))
    thr = float(threshold)

    base = ensure_min_partitions(
        train.select(
            F.col(id_col).cast("long").alias("train_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    )

    def flag(batches):
        r_ids, r_m, r_nrm = bc.value
        for b in batches:
            t_ids, t_m = _decode(b, r_m.shape[1], "train_id", "v")
            t_nrm = np.sqrt((t_m * t_m).sum(axis=1))
            # chunk the eval axis so the dense (batch × eval-chunk)
            # cosine block stays ~32 MB regardless of eval size —
            # a 10k-row batch against a 20k-vector suite would
            # otherwise materialize a 1.6 GB matrix PER TASK
            chunk = max(64, 4_000_000 // max(1, t_m.shape[0]))
            for lo in range(0, r_m.shape[0], chunk):
                rm = r_m[lo : lo + chunk]
                rn = r_nrm[lo : lo + chunk]
                rid = r_ids[lo : lo + chunk]
                denom = np.outer(t_nrm, rn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (t_m @ rm.T) / denom
                # zero-norm mask: undefined cosine never matches
                cos = np.where(denom > 0, cos, -1.0)
                ti, ei = np.nonzero(np.round(cos, 9) >= thr)
                if ti.size:
                    yield pa.RecordBatch.from_pydict(
                        {
                            "train_id": t_ids[ti],
                            "eval_id": rid[ei],
                            "cosine": cos[ti, ei],
                        }
                    )

    return base.mapInArrow(
        flag, schema="train_id long, eval_id long, cosine double"
    )


def domain_mix_sample(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    sample_frac: float = 0.5,
    id_col: str = "doc_id",
    seed: int = 42,
    resolution: int = 1 << 20,
) -> DataFrame:
    """``(id, domain)`` — deterministic mixture sampling: draw a corpus
    of ``sample_frac·N`` rows whose domain proportions target ``weights``
    (the data-mixing stage of LLM corpus assembly — e.g. upweight
    wikipedia, downweight crawl). Per-domain acceptance rate
    ``min(1, w_d·sample_frac·N / n_d)`` — a domain short of its target
    is taken whole, never oversampled (sampling without replacement).

    Fully distributed: domain counts come from one tiny groupBy joined
    back via broadcast (domains ≪ rows; no driver collect), the draw is
    the portable h60 hash (replayable by the oracle, stable under task
    retries), and the filter is a narrow projection — the same
    single-pass shape at 100 TB. Float rate → integer threshold uses
    one double-precision expression evaluated identically by Spark and
    DuckDB (same IEEE ops, same order).
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n_d"))
    total = df.agg(F.count("*").alias("_n"))
    w_expr = None
    for k, v in sorted(weights.items()):
        w_expr = (
            F.when(F.col(domain_col) == k, F.lit(float(v)))
            if w_expr is None
            else w_expr.when(F.col(domain_col) == k, F.lit(float(v)))
        )
    w_expr = (
        w_expr.otherwise(F.lit(0.0)) if w_expr is not None else F.lit(0.0)
    )
    rate = F.least(
        F.lit(1.0),
        w_expr
        * F.lit(float(sample_frac))
        * F.col("_n").cast("double")
        / F.col("_n_d").cast("double"),
    )
    thresh = F.floor(rate * F.lit(float(resolution))).cast("long")
    draw = (
        h60(
            F.concat(
                F.lit(f"m{seed}:"),
                F.col(domain_col),
                F.lit(":"),
                F.col(id_col).cast("string"),
            )
        )
        % resolution
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .crossJoin(F.broadcast(total))
        .filter(draw < thresh)
        .select(F.col(id_col), F.col(domain_col))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """``(id, chunk_id, chunk_text)`` — overlapping character-window
    chunking (RAG/embedding prep): chunk i covers
    ``[i·stride, i·stride + size)``; the final window is the first one
    whose end reaches the text end (no degenerate tail slivers).

    Pure SQL: a ``sequence`` of offsets exploded against the row, then
    one ``substring`` per chunk — a narrow projection whose output size
    is input·(size/stride); no shuffle, no UDF, safe at any corpus
    scale (chunking is embarrassingly row-local)."""
    n = F.length(F.col(text_col))
    # number of chunks: 1 + ceil(max(n - size, 0) / stride), as integer
    # arithmetic: 1 + (max(n - size, 0) + stride - 1) div stride
    extra = F.greatest(n - size, F.lit(0))
    n_chunks = F.lit(1) + ((extra + stride - 1) - ((extra + stride - 1) % stride)) / stride
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(0), n_chunks.cast("long") - 1)
        ).alias("chunk_id"),
        F.col(text_col),
    ).select(
        id_col,
        "chunk_id",
        F.substring(
            F.col(text_col), (F.col("chunk_id") * stride + 1).cast("int"), size
        ).alias("chunk_text"),
    )


def priority_sample(
    df: DataFrame,
    group_col: str,
    weight_col,
    k: int = 5,
    seed: int = 17,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-biased sampling WITHOUT replacement of k rows per group
    (priority sampling, Duffield-Lund-Thorup 2007): ``(id, group,
    priority)``. Each row draws priority = w·2^60/(h+1) — the Pareto
    key w/u for u uniform in (0, 1] — and the k highest priorities per
    group win, so inclusion probability scales with weight and heavy
    rows can't be drawn twice (the property frac-sampling lacks for
    curriculum / quality-weighted subset selection).

    Engine-portability is the design constraint: the classic
    Efraimidis-Spirakis key u^{1/w} needs ``pow``, whose last-ulp
    behavior differs between libm implementations — a selection built
    on it can flip rows between Spark and the oracle. The Pareto key
    uses one long→double cast, one multiply, one divide — all IEEE
    correctly-rounded and bit-identical in both engines — so the
    selected SET replays exactly. Same discipline as domain_mix's
    integer thresholding.

    Scale: one window per group partition; no global sort, no driver
    state. Skewed groups sort only their own rows (AQE splits the
    partition)."""
    if isinstance(weight_col, str):
        weight_col = F.col(weight_col)
    h = h60(F.concat(F.lit(f"w{seed}:"), F.col(id_col).cast("string")))
    pri = (weight_col.cast("double") * F.lit(float(1 << 60))) / (
        (h + F.lit(1)).cast("double")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("priority"), F.col(id_col)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(group_col),
            pri.alias("priority"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def universe_sample(
    df: DataFrame,
    key_col: str,
    pct: int,
    seed: int = 23,
) -> DataFrame:
    """Universe (join-key-correlated) sampling: keep a row iff the
    portable hash of its JOIN KEY falls in the accepted slice —
    ``h60(seed:key) mod 100 < pct``. Sampling two tables with the same
    (key, pct, seed) keeps them JOINABLE: the join of the samples IS
    the sample of the join (the property per-row Bernoulli sampling
    destroys, since the two sides would draw independently). This is
    the AQP / BlinkDB "universe" strategy for approximating join
    aggregates at 100 TB: scan-side filter, no shuffle, and every
    engine replica (or the DuckDB oracle) selects the identical row
    set because the draw is a pure hash of the key."""
    draw = h60(
        F.concat(F.lit(f"u{seed}:"), F.col(key_col).cast("string"))
    ) % 100
    return df.filter(draw < pct)


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    rank_buckets: int = 4096,
) -> DataFrame:
    """``(id, shard, pos)`` — a deterministic global shuffle of the
    corpus for one training epoch: shard = h60('ep{epoch}:' || id) %
    n_shards, pos = the row's rank within its shard under the same
    hash order.  Changing ``epoch`` reshuffles everything; re-running
    the same epoch reproduces the exact order (resumable training).

    Scale shape (round-10, VERDICT r9 item 1): the per-shard rank is a
    TWO-PHASE distributed rank, never a ``partitionBy(shard)`` window —
    that window is a one-task-per-shard sort (12.5 TB through each of 8
    sorters at 100 TB).  The order key within a shard is itself a
    uniform 60-bit hash, so STATIC key ranges are order-aligned
    sub-buckets with no sampling pass and no ``spark_partition_id``
    (whose consistency across plan branches would hang on exchange
    reuse): ``bucket = key >> (60 − log2 rank_buckets)`` increases
    monotonically with ``key`` inside every shard.  Phase 1 ranks
    within (shard, bucket) — parallelism n_shards × rank_buckets,
    decoupled from ``n_shards`` — phase 2 adds per-shard cumulative
    bucket counts (≤ n_shards·rank_buckets rows, broadcast).  Identical
    output to the single-window formulation, deterministic by
    construction.  ``rank_buckets`` (power of two) sizes phase-1 sort
    groups: 100 TB / (8 shards × 4096) ≈ 3 GB per group; raise it for
    bigger corpora."""
    if rank_buckets & (rank_buckets - 1) or rank_buckets <= 0:
        raise ValueError(f"rank_buckets must be a power of two: {rank_buckets}")
    shift = 60 - (rank_buckets.bit_length() - 1)
    key = h60(F.concat(F.lit(f"ep{epoch}:"), F.col(id_col).cast("string")))
    keyed = (
        df.select(F.col(id_col), key.alias("key"))
        .withColumn("shard", (F.col("key") % n_shards).cast("int"))
        .withColumn("bkt", F.shiftright(F.col("key"), shift).cast("int"))
    )
    w_loc = Window.partitionBy("shard", "bkt").orderBy("key", id_col)
    local = keyed.withColumn("lrank", F.row_number().over(w_loc).cast("long"))
    # ≤ n_shards × rank_buckets rows: cumulative counts of EARLIER
    # buckets in the same shard = each bucket's rank offset
    w_off = (
        Window.partitionBy("shard")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        keyed.groupBy("shard", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "shard",
            "bkt",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), ["shard", "bkt"])
        .select(
            id_col,
            "shard",
            (F.col("off") + F.col("lrank")).cast("long").alias("pos"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 42,
    buckets: int = 1000,
) -> DataFrame:
    """``(id, keeper, split)`` — train/val/test assignment where every
    member of an exact-duplicate cluster inherits the split of the
    cluster's canonical doc (min id per content hash), so no two copies
    of the same content ever straddle a split boundary — the leakage
    :func:`split_assign`'s doc-level hash cannot prevent on its own.

    One content-hash aggregate (map-side combinable) + one equi-join
    back on the content hash — both shuffles on md5(text), no pair
    stream.  Near-dup clusters compose the same way: feed
    ``dup_clusters``' (doc_id, cluster) through the identical
    keeper-hash rule instead of the md5 group.

    Null text hashes as empty content (all null-text docs form one
    cluster) — md5(NULL) is null and a null join key matches nothing,
    which would silently DROP such docs from the assignment; the
    operator's contract is total."""
    ch = F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("chash")
    keepers = (
        df.select(ch, F.col(id_col))
        .groupBy("chash")
        .agg(F.min(id_col).alias("keeper"))
    )
    assigned = split_assign(
        keepers.select(F.col("keeper").alias(id_col)),
        id_col=id_col,
        weights=weights,
        names=names,
        seed=seed,
        buckets=buckets,
    ).select(F.col(id_col).alias("keeper"), "split")
    return (
        df.select(F.col(id_col), ch)
        .join(keepers, "chash")
        .join(assigned, "keeper")
        .select(id_col, "keeper", "split")
    )
