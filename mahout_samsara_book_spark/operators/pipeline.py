"""End-to-end training-set selection: the composition the individual
north-star operators exist FOR — a pretraining-corpus filter chain
(C4/Gopher-style) run as ONE Spark job graph:

    quality floor → language filter → exact-dup keeper →
    near-dup cluster keeper → selected doc ids

Every stage is the registered operator (quality_score, language_id,
exact_dedup, minhash_lsh_dedup + dup_clusters), composed with semi/anti
joins so the doc relation streams through once per filter and nothing
materializes driver-side. The DuckDB oracle replays the identical chain
by nesting each stage's oracle SQL as a CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mahout_samsara_book_spark.cache import track

from mahout_samsara_book_spark.functions.text import tokenize
from mahout_samsara_book_spark.functions.text_analysis import (
    langid_best,
    quality_exprs,
)
from mahout_samsara_book_spark.operators.dedup import (
    dup_clusters,
    exact_dedup,
    minhash_lsh_dedup,
)


def select_training_docs(
    docs: DataFrame,
    quality_min: float = 0.65,
    lang: str = "en",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    seed: int = 7,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id,)`` of documents that pass all four filters. Semi/anti
    joins keep every stage's output key-only (8-byte ids on the wire);
    the near-dup stage keeps exactly one doc per connected component
    (the cluster minimum), subsuming exact dups that also collide in
    LSH while the explicit exact-keeper stage guarantees byte-identical
    dups dedup even when shingling misses them (short docs)."""
    # Widen ONCE at the pipeline entry (round-8): the quality, exact-dup
    # and LSH branches all derive from this same DataFrame, so they
    # share a single repartition exchange (ReuseExchange dedupes the
    # identical subtree) instead of each interior operator re-widening
    # its own projection of the same small scan — the r7 A/B's ~1.4 s
    # guard overhead was 3 stacked exchanges of one corpus. Interior
    # ensure_min_partitions calls see the entry repartition's exchange
    # in the plan and return their input as it is, without running it.
    from mahout_samsara_book_spark.partitioning import (
        ensure_min_partitions,
    )

    docs = ensure_min_partitions(docs)
    # Fused quality+language stage: ONE corpus scan, ONE tokenization
    # feeding both predicates (the standalone operators each tokenize;
    # composing them as separate semi-joins would scan and tokenize the
    # corpus twice). Semantically identical to chaining the two
    # operators — same expressions, same thresholds.
    toked = docs.select(
        F.col(id_col),
        F.col(text_col),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    best = langid_best(F.col("_toks"))
    q = quality_exprs(F.col(text_col), F.col("_toks"))["quality"]
    lang_pred = F.when(best["score"] > 0, best["lang"]).otherwise("und")
    ql_ok = (
        toked.select(
            F.col(id_col), q.alias("_q"), lang_pred.alias("_lp")
        )
        .filter(
            (F.col("_q") >= F.lit(quality_min))
            & (F.col("_lp") == F.lit(lang))
        )
        .select(id_col)
    )
    keep_exact = exact_dedup(docs, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    pairs = minhash_lsh_dedup(
        docs, n=n, k=k, bands=bands, seed=seed, threshold=threshold,
        id_col=id_col, text_col=text_col,
    )
    losers = (
        dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select(F.col("doc_id").alias(id_col))
    )
    return (
        ql_ok.join(keep_exact, id_col, "leftsemi")
        .join(losers, id_col, "left_anti")
    )


def canonical_by_quality(
    docs: DataFrame,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    seed: int = 7,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(cluster, doc_id, quality)`` — canonical-representative
    selection: for every near-dup cluster, keep the HIGHEST-quality
    member (ties → smallest id) instead of docs_pipeline's
    smallest-id keeper. This is the curation policy real corpora want:
    when a page exists in five scrapes, keep the cleanest scrape, not
    an arbitrary one.

    Shape: the LSH cluster relation (already O(dup docs), sparse) joins
    the per-doc quality score (one corpus scan), then one row_number
    window per cluster — partitioned by cluster id, so the selection
    distributes with the clusters. Quality is the registered
    quality_exprs chain; the float ordering compares identical doubles
    on both engines, with the id tiebreak pinning exact ties."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.partitioning import (
        ensure_min_partitions,
    )

    # one shared widen for the LSH and quality branches (see
    # select_training_docs)
    docs = ensure_min_partitions(docs)
    pairs = minhash_lsh_dedup(
        docs, n=n, k=k, bands=bands, seed=seed, threshold=threshold,
        id_col=id_col, text_col=text_col,
    )
    clus = dup_clusters(pairs)
    toked = docs.select(
        F.col(id_col),
        quality_exprs(
            F.col(text_col), tokenize(F.col(text_col))
        )["quality"].alias("quality"),
    )
    j = clus.join(toked, clus.doc_id == toked[id_col]).select(
        "cluster", clus.doc_id.alias("doc_id"), "quality"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", "doc_id", "quality")
    )


def pipeline_funnel(
    docs: DataFrame,
    quality_min: float = 0.65,
    lang: str = "en",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    seed: int = 7,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(stage_id, stage, n)`` — per-stage retention counts of the
    selection chain: the funnel report every curation run publishes
    (where did the corpus go?). Stages nest (each count applies all
    previous filters), so the numbers decrease monotonically and the
    last row equals ``select_training_docs``'s output size.

    One shared scan: the docs relation is persisted and every stage is
    a key-only semi/anti-join chain off it — the funnel costs roughly
    one extra aggregate per stage over the pipeline itself, not a
    re-run per stage."""
    docs = track(docs)
    toked = docs.select(
        F.col(id_col),
        F.col(text_col),
        tokenize(F.col(text_col)).alias("_toks"),
    )
    best = langid_best(F.col("_toks"))
    q = quality_exprs(F.col(text_col), F.col("_toks"))["quality"]
    lang_pred = F.when(best["score"] > 0, best["lang"]).otherwise("und")
    ql_ok = (
        toked.select(F.col(id_col), q.alias("_q"), lang_pred.alias("_lp"))
        .filter(
            (F.col("_q") >= F.lit(quality_min))
            & (F.col("_lp") == F.lit(lang))
        )
        .select(id_col)
    )
    ql_ok = track(ql_ok)
    keep_exact = exact_dedup(docs, id_col, text_col).select(
        F.col("keeper").alias(id_col)
    )
    after_exact = track(ql_ok.join(keep_exact, id_col, "leftsemi"))
    pairs = minhash_lsh_dedup(
        docs, n=n, k=k, bands=bands, seed=seed, threshold=threshold,
        id_col=id_col, text_col=text_col,
    )
    losers = (
        dup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster"))
        .select(F.col("doc_id").alias(id_col))
    )
    final = after_exact.join(losers, id_col, "left_anti")

    def _stage(i, name, rel):
        return rel.agg(F.count("*").alias("n")).select(
            F.lit(i).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.col("n").cast("long").alias("n"),
        )

    return (
        _stage(0, "total", docs.select(id_col))
        .unionByName(_stage(1, "quality_lang", ql_ok))
        .unionByName(_stage(2, "exact_keeper", after_exact))
        .unionByName(_stage(3, "near_dup_final", final))
    )
