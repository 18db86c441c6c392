"""Text vectorization (SURVEY §2D D1; reference
``naiveBayesExample/.../NaiveBayesServlet.scala:76-106``).

Tokenization contract (``NaiveBayesServlet.scala:80-83``): lowercase,
split on runs of non-letter/non-digit (``[^\\p{L}\\p{Nd}]+``), unigram
counts. TF-IDF weight is Mahout's ``TFIDF`` class, which wraps Lucene's
classic DefaultSimilarity:

    weight(t, d) = sqrt(tf) * (ln(N / (df + 1)) + 1)

All of it is pure Spark SQL (regexp split + explode + groupBy + joins) —
no UDFs, fully pushdown/codegen-friendly, and relationally checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"[^\p{L}\p{Nd}]+"


def tokenize(text: Column) -> Column:
    """lowercase → split on non-letter/digit runs → drop empty tokens."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT), lambda t: t != ""
    )


def term_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unigram counts per document: ``(doc_id, term, tf)``.

    The tokenize+explode is the corpus's hottest narrow stage, so the
    scan-parallelism guard widens small-file inputs before it (no-op on
    any real-scale table — see ``partitioning.py``)."""
    from mahout_samsara_book_spark.partitioning import ensure_min_partitions

    docs = ensure_min_partitions(docs.select(id_col, text_col))
    return (
        docs.select(id_col, F.explode(tokenize(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_frequencies(counts: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``(term, df)`` — number of docs containing each term. ``counts``
    is unique per (doc, term) by construction, so a plain count suffices
    (a countDistinct would add a needless distinct-aggregate phase)."""
    return counts.groupBy("term").agg(F.count("*").alias("df"))


def build_dictionary(counts: DataFrame) -> DataFrame:
    """``(term, index)`` with dense 0-based indexes in term sort order —
    the deterministic replacement for the reference's SequenceFile
    dictionary (``NaiveBayesServlet.scala:45-48``; FIXTURES.md F7)."""
    from pyspark.sql import Window

    w = Window.orderBy("term")
    return (
        counts.select("term")
        .distinct()
        .select("term", (F.row_number().over(w) - 1).alias("index"))
    )


def tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, term, tfidf)`` with the Lucene/Mahout weight.

    N (corpus size) rides along as a broadcast scalar subquery — no
    eager driver-side count, so callers stay single-job; df comes from
    a broadcast-joined term table (vocabulary ≪ corpus at scale).
    """
    counts = counts if counts is not None else term_counts(docs, id_col, text_col)
    n_df = docs.select(id_col).distinct().agg(
        F.count("*").cast("double").alias("_n")
    )
    dfs = doc_frequencies(counts, id_col)
    return (
        counts.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(n_df))
        .select(
            id_col,
            "term",
            (
                F.sqrt(F.col("tf"))
                * (F.log(F.col("_n") / (F.col("df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    head_k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(term, df, total_tf, head_postings)`` — the search-index build
    step: per term, document frequency, total term frequency, and the
    first ``head_k`` doc ids of the doc-id-sorted posting list.

    The head cap is the scale contract: a stop-word's full posting list
    at 100 TB is the corpus itself, so the index build emits bounded
    blocks (real engines shard postings the same way) while ``df`` /
    ``total_tf`` still summarize the full list. The cap is applied
    BEFORE collection — rank per term, keep only rank ≤ head_k in the
    list aggregate — so no reducer ever materializes an unbounded
    array (collect-then-slice would). The rank window and the final
    aggregate share the term partitioning, so Catalyst plans one
    exchange for both."""
    from pyspark.sql import Window

    counts = term_counts(docs, id_col=id_col, text_col=text_col)
    w = Window.partitionBy("term").orderBy(id_col)
    ranked = counts.withColumn("rn", F.row_number().over(w))
    agg = ranked.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.array_sort(
            F.collect_list(
                F.when(F.col("rn") <= F.lit(int(head_k)), F.col(id_col))
            )
        ).alias("head_postings"),
    )
    return agg.filter(F.col("df") >= F.lit(int(min_df)))


def tfidf_neighbors(
    docs: DataFrame,
    k: int = 5,
    max_df: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
    counts: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, neighbor, cosine, rank)`` — top-k most similar
    documents per document by SPARSE tf-idf cosine, via the
    inverted-index (posting-list) join: the "more like this" /
    lexical near-dup retrieval that needs no embedding model.

    Scale shape: candidate pairs come from an equi-join of the weighted
    term relation with itself on ``term`` — cost is Σ df² over term
    document-frequencies, never |docs|². The ``max_df`` cap is the
    scale contract that keeps that sum linear-ish: a stop-word's
    posting list at 100 TB is the corpus itself (df² = everything),
    so terms with df > max_df are excluded from SCORING entirely —
    standard stop-term pruning, replayed identically by the oracle.
    The pair aggregate and the per-doc top-k window both partition by
    doc id; no global sort anywhere.

    Cross-engine determinism: a float dot product over a term SET is
    summed in partition-arrival order — not reproducible bit-for-bit
    across engines (or even runs), and a last-ulp wobble under a
    top-k boundary flips ranks. So weights are quantized to
    fixed-point micro-units (``round(tfidf · 1e6)`` as int64) and the
    dot product and squared norms are EXACT integer sums —
    order-invariant by construction. The final
    ``cosine = num / (sqrt(s2_a) · sqrt(s2_b))`` is then a chain of
    single correctly-rounded IEEE ops on identical integers, hence
    bit-identical on Spark and the oracle, making the (cosine desc,
    neighbor asc) ranking fully deterministic. Overflow headroom:
    w ≤ ~3.5e7 (tfidf ≲ 35), per-pair Σ w·w ≤ ~2.4e17 < 2^63.

    ``counts`` overrides the default unigram ``term_counts`` with any
    ``(id, term, tf)`` feature relation — e.g. hashed word-shingles
    (tf = 1), which is the right feature space when the unigram
    vocabulary is tiny or stop-word-dominated (then every unigram
    posting list is the corpus and df pruning either empties the
    scorer or goes quadratic)."""
    from pyspark.sql import Window

    if counts is None:
        counts = term_counts(docs, id_col=id_col, text_col=text_col)
    dfs = doc_frequencies(counts, id_col).filter(
        F.col("df") <= F.lit(int(max_df))
    )
    n_df = docs.select(id_col).distinct().agg(
        F.count("*").cast("double").alias("_n")
    )
    from mahout_samsara_book_spark.cache import track

    # the weighted relation feeds BOTH self-join sides plus the norm
    # aggregate — persist it once (ids + two longs) instead of
    # re-running the tokenize/shingle explode and df join three times
    w = track(
        counts.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.sqrt(F.col("tf"))
                * (F.log(F.col("_n") / (F.col("df") + 1.0)) + 1.0)
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("w"),
        )
    )
    s2 = w.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("s2")
    )
    a, b = w.alias("a"), w.alias("b")
    num = (
        a.join(b, "term")
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_id"),
            F.col(f"b.{id_col}").alias("neighbor"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("num"))
    )
    sa = s2.select(F.col(id_col).alias("doc_id"), F.col("s2").alias("s2_a"))
    sb = s2.select(F.col(id_col).alias("neighbor"), F.col("s2").alias("s2_b"))
    cos = (
        num.join(sa, "doc_id")
        .join(sb, "neighbor")
        .select(
            "doc_id",
            "neighbor",
            # least(·, 1.0): for exact-duplicate vectors num² == s2_a·s2_b,
            # and fl(sqrt(s))·fl(sqrt(s)) can round one ulp BELOW s,
            # pushing the quotient one ulp above 1.0 — clamp restores the
            # cosine contract; both engines clamp the same double, so
            # determinism is preserved
            F.least(
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("s2_a").cast("double"))
                    * F.sqrt(F.col("s2_b").cast("double"))
                ),
                F.lit(1.0),
            ).alias("cosine"),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        cos.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("doc_id", "neighbor", "cosine", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[str, list[str]]],
    topk: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    literal_fold_max_terms: int = 64,
) -> DataFrame:
    """``(query_id, doc_id, score, rank)`` — BM25 top-k retrieval for a
    literal query set (the Robertson/Lucene scoring every search stack
    runs over an inverted index):

        score(q, d) = Σ_t∈q  ln(1 + (N − df + ½)/(df + ½))
                             · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Scale shape: the query-term list is a literal (broadcast by
    construction); only the MATCHED postings stream — the corpus-wide
    work is the one term_counts aggregation every index build pays, and
    everything after is proportional to the postings of the queried
    terms, not the corpus. N/avgdl are two scalars collected once
    (one tiny aggregate job). The matched postings join a broadcast
    (term → query) literal map and aggregate ONCE on (query, doc) —
    not one aggregate per query — with the per-(query, doc) score
    folding in FIXED sorted-term order (one coalesced conditional sum
    per literal term, chained — the ``_ordered_m_sum`` discipline;
    adding exact 0.0 for a query's non-member terms is a float no-op,
    so one superset fold serves every query). Ranking rounds the score
    to 9 decimals on both engines so a last-ulp ln/division drift
    can't flip the row_number tiebreak.

    Two bit-identical score folds, dispatched on vocabulary size: the
    literal superset fold grows the expression tree by one conditional
    sum per distinct term — ideal at a handful of queries, expression
    bloat at hundreds — so above ``literal_fold_max_terms`` the
    aggregate instead collects the matched ``(term, s)`` pairs per
    (query, doc), sorts them, and folds with the ``aggregate`` HOF.
    Both paths sum the same present-term values in the same sorted-term
    order (the literal fold's extra +0.0 for absent terms is a float
    no-op), so the dispatch can never change a hash."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.partitioning import (
        ensure_min_partitions,
    )

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    spark = docs.sparkSession
    out_schema = StructType(
        [
            StructField("query_id", StringType()),
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("score", DoubleType()),
            StructField("rank", IntegerType(), False),
        ]
    )
    if not queries or all(not ts for _, ts in queries):
        return spark.createDataFrame([], out_schema)
    docs = ensure_min_partitions(docs.select(id_col, text_col))
    toked = docs.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    )
    lens = toked.select(F.col(id_col), F.size("_toks").alias("dl"))
    n_docs, avgdl = lens.agg(
        F.count("*"), F.avg("dl")
    ).first()
    if not n_docs:  # empty corpus: avgdl is NULL, nothing can match
        return spark.createDataFrame([], out_schema)
    counts = (
        toked.select(id_col, F.explode("_toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    all_terms = sorted({t for _, ts in queries for t in ts})
    matched = counts.filter(F.col("term").isin(all_terms))
    dfs = matched.groupBy("term").agg(F.count("*").alias("df"))
    per_term = (
        matched.join(F.broadcast(dfs), "term")
        .join(lens, id_col)
        .select(
            id_col,
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.lit(float(avgdl))
                    )
                )
            ).alias("s"),
        )
    )
    # (term → query) membership map: a literal, broadcast by size; a
    # term in two queries fans its postings to both (query, doc) keys
    spark = docs.sparkSession
    qmap = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, ts in queries for t in ts],
            "query_id string, term string",
        )
    )
    # one aggregate on (query, doc), two bit-identical fold shapes
    joined = per_term.join(qmap, "term")
    if len(all_terms) <= literal_fold_max_terms:
        # superset fold in sorted-term order — a query's non-member
        # terms contribute an exact 0.0 (coalesced empty sum), which
        # never perturbs the float fold
        acc = None
        for t in all_terms:
            term_sum = F.coalesce(
                F.sum(F.when(F.col("term") == t, F.col("s"))),
                F.lit(0.0),
            )
            acc = term_sum if acc is None else acc + term_sum
        scored = joined.groupBy("query_id", id_col).agg(
            acc.alias("score")
        )
    else:
        # large query sets: collect the matched (term, s) pairs per
        # (query, doc), sort by term, fold with the aggregate HOF —
        # the same present-term values in the same sorted order as the
        # literal fold, with O(1) expression-tree size
        scored = (
            joined.groupBy("query_id", id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("term", "s"))
                ).alias("_ts")
            )
            .select(
                "query_id",
                id_col,
                F.aggregate(
                    "_ts", F.lit(0.0), lambda a, x: a + x["s"]
                ).alias("score"),
            )
        )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", id_col, "score", "rank")
    )


BPE_EOW = "</w>"  # end-of-word sentinel, char-level mode
BPE_BARRIER = "|"  # word barrier, char-level mode — never merged


def bpe_merges(
    docs: DataFrame,
    k: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: str = "word",
) -> DataFrame:
    """``(merge_rank, tok_a, tok_b, merged, n_pair)`` — the first ``k``
    BPE merge rules learned from the corpus: per round, count adjacent
    token pairs corpus-wide, merge the most frequent (ties → lexical
    (a, b)), rewrite, repeat. The tokenizer-training primitive of every
    LLM data stack, here at word level over the engine tokenizer.

    Distributed shape: each round is ONE map-side-combined pair count
    over the corpus plus a 1-row driver collect (the argmax rule); the
    rewrite is a narrow string pass. k rounds = k corpus scans — BPE
    training's inherent cost (production trainers subsample; the shape
    is identical).

    Merge semantics contract (cross-engine-exact): the corpus state is
    the space-joined token string with sentinel spaces, and a merge
    applies leftmost-first non-overlapping via literal replace of
    ``' a b '`` with ``' ab '`` — BOTH engines' replace-all continue
    scanning after the inserted text, so an immediately repeated pair
    (``a b a b``) merges its odd occurrences this round and the rest
    on a later round if the pair is selected again. That differs from
    canonical BPE only on immediate self-repeats and is replayed
    bit-for-bit by the oracle's unrolled stages.

    Each round's rewritten state is PERSISTED (and the previous round
    dropped once superseded): without it, round i's pair count
    re-evaluates i stacked replaces over the raw corpus — O(k²) scans
    instead of O(k) (measured 17 s → ~6 s at sf0.1 with k=6).

    ``level='char'`` is canonical LLM-tokenizer training: each word is
    pre-split to its character sequence with the last character
    carrying the ``</w>`` end-of-word sentinel (Sennrich et al. 2016),
    and merges never cross word boundaries. Round-9 formulation — the
    one real BPE trainers use: because no pair spans a word boundary,
    the corpus-wide pair count equals Σ over DISTINCT word forms of
    (in-word pair count × corpus frequency), so the per-round state is
    the word VOCABULARY (one row per distinct form, with its
    frequency), not the corpus — the pair scan shrinks from every
    character occurrence to every character of every distinct form
    (~200× at sf0.1, more as the corpus outgrows its vocabulary;
    measured 4.2 s → sub-second at sf0.1, 72 → ~8 s at sf10). The
    literal-replace rewrite applies per word form, which is
    bit-identical to the corpus-state rewrite (replaces cannot span the
    barrier that separated words there), so the merge sequence, the
    counts, and the oracle's corpus-wide replay are all unchanged."""
    from mahout_samsara_book_spark.cache import release, track

    if level not in ("word", "char"):
        raise ValueError(f"level must be 'word' or 'char', got {level!r}")
    spark = docs.sparkSession
    toks = tokenize(F.col(text_col))
    if level == "char":
        # vocabulary state: one row per distinct word form
        state = (
            docs.select(F.explode(toks).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("freq"))
            .select(
                F.concat(
                    F.lit(" "),
                    F.concat_ws(" ", F.split(F.col("w"), "")),
                    F.lit(BPE_EOW),
                    F.lit(" "),
                ).alias("s"),
                "freq",
            )
        )
    else:
        state = docs.select(
            F.col(id_col),
            F.concat(
                F.lit(" "), F.concat_ws(" ", toks), F.lit(" ")
            ).alias("s"),
            F.lit(1).alias("freq"),
        ).select("s", "freq")
    rules = []
    prev = None
    for i in range(k):
        state = track(state)
        # adjacent pairs = zip(arr, arr[1:]) on a PRE-PROJECTED array
        # column: a transform/element_at lambda re-inlines the split
        # per element (measured 6× slower); two slices of one column
        # evaluate the split once
        toked_state = state.select(
            F.split(F.trim(F.col("s")), " ").alias("arr"), "freq"
        )
        pz = F.arrays_zip(
            F.slice(F.col("arr"), 1, F.size("arr") - 1).alias("a"),
            F.slice(F.col("arr"), 2, F.size("arr") - 1).alias("b"),
        )
        pairs = toked_state.filter(F.size("arr") >= 2).select(
            F.explode(pz).alias("p"), "freq"
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if prev is not None:  # superseded state: the count above
            release(prev)  # materialized the current one
        prev = state
        if not top:  # corpus exhausted below k merges
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        rules.append((i + 1, a, b, a + b, n))
        state = state.select(
            F.replace(
                F.col("s"), F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
            ).alias("s"),
            "freq",
        )
    if prev is not None:  # the rules are collected: nothing reads it
        release(prev)
    return spark.createDataFrame(
        rules,
        "merge_rank long, tok_a string, tok_b string, "
        "merged string, n_pair long",
    )
