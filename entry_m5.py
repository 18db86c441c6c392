"""M5 registry: dedup / similarity / text-analysis / multimodal queries +
generated DuckDB oracles. Split from __spark_entry__ for size; imported
there and merged into queries()/oracle_sql().

The oracles REPLAY the engine pipelines (same portable hashes, same
constants baked as literals), so a hash-match certifies the whole
operator chain, not just an output shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_samsara_book_spark.sources.tables import load_table

from mahout_samsara_book_spark.tmpdirs import register_tmpdir
from mahout_samsara_book_spark.operators.hashing import (
    P31,
    affine_sql,
    h31_sql,
    h60_sql,
    hash_family,
)

# ------------------------------------------------------------------ #
# shared helpers (sci() injected by __spark_entry__ to avoid a cycle)
# ------------------------------------------------------------------ #

_sci = None
_sci_sql = None


def _init(sci, sci_sql):
    global _sci, _sci_sql
    _sci, _sci_sql = sci, sci_sql


TOKS_SQL = (
    r"list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{Nd}]+'), "
    r"t -> t <> '')"
)

# documents + 10 planted exact duplicates (both engines replicate) so the
# LSH near-dup path provably fires on the synthetic corpus
_AUG_DOCS_SQL = """
aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10
)
"""

# gram hash = per-token h31 mixed arithmetically (fold (acc*31 + h) mod
# P31) — replays operators/dedup.shingle_hashes exactly: one md5 per
# token, integer math for the gram identity
_SHINGLE_CTES = (
    _AUG_DOCS_SQL
    + f""",
tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM aug),
tkh AS (SELECT doc_id, list_transform(toks, t -> {h31_sql('t')}) AS th
        FROM tk),
shh AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(th) >= 3
                  THEN list_transform(range(1, len(th) - 1),
                       i -> ((((th[i] * 31 + th[i + 1]) % {P31}) * 31
                             + th[i + 2]) % {P31}))
                  ELSE []::BIGINT[] END) AS h
    FROM tkh
  )
)
"""
)

MINHASH_K = 8
MINHASH_SEED = 7
LSH_BANDS = 4  # 4 bands × 2 rows over k=8


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    dups = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


# ------------------------------------------------------------------ #
# queries
# ------------------------------------------------------------------ #


def q_text_shingle_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 lexical neighbors per document by idf-weighted shingle
    cosine via the posting-list join — "more like this" retrieval with
    no embedding model, and the graded companion to the binary LSH
    dedup verdicts (a full similarity ranking, not a threshold).

    Feature space is hashed 3-gram shingles (tf = 1 per distinct
    shingle, so the weight is pure idf): the unigram vocabulary of the
    fixture corpus is ~31 near-stopwords whose posting lists are the
    whole corpus — shingles give the diverse, df-bounded vocabulary a
    real near-dup scorer wants. Candidate cost is Σ df² with df capped
    at 50 (the scale contract; a no-op on the fixture where max shingle
    df is ~25). Cross-engine determinism comes from fixed-point integer
    weights — see functions/text.py:tfidf_neighbors."""
    from mahout_samsara_book_spark.functions.text import tfidf_neighbors

    docs = _augmented_docs(spark, sf_dir)
    from mahout_samsara_book_spark.operators.dedup import shingle_hashes

    # one hash(doc_id) exchange feeds the (doc_id, h) distinct AND —
    # through the weighted relation tfidf_neighbors builds on top —
    # the per-doc norm aggregate (round-13, guide §2.4: the same fused
    # discipline as dedup's _shingle_sig_fused; the unfused form
    # shuffled the full exploded shingle relation for the distinct and
    # again for the s2 groupBy)
    pre = docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    counts = shingle_hashes(
        pre, n=3, distinct=False
    ).dropDuplicates().select(
        "doc_id", F.col("h").alias("term"), F.lit(1).cast("long").alias("tf")
    )
    out = tfidf_neighbors(docs, k=5, max_df=50, counts=counts)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("neighbor").cast("long").alias("neighbor"),
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_text_shingle_neighbors() -> str:
    # replay of tfidf_neighbors over the hashed shingle features:
    # identical fixed-point quantization (w = round(idf·1e6) as BIGINT),
    # exact integer dot/norm sums, then single correctly-rounded IEEE
    # ops for the cosine — bit-identical doubles on both engines, so
    # the (cosine DESC, neighbor) row_number ranking matches exactly
    return f"""
WITH {_SHINGLE_CTES},
nd AS (SELECT count(DISTINCT doc_id) AS n FROM aug),
dfq AS (SELECT h, count(*) AS df FROM shh GROUP BY 1),
wq AS (
  SELECT shh.doc_id, shh.h,
         CAST(round((ln(nd.n / (dfq.df + 1.0)) + 1.0) * 1000000.0)
              AS BIGINT) AS w
  FROM shh, dfq, nd
  WHERE shh.h = dfq.h AND dfq.df <= 50
),
s2 AS (SELECT doc_id, sum(w * w) AS s2 FROM wq GROUP BY 1),
num AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS neighbor, sum(a.w * b.w) AS num
  FROM wq a JOIN wq b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
cos AS (
  SELECT n.doc_id, n.neighbor,
         least(CAST(n.num AS DOUBLE)
               / (sqrt(CAST(sa.s2 AS DOUBLE)) * sqrt(CAST(sb.s2 AS DOUBLE))),
               1.0) AS cosine
  FROM num n
  JOIN s2 sa ON n.doc_id = sa.doc_id
  JOIN s2 sb ON n.neighbor = sb.doc_id
),
rk AS (
  SELECT doc_id, neighbor, cosine,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM cos
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(neighbor AS BIGINT) AS neighbor,
       {_sci_sql('cosine')} AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import exact_dedup

    return exact_dedup(_augmented_docs(spark, sf_dir))


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import (
        minhash_signatures,
        shingle_hashes,
    )

    # distinct=False: the min-aggregate absorbs duplicate shingles, so
    # the only shuffle is the k-min groupBy itself (map-side combined)
    sh = shingle_hashes(_augmented_docs(spark, sf_dir), n=3, distinct=False)
    sig = minhash_signatures(sh, k=MINHASH_K, seed=MINHASH_SEED)
    cols = F.array(*[F.col(f"mh_{i}") for i in range(MINHASH_K)])
    return sig.select("doc_id", F.posexplode(cols).alias("i", "mh")).select(
        "doc_id", F.col("i").cast("long").alias("i"), F.col("mh")
    )


def q_dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import minhash_lsh_dedup

    out = minhash_lsh_dedup(
        _augmented_docs(spark, sf_dir),
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )
    return out.select("doc_a", "doc_b", _sci(F.col("jaccard")).alias("jaccard"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import ngram_jaccard_dedup

    out = ngram_jaccard_dedup(
        _augmented_docs(spark, sf_dir), n=3, threshold=0.5, max_df=None
    )
    return out.select("doc_a", "doc_b", _sci(F.col("jaccard")).alias("jaccard"))


def q_graph_components_lsls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same LSH pair graph, labeled by the large-star/small-star
    contraction instead of min-label propagation / union-find — the
    O(log diameter) alternative MUST emit the identical (doc_id,
    cluster = component minimum) fixpoint, so it shares
    o_dedup_clusters' recursive-closure oracle verbatim."""
    from mahout_samsara_book_spark.operators.dedup import (
        connected_components_lsls,
        minhash_lsh_dedup,
    )

    pairs = minhash_lsh_dedup(
        _augmented_docs(spark, sf_dir),
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )
    out = connected_components_lsls(pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_dedup,
    )

    pairs = minhash_lsh_dedup(
        _augmented_docs(spark, sf_dir),
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )
    out = dup_clusters(pairs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster").cast("long").alias("cluster"),
    )


def q_docs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.pipeline import (
        select_training_docs,
    )

    out = select_training_docs(
        _augmented_docs(spark, sf_dir),
        quality_min=0.65,
        lang="en",
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def o_docs_pipeline() -> str:
    # the full selection chain with each stage's oracle nested as a CTE
    # (quality raw for the numeric threshold; clusters bring their own
    # WITH RECURSIVE scope)
    return f"""
WITH
{_AUG_DOCS_SQL},
q AS ({o_text_quality('aug', raw=True)}),
l AS ({o_text_langid('aug')}),
keepers AS (SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5(text)),
clus AS ({o_dedup_clusters()})
SELECT CAST(a.doc_id AS BIGINT) AS doc_id
FROM aug a
JOIN q ON a.doc_id = q.doc_id
JOIN l ON a.doc_id = l.doc_id
JOIN keepers kp ON a.doc_id = kp.doc_id
WHERE q.quality >= 0.65 AND l.lang_pred = 'en'
  AND a.doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster)
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import simhash

    return simhash(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # plant 10 exact-duplicate vectors (mirrors _AUG_DOCS_SQL for documents)
    # so the near-dup path provably fires on the synthetic corpus
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    out = embedding_near_dups(emb.unionByName(dups), threshold=0.9)
    return out.select("vec_a", "vec_b", _sci(F.col("cosine")).alias("cosine"))


def q_sel_decontaminate_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination: flag (train, eval) embedding pairs at
    cosine ≥ 0.9 — the embedding companion to the n-gram
    sel_decontaminate (paraphrased eval leakage shares no 13-gram but
    sits next to the eval point in embedding space). Eval = the
    hash-chosen tenth of the corpus plus the 10 seed vectors; train =
    the augmented corpus (which plants exact copies of those seeds)
    minus eval — so the copies provably flag at cosine 1.0 alongside
    any natural near-leakage. Eval broadcasts; the corpus never
    shuffles."""
    from mahout_samsara_book_spark.operators.hashing import h60
    from mahout_samsara_book_spark.operators.selection import (
        decontaminate_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(dups)
    is_eval = (F.col("vec_id") < 10) | (
        h60(F.concat(F.lit("de:"), F.col("vec_id").cast("string"))) % 10 == 0
    )
    ev = aug.filter(is_eval)
    train = aug.filter(~is_eval)
    out = decontaminate_embeddings(train, ev, threshold=0.9)
    return out.select(
        F.col("train_id").cast("long").alias("train_id"),
        F.col("eval_id").cast("long").alias("eval_id"),
        _sci(F.col("cosine")).alias("cosine"),
    )


def o_sel_decontaminate_emb() -> str:
    h = h60_sql("'de:' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 10
),
b AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             (vec_id < 10 OR ({h}) % 10 = 0) AS is_eval
      FROM aug),
n AS (SELECT vec_id, v, is_eval, sqrt(list_dot_product(v, v)) AS nrm FROM b),
s AS (
  SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         list_dot_product(t.v, e.v) / (t.nrm * e.nrm) AS cosine
  FROM n t JOIN n e ON NOT t.is_eval AND e.is_eval
                   AND t.nrm > 0 AND e.nrm > 0
)
SELECT CAST(train_id AS BIGINT) AS train_id,
       CAST(eval_id AS BIGINT) AS eval_id,
       {_sci_sql('cosine')} AS cosine
FROM s WHERE round(cosine, 9) >= 0.9
"""


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, k=3)
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import lsh_sign_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_sign_buckets(emb, n_planes=8, seed=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # n_planes='auto' = max(3, min(12, ceil(log2(n/64)))); the oracle
    # bakes all 12 plane-bit literals and masks to the SAME data-derived
    # count, so query and oracle agree at every SF (9 planes at sf1)
    out = lsh_topk(emb, k=3, n_planes="auto", n_tables=8, seed=5)
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


IVF_CENTERS = 16
IVF_SEED = 9
IVF_NPROBE = 2


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import (
        ivf_assign,
        ivf_centers,
    )

    from mahout_samsara_book_spark.operators.similarity import auto_n_centers

    emb = load_table(spark, sf_dir, "embeddings")
    centers = ivf_centers(emb, auto_n_centers(emb), IVF_SEED)
    return ivf_assign(emb, centers)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # n_centers='auto' = max(16, isqrt(n//2)); the oracle CTE computes
    # the SAME count from the data, so query and oracle agree at every
    # SF, not just the driver-checked one (see auto_n_centers)
    out = ivf_topk(
        emb, k=3, n_centers="auto", nprobe=IVF_NPROBE, seed=IVF_SEED
    )
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_IVF_CTES = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
hashed AS (
  SELECT vec_id, v,
         ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':{IVF_SEED}'), 1, 15))::BIGINT AS h
  FROM e
),
centers AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
         v AS center
  FROM (SELECT * FROM hashed ORDER BY h, vec_id
        LIMIT (SELECT GREATEST({IVF_CENTERS},
                       CAST(FLOOR(SQRT(count(*) // 2)) AS BIGINT))
               FROM e))
),
scored AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM e CROSS JOIN centers c
),
ranked_c AS MATERIALIZED (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM scored
),
assign AS MATERIALIZED (SELECT vec_id, cid FROM ranked_c WHERE rn = 1)
"""


def o_ivf_assign() -> str:
    return f"WITH {_IVF_CTES} SELECT CAST(vec_id AS BIGINT) AS vec_id, cid FROM assign"


def q_ivf_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import ivf_refine

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_refine(emb, n_centers="auto", seed=IVF_SEED)
    return out.select(
        "cid",
        F.col("pos").cast("long").alias("pos"),
        _sci(F.col("c")).alias("c"),
    )


def o_ivf_refine() -> str:
    return f"""
WITH {_IVF_CTES},
mem AS (
  SELECT a.cid, i - 1 AS pos, e.v[i] AS x
  FROM assign a JOIN e USING (vec_id), range(1, 65) t(i)
)
SELECT cid, CAST(pos AS BIGINT) AS pos, {_sci_sql('avg(x)')} AS c
FROM mem GROUP BY cid, pos
"""


def o_ivf_topk() -> str:
    return f"""
WITH {_IVF_CTES},
probes AS (SELECT vec_id AS q_id, cid FROM ranked_c WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT DISTINCT p.q_id AS vec_id, a.vec_id AS neighbor
  FROM probes p JOIN assign a ON p.cid = a.cid AND p.q_id <> a.vec_id
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sims AS (
  SELECT c.vec_id, c.neighbor,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM cand c
  JOIN n l ON l.vec_id = c.vec_id
  JOIN n r ON r.vec_id = c.neighbor
),
rk AS (
  SELECT vec_id, neighbor, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM sims
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(neighbor AS BIGINT) AS neighbor,
       {{sci}} AS cosine, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
""".replace("{sci}", _sci_sql("cosine"))


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import language_id

    docs = load_table(spark, sf_dir, "documents")
    out = language_id(docs)
    return out.select(
        "doc_id", "lang_pred", _sci(F.col("lang_score")).alias("lang_score")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import quality_score

    docs = load_table(spark, sf_dir, "documents")
    out = quality_score(docs)
    return out.select(
        "doc_id",
        _sci(F.col("stopword_ratio")).alias("stopword_ratio"),
        _sci(F.col("alpha_ratio")).alias("alpha_ratio"),
        _sci(F.col("mean_tok_len")).alias("mean_tok_len"),
        _sci(F.col("quality")).alias("quality"),
    )


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import token_stats

    docs = load_table(spark, sf_dir, "documents")
    out = token_stats(docs)
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("bpe_ish_tokens").cast("long").alias("bpe_ish_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.multimodal import attach_media

    docs = load_table(spark, sf_dir, "documents")
    return attach_media(docs).select("doc_id", "media_type", "n_bytes", "checksum")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.multimodal import (
        attach_media,
        decode_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = decode_features(attach_media(docs), out_dim=8)
    return feats.select(
        "doc_id", F.posexplode("features").alias("pos", "v")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        _sci(F.col("v")).alias("v"),
    )


# ------------------------------------------------------------------ #
# oracles
# ------------------------------------------------------------------ #


def o_dedup_exact() -> str:
    return f"""
WITH {_AUG_DOCS_SQL.strip().rstrip()}
SELECT md5(text) AS content_hash, count(*) AS n_copies, min(doc_id) AS keeper
FROM aug GROUP BY 1
"""


def o_dedup_minhash_sig() -> str:
    fam = hash_family(MINHASH_K, MINHASH_SEED)
    parts = [
        f"SELECT doc_id, CAST({i} AS BIGINT) AS i, "
        f"min({affine_sql('h', a, b)}) AS mh FROM shh GROUP BY 1"
        for i, (a, b) in enumerate(fam)
    ]
    return f"WITH {_SHINGLE_CTES} {' UNION ALL '.join(parts)}"


def o_dedup_lsh_jaccard() -> str:
    fam = hash_family(MINHASH_K, MINHASH_SEED)
    rows = MINHASH_K // LSH_BANDS
    mh_cols = ", ".join(
        f"min({affine_sql('h', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(fam)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || '_' || ".join(
            f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS sig FROM sig"
        for bi in range(LSH_BANDS)
    )
    return f"""
WITH {_SHINGLE_CTES},
sig AS (SELECT doc_id, {mh_cols} FROM shh GROUP BY 1),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN shh a ON a.doc_id = c.doc_a
  JOIN shh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       {_sci_sql('CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)')} AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest shape: the batch = every 50th doc (held OUT of the
    corpus — genuinely new texts, keep=true) plus exact copies of docs
    0-9 under fresh ids (near-dups of corpus members, keep=false)."""
    from mahout_samsara_book_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 50 != 17)
    batch = (
        docs.filter(F.col("doc_id") % 50 == 17)
        .unionByName(
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    out = incremental_dedup(
        corpus, batch, n=3, k=MINHASH_K, bands=LSH_BANDS,
        seed=MINHASH_SEED, threshold=0.5,
    )
    return out.select(
        "doc_id", "keep", "dup_of", _sci(F.col("jaccard")).alias("jaccard")
    )


def _o_incremental_tail() -> str:
    """Shared oracle tail for the incremental-dedup family: replays
    shingle → minhash → banded-LSH candidate generation → Jaccard
    verify → best-match, against CTEs named ``corpus`` (the existing
    side — always doc_a) and ``batch`` (the probing side) that the
    caller prepends.  The persisted-lifecycle oracle reuses it with
    corpus = original corpus ∪ the appended earlier batch."""
    fam = hash_family(MINHASH_K, MINHASH_SEED)
    rows = MINHASH_K // LSH_BANDS
    mh_cols = ", ".join(
        f"min({affine_sql('h', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(fam)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || '_' || ".join(
            f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS sig FROM sig"
        for bi in range(LSH_BANDS)
    )
    return f"""
allr AS (SELECT * FROM corpus UNION ALL SELECT * FROM batch),
tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM allr),
tkh AS (SELECT doc_id, list_transform(toks, t -> {h31_sql('t')}) AS th
        FROM tk),
shh AS MATERIALIZED (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(th) >= 3
                  THEN list_transform(range(1, len(th) - 1),
                       i -> ((((th[i] * 31 + th[i + 1]) % {P31}) * 31
                             + th[i + 2]) % {P31}))
                  ELSE []::BIGINT[] END) AS h
    FROM tkh
  )
),
sig AS (SELECT doc_id, {mh_cols} FROM shh GROUP BY 1),
buckets AS MATERIALIZED ({band_selects}),
bb AS (SELECT b.* FROM buckets b JOIN (SELECT doc_id FROM batch) x USING (doc_id)),
bc AS (SELECT b.* FROM buckets b JOIN (SELECT doc_id FROM corpus) x USING (doc_id)),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT c.doc_id AS doc_a, n.doc_id AS doc_b
    FROM bb n JOIN bc c ON n.band = c.band AND n.sig = c.sig
    UNION ALL
    SELECT o.doc_id AS doc_a, n.doc_id AS doc_b
    FROM bb n JOIN bb o ON n.band = o.band AND n.sig = o.sig
       AND o.doc_id < n.doc_id
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN shh a ON a.doc_id = c.doc_a
  JOIN shh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
),
verified AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5
),
best AS (
  SELECT doc_b, doc_a, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_b
               ORDER BY jaccard DESC, doc_a) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT b.doc_id, best.doc_a IS NULL AS keep,
       best.doc_a AS dup_of, {_sci_sql('best.jaccard')} AS jaccard
FROM (SELECT doc_id FROM batch) b
LEFT JOIN best ON best.doc_b = b.doc_id
"""


def o_dedup_incremental() -> str:
    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 17),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 17
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10
),
{_o_incremental_tail()}
"""


def o_dedup_clusters() -> str:
    # connected components via recursive transitive closure over the
    # SAME LSH pair graph (the pairs CTE nests the full lsh_jaccard
    # oracle); cluster = smallest reachable id — identical fixpoint to
    # the engine's min-label propagation
    return f"""
WITH RECURSIVE pairs AS (
{o_dedup_lsh_jaccard()}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT CAST(src AS BIGINT) AS doc_id,
       CAST(least(src, min(dst)) AS BIGINT) AS cluster
FROM reach GROUP BY src
"""


def o_dedup_ngram_jaccard() -> str:
    # inverted-index candidates (any shared shingle hash) instead of LSH
    # buckets; same exact-Jaccard verify as o_dedup_lsh_jaccard
    return f"""
WITH {_SHINGLE_CTES},
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       {_sci_sql('CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)')} AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.5
"""


def o_dedup_simhash() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN tf ELSE -tf END) AS s_{j}"
        for j in range(32)
    )
    pack = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(32)
    )
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
hh AS (SELECT doc_id, tf, {h60_sql('term')} AS h FROM tf),
votes AS (SELECT doc_id, {votes} FROM hh GROUP BY 1)
SELECT doc_id, {pack} AS simhash FROM votes
"""


_EMB_NORM_CTE = """
b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM b)
"""


def o_dedup_embedding() -> str:
    return f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 10
),
b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM aug),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM b),
s AS (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM n l JOIN n r ON l.vec_id < r.vec_id
)
SELECT vec_a, vec_b, {_sci_sql('cosine')} AS cosine
FROM s WHERE cosine >= 0.9
"""


def o_sim_cosine_topk() -> str:
    return f"""
WITH {_EMB_NORM_CTE},
s AS (
  SELECT l.vec_id, r.vec_id AS neighbor,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM n l JOIN n r ON l.vec_id <> r.vec_id
),
ranked AS (
  SELECT vec_id, neighbor, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM s
)
SELECT vec_id, neighbor, {_sci_sql('cosine')} AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


def _plane_sql(seed: int, j: int, dim: int = 64) -> str:
    from mahout_samsara_book_spark.operators.similarity import plane_sign

    lits = ", ".join(f"{float(plane_sign(seed, j, d))!r}" for d in range(dim))
    return f"list_dot_product(v, [{lits}]::DOUBLE[])"


def o_ann_lsh_topk() -> str:
    """Replay of lsh_topk(k=3, n_planes='auto', n_tables=8, seed=5),
    scale-consistent with the engine at EVERY SF: all 12 plane bits per
    table are baked as literals, the effective plane count J =
    max(3, min(12, ceil(log2(n/64)))) is computed FROM THE DATA
    (mirroring lsh_topk's auto rule), and the 12-bit bucket is masked
    to its low J bits with `% (1 << J)` — bit j carries weight 2^j in
    both engines, so the masked bucket equals the engine's J-plane
    packing exactly. "Same bucket in ANY table" is a UNION of 8
    per-table EQUI-joins (hash-joinable — the OR-of-equalities form
    forces a quadratic nested loop that never finishes at the 10×
    fixture)."""

    def bucket_expr(t: int) -> str:
        bits = " + ".join(
            f"CASE WHEN {_plane_sql(5 * 1000 + t, j)} > 0 "
            f"THEN CAST({2**j} AS BIGINT) ELSE 0 END"
            for j in range(12)
        )
        return f"({bits}) AS b{t}"

    buckets = ", ".join(bucket_expr(t) for t in range(8))
    masked = ", ".join(f"b{t} % m.mask AS b{t}" for t in range(8))
    per_table = " UNION ALL ".join(
        f"SELECT l.vec_id, r.vec_id AS neighbor "
        f"FROM bk l JOIN bk r ON l.b{t} = r.b{t} AND l.vec_id <> r.vec_id"
        for t in range(8)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT CAST(1 AS BIGINT) << GREATEST(3, LEAST(12,
        CAST(ceil(log2(CAST(count(*) AS DOUBLE) / 64.0)) AS BIGINT)))
        AS mask FROM e),
bk12 AS (SELECT vec_id, {buckets} FROM e),
bk AS MATERIALIZED (SELECT vec_id, {masked} FROM bk12 CROSS JOIN m),
cand AS (SELECT DISTINCT vec_id, neighbor FROM ({per_table})),
n AS MATERIALIZED (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sims AS (
  SELECT c.vec_id, c.neighbor,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM cand c
  JOIN n l ON l.vec_id = c.vec_id
  JOIN n r ON r.vec_id = c.neighbor
),
rk AS (
  SELECT vec_id, neighbor, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM sims
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(neighbor AS BIGINT) AS neighbor,
       {_sci_sql('cosine')} AS cosine, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
"""


def o_sim_lsh_buckets() -> str:
    bits = " + ".join(
        f"CASE WHEN {_plane_sql(5, j)} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(8)
    )
    return f"""
WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, {bits} AS bucket FROM b
"""


def o_text_langid(src: str = "documents") -> str:
    from mahout_samsara_book_spark.functions.text_analysis import LANG_PROFILES

    per_lang = " UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS lang, "
        f"len(list_filter(toks, t -> list_contains({words!r}::VARCHAR[], t)))"
        f" / greatest(len(toks), 1) AS score FROM tk"
        for lang, words in sorted(LANG_PROFILES.items())
    )
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM {src}),
scores AS ({per_lang}),
ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM scores
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       {_sci_sql('score')} AS lang_score
FROM ranked WHERE rn = 1
"""


def o_text_quality(src: str = "documents", raw: bool = False) -> str:
    from mahout_samsara_book_spark.functions.text_analysis import LANG_PROFILES

    en = LANG_PROFILES["en"]
    fmt = (lambda e: f"({e})") if raw else _sci_sql
    return rf"""
WITH tk AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM {src}),
feat AS (
  SELECT doc_id,
    len(list_filter(toks, t -> list_contains({en!r}::VARCHAR[], t)))
      / greatest(len(toks), 1) AS stop_ratio,
    len(regexp_replace(text, '[^\p{{L}}]', '', 'g'))
      / greatest(len(text), 1) AS alpha_ratio,
    list_sum(list_prepend(0, list_transform(toks, t -> len(t))))
      / greatest(len(toks), 1) AS mean_len,
    CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.3 END AS len_band,
    len(toks) AS n_tok
  FROM tk
)
SELECT doc_id,
  {fmt('stop_ratio')} AS stopword_ratio,
  {fmt('alpha_ratio')} AS alpha_ratio,
  {fmt('mean_len')} AS mean_tok_len,
  {fmt(
      "least(1.0, 0.35 * least(stop_ratio * 4.0, 1.0) + 0.35 * alpha_ratio"
      " + 0.15 * len_band"
      " + 0.15 * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0"
      " THEN 1.0 ELSE 0.3 END))"
  )} AS quality
FROM feat
"""


def o_text_token_stats() -> str:
    return r"""
SELECT doc_id,
  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS ws_tokens,
  len(regexp_extract_all(text, '[\p{L}]+|[\p{Nd}]+|[^\p{L}\p{Nd}\s]')) AS bpe_ish_tokens,
  len(text) AS n_chars
FROM documents
"""


def o_text_fingerprint() -> str:
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
hh AS (
  SELECT doc_id,
         list_transform(toks, t -> ({h60_sql('t')} % {P31})) AS hs
  FROM tk
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                   (a, b) -> (a * 31 + b) % {P31}) AS fingerprint
FROM hh
"""


def o_multimodal_meta() -> str:
    return """
SELECT doc_id,
       'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum
FROM documents
"""


def o_multimodal_decode() -> str:
    # Replays multimodal._fake_decode byte-for-byte: media is
    # UTF-8(text) and the corpus is pure ASCII (verified: 0 non-ASCII
    # docs across SFs), so byte i == ascii(text[i+1]). The stride-8 fold
    # with zero padding is just a groupBy on (i % 8) — padding adds
    # zeros, which never change the stride-class sums.
    return f"""
WITH bytes AS (
  SELECT doc_id, (t.i - 1) % 8 AS pos, ascii(text[t.i]) AS b
  FROM documents, LATERAL unnest(generate_series(1, length(text))) AS t(i)
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       {_sci_sql('(sum(b) % 997) / 997.0')} AS v
FROM bytes GROUP BY doc_id, pos
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_sig": q_dedup_minhash_sig,
    "dedup_lsh_jaccard": q_dedup_lsh_jaccard,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "graph_components_lsls": q_graph_components_lsls,
    "dedup_incremental": q_dedup_incremental,
    "docs_pipeline": q_docs_pipeline,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_lsh_buckets": q_sim_lsh_buckets,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ivf_assign": q_ivf_assign,
    "ivf_topk": q_ivf_topk,
    "ivf_refine": q_ivf_refine,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "text_token_stats": q_text_token_stats,
    "text_fingerprint": q_text_fingerprint,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "text_shingle_neighbors": q_text_shingle_neighbors,
    "sel_decontaminate_emb": q_sel_decontaminate_emb,
}


def oracles() -> dict[str, str]:
    return {
        "dedup_exact": o_dedup_exact(),
        "dedup_minhash_sig": o_dedup_minhash_sig(),
        "dedup_lsh_jaccard": o_dedup_lsh_jaccard(),
        "dedup_ngram_jaccard": o_dedup_ngram_jaccard(),
        "dedup_clusters": o_dedup_clusters(),
        "graph_components_lsls": o_dedup_clusters(),
        "dedup_incremental": o_dedup_incremental(),
        "docs_pipeline": o_docs_pipeline(),
        "dedup_simhash": o_dedup_simhash(),
        "dedup_embedding": o_dedup_embedding(),
        "sim_cosine_topk": o_sim_cosine_topk(),
        "sim_lsh_buckets": o_sim_lsh_buckets(),
        "ivf_assign": o_ivf_assign(),
        "ivf_refine": o_ivf_refine(),
        "ivf_topk": o_ivf_topk(),
        "ann_lsh_topk": o_ann_lsh_topk(),
        "text_langid": o_text_langid(),
        "text_quality": o_text_quality(),
        "text_token_stats": o_text_token_stats(),
        "text_fingerprint": o_text_fingerprint(),
        "multimodal_meta": o_multimodal_meta(),
        "multimodal_decode": o_multimodal_decode(),
        "text_shingle_neighbors": o_text_shingle_neighbors(),
        "sel_decontaminate_emb": o_sel_decontaminate_emb(),
    }


# ------------------------------------------------------------------ #
# inverted index (round-3 late batch)
# ------------------------------------------------------------------ #

II_MIN_DF = 2
II_HEAD_K = 100


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    out = inverted_index(docs, min_df=II_MIN_DF, head_k=II_HEAD_K)
    return out.select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("total_tf").cast("long").alias("total_tf"),
        # Stringify the postings array: the driver's canonicalizer hashes
        # result cells with pandas and cannot handle list-valued cells
        # (VERDICT r3 item 1) — comma-joined string on both engines.
        F.concat_ws(
            ",", F.transform(F.col("head_postings"), lambda d: d.cast("long"))
        ).alias("head_postings"),
    )


def o_text_inverted_index() -> str:
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
tc AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
agg AS (
  SELECT term, count(*) AS df, sum(tf) AS total_tf,
         (list(doc_id ORDER BY doc_id))[1:{II_HEAD_K}] AS head_postings
  FROM tc GROUP BY 1
)
SELECT term, CAST(df AS BIGINT) AS df,
       CAST(total_tf AS BIGINT) AS total_tf,
       array_to_string(head_postings, ',') AS head_postings
FROM agg WHERE df >= {II_MIN_DF}
"""


QUERIES["text_inverted_index"] = q_text_inverted_index
_oracles_pre_ii = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ii()
    d["text_inverted_index"] = o_text_inverted_index()
    return d


# ------------------------------------------------------------------ #
# PMI collocations (round-3 late batch)
# ------------------------------------------------------------------ #

PMI_MIN_COOC = 5


def q_text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import pmi_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = pmi_pairs(docs, min_cooc=PMI_MIN_COOC)
    return out.select(
        "a",
        "b",
        F.col("cooc").cast("long").alias("cooc"),
        _sci(F.col("pmi")).alias("pmi"),
    )


def o_text_pmi_pairs() -> str:
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tok AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(toks) AS t FROM tk
),
pairs AS (
  SELECT x.t AS a, y.t AS b, count(*) AS cooc
  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND x.t < y.t
  GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_COOC}
),
dfc AS (SELECT t, count(*) AS dfc FROM tok GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT p.a, p.b, CAST(p.cooc AS BIGINT) AS cooc,
       {_sci_sql(
           "ln((CAST(p.cooc AS DOUBLE) * n.n) / "
           "(CAST(da.dfc AS DOUBLE) * CAST(db.dfc AS DOUBLE)))"
       )} AS pmi
FROM pairs p
JOIN dfc da ON da.t = p.a
JOIN dfc db ON db.t = p.b
CROSS JOIN n
"""


QUERIES["text_pmi_pairs"] = q_text_pmi_pairs
_oracles_pre_pmi = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_pmi()
    d["text_pmi_pairs"] = o_text_pmi_pairs()
    return d


# ------------------------------------------------------------------ #
# canonical-representative selection (round-3 late batch)
# ------------------------------------------------------------------ #


def q_sel_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.pipeline import (
        canonical_by_quality,
    )

    out = canonical_by_quality(
        _augmented_docs(spark, sf_dir),
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )
    return out.select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("doc_id").cast("long").alias("doc_id"),
        _sci(F.col("quality")).alias("quality"),
    )


def o_sel_canonical() -> str:
    return f"""
WITH
{_AUG_DOCS_SQL},
q AS ({o_text_quality('aug', raw=True)}),
clus AS ({o_dedup_clusters()})
SELECT CAST(c.cluster AS BIGINT) AS cluster,
       CAST(c.doc_id AS BIGINT) AS doc_id,
       {_sci_sql('q.quality')} AS quality
FROM clus c
JOIN q ON q.doc_id = c.doc_id
QUALIFY row_number() OVER (
    PARTITION BY c.cluster ORDER BY q.quality DESC, c.doc_id) = 1
"""


QUERIES["sel_canonical"] = q_sel_canonical
_oracles_pre_canon = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_canon()
    d["sel_canonical"] = o_sel_canonical()
    return d


# ------------------------------------------------------------------ #
# multi-iteration Lloyd k-means (round-3 late batch)
# ------------------------------------------------------------------ #

KM_ITERS = 2


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    out = kmeans_lloyd(emb, iters=KM_ITERS, seed=IVF_SEED)
    return out.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("pos").cast("long").alias("pos"),
        _sci(F.col("c")).alias("c"),
        F.col("n_members").cast("long").alias("n_members"),
    )


def o_kmeans_lloyd() -> str:
    # assign1 = _IVF_CTES's `assign` (nearest sampled center); then
    # KM_ITERS-1 further (centroid-mean -> re-assign) rounds unrolled
    parts = [f"WITH {_IVF_CTES}"]
    prev = "assign"
    for k in range(1, KM_ITERS):
        parts.append(
            f""",
mem{k} AS (
  SELECT a.cid, i, e.v[i] AS x
  FROM {prev} a JOIN e USING (vec_id), range(1, 65) t(i)
),
cen{k} AS MATERIALIZED (
  SELECT cid, list(c ORDER BY i) AS center
  FROM (SELECT cid, i, avg(x) AS c FROM mem{k} GROUP BY 1, 2)
  GROUP BY cid
),
scored{k} AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM e CROSS JOIN cen{k} c
),
assign{k} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored{k}
  ) WHERE rn = 1
)"""
        )
        prev = f"assign{k}"
    parts.append(
        f""",
memf AS (
  SELECT a.cid, i - 1 AS pos, e.v[i] AS x
  FROM {prev} a JOIN e USING (vec_id), range(1, 65) t(i)
),
sizes AS (SELECT cid, count(*) AS n FROM {prev} GROUP BY 1)
SELECT CAST(m.cid AS BIGINT) AS cid, CAST(m.pos AS BIGINT) AS pos,
       {_sci_sql('avg(m.x)')} AS c,
       CAST(min(s.n) AS BIGINT) AS n_members
FROM memf m JOIN sizes s ON s.cid = m.cid
GROUP BY m.cid, m.pos"""
    )
    return "".join(parts)


QUERIES["kmeans_lloyd"] = q_kmeans_lloyd
_oracles_pre_km = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_km()
    d["kmeans_lloyd"] = o_kmeans_lloyd()
    return d


# ------------------------------------------------------------------ #
# containment dedup (round-3 late batch)
# ------------------------------------------------------------------ #

CONT_T = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.dedup import containment_dedup

    out = containment_dedup(
        _augmented_docs(spark, sf_dir), n=3, threshold=CONT_T
    )
    return out.select(
        "doc_a",
        "doc_b",
        _sci(F.col("cont_ab")).alias("cont_ab"),
        _sci(F.col("cont_ba")).alias("cont_ba"),
    )


def o_dedup_containment() -> str:
    return f"""
WITH {_SHINGLE_CTES},
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       {_sci_sql('CAST(i.inter AS DOUBLE) / CAST(za.sz AS DOUBLE)')} AS cont_ab,
       {_sci_sql('CAST(i.inter AS DOUBLE) / CAST(zb.sz AS DOUBLE)')} AS cont_ba
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE greatest(CAST(i.inter AS DOUBLE) / CAST(za.sz AS DOUBLE),
               CAST(i.inter AS DOUBLE) / CAST(zb.sz AS DOUBLE)) >= {CONT_T!r}
"""


QUERIES["dedup_containment"] = q_dedup_containment
_oracles_pre_cont = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_cont()
    d["dedup_containment"] = o_dedup_containment()
    return d


# ------------------------------------------------------------------ #
# TF-IDF keyword extraction (round-3 late batch)
# ------------------------------------------------------------------ #

TOPTERMS_K = 3


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-k keywords by the Lucene/Mahout TF-IDF weight —
    the keyword-extraction step of corpus indexing/labeling. One rank
    window over the tfidf relation, partitioned by doc (distributes
    with the corpus); weight ties resolve by term so both engines pick
    identical keyword sets."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.functions.text import tfidf

    docs = load_table(spark, sf_dir, "documents")
    ti = tfidf(docs)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    out = (
        ti.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOPTERMS_K)
    )
    return out.select(
        "doc_id",
        F.col("rk").cast("long").alias("rk"),
        "term",
        _sci(F.col("tfidf")).alias("tfidf"),
    )


def o_text_top_terms() -> str:
    import __spark_entry__ as _entry

    return f"""
WITH {_entry._TOK_CTES},
rk AS (
  SELECT doc_id, term, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rk
  FROM ti
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term,
       {_sci_sql('tfidf')} AS tfidf
FROM rk WHERE rk <= {TOPTERMS_K}
"""


QUERIES["text_top_terms"] = q_text_top_terms
_oracles_pre_tt = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_tt()
    d["text_top_terms"] = o_text_top_terms()
    return d


# ------------------------------------------------------------------ #
# Jensen-Shannon corpus drift (round-3 late batch)
# ------------------------------------------------------------------ #


def q_text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import (
        js_divergence_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = js_divergence_by_group(docs, "lang")
    return out.select("grp_a", "grp_b", _sci(F.col("js")).alias("js"))


def o_text_js_divergence() -> str:
    ln2 = repr(__import__("math").log(2.0))
    return f"""
WITH tok AS (
  SELECT lang AS g, unnest({TOKS_SQL}) AS t FROM documents
),
cnt AS (SELECT g, t, count(*) AS n FROM tok GROUP BY 1, 2),
tot AS (SELECT g, sum(n) AS tot FROM cnt GROUP BY 1),
dist AS (
  SELECT cnt.g, cnt.t,
         CAST(cnt.n AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS p
  FROM cnt JOIN tot ON cnt.g = tot.g
),
shared AS (
  SELECT a.g AS grp_a, b.g AS grp_b, a.t,
         a.p AS pa, b.p AS pb,
         a.p * ln(2.0 * a.p / (a.p + b.p))
           + b.p * ln(2.0 * b.p / (a.p + b.p)) AS c
  FROM dist a JOIN dist b ON a.t = b.t AND a.g < b.g
),
agg AS (
  SELECT grp_a, grp_b,
         list_sum(list(c ORDER BY t)) AS s1,
         list_sum(list(pa ORDER BY t)) AS spa,
         list_sum(list(pb ORDER BY t)) AS spb
  FROM shared GROUP BY 1, 2
),
grps AS (SELECT DISTINCT g FROM dist),
pairs AS (
  SELECT a.g AS grp_a, b.g AS grp_b
  FROM grps a JOIN grps b ON a.g < b.g
),
allp AS (
  SELECT p.grp_a, p.grp_b,
         coalesce(agg.s1, 0.0) AS s1,
         coalesce(agg.spa, 0.0) AS spa,
         coalesce(agg.spb, 0.0) AS spb
  FROM pairs p LEFT JOIN agg USING (grp_a, grp_b)
)
SELECT grp_a, grp_b,
       {_sci_sql(f"0.5 * (s1 + {ln2} * ((1.0 - spa) + (1.0 - spb)))")} AS js
FROM allp
"""


QUERIES["text_js_divergence"] = q_text_js_divergence
_oracles_pre_js = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_js()
    d["text_js_divergence"] = o_text_js_divergence()
    return d


# ------------------------------------------------------------------ #
# language-ID confusion matrix (round-3 late batch)
# ------------------------------------------------------------------ #


def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier audit: the (labeled lang × predicted lang) confusion
    matrix of the stopword-coverage language ID — the quality gate a
    pipeline runs before trusting langid-based filtering. One join of
    the prediction relation back to the labels + one count aggregate."""
    from mahout_samsara_book_spark.functions.text_analysis import (
        language_id,
    )

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "lang_pred")
    out = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    return out.select(
        "lang", "lang_pred", F.col("n").cast("long").alias("n")
    )


def o_text_langid_confusion() -> str:
    return f"""
WITH pred AS ({o_text_langid('documents')})
SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


QUERIES["text_langid_confusion"] = q_text_langid_confusion
_oracles_pre_conf = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_conf()
    d["text_langid_confusion"] = o_text_langid_confusion()
    return d


# ------------------------------------------------------------------ #
# curation funnel report (round-3 late batch)
# ------------------------------------------------------------------ #


def q_docs_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.pipeline import pipeline_funnel

    return pipeline_funnel(
        _augmented_docs(spark, sf_dir),
        quality_min=0.65,
        lang="en",
        n=3,
        k=MINHASH_K,
        bands=LSH_BANDS,
        seed=MINHASH_SEED,
        threshold=0.5,
    )


def o_docs_funnel() -> str:
    return f"""
WITH
{_AUG_DOCS_SQL},
q AS ({o_text_quality('aug', raw=True)}),
l AS ({o_text_langid('aug')}),
keepers AS (SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5(text)),
clus AS ({o_dedup_clusters()}),
ql AS (
  SELECT a.doc_id FROM aug a
  JOIN q ON a.doc_id = q.doc_id
  JOIN l ON a.doc_id = l.doc_id
  WHERE q.quality >= 0.65 AND l.lang_pred = 'en'
),
ae AS (
  SELECT doc_id FROM ql WHERE doc_id IN (SELECT doc_id FROM keepers)
),
fin AS (
  SELECT doc_id FROM ae
  WHERE doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster)
)
SELECT CAST(0 AS BIGINT) AS stage_id, 'total' AS stage,
       CAST((SELECT count(*) FROM aug) AS BIGINT) AS n
UNION ALL
SELECT 1, 'quality_lang', CAST((SELECT count(*) FROM ql) AS BIGINT)
UNION ALL
SELECT 2, 'exact_keeper', CAST((SELECT count(*) FROM ae) AS BIGINT)
UNION ALL
SELECT 3, 'near_dup_final', CAST((SELECT count(*) FROM fin) AS BIGINT)
"""


QUERIES["docs_funnel"] = q_docs_funnel
_oracles_pre_funnel = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_funnel()
    d["docs_funnel"] = o_docs_funnel()
    return d


# ------------------------------------------------------------------ #
# round 7: exact-substring span dedup + PII redaction
# ------------------------------------------------------------------ #

SUBSTR_WINDOW = 8
SUBSTR_MAX_DF = 16


def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021): verbatim window-token spans
    shared across documents — the boilerplate/quotation leak that
    doc-level Jaccard misses. Posting-list df-cap (2..16 docs) is the
    100 TB contract; see operators/dedup.py:exact_substr_spans."""
    from mahout_samsara_book_spark.operators.dedup import exact_substr_spans

    docs = load_table(spark, sf_dir, "documents")
    out = exact_substr_spans(
        docs, window=SUBSTR_WINDOW, max_df=SUBSTR_MAX_DF
    )
    return out.select(
        F.col("doc_a").cast("long").alias("doc_a"),
        F.col("doc_b").cast("long").alias("doc_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("a_start").cast("long").alias("a_start"),
        F.col("b_start").cast("long").alias("b_start"),
    )


def o_dedup_exact_substr() -> str:
    w = SUBSTR_WINDOW
    return rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text),
                     '[^\p{{L}}\p{{Nd}}]+'), x -> x <> '') AS ts
  FROM documents
),
w AS (
  SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS start,
         md5(array_to_string(ts[t.i:t.i+{w - 1}], ' ')) AS wh
  FROM tok, LATERAL unnest(generate_series(1, len(ts) - {w - 1})) AS t(i)
  WHERE len(ts) >= {w}
),
capped AS (
  SELECT wh FROM w GROUP BY wh
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {SUBSTR_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared,
       min(a.start) AS a_start, min(b.start) AS b_start
FROM w a
JOIN w b ON a.wh = b.wh AND a.doc_id < b.doc_id
JOIN capped ON a.wh = capped.wh
GROUP BY 1, 2
"""


def _pii_augment_spark(docs: DataFrame) -> DataFrame:
    """Deterministic PII injection (the attach_wav pattern: the fixture
    corpus has no PII, so plant spans that are a pure function of
    doc_id; the oracle rebuilds the same text analytically)."""
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail.example.org or +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (d % 200).cast("string"),
        F.lit("."), (d % 250).cast("string"),
        F.lit("."), ((d % 9) + 1).cast("string"),
    )
    return docs.select("doc_id", aug.alias("text"))


_PII_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org or +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.' || CAST(doc_id % 250 AS VARCHAR)"
    " || '.' || CAST(doc_id % 9 + 1 AS VARCHAR)"
)


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/privacy.py): per-type match counts on
    the original text + md5 of the fully-redacted text — the hash makes
    the oracle certify the redaction BYTE-FOR-BYTE, not just the
    counts. Patterns restricted to the Java-regex ∩ RE2 dialect so both
    engines replace identically."""
    from mahout_samsara_book_spark.operators.privacy import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    out = redact_pii(_pii_augment_spark(docs))
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("redacted")).alias("clean_hash"),
    )


def o_text_pii_redact() -> str:
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4,10}"
    ipv4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text,"
        f" '{email}', '[EMAIL]', 'g'),"
        f" '{phone}', '[PHONE]', 'g'),"
        f" '{ipv4}', '[IP]', 'g')"
    )
    return f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '{phone}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS n_ipv4,
       md5({red}) AS clean_hash
FROM aug
"""


QUERIES["dedup_exact_substr"] = q_dedup_exact_substr
QUERIES["text_pii_redact"] = q_text_pii_redact
_oracles_pre_r7 = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_r7()
    d["dedup_exact_substr"] = o_dedup_exact_substr()
    d["text_pii_redact"] = o_text_pii_redact()
    return d


# ------------------------------------------------------------------ #
# round-8 additions: MinHash estimator-vs-exact verify pass, canonical
# survivor mapping, bigram Zipf tail mass
# ------------------------------------------------------------------ #


def q_text_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level MinHash VERIFY pass: every banded-LSH candidate pair
    with BOTH the signature-agreement estimate (n_agree/k) and the
    exact hashed-shingle Jaccard — the estimator-quality audit a dedup
    pipeline runs before trusting a threshold (cf. the reference's
    tolerance-gate habit, MThreadSuite.scala:22-46, applied to the
    sketch instead of the matrix). Unlike dedup_lsh_jaccard this emits
    the UNFILTERED candidate set, so the false-positive band of the
    estimator is visible, not just the survivors.

    Scale shape: candidates come from the bucketed band join (never
    all-pairs); the two signature joins are per-doc k-column rows (AQE
    broadcasts the candidate slice); the exact-Jaccard verify is the
    posting-list join restricted to candidate docs."""
    from mahout_samsara_book_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard,
        shingle_hashes,
    )

    docs = _augmented_docs(spark, sf_dir)
    sh = shingle_hashes(docs, n=3, distinct=True)
    sig = minhash_signatures(sh, k=MINHASH_K, seed=MINHASH_SEED)
    rows = MINHASH_K // LSH_BANDS
    cand = lsh_candidate_pairs(sig, bands=LSH_BANDS, rows=rows)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MINHASH_K)],
    )
    n_agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_agree.alias("n_agree"))
    )
    jac = ngram_jaccard(sh, cand)
    return est.join(jac, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        F.col("n_agree").cast("long").alias("n_agree"),
        _sci(F.col("n_agree") / F.lit(float(MINHASH_K))).alias("est_jaccard"),
        _sci(F.col("jaccard")).alias("jaccard"),
    )


def o_text_minhash_dedup_pairs() -> str:
    fam = hash_family(MINHASH_K, MINHASH_SEED)
    rows = MINHASH_K // LSH_BANDS
    mh_cols = ", ".join(
        f"min({affine_sql('h', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(fam)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || '_' || ".join(
            f"CAST(mh_{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS sig FROM sig"
        for bi in range(LSH_BANDS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    return f"""
WITH {_SHINGLE_CTES},
sig AS (SELECT doc_id, {mh_cols} FROM shh GROUP BY 1),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
),
agr AS (
  SELECT c.doc_a, c.doc_b, {agree} AS n_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN shh a ON a.doc_id = c.doc_a
  JOIN shh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT g.doc_a, g.doc_b, CAST(g.n_agree AS BIGINT) AS n_agree,
       {_sci_sql(f'CAST(g.n_agree AS DOUBLE) / {float(MINHASH_K)}')} AS est_jaccard,
       {_sci_sql('CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter)')} AS jaccard
FROM agr g
JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
JOIN sizes za ON za.doc_id = g.doc_a
JOIN sizes zb ON zb.doc_id = g.doc_b
"""


def q_sel_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor mapping: EVERY doc joined to the canonical id
    that survives near-dup dedup (cluster minimum; docs in no pair map
    to themselves). This is the attribution artifact a curation
    pipeline keeps after dropping dups — "which retained doc covers
    this dropped one" — and composes the LSH pair graph with the
    round-8 LSLS-routed dup_clusters.

    Scale: the cluster relation is orders of magnitude smaller than
    the corpus (only docs in >= 1 pair); the left join broadcasts
    it."""
    from mahout_samsara_book_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_dedup,
    )

    docs = _augmented_docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(
        docs, n=3, k=MINHASH_K, bands=LSH_BANDS,
        seed=MINHASH_SEED, threshold=0.5,
    )
    clus = dup_clusters(pairs)
    survivor = F.coalesce(F.col("cluster"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(clus, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            survivor.cast("long").alias("survivor"),
            (survivor == F.col("doc_id")).alias("is_survivor"),
        )
    )


def o_sel_dedup_survivors() -> str:
    return f"""
WITH
{_AUG_DOCS_SQL},
clus AS ({o_dedup_clusters()})
SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
       CAST(coalesce(c.cluster, a.doc_id) AS BIGINT) AS survivor,
       coalesce(c.cluster, a.doc_id) = a.doc_id AS is_survivor
FROM aug a LEFT JOIN clus c ON a.doc_id = c.doc_id
"""


def q_text_zipf_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf tail-mass profile of the BIGRAM vocabulary: rank grams by
    corpus frequency, bucket ranks into log2 bands, and report each
    band's gram count, occurrence total, and share of corpus mass —
    the curve a data-mix designer reads to decide vocabulary cutoffs
    and rare-token handling (the fixture's unigram vocabulary is ~31
    near-stopwords, so bigram grams are the smallest unit with a real
    tail). Grams are the arithmetic-fold hashes of shingle_hashes
    (n=2, duplicates kept), so the oracle replays identity exactly.

    Scale: the frequency relation is the VOCABULARY (corpus-sublinear,
    Heaps' law); only it passes through the rank window, never the
    token stream. The window is a single global sort of the vocab — at
    100 TB shard it by a hash prefix and merge bands, or cap to the
    top-K ranks."""
    from pyspark.sql import Window

    from mahout_samsara_book_spark.operators.dedup import shingle_hashes

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    sh = shingle_hashes(docs, n=2, distinct=False)
    freq = sh.groupBy("h").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.col("h"))
    ranked = freq.withColumn("rank", F.row_number().over(w))
    bucketed = ranked.groupBy(
        F.floor(F.log2("rank")).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_grams"),
        F.sum("cnt").alias("occ"),
    )
    total = Window.partitionBy()
    return bucketed.select(
        "bucket",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("occ").cast("long").alias("occ"),
        _sci(F.col("occ") / F.sum("occ").over(total)).alias("mass"),
    )


def o_text_zipf_tail() -> str:
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tkh AS (SELECT doc_id, list_transform(toks, t -> {h31_sql('t')}) AS th
        FROM tk),
grams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(th) >= 2
                THEN list_transform(range(1, len(th)),
                     i -> ((th[i] * 31 + th[i + 1]) % {P31}))
                ELSE []::BIGINT[] END) AS h
  FROM tkh
),
freq AS (SELECT h, count(*) AS cnt FROM grams GROUP BY 1),
rk AS (SELECT h, cnt,
              row_number() OVER (ORDER BY cnt DESC, h) AS rank
       FROM freq),
bk AS (
  SELECT CAST(floor(log2(rank)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(cnt) AS BIGINT) AS occ
  FROM rk GROUP BY 1
)
SELECT bucket, n_grams, occ,
       {_sci_sql('CAST(occ AS DOUBLE) / (SELECT sum(cnt) FROM freq)')} AS mass
FROM bk
"""


QUERIES["text_minhash_dedup_pairs"] = q_text_minhash_dedup_pairs
QUERIES["sel_dedup_survivors"] = q_sel_dedup_survivors
QUERIES["text_zipf_tail"] = q_text_zipf_tail
_oracles_pre_r8 = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_r8()
    d["text_minhash_dedup_pairs"] = o_text_minhash_dedup_pairs()
    d["sel_dedup_survivors"] = o_sel_dedup_survivors()
    d["text_zipf_tail"] = o_text_zipf_tail()
    return d


# ------------------------------------------------------------------ #
# round-8 late additions: BM25 retrieval, weighted sampling
# ------------------------------------------------------------------ #

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
# literal query sets over the synthetic vocabulary — the bounded-Q
# production shape (queries broadcast; only matched postings stream)
BM25_QUERIES = [
    ("q_spark", ["spark", "hash"]),
    ("q_window", ["window", "scan", "filter"]),
    ("q_merge", ["merge", "vector"]),
]


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (Robertson/Lucene scoring) for a literal
    query set: per-(query, doc) scores fold in fixed term order and
    ranking rounds to 9 decimals on both engines (the r7 ulp
    discipline), so ln/division drift can't flip the tiebreak."""
    from mahout_samsara_book_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(
        docs, BM25_QUERIES, topk=BM25_TOPK, k1=BM25_K1, b=BM25_B
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        _sci(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_text_bm25_topk() -> str:
    return _o_bm25(BM25_QUERIES)


def _o_bm25(queries) -> str:
    all_terms = sorted({t for _, ts in queries for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    k1, b = BM25_K1, BM25_B
    # superset fold in sorted-term order, mirroring the engine's single
    # (query, doc) aggregate: non-member terms coalesce to an exact 0
    fold = " + ".join(
        f"coalesce(sum(CASE WHEN term = '{t}' THEN s END), 0)"
        for t in all_terms
    )
    arms = []
    for qid, terms in queries:
        tl = ", ".join(f"'{t}'" for t in terms)
        arms.append(
            f"SELECT '{qid}' AS query_id, doc_id, {fold} AS score\n"
            f"  FROM s WHERE term IN ({tl}) GROUP BY doc_id"
        )
    union = "\nUNION ALL\n".join(arms)
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
lens AS (SELECT doc_id, len(toks) AS dl FROM tk),
st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
tok AS (SELECT doc_id, unnest(toks) AS term FROM tk),
tc AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({in_list}) GROUP BY 1, 2
),
dfs AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
s AS (
  SELECT tc.doc_id, tc.term,
         ln(1 + (st.n - dfs.df + 0.5) / (dfs.df + 0.5))
         * (tc.tf * ({k1} + 1.0))
         / (tc.tf + {k1} * (1.0 - {b} + {b} * lens.dl / st.avgdl)) AS s
  FROM tc JOIN dfs USING (term) JOIN lens USING (doc_id), st
),
scored AS (
{union}
),
r AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(score, 9) DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, CAST(doc_id AS BIGINT) AS doc_id,
       {{SCI}} AS score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {BM25_TOPK}
""".replace("{SCI}", _sci_sql("score"))


# Efraimidis–Spirakis weighted sampling without replacement:
# key = -ln(u)/w with u a doc-keyed hash uniform; the m smallest keys
# are an exact weighted sample. Deterministic (hash-seeded u) so the
# oracle replays it byte-for-byte.
WS_SEED = 17
WS_M = 200


def q_sel_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of WS_M docs with weight = token count (longer
    docs proportionally likelier): the importance-sampling primitive
    data-mixing pipelines use for domain reweighting. One narrow pass
    computes the exponential key; the global top-m runs as
    ``orderBy(...).limit(m)`` — planned as TakeOrderedAndProject
    (per-partition heap of m, merge of partition heads; no global
    sort, no single-partition window) — and only the m SELECTED rows
    see the rank window. Weights and u are both integer-derived so
    only the final -ln(u)/w division is float."""
    from mahout_samsara_book_spark.functions.text import tokenize
    from mahout_samsara_book_spark.operators.hashing import h60
    from mahout_samsara_book_spark.partitioning import (
        ensure_min_partitions,
    )
    from pyspark.sql import Window

    docs = ensure_min_partitions(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
    )
    scored = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("w"),
        h60(
            F.concat_ws(
                ":", F.lit(f"ws{WS_SEED}"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
    ).filter(
        # zero-weight (empty-token) docs can't be sampled — and double
        # division by zero is a cross-engine portability hazard
        F.col("w") >= 1
    ).select(
        "doc_id",
        "w",
        (
            -F.log((F.col("h").cast("double") + 1.0) / F.lit(float(1 << 60)))
            / F.col("w")
        ).alias("key"),
    )
    top = scored.orderBy(
        F.round(F.col("key"), 12).asc(), F.col("doc_id").asc()
    ).limit(WS_M)
    rw = Window.orderBy(F.round(F.col("key"), 12).asc(), F.col("doc_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(rw))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("w").cast("long").alias("w"),
            _sci(F.col("key")).alias("key"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def o_sel_weighted_sample() -> str:
    h = h60_sql("concat('ws" + str(WS_SEED) + ":', CAST(doc_id AS VARCHAR))")
    return f"""
WITH tk AS (
  SELECT doc_id, len({TOKS_SQL}) AS w FROM documents
),
keyed AS (
  SELECT doc_id, w,
         -ln(({h} + 1.0) / {float(1 << 60)}) / w AS key
  FROM tk WHERE w >= 1
),
r AS (
  SELECT doc_id, w, key,
         row_number() OVER (ORDER BY round(key, 12) ASC, doc_id ASC) AS rank
  FROM keyed
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(w AS BIGINT) AS w,
       {{SCI}} AS key, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {WS_M}
""".replace("{SCI}", _sci_sql("key"))


QUERIES["text_bm25_topk"] = q_text_bm25_topk
QUERIES["sel_weighted_sample"] = q_sel_weighted_sample
_oracles_pre_r8b = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_r8b()
    d["text_bm25_topk"] = o_text_bm25_topk()
    d["sel_weighted_sample"] = o_sel_weighted_sample()
    return d


# ------------------------------------------------------------------ #
# round-8: persisted IVF index lifecycle
# ------------------------------------------------------------------ #

# build-once IVF index per (sf_dir, source fingerprint) — the
# production index lifecycle: the serving path reloads the inverted
# lists from parquet and never re-clusters/re-assigns (mirrors the
# ORC/Q5 layout caches).  Round-9 (ADVICE r8): keyed by the embeddings
# table's (bytes, mtime) fingerprint instead of id(sparkContext), so a
# regenerated fixture or a CPython id reuse can't serve a stale index.
_IVF_IDX: dict[tuple, str] = {}
_IVF_IDX_SEQ = [0]


def _ivf_index_path(spark: SparkSession, sf_dir: str, emb) -> str:
    """Build-once persisted IVF index for ``sf_dir`` (see _IVF_IDX)."""
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.similarity import ivf_persist
    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "embeddings"))
    path = _IVF_IDX.get(key)
    if path is None or not os.path.exists(path + "/assign/_SUCCESS"):
        _IVF_IDX_SEQ[0] += 1
        path = register_tmpdir(
            tempfile.gettempdir()
            + f"/spark_graft_ivfidx_{os.getpid()}_{_IVF_IDX_SEQ[0]}"
        )
        shutil.rmtree(path, ignore_errors=True)
        ivf_persist(emb, path, n_centers="auto", seed=IVF_SEED)
        _IVF_IDX[key] = path
    return path


def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ivf_topk over a PERSISTED index: centers + inverted lists are
    parquet tables written once per (sf_dir, source fingerprint) and
    reloaded at query time — result identical to the in-session build
    (the index content is deterministic), so the plain ivf_topk oracle
    grades it: a hash-match certifies the index round-trips through
    storage. NOTE: all-points-as-queries — the EVALUATION shape,
    Θ(n^1.5); the bounded serving twin is ann_ivf_persisted_topk."""
    from mahout_samsara_book_spark.operators.similarity import (
        ivf_topk_persisted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_index_path(spark, sf_dir, emb)
    out = ivf_topk_persisted(emb, path, k=3, nprobe=IVF_NPROBE)
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


IVFP_NQ = 1024
IVFP_QSEED = 31


def q_ann_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index SERVING shape (round-9, VERDICT r8 item 2):
    ≤1024 md5-chosen query vectors (seed 31, same discipline as
    ann_ivfpq_topk) probe their nprobe cells against the FULL persisted
    inverted lists — Θ(n + Q·√n), linear in the corpus, vs the
    all-points-as-queries evaluation twin ann_ivf_persisted whose
    uncapped sf10 attempt spilled past local disk (SCALING.md round-8
    negative result). Per-query results are identical to the uncapped
    call's rows for the same ids, so the oracle is ivf_topk's SQL with
    a qsel probe filter."""
    from mahout_samsara_book_spark.operators.similarity import (
        ivf_topk_persisted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_index_path(spark, sf_dir, emb)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("vec_id").cast("string"), F.lit(str(IVFP_QSEED))
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    qids = emb.select("vec_id").orderBy(h, "vec_id").limit(IVFP_NQ)
    out = ivf_topk_persisted(
        emb, path, k=3, nprobe=IVF_NPROBE, query_ids=qids
    )
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_ann_ivf_persisted_topk() -> str:
    return f"""
WITH {_IVF_CTES},
qsel AS (SELECT vec_id FROM e
         ORDER BY ('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                   || ':{IVFP_QSEED}'), 1, 15))::BIGINT, vec_id
         LIMIT {IVFP_NQ}),
probes AS (SELECT vec_id AS q_id, cid FROM ranked_c
           WHERE rn <= {IVF_NPROBE}
             AND vec_id IN (SELECT vec_id FROM qsel)),
cand AS (
  SELECT DISTINCT p.q_id AS vec_id, a.vec_id AS neighbor
  FROM probes p JOIN assign a ON p.cid = a.cid AND p.q_id <> a.vec_id
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sims AS (
  SELECT c.vec_id, c.neighbor,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM cand c
  JOIN n l ON l.vec_id = c.vec_id
  JOIN n r ON r.vec_id = c.neighbor
),
rk AS (
  SELECT vec_id, neighbor, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM sims
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(neighbor AS BIGINT) AS neighbor,
       {{sci}} AS cosine, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
""".replace("{sci}", _sci_sql("cosine"))


QUERIES["ann_ivf_persisted"] = q_ann_ivf_persisted
QUERIES["ann_ivf_persisted_topk"] = q_ann_ivf_persisted_topk
_oracles_pre_ivfp = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ivfp()
    d["ann_ivf_persisted"] = d["ivf_topk"]
    d["ann_ivf_persisted_topk"] = o_ann_ivf_persisted_topk()
    return d


# ------------------------------------------------------------------ #
# round-8: incremental IVF — append new vectors to a built index
# ------------------------------------------------------------------ #


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest ANN shape: the index (centers) is built from the
    CORPUS only; a held-out batch (every 50th vector) is assigned
    against those frozen centers and appended to the inverted lists —
    no re-clustering, the append-only property ivf_persist's layout
    exists for. The batch vectors then query the grown index: top-3
    exact-cosine within their probed cells over corpus ∪ batch."""
    from mahout_samsara_book_spark.operators.similarity import (
        _centers_matrix,
        _normed,
        _verify_topk,
        auto_n_centers,
        ivf_assign,
        ivf_centers,
        ivf_probes,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") % 50 != 17)
    batch = emb.filter(F.col("vec_id") % 50 == 17)
    n_centers = auto_n_centers(corpus)
    cm = _centers_matrix(
        ivf_centers(corpus, n_centers, IVF_SEED, "vec_id", "embedding")
    )
    members = (
        ivf_assign(corpus, cm, "vec_id", "embedding")
        .unionByName(ivf_assign(batch, cm, "vec_id", "embedding"))
        .select(F.col("vec_id").alias("neighbor"), "cid")
    )
    probes = ivf_probes(batch, cm, IVF_NPROBE, "vec_id", "embedding")
    cand = (
        probes.join(members, "cid")
        .filter(F.col("q_id") != F.col("neighbor"))
        .select(F.col("q_id").alias("vec_id"), "neighbor")
    )
    base = _normed(emb, "vec_id", "embedding")
    out = _verify_topk(base, cand, 3, "vec_id")
    return out.select(
        "vec_id",
        "neighbor",
        _sci(F.col("cosine")).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_ann_ivf_incremental() -> str:
    return f"""
WITH
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
corpus AS (SELECT * FROM e WHERE vec_id % 50 <> 17),
batch AS (SELECT * FROM e WHERE vec_id % 50 = 17),
hashed AS (
  SELECT vec_id, v,
         ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':{IVF_SEED}'), 1, 15))::BIGINT AS h
  FROM corpus
),
centers AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
         v AS center
  FROM (SELECT * FROM hashed ORDER BY h, vec_id
        LIMIT (SELECT GREATEST({IVF_CENTERS},
                       CAST(FLOOR(SQRT(count(*) // 2)) AS BIGINT))
               FROM corpus))
),
scored AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM e CROSS JOIN centers c
),
ranked_c AS MATERIALIZED (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM scored
),
assign AS MATERIALIZED (SELECT vec_id, cid FROM ranked_c WHERE rn = 1),
probes AS (
  SELECT vec_id AS q_id, cid FROM ranked_c
  WHERE rn <= {IVF_NPROBE} AND vec_id % 50 = 17
),
cand AS (
  SELECT DISTINCT p.q_id AS vec_id, a.vec_id AS neighbor
  FROM probes p JOIN assign a ON p.cid = a.cid AND p.q_id <> a.vec_id
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sims AS (
  SELECT c.vec_id, c.neighbor,
         list_dot_product(l.v, r.v) / (l.nrm * r.nrm) AS cosine
  FROM cand c
  JOIN n l ON l.vec_id = c.vec_id
  JOIN n r ON r.vec_id = c.neighbor
),
rk AS (
  SELECT vec_id, neighbor, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor) AS rank
  FROM sims
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(neighbor AS BIGINT) AS neighbor,
       {{C}} AS cosine, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
""".replace("{C}", _sci_sql("cosine"))


QUERIES["ann_ivf_incremental"] = q_ann_ivf_incremental
_oracles_pre_ivfi = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ivfi()
    d["ann_ivf_incremental"] = o_ann_ivf_incremental()
    return d


# ------------------------------------------------------------------ #
# round-8: BPE merge training (k unrolled rounds)
# ------------------------------------------------------------------ #

BPE_K = 6


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_K word-level BPE merge rules from the corpus — the
    tokenizer-training primitive; see functions/text.py:bpe_merges for
    the cross-engine merge-semantics contract. Integer/string output
    only: the cleanest possible hash gate for an iterative trainer."""
    from mahout_samsara_book_spark.functions.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_merges(docs, k=BPE_K)
    return out.select(
        "merge_rank", "tok_a", "tok_b", "merged",
        F.col("n_pair").cast("long").alias("n_pair"),
    )


def _bpe_stages_sql(level: str = "word", k: int = BPE_K) -> str:
    """The unrolled k-stage trainer replay (the kmeans_lloyd oracle
    discipline): each stage counts adjacent pairs of the CURRENT corpus
    state, takes the (n DESC, a, b) argmax, and rewrites via the same
    separator-consuming literal replace the engine applies. Returns the
    full WITH clause; both BPE oracles compose their SELECT onto it.
    ``level='char'`` replays the canonical char-level mode: words
    pre-split to characters with the '</w>' sentinel on the last one,
    '|' barriers between words, and barrier pairs excluded from the
    count (the engine's exact state builder and filter)."""
    if level == "char":
        d0_body = (
            f"array_to_string(list_transform({TOKS_SQL}, "
            "w -> array_to_string(string_split(w, ''), ' ') || '</w>'"
            "), ' | ')"
        )
        pair_where = "WHERE l[j] <> '|' AND l[j + 1] <> '|'"
    else:
        d0_body = f"array_to_string({TOKS_SQL}, ' ')"
        pair_where = ""
    stages = [
        f"d0 AS MATERIALIZED (SELECT doc_id, ' ' ||"
        f" {d0_body} || ' ' AS s FROM documents)"
    ]
    for i in range(k):
        stages.append(f"""p{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS n FROM (
    SELECT l[j] AS a, l[j + 1] AS b
    FROM (SELECT string_split(trim(s), ' ') AS l FROM d{i}) q,
         LATERAL unnest(range(1, len(l))) AS t(j)
    {pair_where}
  ) GROUP BY 1, 2
)""")
        stages.append(
            f"t{i} AS MATERIALIZED (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1)"
        )
        stages.append(f"""d{i + 1} AS MATERIALIZED (
  SELECT doc_id,
         replace(s,
                 ' ' || (SELECT a FROM t{i}) || ' ' || (SELECT b FROM t{i}) || ' ',
                 ' ' || (SELECT a FROM t{i}) || (SELECT b FROM t{i}) || ' ') AS s
  FROM d{i}
)""")
    return "WITH\n" + ",\n".join(stages)


def o_text_bpe_merges() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, a AS tok_a,"
        f" b AS tok_b, a || b AS merged, CAST(n AS BIGINT) AS n_pair"
        f" FROM t{i}"
        for i in range(BPE_K)
    )
    return _bpe_stages_sql() + "\n" + arms


QUERIES["text_bpe_merges"] = q_text_bpe_merges
_oracles_pre_bpe = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_bpe()
    d["text_bpe_merges"] = o_text_bpe_merges()
    return d


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the BPE trainer: apply the learned BPE_K
    merge rules in rank order to every document (k narrow chained
    replaces — zero shuffle once the rules exist) and report per-doc
    token counts before/after: the compression-ratio audit a tokenizer
    rollout publishes."""
    from mahout_samsara_book_spark.functions.text import (
        bpe_merges,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    rules = bpe_merges(docs, k=BPE_K).collect()
    s0 = F.concat(
        F.lit(" "), F.concat_ws(" ", tokenize(F.col("text"))), F.lit(" ")
    )
    enc = s0
    for r in sorted(rules, key=lambda r: r.merge_rank):
        enc = F.replace(
            enc,
            F.lit(f" {r.tok_a} {r.tok_b} "),
            F.lit(f" {r.merged} "),
        )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split(F.trim(s0), " ")).cast("long").alias("n_before"),
        F.size(F.split(F.trim(enc), " ")).cast("long").alias("n_after"),
    )


def o_text_bpe_encode() -> str:
    # the trainer oracle's final corpus state d{BPE_K} IS the encoded
    # corpus; compose onto the same stage chain
    return f"""{_bpe_stages_sql()}
SELECT CAST(d0.doc_id AS BIGINT) AS doc_id,
       CAST(len(string_split(trim(d0.s), ' ')) AS BIGINT) AS n_before,
       CAST(len(string_split(trim(dk.s), ' ')) AS BIGINT) AS n_after
FROM d0 JOIN d{BPE_K} dk ON d0.doc_id = dk.doc_id
"""


QUERIES["text_bpe_encode"] = q_text_bpe_encode
_oracles_pre_bpee = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_bpee()
    d["text_bpe_encode"] = o_text_bpe_encode()
    return d


# ------------------------------------------------------------------ #
# round-9: char-level BPE (canonical LLM tokenizer training)
# ------------------------------------------------------------------ #

BPE_CHARS_K = 6


def q_text_bpe_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_CHARS_K CHAR-level BPE merges — the canonical
    Sennrich-style tokenizer trainer: words pre-split to character
    sequences with the '</w>' end-of-word sentinel on the last char
    and '|' barriers so no merge crosses a word boundary. Same k-round
    map-side-combined pair count + 1-row argmax shape as the
    word-level trainer; see functions/text.py:bpe_merges."""
    from mahout_samsara_book_spark.functions.text import bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    out = bpe_merges(docs, k=BPE_CHARS_K, level="char")
    return out.select(
        "merge_rank", "tok_a", "tok_b", "merged",
        F.col("n_pair").cast("long").alias("n_pair"),
    )


def o_text_bpe_chars() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, a AS tok_a,"
        f" b AS tok_b, a || b AS merged, CAST(n AS BIGINT) AS n_pair"
        f" FROM t{i}"
        for i in range(BPE_CHARS_K)
    )
    return _bpe_stages_sql(level="char", k=BPE_CHARS_K) + "\n" + arms


QUERIES["text_bpe_chars"] = q_text_bpe_chars
_oracles_pre_bpec = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_bpec()
    d["text_bpe_chars"] = o_text_bpe_chars()
    return d

# ------------------------------------------------------------------ #
# round-9: persisted dedup index (crawl-ingest without re-minhashing)
# ------------------------------------------------------------------ #

# build-once dedup index per (sf_dir, source fingerprint) — same
# write-once lifecycle as _IVF_IDX / the ORC layout: buckets + shingle
# sets are parquet an ingest batch PROBES, so per-batch cost is
# batch-proportional instead of re-scanning the corpus every time
_DDX_IDX: dict[tuple, str] = {}
_DDX_IDX_SEQ = [0]


def _dedup_index_path(spark: SparkSession, sf_dir: str) -> str:
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.dedup import dedup_index_persist
    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "documents"))
    path = _DDX_IDX.get(key)
    if path is None or not os.path.exists(path + "/manifest/_SUCCESS"):
        _DDX_IDX_SEQ[0] += 1
        path = register_tmpdir(
            tempfile.gettempdir()
            + f"/spark_graft_ddxidx_{os.getpid()}_{_DDX_IDX_SEQ[0]}"
        )
        shutil.rmtree(path, ignore_errors=True)
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % 50 != 17)
        )
        dedup_index_persist(
            corpus, path, n=3, k=MINHASH_K, bands=LSH_BANDS,
            seed=MINHASH_SEED,
        )
        _DDX_IDX[key] = path
    return path


def q_dedup_incremental_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_incremental over a PERSISTED index (round-9, VERDICT r8
    item 8): the corpus bucket + shingle relations are parquet written
    once per (sf_dir, source fingerprint) — the batch probes them
    without re-shingling/re-minhashing the corpus, so per-invocation
    cost is batch-proportional.  Same fixture as dedup_incremental and
    the index content is deterministic, so the two share an oracle: a
    hash-match certifies the index round-trips through storage.  The
    probe plan is audited in PLANS.md ('incremental dedup
    persisted-index probe': column-pruned index scans, no re-compute of
    corpus signatures, no cartesian)."""
    from mahout_samsara_book_spark.operators.dedup import (
        incremental_dedup_persisted,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    batch = (
        docs.filter(F.col("doc_id") % 50 == 17)
        .unionByName(
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    path = _dedup_index_path(spark, sf_dir)
    out = incremental_dedup_persisted(
        batch, path, n=3, k=MINHASH_K, bands=LSH_BANDS,
        seed=MINHASH_SEED, threshold=0.5,
    )
    return out.select(
        "doc_id", "keep", "dup_of", _sci(F.col("jaccard")).alias("jaccard")
    )


QUERIES["dedup_incremental_persisted"] = q_dedup_incremental_persisted
_oracles_pre_ddxp = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ddxp()
    d["dedup_incremental_persisted"] = d["dedup_incremental"]
    return d


# ------------------------------------------------------------------ #
# round-10: persisted dedup index LIFECYCLE — probe, then APPEND, so
# consecutive batches see each other through the index (VERDICT r9
# item 3: dedup_index_persist promised the append half; now it's real)
# ------------------------------------------------------------------ #

_DDX_LC: dict[tuple, str] = {}
_DDX_LC_SEQ = [0]


def _dedup_lifecycle_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once two-batch lifecycle state per (sf_dir, source
    fingerprint): index ← corpus slice (doc_id % 10 = 3), then batch 1
    (doc_id % 50 = 17 — ids always ≡ 7 mod 10, disjoint from the
    corpus) is APPENDED via dedup_index_append.  Batch 2 probes find
    batch-1 docs purely through the appended parquet rows — batch 1 is
    never re-minhashed at probe time."""
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_append,
        dedup_index_persist,
    )
    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "documents"))
    path = _DDX_LC.get(key)
    if path is None or not os.path.exists(path + "/manifest/_SUCCESS"):
        _DDX_LC_SEQ[0] += 1
        path = register_tmpdir(
            tempfile.gettempdir()
            + f"/spark_graft_ddxlc_{os.getpid()}_{_DDX_LC_SEQ[0]}"
        )
        shutil.rmtree(path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        dedup_index_persist(
            docs.filter(F.col("doc_id") % 10 == 3), path,
            n=3, k=MINHASH_K, bands=LSH_BANDS, seed=MINHASH_SEED,
        )
        dedup_index_append(
            docs.filter(F.col("doc_id") % 50 == 17), path,
            n=3, k=MINHASH_K, bands=LSH_BANDS, seed=MINHASH_SEED,
        )
        _DDX_LC[key] = path
    return path


# re-keying offset for synthetic batches probed against a persisted
# index: MUST be outside any reachable doc_id domain (ADVICE r10 —
# +2_000_000 collided with real batch-1 ids once the fixture passes
# ~2M rows, because 2_000_000 % 50 == 0 lands re-keyed ids in the same
# residue class; the probe's anti-join-on-batch-ids would then strip
# GENUINE index rows).  2^40 is scale-proof: no fixture approaches a
# trillion docs, and doc_id + 2^40 stays far inside int64.
DDX_REKEY = 1 << 40


def q_dedup_incremental_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-batch persisted-index lifecycle (round-10): batch 2 — exact
    copies of batch 1's texts under fresh ids (+2^40, outside the id
    domain: ADVICE r10) — probes an
    index holding corpus ∪ APPENDED batch 1, so every batch-2 doc's
    dup_of resolves to a batch-1 (or tied-lower corpus) doc purely via
    the appended rows.  The probe itself is
    :func:`incremental_dedup_persisted`: batch-proportional, index
    never re-derived, and self-rows excluded by the probe's
    anti-join-on-batch-ids (so re-probing an already-appended batch is
    idempotent).  Oracle: the shared incremental tail with
    corpus = corpus slice ∪ batch 1."""
    from mahout_samsara_book_spark.operators.dedup import (
        incremental_dedup_persisted,
    )

    path = _dedup_lifecycle_path(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    batch2 = docs.filter(F.col("doc_id") % 50 == 17).select(
        (F.col("doc_id") + DDX_REKEY).alias("doc_id"), "text"
    )
    out = incremental_dedup_persisted(
        batch2, path, n=3, k=MINHASH_K, bands=LSH_BANDS,
        seed=MINHASH_SEED, threshold=0.5,
    )
    return out.select(
        "doc_id", "keep", "dup_of", _sci(F.col("jaccard")).alias("jaccard")
    )


def o_dedup_incremental_append() -> str:
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 17
),
batch AS (
  SELECT doc_id + {DDX_REKEY} AS doc_id, text FROM documents
  WHERE doc_id % 50 = 17
),
{_o_incremental_tail()}
"""


QUERIES["dedup_incremental_append"] = q_dedup_incremental_append
_oracles_pre_ddxa = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ddxa()
    d["dedup_incremental_append"] = o_dedup_incremental_append()
    return d


# ------------------------------------------------------------------ #
# round-11: THREE-BATCH ingest_batch lifecycle (VERDICT r10 item 8):
# dedup_incremental_append grades a probe against a pre-appended
# index; this row drives probe→append→probe→append→probe through
# ingest_batch ITSELF, pinning the compose (and the probe's
# self-row-anti-join idempotence guard) under rotation.
# ------------------------------------------------------------------ #

# second re-keying offset (batch 3 re-keys batch-2 texts) — a distinct
# power of two so the two synthetic id ranges can never collide with
# each other or with real ids (see DDX_REKEY)
DDX_REKEY2 = 1 << 41

_DDX_LC3_SEQ = [0]
_DDX_LC3_LAST: list = [None]
_DDX_LC3_PRISTINE: dict[tuple, str] = {}


def _pristine_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once PRISTINE index (corpus slice only, no batches) per
    (sf_dir, fingerprint).  The lifecycle query copies it to a fresh
    working dir per invocation instead of re-minhashing the corpus:
    ingest MUTATES the index, so a shared one can't be probed twice,
    but the pre-ingest state is pure fixture — the graded operator is
    the probe/append compose, not the corpus build (which
    dedup_incremental_persisted's staging already grades)."""
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_persist,
    )
    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "documents"))
    path = _DDX_LC3_PRISTINE.get(key)
    if path is None or not os.path.exists(path + "/manifest/_SUCCESS"):
        _DDX_LC3_SEQ[0] += 1
        path = register_tmpdir(
            tempfile.gettempdir()
            + f"/spark_graft_ddxlc3p_{os.getpid()}_{_DDX_LC3_SEQ[0]}"
        )
        shutil.rmtree(path, ignore_errors=True)
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        dedup_index_persist(
            docs.filter(F.col("doc_id") % 10 == 3), path,
            n=3, k=MINHASH_K, bands=LSH_BANDS, seed=MINHASH_SEED,
        )
        _DDX_LC3_PRISTINE[key] = path
    return path


def q_dedup_ingest_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three batches through :func:`ingest_batch` (probe + append) on
    a FRESH index: corpus = doc_id % 10 = 3; batch 1 = the % 50 = 17
    docs (new texts); batch 2 = the % 50 = 29 docs (new) ∪ copies of
    batch 1 (+2^40) — the copies must resolve dup_of to batch-1 ids,
    visible only through batch 1's append; batch 3 = copies of
    batch 2's NEW texts (+2^41) — resolvable only through batch 2's
    append.  Each probe is ``localCheckpoint``-materialized before the
    next ingest so it grades the index snapshot its batch actually saw
    (the lifecycle is inherently sequential — the single-writer
    contract, dedup.py:ingest_batch).  Each invocation works on a
    FRESH COPY of the build-once pristine index: ingest MUTATES the
    index, and re-appending the same batch would double its shingle
    rows (the documented failed-append hazard), so a shared index
    would be wrong by construction; the file copy replaces the
    re-minhash (fixture setup, not the graded compose) and keeps
    per-invocation cost at copy + 3×(probe + append)."""
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.dedup import ingest_batch

    # drop the PREVIOUS invocation's mutated working copy before
    # creating a new one — bench reps would otherwise accumulate one
    # full index copy per invocation in /tmp (GBs at sf10)
    if _DDX_LC3_LAST[0] is not None:
        shutil.rmtree(_DDX_LC3_LAST[0], ignore_errors=True)
    _DDX_LC3_SEQ[0] += 1
    path = register_tmpdir(
        tempfile.gettempdir()
        + f"/spark_graft_ddxlc3_{os.getpid()}_{_DDX_LC3_SEQ[0]}"
    )
    _DDX_LC3_LAST[0] = path
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(_pristine_index(spark, sf_dir), path)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") % 50 == 17)
    b2 = docs.filter(F.col("doc_id") % 50 == 29).unionByName(
        b1.select((F.col("doc_id") + DDX_REKEY).alias("doc_id"), "text")
    )
    b3 = docs.filter(F.col("doc_id") % 50 == 29).select(
        (F.col("doc_id") + DDX_REKEY2).alias("doc_id"), "text"
    )
    # Precompute every batch's fused shingle/signature build
    # CONCURRENTLY before the sequential probe/append chain (round-13,
    # guide §2.6): the builds depend only on the batch text — never on
    # the index — so they are legal to overlap, while each PROBE must
    # still bind the index snapshot its batch sees (single-writer
    # order unchanged: ingest_batch(i) runs strictly before i+1).
    # Serially the three build jobs cost ~0.8 s each ahead of their
    # probes; submitted together they run while batch 1's probe holds
    # the tail of the cluster.
    from concurrent.futures import ThreadPoolExecutor

    from mahout_samsara_book_spark.cache import release
    from mahout_samsara_book_spark.operators.dedup import (
        _shingle_sig_fused,
    )

    batches = [b1, b2, b3]
    outs = []
    with ThreadPoolExecutor(max_workers=3) as pool:
        builds = [
            pool.submit(
                _shingle_sig_fused,
                b, 3, MINHASH_K, MINHASH_SEED, "doc_id", "text",
                materialize=True,
            )
            for b in batches
        ]
        for i, b in enumerate(batches, start=1):
            # materialize NOW: the next ingest appends more index rows,
            # which this batch's probe must not see.  The LAST batch is
            # checkpointed too (ADVICE r11): it makes the returned
            # DataFrame self-contained, so the NEXT invocation's rmtree
            # of this working copy can never invalidate a
            # still-unexecuted result (the build-N+1-before-execute-N
            # hazard).  The localCheckpoint runs through ingest_batch's
            # `materialize` hook, OVERLAPPING the probe's jobs with the
            # append's (guide §2.6) — per-batch wall ≈ max(probe,
            # append), with the cross-batch sequencing (single-writer)
            # unchanged because ingest_batch returns only after both
            # finish.  The checkpointed output reads nothing of the
            # batch's prebuilt pair, so the pair is released after it.
            sh_b, sig_b = builds[i - 1].result()
            outs.append(
                ingest_batch(
                    b, path, n=3, k=MINHASH_K, bands=LSH_BANDS,
                    seed=MINHASH_SEED, threshold=0.5,
                    materialize=lambda df, i=i: df.withColumn(
                        "batch", F.lit(i).cast("long")
                    ).localCheckpoint(),
                    _sh=sh_b, _sig=sig_b,
                )
            )
            release(sh_b)
            release(sig_b)
    union = outs[0]
    for o in outs[1:]:
        union = union.unionByName(o)
    return union.select(
        "batch", "doc_id", "keep", "dup_of",
        _sci(F.col("jaccard")).alias("jaccard"),
    )


def o_dedup_ingest_lifecycle() -> str:
    # each stage is the full incremental oracle with the corpus grown
    # by every earlier batch — the exact snapshot semantics the
    # sequential ingest contract promises
    c0 = "SELECT doc_id, text FROM documents WHERE doc_id % 10 = 3"
    b1 = "SELECT doc_id, text FROM documents WHERE doc_id % 50 = 17"
    b2new = "SELECT doc_id, text FROM documents WHERE doc_id % 50 = 29"
    b2 = (
        f"{b2new} UNION ALL SELECT doc_id + {DDX_REKEY} AS doc_id, text "
        "FROM documents WHERE doc_id % 50 = 17"
    )
    b3 = (
        f"SELECT doc_id + {DDX_REKEY2} AS doc_id, text FROM documents "
        "WHERE doc_id % 50 = 29"
    )
    stages = [
        (1, c0, b1),
        (2, f"{c0} UNION ALL {b1}", b2),
        (3, f"{c0} UNION ALL {b1} UNION ALL {b2}", b3),
    ]
    parts = [
        f"""SELECT CAST({i} AS BIGINT) AS batch, * FROM (
WITH corpus AS ({c}),
batch AS ({b}),
{_o_incremental_tail()}
)"""
        for i, c, b in stages
    ]
    return "\nUNION ALL\n".join(parts)


QUERIES["dedup_ingest_lifecycle"] = q_dedup_ingest_lifecycle
_oracles_pre_ddxl3 = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ddxl3()
    d["dedup_ingest_lifecycle"] = o_dedup_ingest_lifecycle()
    return d


# ------------------------------------------------------------------ #
# round-10: BM25 aggregate-HOF fold, driver-graded (VERDICT r9 item 5)
# ------------------------------------------------------------------ #

# five query sets spanning 24 distinct terms of the synthetic
# vocabulary (which has only ~31 tokens total — the >64-literal-terms
# regime can't be reached with REAL terms, so the graded row lowers
# the dispatch threshold instead of padding the queries with
# out-of-vocabulary strings that would contribute nothing to a score)
BM25_WIDE_QUERIES = [
    ("q_joins", ["join", "hash", "merge", "sort"]),
    ("q_scan", ["scan", "filter", "column", "row", "table"]),
    ("q_stream", ["stream", "window", "batch", "agg"]),
    ("q_perf", ["fast", "slow", "big", "small", "query"]),
    ("q_data", ["data", "value", "key", "vector", "group", "order"]),
]
BM25_HOF_MAX_LITERAL = 8  # 24 distinct terms > 8 → aggregate-HOF fold


def q_text_bm25_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k through the LARGE-vocabulary score fold (round-10):
    ``literal_fold_max_terms=8`` forces the sorted
    collect_list + ``aggregate``-HOF path (functions/text.py) that the
    r9 dispatch added but only pytest exercised — this row pins it with
    a driver-graded hash.  The fold is bit-identical to the literal
    superset fold by construction (same present-term values, same
    sorted-term order), so the oracle is the SAME superset-fold SQL as
    text_bm25_topk's, over the wider query set."""
    from mahout_samsara_book_spark.functions.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(
        docs, BM25_WIDE_QUERIES, topk=BM25_TOPK, k1=BM25_K1, b=BM25_B,
        literal_fold_max_terms=BM25_HOF_MAX_LITERAL,
    )
    return out.select(
        "query_id",
        F.col("doc_id").cast("long").alias("doc_id"),
        _sci(F.col("score")).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


QUERIES["text_bm25_hof"] = q_text_bm25_hof
_oracles_pre_bm25h = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_bm25h()
    d["text_bm25_hof"] = _o_bm25(BM25_WIDE_QUERIES)
    return d


# ------------------------------------------------------------------ #
# round-10: SemDeDup — cluster-scoped semantic dedup (keep/drop with
# centroid-bucketed candidates; cross-references dedup_embedding,
# which reports brute-force pairs, and the ivf_* family, whose
# centers/assign kernel this replays)
# ------------------------------------------------------------------ #

SEMDEDUP_THRESHOLD = 0.9

from mahout_samsara_book_spark.operators.dedup import (  # noqa: E402
    SEMDEDUP_TARGET_CLUSTER,
)


# (sf_dir, embeddings fingerprint) → augmented-corpus row count for
# q_dedup_semantic's explicit n_centers (round-11, VERDICT r10 item 4:
# plan construction must be Spark-job-free).  DuckDB reads the count
# from parquet footers / zone-map-pruned row groups — no Spark job.
_SEMD_N: dict[tuple, int] = {}


def _semdedup_rows(sf_dir: str) -> int:
    import os

    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "embeddings"))
    if key not in _SEMD_N:
        import duckdb

        path = f"{sf_dir}/embeddings.parquet"
        src = f"{path}/**/*.parquet" if os.path.isdir(path) else path
        total, dup = duckdb.sql(
            "SELECT count(*), "
            "count(*) FILTER (WHERE vec_id < 10) "
            f"FROM read_parquet('{src}')"
        ).fetchone()
        _SEMD_N[key] = int(total) + int(dup)
    return _SEMD_N[key]


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py:semantic_dedup): k-means-bucketed
    within-cluster cosine groups, one representative kept per group
    (smallest id).  Fixture plants 10 exact-copy vectors (ids
    +1 000 000) — identical embeddings assign to identical clusters, so
    each copy provably drops in favor of its original.  n_centers is
    passed EXPLICITLY (the width-targeted rule over the augmented-corpus
    size, read job-free from parquet footers and fingerprint-cached) so
    building this plan runs zero Spark jobs — same value, same hash, as
    the operator's 'auto' branch."""
    from mahout_samsara_book_spark.operators.dedup import (
        SEMDEDUP_TARGET_CLUSTER,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    dups = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(dups),
        n_centers=max(
            16, _semdedup_rows(sf_dir) // SEMDEDUP_TARGET_CLUSTER
        ),
        threshold=SEMDEDUP_THRESHOLD,
        seed=IVF_SEED,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "keep",
        F.col("rep").cast("long").alias("rep"),
    )


def o_dedup_semantic() -> str:
    return f"""
WITH RECURSIVE aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 10
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM aug),
hashed AS (
  SELECT vec_id, v,
         ('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':{IVF_SEED}'), 1, 15))::BIGINT AS h
  FROM e
),
centers AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS cid,
         v AS center
  FROM (SELECT * FROM hashed ORDER BY h, vec_id
        -- SemDeDup's width-targeted rule, NOT the ANN sqrt-n rule:
        -- pair work is n * width, so the center count scales with n
        LIMIT (SELECT GREATEST(16, count(*) // {SEMDEDUP_TARGET_CLUSTER})
               FROM e))
),
scored AS MATERIALIZED (
  SELECT e.vec_id, c.cid,
         list_sum(list_transform(range(1, 65),
           i -> (e.v[i] - c.center[i]) * (e.v[i] - c.center[i]))) AS d2
  FROM e CROSS JOIN centers c
),
assign AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
dups AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assign a JOIN assign b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN n la ON la.vec_id = a.vec_id
  JOIN n lb ON lb.vec_id = b.vec_id
  WHERE list_dot_product(la.v, lb.v) / (la.nrm * lb.nrm)
        >= {SEMDEDUP_THRESHOLD}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM dups
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM dups
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
),
comp AS (
  SELECT src AS vec_id, least(src, min(dst)) AS rep
  FROM reach GROUP BY src
)
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       coalesce(comp.rep, e.vec_id) = e.vec_id AS keep,
       CAST(coalesce(comp.rep, e.vec_id) AS BIGINT) AS rep
FROM e LEFT JOIN comp ON comp.vec_id = e.vec_id
"""


QUERIES["dedup_semantic"] = q_dedup_semantic
_oracles_pre_semd = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_semd()
    d["dedup_semantic"] = o_dedup_semantic()
    return d


# ------------------------------------------------------------------ #
# round-10: top-k principal components (power iteration + Hotelling
# deflation on the A7 gram kernel — the dspca-shaped embedding
# compression op; algorithms/spectral.py)
# ------------------------------------------------------------------ #

PCA_ITERS = 8
PCA_DIM = 64
PCA_K = 3


def q_emb_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the top-PCA_K eigenvectors of XᵀX
    (power iteration from the all-ones start + Rayleigh deflation,
    PCA_ITERS rounds each).  TWO corpus passes total — one distributed
    gram, one projection against the k broadcast component literals;
    the iteration/deflation is driver-side sequential float math the
    oracle replays as chained recursive CTEs (the bfgs_argmin
    discipline)."""
    from mahout_samsara_book_spark.algorithms.spectral import (
        leading_components,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _, out = leading_components(
        emb, dim=PCA_DIM, k=PCA_K, iters=PCA_ITERS
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_sci(F.col(f"p{c}")).alias(f"p{c}") for c in range(PCA_K)],
    )


def o_emb_pca_topk() -> str:
    d1 = PCA_DIM + 1
    rng = f"range(1, {d1})"
    blocks = []
    for c in range(PCA_K):
        blocks.append(f"""it{c} AS (
  SELECT 0 AS k, list_transform({rng}, x -> 1.0::DOUBLE) AS v
  UNION ALL
  SELECT k + 1,
         list_transform(
           w, x -> x / sqrt(list_sum(list_transform(w, y -> y * y))))
  FROM (
    SELECT k,
           list_transform({rng}, i ->
             list_sum(list_transform({rng},
                                     j -> G[i][j] * v[j]))) AS w
    FROM it{c}, gm{c}
    WHERE k < {PCA_ITERS}
  )
),
fin{c} AS MATERIALIZED (SELECT v AS ev FROM it{c} WHERE k = {PCA_ITERS})""")
        if c < PCA_K - 1:
            blocks.append(f"""lam{c} AS MATERIALIZED (
  SELECT list_sum(list_transform({rng}, i ->
           ev[i] * list_sum(list_transform({rng},
                                           j -> G[i][j] * ev[j]))))
         AS lam
  FROM fin{c}, gm{c}
),
gm{c + 1} AS MATERIALIZED (
  SELECT list_transform({rng}, i ->
           list_transform({rng}, j -> G[i][j] - lam * ev[i] * ev[j]))
         AS G
  FROM gm{c}, fin{c}, lam{c}
)""")
    projs = ",\n       ".join(
        _sci_sql(
            f"list_sum(list_transform({rng}, j -> e.v[j] * f{c}.ev[j]))"
        )
        + f" AS p{c}"
        for c in range(PCA_K)
    )
    froms = ", ".join(f"fin{c} f{c}" for c in range(PCA_K))
    body = ",\n".join(blocks)
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cell AS MATERIALIZED (
  -- 7-significant-digit quantization: see algorithms/spectral.py's
  -- float contract (distributed-sum wobble amplified by iteration)
  SELECT ii.i AS i, jj.j AS j,
         CAST(printf('%.6e', sum(v[ii.i] * v[jj.j])) AS DOUBLE) AS g
  FROM e, {rng} ii(i), {rng} jj(j)
  GROUP BY 1, 2
),
gm0 AS MATERIALIZED (
  SELECT list(gr ORDER BY i) AS G
  FROM (SELECT i, list(g ORDER BY j) AS gr FROM cell GROUP BY i)
),
{body}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {projs}
FROM e, {froms}
"""


QUERIES["emb_pca_topk"] = q_emb_pca_topk
_oracles_pre_pca = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_pca()
    d["emb_pca_topk"] = o_emb_pca_topk()
    return d


# ------------------------------------------------------------------ #
# round-10: item-item LLR cooccurrence (Mahout spark-itemsimilarity /
# SimilarityAnalysis.cooccurrence — algorithms/cooccurrence.py)
# ------------------------------------------------------------------ #

REC_K = 10
REC_MAX_PREFS = 25
REC_SEED = 31


def q_rec_item_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-REC_K most-similar parts per part by log-likelihood-ratio
    cooccurrence over customer purchase histories (orders ⋈ lineitem →
    (customer, part) interactions, capped at REC_MAX_PREFS per
    customer by deterministic hash order).  The Mahout recommender
    indicator matrix, Spark-first: integer contingency counts feed one
    codegen'd LLR expression — no distributed float sums anywhere, so
    the oracle replays it bit-for-bit."""
    from mahout_samsara_book_spark.algorithms.cooccurrence import (
        item_similarity_llr,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    inter = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    out = item_similarity_llr(
        inter, k=REC_K, max_prefs=REC_MAX_PREFS, seed=REC_SEED
    )
    return out.select(
        F.col("item_id").cast("long").alias("item_id"),
        F.col("other").cast("long").alias("other"),
        _sci(F.col("llr")).alias("llr"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_rec_item_llr() -> str:
    h = h60_sql(
        f"concat('rec{REC_SEED}:', CAST(u AS VARCHAR), ':', "
        "CAST(i AS VARCHAR))"
    )

    # relative-entropy form — term-for-term mirror of llr_expr
    # (cooccurrence.py): every float op shape identical (one division,
    # outer multiply, left-assoc adds); see llr_expr's stability note
    def kln(k, r, c):
        return (
            f"(CASE WHEN ({k}) > 0 THEN CAST({k} AS DOUBLE) * "
            f"ln(CAST({k} AS DOUBLE) * CAST(k11 + k12 + k21 + k22 AS DOUBLE)"
            f" / (CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE)))"
            " ELSE 0.0 END)"
        )

    llr = (
        "2.0 * ("
        + kln("k11", "k11 + k12", "k11 + k21")
        + " + "
        + kln("k12", "k11 + k12", "k12 + k22")
        + " + "
        + kln("k21", "k21 + k22", "k11 + k21")
        + " + "
        + kln("k22", "k21 + k22", "k12 + k22")
        + ")"
    )
    return f"""
WITH inter AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
capped AS (
  SELECT u, i FROM (
    SELECT u, i,
           row_number() OVER (PARTITION BY u ORDER BY {h}, i) AS rn
    FROM inter
  ) WHERE rn <= {REC_MAX_PREFS}
),
nu AS (SELECT count(DISTINCT u) AS n_users FROM capped),
ic AS (SELECT i, count(*) AS ni FROM capped GROUP BY 1),
pc AS (
  SELECT a.i AS ia, b.i AS ib, count(*) AS k11
  FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
  GROUP BY 1, 2
),
cells AS (
  SELECT ia, ib, k11,
         ca.ni - k11 AS k12,
         cb.ni - k11 AS k21,
         nu.n_users - ca.ni - cb.ni + k11 AS k22
  FROM pc JOIN ic ca ON ca.i = pc.ia JOIN ic cb ON cb.i = pc.ib, nu
),
scored AS (SELECT ia, ib, {llr} AS llr FROM cells),
sym AS (
  SELECT ia AS item_id, ib AS other, llr FROM scored
  UNION ALL
  SELECT ib AS item_id, ia AS other, llr FROM scored
),
r AS (
  SELECT item_id, other, llr,
         row_number() OVER (
           PARTITION BY item_id
           ORDER BY round(llr, 9) DESC, other) AS rank
  FROM sym
)
SELECT CAST(item_id AS BIGINT) AS item_id, CAST(other AS BIGINT) AS other,
       {_sci_sql('llr')} AS llr, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {REC_K}
"""


QUERIES["rec_item_llr"] = q_rec_item_llr
_oracles_pre_rec = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_rec()
    d["rec_item_llr"] = o_rec_item_llr()
    return d


# ------------------------------------------------------------------ #
# round-11: CROSS-cooccurrence LLR (Mahout SimilarityAnalysis.
# cooccurrences with a secondary action — VERDICT r10 item 2):
# primary action = purchases (orders ⋈ lineitem → customer × part),
# secondary action = view/click events (user × props.k page) — the
# A′B indicator "people who bought part A also viewed page B".
# ------------------------------------------------------------------ #

REC_X_CAP = 25          # primary-history cap (same dial as rec_item_llr)
REC_X_CAP_B = 25        # secondary-history cap — pair stream is cap·cap_b


def q_rec_cross_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-REC_K secondary items (viewed/clicked pages, events.props.k)
    per PRIMARY item (purchased part) by cross-action LLR
    (algorithms/cooccurrence.py:cross_similarity_llr).  Both histories
    hash-capped; contingency counts are integers feeding one codegen'd
    LLR — bit-exact oracle replay, like rec_item_llr."""
    from mahout_samsara_book_spark.algorithms.cooccurrence import (
        cross_similarity_llr,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    primary = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    ev = load_table(spark, sf_dir, "events")
    # drop events whose props lacks '$.k' (ADVICE r11): a NULL item_id
    # would otherwise reach the cap window, where Spark's NULLS FIRST
    # vs DuckDB's NULLS LAST ORDER BY defaults diverge — the current
    # fixtures have zero such rows, but the filter makes the query
    # robust to fixture regeneration instead of silently fragile
    secondary = ev.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k")
        .cast("long")
        .alias("item_id"),
    ).filter(F.col("item_id").isNotNull())
    out = cross_similarity_llr(
        primary, secondary, k=REC_K, max_prefs=REC_X_CAP,
        max_prefs_secondary=REC_X_CAP_B, seed=REC_SEED,
    )
    return out.select(
        F.col("item_id").cast("long").alias("item_id"),
        F.col("other").cast("long").alias("other"),
        _sci(F.col("llr")).alias("llr"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_rec_cross_llr() -> str:
    ha = h60_sql(
        f"concat('recxA{REC_SEED}:', CAST(u AS VARCHAR), ':', "
        "CAST(i AS VARCHAR))"
    )
    hb = h60_sql(
        f"concat('recxB{REC_SEED}:', CAST(u AS VARCHAR), ':', "
        "CAST(i AS VARCHAR))"
    )

    # relative-entropy form — term-for-term mirror of llr_expr
    # (cooccurrence.py): every float op shape identical (one division,
    # outer multiply, left-assoc adds); see llr_expr's stability note
    def kln(k, r, c):
        return (
            f"(CASE WHEN ({k}) > 0 THEN CAST({k} AS DOUBLE) * "
            f"ln(CAST({k} AS DOUBLE) * CAST(k11 + k12 + k21 + k22 AS DOUBLE)"
            f" / (CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE)))"
            " ELSE 0.0 END)"
        )

    llr = (
        "2.0 * ("
        + kln("k11", "k11 + k12", "k11 + k21")
        + " + "
        + kln("k12", "k11 + k12", "k12 + k22")
        + " + "
        + kln("k21", "k21 + k22", "k11 + k21")
        + " + "
        + kln("k22", "k21 + k22", "k12 + k22")
        + ")"
    )
    return f"""
WITH pa0 AS (
  SELECT DISTINCT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
sb0 AS (
  SELECT u, i FROM (
    SELECT DISTINCT user_id AS u,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS i
    FROM events WHERE event_type IN ('view', 'click')
  ) WHERE i IS NOT NULL
),
pa AS (
  SELECT u, i FROM (
    SELECT u, i,
           row_number() OVER (PARTITION BY u ORDER BY {ha}, i) AS rn
    FROM pa0
  ) WHERE rn <= {REC_X_CAP}
),
sb AS (
  SELECT u, i FROM (
    SELECT u, i,
           row_number() OVER (PARTITION BY u ORDER BY {hb}, i) AS rn
    FROM sb0
  ) WHERE rn <= {REC_X_CAP_B}
),
nu AS (
  SELECT count(*) AS n_users FROM (
    SELECT u FROM pa UNION SELECT u FROM sb
  )
),
ca AS (SELECT i AS a, count(*) AS na FROM pa GROUP BY 1),
cb AS (SELECT i AS b, count(*) AS nb FROM sb GROUP BY 1),
pc AS (
  SELECT pa.i AS a, sb.i AS b, count(*) AS k11
  FROM pa JOIN sb ON pa.u = sb.u
  GROUP BY 1, 2
),
cells AS (
  SELECT a, b, k11,
         ca.na - k11 AS k12,
         cb.nb - k11 AS k21,
         nu.n_users - ca.na - cb.nb + k11 AS k22
  FROM pc JOIN ca USING (a) JOIN cb USING (b), nu
),
scored AS (SELECT a, b, {llr} AS llr FROM cells),
r AS (
  SELECT a, b, llr,
         row_number() OVER (
           PARTITION BY a ORDER BY round(llr, 9) DESC, b) AS rank
  FROM scored
)
SELECT CAST(a AS BIGINT) AS item_id, CAST(b AS BIGINT) AS other,
       {_sci_sql('llr')} AS llr, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {REC_K}
"""


QUERIES["rec_cross_llr"] = q_rec_cross_llr
_oracles_pre_recx = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_recx()
    d["rec_cross_llr"] = o_rec_cross_llr()
    return d


# ------------------------------------------------------------------ #
# round-11: randomized dSSVD (VERDICT r10 item 3 — Samsara's dssvd,
# Halko et al. randomized range finder with power iterations, on the
# A7 gram; algorithms/spectral.py:ssvd_project).  Distinct from
# emb_pca_topk: seeded Gaussian block start, ALL k directions
# converge together under modified-Gram-Schmidt subspace iteration
# (no per-component deflation), singular values emitted.
# ------------------------------------------------------------------ #

SSVD_K = 3
SSVD_OVERSAMPLE = 2
SSVD_ITERS = 4
SSVD_SEED = 17
SSVD_DIM = 64


def q_emb_ssvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projections onto the top-SSVD_K right singular
    vectors of the embedding matrix plus the singular values
    (constant columns s0..s{k-1} — pinned into the hash), via the
    randomized sketch: quantized seeded Gaussian Ω, SSVD_ITERS rounds
    of G-side subspace iteration with modified Gram-Schmidt, Rayleigh
    σ.  TWO corpus passes (gram + projection); every driver float op
    is a sequential fold the oracle replays verbatim (the
    emb_pca_topk 7-digit quantization discipline, applied to BOTH the
    gram and Ω)."""
    from mahout_samsara_book_spark.algorithms.spectral import ssvd_project

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _, sigmas, out = ssvd_project(
        emb, dim=SSVD_DIM, k=SSVD_K, oversample=SSVD_OVERSAMPLE,
        iters=SSVD_ITERS, seed=SSVD_SEED,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_sci(F.col(f"p{c}")).alias(f"p{c}") for c in range(SSVD_K)],
        *[
            _sci(F.lit(float(s))).alias(f"s{c}")
            for c, s in enumerate(sigmas)
        ],
    )


def _mgs_sql_blocks(m: int, iters: int, k: int, rng: str, dim: int,
                    seed: int) -> list:
    """CTE blocks replaying _subspace_iterate + Rayleigh σ against a
    ``gm0`` CTE (G as list-of-lists): quantized seeded start columns
    q0_*, then per round a matvec + sequential modified-Gram-Schmidt
    per column, then sig0..sig{k-1}.  Shared by the emb_ssvd and
    emb_dspca oracles — only gm0's construction differs."""
    import numpy as np

    om = np.random.RandomState(seed).standard_normal((dim, m))
    blocks = []
    # q0_j: the quantized Ω columns as literals (identical constants
    # on both engines — the hash-family precedent)
    for j in range(m):
        lits = ", ".join("%.6e" % float(om[i, j]) for i in range(dim))
        blocks.append(
            f"q0_{j} AS MATERIALIZED (SELECT [{lits}]::DOUBLE[] AS v)"
        )
    for t in range(1, iters + 1):
        p = t - 1
        for j in range(m):
            # w = G @ q_prev_j  (the emb_pca_topk matvec fold)
            blocks.append(f"""w{t}_{j} AS MATERIALIZED (
  SELECT list_transform({rng}, i ->
           list_sum(list_transform({rng}, l -> G[i][l] * q.v[l]))) AS v
  FROM gm0, q{p}_{j} q)""")
            prev = f"w{t}_{j}"
            # modified Gram-Schmidt: subtract projections onto the
            # ALREADY-orthonormalized columns of THIS round, one at a
            # time (sequential — the dot uses the updated vector)
            for i in range(j):
                blocks.append(f"""c{t}_{j}_{i} AS MATERIALIZED (
  SELECT list_sum(list_transform({rng}, l -> q.v[l] * p.v[l])) AS c
  FROM q{t}_{i} q, {prev} p)""")
                blocks.append(f"""v{t}_{j}_{i} AS MATERIALIZED (
  SELECT list_transform({rng}, l -> p.v[l] - c.c * q.v[l]) AS v
  FROM {prev} p, q{t}_{i} q, c{t}_{j}_{i} c)""")
                prev = f"v{t}_{j}_{i}"
            blocks.append(f"""q{t}_{j} AS MATERIALIZED (
  SELECT list_transform(
           v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
         AS v
  FROM {prev})""")
    for c in range(k):
        blocks.append(f"""sig{c} AS MATERIALIZED (
  SELECT sqrt(list_sum(list_transform({rng}, i ->
           q.v[i] * list_sum(list_transform({rng},
                                            j -> G[i][j] * q.v[j])))))
         AS s
  FROM gm0, q{iters}_{c} q)""")
    return blocks


def o_emb_ssvd() -> str:
    m = SSVD_K + SSVD_OVERSAMPLE
    d1 = SSVD_DIM + 1
    rng = f"range(1, {d1})"
    blocks = _mgs_sql_blocks(
        m, SSVD_ITERS, SSVD_K, rng, SSVD_DIM, SSVD_SEED
    )
    T = SSVD_ITERS
    projs = ",\n       ".join(
        _sci_sql(
            f"list_sum(list_transform({rng}, j -> e.v[j] * f{c}.v[j]))"
        )
        + f" AS p{c}"
        for c in range(SSVD_K)
    )
    sigs = ",\n       ".join(
        _sci_sql(f"g{c}.s") + f" AS s{c}" for c in range(SSVD_K)
    )
    froms = ", ".join(
        [f"q{T}_{c} f{c}" for c in range(SSVD_K)]
        + [f"sig{c} g{c}" for c in range(SSVD_K)]
    )
    body = ",\n".join(blocks)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cell AS MATERIALIZED (
  SELECT ii.i AS i, jj.j AS j,
         CAST(printf('%.6e', sum(v[ii.i] * v[jj.j])) AS DOUBLE) AS g
  FROM e, {rng} ii(i), {rng} jj(j)
  GROUP BY 1, 2
),
gm0 AS MATERIALIZED (
  SELECT list(gr ORDER BY i) AS G
  FROM (SELECT i, list(g ORDER BY j) AS gr FROM cell GROUP BY i)
),
{body}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {projs},
       {sigs}
FROM e, {froms}
"""


QUERIES["emb_ssvd"] = q_emb_ssvd
_oracles_pre_ssvd = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ssvd()
    d["emb_ssvd"] = o_emb_ssvd()
    return d


# ------------------------------------------------------------------ #
# round-11: randomized dSPCA (Samsara's dspca — the mean-centered
# twin of emb_ssvd; algorithms/spectral.py:dspca_project).  One
# BORDERED gram pass (1.0 prepended to every row) carries n, the
# column sums and AᵀA together; the centered gram and the mean
# correction are driver arithmetic on quantized cells, so the
# centered matrix is never materialized and the projection stays a
# zero-shuffle codegen scan.
# ------------------------------------------------------------------ #


def q_emb_dspca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projections onto the top-SSVD_K principal directions
    of the CENTERED embedding matrix plus the centered singular values
    (constant columns), via the same randomized subspace iteration as
    emb_ssvd on the bordered-gram-derived centered gram."""
    from mahout_samsara_book_spark.algorithms.spectral import dspca_project

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    _, sigmas, out = dspca_project(
        emb, dim=SSVD_DIM, k=SSVD_K, oversample=SSVD_OVERSAMPLE,
        iters=SSVD_ITERS, seed=SSVD_SEED,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_sci(F.col(f"p{c}")).alias(f"p{c}") for c in range(SSVD_K)],
        *[
            _sci(F.lit(float(s))).alias(f"s{c}")
            for c, s in enumerate(sigmas)
        ],
    )


def o_emb_dspca() -> str:
    m = SSVD_K + SSVD_OVERSAMPLE
    d1 = SSVD_DIM + 1       # centered-gram index range
    d2 = SSVD_DIM + 2       # bordered-gram index range (1.0 prepended)
    rng = f"range(1, {d1})"
    rngb = f"range(1, {d2})"
    blocks = _mgs_sql_blocks(
        m, SSVD_ITERS, SSVD_K, rng, SSVD_DIM, SSVD_SEED
    )
    T = SSVD_ITERS
    # μ·v per component, in dspca_project's exact fold order
    for c in range(SSVD_K):
        blocks.append(f"""md{c} AS MATERIALIZED (
  SELECT list_sum(list_transform({rng}, j ->
           (B[1][j + 1] / B[1][1]) * q.v[j])) AS mdot
  FROM gmB, q{T}_{c} q)""")
    projs = ",\n       ".join(
        _sci_sql(
            f"list_sum(list_transform({rng}, j -> e.v[j] * f{c}.v[j]))"
            f" - m{c}.mdot"
        )
        + f" AS p{c}"
        for c in range(SSVD_K)
    )
    sigs = ",\n       ".join(
        _sci_sql(f"g{c}.s") + f" AS s{c}" for c in range(SSVD_K)
    )
    froms = ", ".join(
        [f"q{T}_{c} f{c}" for c in range(SSVD_K)]
        + [f"sig{c} g{c}" for c in range(SSVD_K)]
        + [f"md{c} m{c}" for c in range(SSVD_K)]
    )
    body = ",\n".join(blocks)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
eb AS (
  SELECT vec_id, [1.0]::DOUBLE[] || v AS v FROM e
),
cellb AS MATERIALIZED (
  SELECT ii.i AS i, jj.j AS j,
         CAST(printf('%.6e', sum(v[ii.i] * v[jj.j])) AS DOUBLE) AS g
  FROM eb, {rngb} ii(i), {rngb} jj(j)
  GROUP BY 1, 2
),
gmB AS MATERIALIZED (
  SELECT list(gr ORDER BY i) AS B
  FROM (SELECT i, list(g ORDER BY j) AS gr FROM cellb GROUP BY i)
),
gm0 AS MATERIALIZED (
  -- centered gram from the bordered cells, dspca_project's exact
  -- driver arithmetic: C[i][j] = G[i][j] - s[i]*s[j]/n
  SELECT list_transform({rng}, i ->
           list_transform({rng}, j ->
             B[i + 1][j + 1] - B[1][i + 1] * B[1][j + 1] / B[1][1]))
         AS G
  FROM gmB
),
{body}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {projs},
       {sigs}
FROM e, {froms}
"""


QUERIES["emb_dspca"] = q_emb_dspca
_oracles_pre_dspca = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_dspca()
    d["emb_dspca"] = o_emb_dspca()
    return d


# ------------------------------------------------------------------ #
# round-11: thin QR (Samsara's dqrThin — completes the library's
# decomposition triple dssvd/dspca/dqrThin;
# algorithms/spectral.py:thin_qr).  Cholesky-QR: one gram pass, R and
# the needed R⁻¹ columns as driver-side sequential math, Q columns as
# a zero-shuffle codegen projection pass.
# ------------------------------------------------------------------ #

QR_COLS = 4


def q_emb_qr_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First QR_COLS columns of Q from the thin QR of the embedding
    matrix (Cholesky-QR on the quantized A7 gram) — per-row
    ``(vec_id, q0..q3)``, plus the matching R diagonal entries as
    constant columns (pinning the triangular factor into the hash)."""
    from mahout_samsara_book_spark.algorithms.spectral import thin_qr

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    r, out = thin_qr(emb, dim=SSVD_DIM, out_cols=QR_COLS)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_sci(F.col(f"q{c}")).alias(f"q{c}") for c in range(QR_COLS)],
        *[
            _sci(F.lit(float(r[c][c]))).alias(f"r{c}")
            for c in range(QR_COLS)
        ],
    )


def o_emb_qr_thin() -> str:
    d = SSVD_DIM
    d1 = d + 1
    rng = f"range(1, {d1})"
    # R⁻¹ columns by unit-vector back-substitution, one 64-step
    # downward recursion per output column (thin_qr's exact loop)
    bcols = []
    for c in range(QR_COLS):
        bcols.append(f"""binv{c} AS (
  SELECT 0 AS t, list_transform({rng}, x -> 0.0::DOUBLE) AS x
  UNION ALL
  SELECT t + 1,
         list_transform({rng}, idx -> CASE WHEN idx = {d} - t THEN
           ((CASE WHEN {d} - t = {c + 1} THEN 1.0 ELSE 0.0 END)
            - coalesce(list_sum(list_transform(
                range({d} - t + 1, {d1}),
                l -> R[{d} - t][l] * x[l])), 0.0)) / R[{d} - t][{d} - t]
           ELSE x[idx] END)
  FROM binv{c}, cholR
  WHERE t < {d}
),
rinv{c} AS MATERIALIZED (SELECT x AS v FROM binv{c} WHERE t = {d})""")
    body = ",\n".join(bcols)
    projs = ",\n       ".join(
        _sci_sql(
            f"list_sum(list_transform({rng}, j -> e.v[j] * f{c}.v[j]))"
        )
        + f" AS q{c}"
        for c in range(QR_COLS)
    )
    rdiags = ",\n       ".join(
        _sci_sql(f"R[{c + 1}][{c + 1}]") + f" AS r{c}"
        for c in range(QR_COLS)
    )
    froms = ", ".join(f"rinv{c} f{c}" for c in range(QR_COLS))
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cell AS MATERIALIZED (
  SELECT ii.i AS i, jj.j AS j,
         CAST(printf('%.6e', sum(v[ii.i] * v[jj.j])) AS DOUBLE) AS g
  FROM e, {rng} ii(i), {rng} jj(j)
  GROUP BY 1, 2
),
gm0 AS MATERIALIZED (
  SELECT list(gr ORDER BY i) AS G
  FROM (SELECT i, list(g ORDER BY j) AS gr FROM cell GROUP BY i)
),
chol AS (
  -- row-by-row Cholesky, thin_qr's exact sequential op order: the
  -- diagonal first (dii), then the off-diagonal row over it
  SELECT 0 AS i, []::DOUBLE[][] AS R FROM gm0
  UNION ALL
  SELECT i + 1,
         list_append(R, list_transform({rng}, j -> CASE
           WHEN j < i + 1 THEN 0.0
           WHEN j = i + 1 THEN dii
           ELSE (G[i + 1][j]
                 - coalesce(list_sum(list_transform(range(1, i + 1),
                     l -> R[l][i + 1] * R[l][j])), 0.0)) / dii
         END))
  FROM (
    SELECT i, R, G,
           sqrt(G[i + 1][i + 1]
                - coalesce(list_sum(list_transform(range(1, i + 1),
                    l -> R[l][i + 1] * R[l][i + 1])), 0.0)) AS dii
    FROM chol, gm0
    WHERE i < {d}
  )
),
cholR AS MATERIALIZED (SELECT R FROM chol WHERE i = {d}),
{body}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {projs},
       {rdiags}
FROM e, {froms}, cholR
"""


QUERIES["emb_qr_thin"] = q_emb_qr_thin
_oracles_pre_qr = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_qr()
    d["emb_qr_thin"] = o_emb_qr_thin()
    return d


# ------------------------------------------------------------------ #
# round-11: dALS (Samsara's decompositions.dals — with emb_ssvd /
# emb_dspca / emb_qr_thin this completes the decompositions package;
# algorithms/spectral.py:als_project).  Full-matrix regularized ALS
# reorganized onto the gram: every alternation is driver math, the
# corpus is touched twice (gram + final U projection).
# ------------------------------------------------------------------ #

ALS_K = 4
ALS_REG = 0.1
ALS_ITERS = 3
ALS_SEED = 23


def q_emb_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row factor loadings U = A·V(VᵀV+λI)⁻¹ after ALS_ITERS full
    alternations of regularized full-matrix ALS, plus the final V
    column norms as constants (pinning the item-side factor into the
    hash)."""
    import math as _math

    from mahout_samsara_book_spark.algorithms.spectral import (
        _dot,
        als_project,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    v, _w, out = als_project(
        emb, dim=SSVD_DIM, k=ALS_K, reg=ALS_REG, iters=ALS_ITERS,
        seed=ALS_SEED,
    )
    norms = [_math.sqrt(_dot(c, c)) for c in v]
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[_sci(F.col(f"u{c}")).alias(f"u{c}") for c in range(ALS_K)],
        *[
            _sci(F.lit(float(n))).alias(f"n{c}")
            for c, n in enumerate(norms)
        ],
    )


def _spd_solve_sql(tag: str, mat: str, k: int) -> tuple[list, str]:
    """Scalar-CTE chain replaying _spd_inverse_cols against a k×k
    list-of-rows matrix CTE ``mat`` (column M): lower Cholesky entries
    l{tag}_i_j, then per unit column c a forward (z) and back (xx)
    substitution — every inner sum written as 0.0 + t1 + t2 ... in the
    exact ascending order the Python loops add.  Returns (blocks,
    inv_cte) where inv_cte holds M⁻¹ as list-of-COLUMNS (C[c][b])."""
    blocks = []

    def terms(ts):
        return "(0.0" + "".join(f" + {t}" for t in ts) + ")"

    for i in range(1, k + 1):
        s = terms(
            f"l{tag}_{i}_{p}.x * l{tag}_{i}_{p}.x" for p in range(1, i)
        )
        deps = ", ".join([mat] + [f"l{tag}_{i}_{p}" for p in range(1, i)])
        blocks.append(
            f"l{tag}_{i}_{i} AS MATERIALIZED (SELECT "
            f"sqrt(M[{i}][{i}] - {s}) AS x FROM {deps})"
        )
        for j in range(i + 1, k + 1):
            s = terms(
                f"l{tag}_{j}_{p}.x * l{tag}_{i}_{p}.x"
                for p in range(1, i)
            )
            deps = ", ".join(
                [mat, f"l{tag}_{i}_{i}"]
                + [f"l{tag}_{j}_{p}" for p in range(1, i)]
                + [f"l{tag}_{i}_{p}" for p in range(1, i)]
            )
            blocks.append(
                f"l{tag}_{j}_{i} AS MATERIALIZED (SELECT "
                f"(M[{j}][{i}] - {s}) / l{tag}_{i}_{i}.x AS x "
                f"FROM {deps})"
            )
    for c in range(1, k + 1):
        for i in range(1, k + 1):
            s = terms(
                f"l{tag}_{i}_{p}.x * z{tag}_{c}_{p}.x"
                for p in range(1, i)
            )
            e = "1.0" if i == c else "0.0"
            deps = ", ".join(
                [f"l{tag}_{i}_{i}"]
                + [f"l{tag}_{i}_{p}" for p in range(1, i)]
                + [f"z{tag}_{c}_{p}" for p in range(1, i)]
            )
            blocks.append(
                f"z{tag}_{c}_{i} AS MATERIALIZED (SELECT "
                f"({e} - {s}) / l{tag}_{i}_{i}.x AS x FROM {deps})"
            )
        for i in range(k, 0, -1):
            s = terms(
                f"l{tag}_{p}_{i}.x * xx{tag}_{c}_{p}.x"
                for p in range(i + 1, k + 1)
            )
            deps = ", ".join(
                [f"l{tag}_{i}_{i}", f"z{tag}_{c}_{i}"]
                + [f"l{tag}_{p}_{i}" for p in range(i + 1, k + 1)]
                + [f"xx{tag}_{c}_{p}" for p in range(i + 1, k + 1)]
            )
            blocks.append(
                f"xx{tag}_{c}_{i} AS MATERIALIZED (SELECT "
                f"(z{tag}_{c}_{i}.x - {s}) / l{tag}_{i}_{i}.x AS x "
                f"FROM {deps})"
            )
    cols = ", ".join(
        "["
        + ", ".join(f"xx{tag}_{c}_{i}.x" for i in range(1, k + 1))
        + "]"
        for c in range(1, k + 1)
    )
    deps = ", ".join(
        f"xx{tag}_{c}_{i}"
        for c in range(1, k + 1)
        for i in range(1, k + 1)
    )
    inv = f"inv{tag}"
    blocks.append(
        f"{inv} AS MATERIALIZED (SELECT [{cols}]::DOUBLE[][] AS C "
        f"FROM {deps})"
    )
    return blocks, inv


def o_emb_als() -> str:
    k = ALS_K
    d1 = SSVD_DIM + 1
    rng = f"range(1, {d1})"
    rngk = f"range(1, {k + 1})"
    ridge = f"CASE WHEN a = b THEN {ALS_REG} ELSE 0.0 END"
    from mahout_samsara_book_spark.algorithms.spectral import _seeded_block

    v0 = _seeded_block(SSVD_DIM, k, ALS_SEED)
    v0_lit = ", ".join(
        "[" + ", ".join("%.17g" % x for x in col) + "]" for col in v0
    )
    blocks = [f"vc0 AS MATERIALIZED (SELECT [{v0_lit}]::DOUBLE[][] AS V)"]
    for t in range(ALS_ITERS):
        blocks.append(f"""nm{t} AS MATERIALIZED (
  SELECT list_transform({rngk}, a -> list_transform({rngk}, b ->
    list_sum(list_transform({rng}, i -> V[a][i] * V[b][i]))
    + {ridge})) AS M
  FROM vc{t})""")
        sb, ninv = _spd_solve_sql(f"n{t}", f"nm{t}", k)
        blocks += sb
        blocks.append(f"""wc{t} AS MATERIALIZED (
  SELECT list_transform({rngk}, c -> list_transform({rng}, i ->
    list_sum(list_transform({rngk}, b -> V[b][i] * C[c][b])))) AS W
  FROM vc{t}, {ninv})""")
        blocks.append(f"""gw{t} AS MATERIALIZED (
  SELECT list_transform({rngk}, b -> list_transform({rng}, i ->
    list_sum(list_transform({rng}, l -> G[i][l] * W[b][l])))) AS GW
  FROM gm0, wc{t})""")
        blocks.append(f"""mm{t} AS MATERIALIZED (
  SELECT list_transform({rngk}, a -> list_transform({rngk}, b ->
    list_sum(list_transform({rng}, i -> W[a][i] * GW[b][i]))
    + {ridge})) AS M
  FROM wc{t}, gw{t})""")
        sb, minv = _spd_solve_sql(f"m{t}", f"mm{t}", k)
        blocks += sb
        blocks.append(f"""vc{t + 1} AS MATERIALIZED (
  SELECT list_transform({rngk}, c -> list_transform({rng}, i ->
    list_sum(list_transform({rngk}, b -> GW[b][i] * C[c][b])))) AS V
  FROM gw{t}, {minv})""")
    T = ALS_ITERS
    blocks.append(f"""nmF AS MATERIALIZED (
  SELECT list_transform({rngk}, a -> list_transform({rngk}, b ->
    list_sum(list_transform({rng}, i -> V[a][i] * V[b][i]))
    + {ridge})) AS M
  FROM vc{T})""")
    sb, ninvf = _spd_solve_sql("nF", "nmF", k)
    blocks += sb
    blocks.append(f"""wcF AS MATERIALIZED (
  SELECT list_transform({rngk}, c -> list_transform({rng}, i ->
    list_sum(list_transform({rngk}, b -> V[b][i] * C[c][b])))) AS W
  FROM vc{T}, {ninvf})""")
    projs = ",\n       ".join(
        _sci_sql(
            f"list_sum(list_transform({rng}, j -> e.v[j] * w.W[{c + 1}][j]))"
        )
        + f" AS u{c}"
        for c in range(k)
    )
    norms = ",\n       ".join(
        _sci_sql(
            f"sqrt(list_sum(list_transform({rng}, "
            f"i -> fv.V[{c + 1}][i] * fv.V[{c + 1}][i])))"
        )
        + f" AS n{c}"
        for c in range(k)
    )
    body = ",\n".join(blocks)
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cell AS MATERIALIZED (
  SELECT ii.i AS i, jj.j AS j,
         CAST(printf('%.6e', sum(v[ii.i] * v[jj.j])) AS DOUBLE) AS g
  FROM e, {rng} ii(i), {rng} jj(j)
  GROUP BY 1, 2
),
gm0 AS MATERIALIZED (
  SELECT list(gr ORDER BY i) AS G
  FROM (SELECT i, list(g ORDER BY j) AS gr FROM cell GROUP BY i)
),
{body}
SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
       {projs},
       {norms}
FROM e, wcF w, vc{T} fv
"""


QUERIES["emb_als"] = q_emb_als
_oracles_pre_als = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_als()
    d["emb_als"] = o_emb_als()
    return d


# ------------------------------------------------------------------ #
# round-11: ROW similarity LLR (Mahout's spark-rowsimilarity — the
# sibling driver tool of spark-itemsimilarity): documents similar by
# the tokens they share, LLR-scored.  Structurally item_similarity_llr
# with the TOKEN in the "user" role — the per-token doc-list cap IS
# the tool's maxObservationsPerColumn df-cap (a stop-word's posting
# list would otherwise pair every doc with every doc).
# ------------------------------------------------------------------ #

ROWSIM_K = 10
ROWSIM_CAP = 100  # docs sampled per token (hash order) — the df-cap


def q_rec_row_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-ROWSIM_K most-similar documents per document by LLR over
    shared tokens (algorithms/cooccurrence.py:item_similarity_llr with
    (token, doc) interactions).  N = distinct tokens; k11 = tokens two
    docs share (within the df-cap sample); integer counts, stable LLR
    — bit-exact replay."""
    from mahout_samsara_book_spark.algorithms.cooccurrence import (
        item_similarity_llr,
    )
    from mahout_samsara_book_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    inter = docs.select(
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("tok"),
        "doc_id",
    )
    out = item_similarity_llr(
        inter, k=ROWSIM_K, max_prefs=ROWSIM_CAP, seed=REC_SEED,
        user_col="tok", item_col="doc_id",
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("other").cast("long").alias("other"),
        _sci(F.col("llr")).alias("llr"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_rec_row_llr() -> str:
    h = h60_sql(
        f"concat('rec{REC_SEED}:', CAST(u AS VARCHAR), ':', "
        "CAST(i AS VARCHAR))"
    )

    def kln(k, r, c):
        return (
            f"(CASE WHEN ({k}) > 0 THEN CAST({k} AS DOUBLE) * "
            f"ln(CAST({k} AS DOUBLE) * CAST(k11 + k12 + k21 + k22 AS DOUBLE)"
            f" / (CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE)))"
            " ELSE 0.0 END)"
        )

    llr = (
        "2.0 * ("
        + kln("k11", "k11 + k12", "k11 + k21")
        + " + "
        + kln("k12", "k11 + k12", "k12 + k22")
        + " + "
        + kln("k21", "k21 + k22", "k11 + k21")
        + " + "
        + kln("k22", "k21 + k22", "k12 + k22")
        + ")"
    )
    return f"""
WITH inter AS (
  SELECT DISTINCT unnest({TOKS_SQL}) AS u, doc_id AS i FROM documents
),
capped AS (
  SELECT u, i FROM (
    SELECT u, i,
           row_number() OVER (PARTITION BY u ORDER BY {h}, i) AS rn
    FROM inter
  ) WHERE rn <= {ROWSIM_CAP}
),
nu AS (SELECT count(DISTINCT u) AS n_users FROM capped),
ic AS (SELECT i, count(*) AS ni FROM capped GROUP BY 1),
pc AS (
  SELECT a.i AS ia, b.i AS ib, count(*) AS k11
  FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
  GROUP BY 1, 2
),
cells AS (
  SELECT ia, ib, k11,
         ca.ni - k11 AS k12,
         cb.ni - k11 AS k21,
         nu.n_users - ca.ni - cb.ni + k11 AS k22
  FROM pc JOIN ic ca ON ca.i = pc.ia JOIN ic cb ON cb.i = pc.ib, nu
),
scored AS (SELECT ia, ib, {llr} AS llr FROM cells),
sym AS (
  SELECT ia AS doc_id, ib AS other, llr FROM scored
  UNION ALL
  SELECT ib AS doc_id, ia AS other, llr FROM scored
),
r AS (
  SELECT doc_id, other, llr,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY round(llr, 9) DESC, other) AS rank
  FROM sym
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(other AS BIGINT) AS other,
       {_sci_sql('llr')} AS llr, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {ROWSIM_K}
"""


QUERIES["rec_row_llr"] = q_rec_row_llr
_oracles_pre_rowsim = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_rowsim()
    d["rec_row_llr"] = o_rec_row_llr()
    return d


# ------------------------------------------------------------------ #
# round-12: SimilarityAnalysis.cooccurrences COMPOSE, driver-graded
# (VERDICT r11 item 5): Mahout's actual entry-point signature —
# [A'A indicator, A'B cross indicator] in one call — emitted as one
# relation tagged by source, oracled by the union of the two
# existing per-indicator oracles (caps align: REC_MAX_PREFS =
# REC_X_CAP = REC_X_CAP_B = 25, same seed).
# ------------------------------------------------------------------ #


def q_rec_similarity_analysis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``similarity_analysis(primary, [secondary])`` (algorithms/
    cooccurrence.py — Mahout SimilarityAnalysis.cooccurrences,
    SimilarityAnalysisSuite.scala use-shape): primary action =
    purchases (orders ⋈ lineitem → customer × part), secondary =
    view/click events; element 0 is the A'A LLR indicator, element 1
    the A'B cross indicator.  The compose shares the primary's capped
    histories via track() — two indicators, ONE primary cap pass."""
    from mahout_samsara_book_spark.algorithms.cooccurrence import (
        similarity_analysis,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    primary = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("user_id"),
        F.col("l_partkey").alias("item_id"),
    )
    ev = load_table(spark, sf_dir, "events")
    secondary = ev.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        F.get_json_object(F.col("props"), "$.k")
        .cast("long")
        .alias("item_id"),
    ).filter(F.col("item_id").isNotNull())
    aa, ab = similarity_analysis(
        primary, [secondary], k=REC_K, max_prefs=REC_MAX_PREFS,
        seed=REC_SEED,
    )
    tagged = aa.withColumn("source", F.lit(0).cast("long")).unionByName(
        ab.withColumn("source", F.lit(1).cast("long"))
    )
    return tagged.select(
        "source",
        F.col("item_id").cast("long").alias("item_id"),
        F.col("other").cast("long").alias("other"),
        _sci(F.col("llr")).alias("llr"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_rec_similarity_analysis() -> str:
    return f"""
SELECT CAST(0 AS BIGINT) AS source, * FROM (
{o_rec_item_llr()}
)
UNION ALL
SELECT CAST(1 AS BIGINT) AS source, * FROM (
{o_rec_cross_llr()}
)
"""


QUERIES["rec_similarity_analysis"] = q_rec_similarity_analysis
_oracles_pre_simana = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_simana()
    d["rec_similarity_analysis"] = o_rec_similarity_analysis()
    return d


# ------------------------------------------------------------------ #
# round-12: idle-TTL streaming as-of, driver-graded (VERDICT r11
# item 4): the TTL machine runs over an eviction-forcing five-batch
# layout (streaming/stateful.py:_asof_ttl_staging) — user_id % 10 = 1
# evicts (purchase gets the null no-match payload), % 10 = 0 survives
# via a keep-alive click (purchase attributes to it).  A no-TTL run
# over the same layout attributes BOTH classes, so the hash genuinely
# pins the eviction semantics.
# ------------------------------------------------------------------ #


def q_ev_stream_asof_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.streaming.stateful import (
        run_stream_asof_ttl,
    )

    out = run_stream_asof_ttl(spark, sf_dir)
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        _sci(
            (F.col("t_us") - F.col("ct_us")) / F.lit(1_000_000.0)
        ).alias("gap_s"),
    )


def o_ev_stream_asof_ttl() -> str:
    # the staged layout's closed form: one purchase row per selected
    # user; survivors (u % 10 = 0) attribute to their keep-alive click
    # at exactly (T2 - T1) µs before the purchase, evictees get null
    from mahout_samsara_book_spark.streaming.stateful import (
        ASOF_TTL_T1,
        ASOF_TTL_T2,
    )

    gap = f"CAST({ASOF_TTL_T2 - ASOF_TTL_T1} AS DOUBLE) / 1000000.0"
    return f"""
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 10 < 2
)
SELECT user_id * 8 + 3 AS event_id,
       user_id,
       CASE WHEN user_id % 10 = 0 THEN user_id * 8 + 2 END AS click_id,
       CASE WHEN user_id % 10 = 0 THEN {{sci_gap}} ELSE 'NA' END AS gap_s
FROM u
""".replace("{sci_gap}", _sci_sql(gap))


QUERIES["ev_stream_asof_ttl"] = q_ev_stream_asof_ttl
_oracles_pre_ttl = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_ttl()
    d["ev_stream_asof_ttl"] = o_ev_stream_asof_ttl()
    return d


# ------------------------------------------------------------------ #
# round-12: STREAMING crawl-ingest compose (VERDICT r11 item 8):
# foreachBatch(ingest_batch) over the lifecycle's three batches
# delivered as a real file stream (maxFilesPerTrigger=1, mtime order)
# — micro-batches of documents deduping against the ever-growing
# persisted index, graded by the SAME sequential-batch oracle as
# dedup_ingest_lifecycle (foreachBatch delivers batches sequentially,
# so the streaming compose computes the identical snapshot answers).
# ------------------------------------------------------------------ #

_DDX_STRM_BATCHES: dict[tuple, str] = {}
_DDX_STRM_SEQ = [0]
_DDX_STRM_LAST: list = [None]


def _ddx_stream_batches(spark: SparkSession, sf_dir: str) -> str:
    """Write-once staging of the three lifecycle batches as one
    parquet file each (b00/b01/b02, ascending mtimes pin the
    FileStreamSource order) per (sf_dir, fingerprint)."""
    import glob
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.sources.tables import source_fingerprint

    key = (sf_dir, source_fingerprint(sf_dir, "documents"))
    path = _DDX_STRM_BATCHES.get(key)
    if path is not None and os.path.exists(path + "/b02.parquet"):
        return path
    _DDX_STRM_SEQ[0] += 1
    path = register_tmpdir(
        tempfile.gettempdir()
        + f"/spark_graft_ddxsb_{os.getpid()}_{_DDX_STRM_SEQ[0]}"
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") % 50 == 17)
    b2 = docs.filter(F.col("doc_id") % 50 == 29).unionByName(
        b1.select((F.col("doc_id") + DDX_REKEY).alias("doc_id"), "text")
    )
    b3 = docs.filter(F.col("doc_id") % 50 == 29).select(
        (F.col("doc_id") + DDX_REKEY2).alias("doc_id"), "text"
    )
    for i, b in enumerate([b1, b2, b3]):
        tmp = f"{path}/_w{i}"
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        (f,) = glob.glob(tmp + "/part-*.parquet")
        dst = f"{path}/b{i:02d}.parquet"
        shutil.move(f, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
    _DDX_STRM_BATCHES[key] = path
    return path


def q_ev_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-ingest: the three lifecycle batches arrive as
    micro-batches (one file per trigger) and foreachBatch runs each
    through ingest_batch against a fresh working copy of the pristine
    index (streaming/ingest.py).  Epoch i = lifecycle batch i+1, so
    o_dedup_ingest_lifecycle grades the run unchanged — the streaming
    engine's sequential foreachBatch delivery IS the single-writer
    lifecycle.  The result is localCheckpoint-materialized so the next
    invocation's working-dir cleanup can never invalidate it."""
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.streaming.ingest import run_stream_ingest

    # drop the PREVIOUS invocation's working copy + output (the
    # lifecycle row's bench-rep discipline; results are checkpointed)
    for prev in _DDX_STRM_LAST[0] or []:
        shutil.rmtree(prev, ignore_errors=True)
    _DDX_STRM_SEQ[0] += 1
    base = (
        tempfile.gettempdir()
        + f"/spark_graft_ddxsi_{os.getpid()}_{_DDX_STRM_SEQ[0]}"
    )
    idx, outp = register_tmpdir(base + "_idx"), register_tmpdir(base + "_out")
    _DDX_STRM_LAST[0] = [idx, outp]
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(outp, ignore_errors=True)
    shutil.copytree(_pristine_index(spark, sf_dir), idx)
    batches = _ddx_stream_batches(spark, sf_dir)
    out = run_stream_ingest(
        spark, batches, idx, outp,
        n=3, k=MINHASH_K, bands=LSH_BANDS, seed=MINHASH_SEED,
        threshold=0.5,
    )
    return out.select(
        # `batch` is a discovered partition column (int) — the
        # exactly-once sink overwrites one batch=<i> dir per epoch
        F.col("batch").cast("long").alias("batch"),
        "doc_id", "keep", "dup_of",
        _sci(F.col("jaccard")).alias("jaccard"),
    ).localCheckpoint()


QUERIES["ev_stream_ingest"] = q_ev_stream_ingest
_oracles_pre_strmi = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_strmi()
    d["ev_stream_ingest"] = o_dedup_ingest_lifecycle()
    return d


# ------------------------------------------------------------------ #
# round-12: compaction graded (dedup.py:dedup_index_compact): probe a
# COMPACTED copy of the two-batch lifecycle index with the same
# re-keyed batch as dedup_incremental_append — compaction folds
# corpus + batch 1 into one generation and GCs the rest, and the
# probe must still resolve every copy to its batch-1/corpus dup_of
# with identical jaccards, so the two rows share an oracle.  A
# compaction bug that dropped or doubled any committed row flips the
# hash.
# ------------------------------------------------------------------ #

_DDX_CPT_SEQ = [0]
_DDX_CPT_LAST: list = [None]


def q_dedup_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from mahout_samsara_book_spark.operators.dedup import (
        dedup_index_compact,
        incremental_dedup_persisted,
    )

    if _DDX_CPT_LAST[0] is not None:
        shutil.rmtree(_DDX_CPT_LAST[0], ignore_errors=True)
    _DDX_CPT_SEQ[0] += 1
    path = register_tmpdir(
        tempfile.gettempdir()
        + f"/spark_graft_ddxcpt_{os.getpid()}_{_DDX_CPT_SEQ[0]}"
    )
    _DDX_CPT_LAST[0] = path
    shutil.rmtree(path, ignore_errors=True)
    # fresh copy: compaction MUTATES the index (new generation + GC),
    # and the shared lifecycle fixture must keep its layout for
    # dedup_incremental_append's own grading
    shutil.copytree(_dedup_lifecycle_path(spark, sf_dir), path)
    dedup_index_compact(spark, path, bands=LSH_BANDS)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    batch2 = docs.filter(F.col("doc_id") % 50 == 17).select(
        (F.col("doc_id") + DDX_REKEY).alias("doc_id"), "text"
    )
    out = incremental_dedup_persisted(
        batch2, path, n=3, k=MINHASH_K, bands=LSH_BANDS,
        seed=MINHASH_SEED, threshold=0.5,
    )
    return out.select(
        "doc_id", "keep", "dup_of", _sci(F.col("jaccard")).alias("jaccard")
    ).localCheckpoint()


QUERIES["dedup_compact_probe"] = q_dedup_compact_probe
_oracles_pre_cpt = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_cpt()
    d["dedup_compact_probe"] = o_dedup_incremental_append()
    return d
