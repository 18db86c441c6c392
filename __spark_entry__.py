"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) on the
TPC-H-ish parquet tables; the matching ``oracle_sql()`` entry is the ANSI
SQL equivalent DuckDB runs on the same bytes.

Float convention: every floating-point output column is emitted as a
fixed-precision scientific-notation STRING (C ``%.7e``; exact zero → "0")
on BOTH sides. Spark's ``format_string`` and DuckDB's ``printf`` share C
semantics (verified bit-for-bit), so the order-insensitive value-hash
compares 8 significant digits instead of last-ulp float noise from
differing aggregation orders (numpy-blocked partials vs sequential sums).
Integer outputs are cast to BIGINT on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the driver may import this file from any CWD; make the sibling registry
# modules (entry_m5, entry_rel) and the package importable regardless
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_samsara_book_spark.algorithms.regression import (
    dridge_table,
    normal_equation_sums,
)
from mahout_samsara_book_spark.drm.drm import Drm
from mahout_samsara_book_spark.partitioning import ensure_min_partitions
from mahout_samsara_book_spark.sources.tables import (
    LINEITEM_FEATURES,
    lineitem_drm,
    lineitem_key,
    load_table,
)

# --------------------------------------------------------------------- #
# float-output convention helpers
# --------------------------------------------------------------------- #


# Both engines format the SAME double (IEEE multiply is deterministic), but
# Java's %.7e rounds the shortest decimal repr HALF_UP while C/DuckDB rounds
# the exact binary value half-even — they disagree exactly when the cut
# position lands on a trailing '5' of a nice decimal (ubiquitous with
# 2-decimal money columns). The relative 1e-13 nudge pushes values off those
# half boundaries (format tolerance is 1e-8 rel, so the nudge is invisible)
# without breaking the equal-doubles-in precondition.
_NUDGE = "1.0000000000001"


def sci(col: Column) -> Column:
    # NULL → 'NA' explicitly: Java format_string renders null args as the
    # string "null" while DuckDB printf returns NULL — neither is portable.
    return (
        F.when(col.isNull(), F.lit("NA"))
        .when(col == 0, F.lit("0"))
        .otherwise(F.format_string("%.7e", col * F.lit(float(_NUDGE))))
    )


def sci_sql(expr: str) -> str:
    return (
        f"CASE WHEN ({expr}) IS NULL THEN 'NA' "
        f"WHEN ({expr}) = 0 THEN '0' "
        f"ELSE printf('%.7e', ({expr}) * {_NUDGE}) END"
    )


_LI_KEY_SQL = "CAST(l_orderkey * 8 + l_linenumber AS BIGINT)"

# dridge fixture: predict l_extendedprice from (l_quantity, l_discount)
_RIDGE_FEATS = ["l_quantity", "l_discount"]
_RIDGE_Y = "l_extendedprice"
_RIDGE_LAM = 0.1

_AX_BETA = [2.0, 0.001, -1.5, 3.0]


# --------------------------------------------------------------------- #
# queries
# --------------------------------------------------------------------- #


def _q_colsums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 drm.colSums() over the lineitem 4-wide matrix."""
    cs = lineitem_drm(spark, sf_dir).colsums_df()
    return cs.select(
        F.col("pos").cast("long").alias("pos"),
        sci(F.col("col_sum")).alias("col_sum"),
    )


def _q_rowsums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 per-row sums (SQL `aggregate` fold — codegen'd)."""
    d = lineitem_drm(spark, sf_dir)
    return d.rowsums().select("row_id", sci(F.col("row_sum")).alias("row_sum"))


def _q_ax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 drmA %*% beta (broadcast vector) via zip_with/aggregate."""
    d = lineitem_drm(spark, sf_dir)
    import numpy as np

    out = d.ax(np.array(_AX_BETA))
    return out.df.select(
        "row_id", sci(F.col("features")[0]).alias("dot")
    )


def _q_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 Gram XᵀX upper triangle via Arrow block partials."""
    g = lineitem_drm(spark, sf_dir).gram_df()
    return g.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        sci(F.col("v")).alias("v"),
    )


def _q_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 component: one-pass normal-equation sums (bias + 2 features + y)."""
    li = load_table(spark, sf_dir, "lineitem")
    ne = normal_equation_sums(li, _RIDGE_FEATS, _RIDGE_Y)
    return ne.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        sci(F.col("v")).alias("v"),
    )


def _q_dridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 dridge: ridge β via normal equations + driver LAPACK solve."""
    li = load_table(spark, sf_dir, "lineitem")
    beta = dridge_table(li, _RIDGE_FEATS, _RIDGE_Y, lam=_RIDGE_LAM)
    return spark.createDataFrame(
        [
            (i, "%.7e" % (b * float(_NUDGE)) if b != 0 else "0")
            for i, b in enumerate(beta)
        ],
        "pos long, beta string",
    )


def _fmt(v: float) -> str:
    """Driver-side scalar: same %.7e + nudge convention as `sci`."""
    return "%.7e" % (v * float(_NUDGE)) if v != 0 else "0"


# fixed beta for the SSR query (C3): bias + 2 features, deliberately not the
# fitted beta so the statistic is a pure function of the data
_SSR_BETA = [100.0, 250.0, -3.0]

# C5 fixture: discount rescaled ×100 keeps κ(XᵀX) ~1e3 so the engine's LAPACK
# inverse and the oracle's cofactor inverse agree inside %.7e granularity
_CT_Y = _RIDGE_Y


def _ct_feature_cols() -> list:
    return [F.col("l_quantity"), (F.col("l_discount") * 100.0)]


def _q_drm_ssr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 ssr: ‖Xᵦβ − y‖² distributed (LinearRegression.scala:37-47) —
    residual block map (A12) over a DRM carrying y in-row, broadcast β
    (A18), column-sum reduce (A14)."""
    import numpy as np

    from mahout_samsara_book_spark.algorithms.regression import ssr_xy

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        lineitem_key().alias("k"),
        *[F.col(c).cast("double").alias(c) for c in _RIDGE_FEATS],
        F.col(_RIDGE_Y).cast("double").alias("y"),
    )
    d = Drm.from_columns(src, F.col("k"), [*_RIDGE_FEATS, "y"])
    val = ssr_xy(d, np.array(_SSR_BETA))
    return spark.createDataFrame([("ssr", _fmt(val))], "stat string, v string")


def _q_coeff_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 testBeta (LinearRegression.scala:59-97): per-coefficient β, SE,
    t from one normal-equation pass. The p-value column is NOT emitted
    here — DuckDB has no Student-t CDF — it is oracle-checked against
    scipy in tests/test_regression.py instead."""
    from mahout_samsara_book_spark.algorithms.regression import test_beta_table

    li = load_table(spark, sf_dir, "lineitem")
    st = test_beta_table(li, _ct_feature_cols(), _CT_Y)
    rows = [
        (i, _fmt(float(st["beta"][i])), _fmt(float(st["se"][i])), _fmt(float(st["t"][i])))
        for i in range(3)
    ]
    return spark.createDataFrame(rows, "pos long, beta string, se string, t_stat string")


def _wide_lineitem_drm(spark: SparkSession, sf_dir: str) -> Drm:
    """The lineitem DRM over a widened scan, for queries whose wall is
    per-row block work and explode-to-scalars formatting: the fixture
    is one row group, so its scan alone would run that stage on one
    core."""
    li = ensure_min_partitions(load_table(spark, sf_dir, "lineitem"))
    return Drm.from_columns(li, lineitem_key(), LINEITEM_FEATURES)


def _q_abs_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 column slice + B8 scalar op + A19 dabs, exploded to scalars."""
    d = _wide_lineitem_drm(spark, sf_dir).slice_cols(1, 4).scalar_op("-", 1.0).abs()
    return d.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


def _li_drm_keyed_by_linenumber(spark: SparkSession, sf_dir: str) -> Drm:
    """lineitem matrix keyed by l_linenumber-1 (keys 0..6) — a DRM with
    deliberately DUPLICATE keys to exercise the aggregate-by-key semantics
    (SURVEY §1.2 'transpose trick')."""
    li = load_table(spark, sf_dir, "lineitem")
    return Drm.from_columns(
        li, F.col("l_linenumber") - 1, LINEITEM_FEATURES
    )


def _q_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 aggregating semantics, clean form: groupBy(key) elementwise sum
    (one shuffle w/ map-side partial agg) — the TWCNB per-class aggregation."""
    agg = _li_drm_keyed_by_linenumber(spark, sf_dir).aggregate_rows_by_key()
    return agg.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


def _q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 drm.t with duplicate int keys: per-key sums land in columns
    (COO explode → groupBy → dense reassembly)."""
    d = _li_drm_keyed_by_linenumber(spark, sf_dir)
    t = d.t(width=7)  # keys 0..6
    return t.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


_MMUL_B = [
    [1.0, 0.5, -1.0],
    [2.0, -0.25, 0.0],
    [-3.0, 1.5, 4.0],
    [0.0, 2.0, -0.5],
]


def _q_mmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A10 DRM %*% DRM, auto strategy (slim right operand → broadcast
    matmul, zero shuffle). Row keys preserved, duplicates included."""
    import numpy as np

    a = _wide_lineitem_drm(spark, sf_dir)
    b = Drm.from_numpy(spark, np.array(_MMUL_B))
    out = a.mmul(b)
    return out.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


def _q_mmul_coo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 big×big strategy: COO triplet equi-join + per-row-tag aggregate
    (forced, to certify the shuffle path against the same oracle)."""
    import numpy as np

    a = lineitem_drm(spark, sf_dir)
    b = Drm.from_numpy(spark, np.array(_MMUL_B))
    out = a.mmul(b, strategy="coo")
    return out.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


def _q_rbind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 rbind: vertical stack of two column-slices; positional re-key
    of the second block by nrow offset (reference's Int-key contract,
    restored via reindex)."""
    # NB: the synthetic lineitem has duplicate (orderkey, linenumber)
    # pairs, so the packed key is NOT unique here — the feature
    # tiebreak in the default reindex() is load-bearing
    d = lineitem_drm(spark, sf_dir).reindex()
    a, b = d.slice_cols(0, 2), d.slice_cols(2, 4)
    stacked = a.rbind(b)
    return stacked.df.select(
        "row_id",
        sci(F.col("features")[0]).alias("f0"),
        sci(F.col("features")[1]).alias("f1"),
    )


def _q_twcnb_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 TWCNB training on the lineitem matrix with l_linenumber-1 as the
    class key (7 classes × 4 'terms'): one groupBy shuffle + tiny driver
    model assembly. Emits both the raw θ and the weight-normalized form."""
    from mahout_samsara_book_spark.algorithms.twcnb import twcnb_train

    model = twcnb_train(_li_drm_keyed_by_linenumber(spark, sf_dir), alpha=1.0)
    nudge = float(_NUDGE)
    rows = []
    for ci, lbl in enumerate(model.labels):
        for t in range(model.theta.shape[0]):
            th, w = model.theta[t, ci], model.weights[t, ci]
            rows.append(
                (
                    int(lbl),
                    t,
                    "%.7e" % (th * nudge) if th != 0 else "0",
                    "%.7e" % (w * nudge) if w != 0 else "0",
                )
            )
    return spark.createDataFrame(
        rows, "label long, pos long, theta string, w string"
    )


def _q_point_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 computePointWeights shape (BahmaniSketch.scala:159-174):
    normalized assignment histogram = groupBy(label).count() / total."""
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    hist = ev.groupBy(
        (F.col("user_id") % 16).cast("long").alias("label")
    ).count()
    return hist.select(
        "label", sci(F.col("count") / F.lit(float(total))).alias("weight")
    )


def _q_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 drmSampleKRows: deterministic seeded top-k over the portable
    md5 hash — the DuckDB oracle replays the identical ordering."""
    block = _wide_lineitem_drm(spark, sf_dir).sample_k_rows(10, seed=42)
    rows = [tuple(float(x) for x in r) for r in block]
    return spark.createDataFrame(rows, "f0 double, f1 double, f2 double, f3 double")


def _q_bfgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 BFGS on the F6 paraboloid fixture (driver-side by design,
    function-valued arguments — BFGS.scala:19-67). Oracled since r5:
    the DuckDB twin replays the full quasi-Newton loop as a recursive
    CTE (see ``_oracle_bfgs``)."""
    import numpy as np

    from mahout_samsara_book_spark.algorithms.bfgs import bfgs

    c = np.array([3.0, 5.0])
    q = np.diag([2.0, 0.5])
    x = bfgs(
        lambda v: float((v - c) @ q @ (v - c)) - 3.5,
        lambda v: 2.0 * (q @ (v - c)),
        np.array([45.0, -32.0]),
        max_iter=40,
        epsilon=1e-7,
    )
    return spark.createDataFrame(
        [(i, round(float(v), 6)) for i, v in enumerate(x)], "pos long, x double"
    )


def _q_bahmani(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 Bahmani k-means|| sketch over the embeddings table
    (BahmaniSketch.scala:37-99). Oracled since r5: the sampler draws
    per-row portable md5 uniforms, so the DuckDB twin replays the whole
    seeded-stochastic iteration (see ``_oracle_bahmani``)."""
    from mahout_samsara_book_spark.algorithms.bahmani import (
        compute_point_weights,
        d_sample,
    )
    from mahout_samsara_book_spark.sources.tables import embeddings_drm

    centers, y = d_sample(
        embeddings_drm(spark, sf_dir), sketch_size=20, iterations=3, seed=42
    )
    w = compute_point_weights(y, centers.shape[0])
    y.unpersist()
    rows = [(i, round(float(wi), 9)) for i, wi in enumerate(w)]
    return spark.createDataFrame(rows, "center long, weight double")


def _q_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 tokenization contract: lowercase, split [^\\p{L}\\p{Nd}]+,
    unigram counts — pure SQL explode/groupBy."""
    from mahout_samsara_book_spark.functions.text import term_counts

    docs = load_table(spark, sf_dir, "documents")
    return term_counts(docs).select("doc_id", "term", "tf")


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 TF-IDF: sqrt(tf) * (ln(N/(df+1)) + 1) — Mahout's TFIDF/Lucene
    DefaultSimilarity weight."""
    from mahout_samsara_book_spark.functions.text import tfidf

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf(docs)
    return out.select("doc_id", "term", sci(F.col("tfidf")).alias("tfidf"))


def _q_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 dictionary table: (term, index), dense 0-based, term-ordered."""
    from mahout_samsara_book_spark.functions.text import (
        build_dictionary,
        term_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    dic = build_dictionary(term_counts(docs))
    return dic.select("term", F.col("index").cast("long").alias("index"))


def _q_df_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 df-count table: (term, df) document frequencies."""
    from mahout_samsara_book_spark.functions.text import (
        doc_frequencies,
        term_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return doc_frequencies(term_counts(docs)).select("term", "df")


def _q_nb_train_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/D8 TWCNB train over documents (label = lang): one corpus
    aggregation pass, label × vocab model finished in-core."""
    from mahout_samsara_book_spark.algorithms.naive_bayes import train_text_nb

    docs = load_table(spark, sf_dir, "documents")
    w = train_text_nb(docs, label_col="lang")
    return w.select(
        "label", "term", sci(F.col("w")).alias("w"), sci(F.col("theta")).alias("theta")
    )


def _q_nb_predict_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2-D4 batch classification: train on documents, score every doc,
    per-doc argmin (ties by label)."""
    from mahout_samsara_book_spark.algorithms.naive_bayes import (
        predict_text_nb,
        train_text_nb,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = train_text_nb(docs, label_col="lang")
    return predict_text_nb(docs, w).select("doc_id", "label")


def _q_text_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 argmax over a vector column (embeddings), as SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        (F.array_position(arr, F.array_max(arr)) - 1).cast("long").alias("best_pos"),
    )


def _q_gram_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 at 64-wide: gram of the embeddings matrix via Arrow block
    partials (2080 upper-triangle cells)."""
    from mahout_samsara_book_spark.sources.tables import embeddings_drm

    g = embeddings_drm(spark, sf_dir).gram_df()
    return g.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        sci(F.col("v")).alias("v"),
    )


def _oracle_gram_wide() -> str:
    return f"""
WITH coo AS (
  SELECT vec_id, t.i - 1 AS pos, embedding[t.i]::DOUBLE AS v
  FROM embeddings, range(1, 65) AS t(i)
)
SELECT a.pos AS i, b.pos AS j, {sci_sql('sum(a.v * b.v)')} AS v
FROM coo a JOIN coo b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY 1, 2
"""


def _q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware two-phase salted group-sum == straight groupBy (the
    oracle is the UNSALTED formulation — value equality proves the salting
    reassociation is sound)."""
    from mahout_samsara_book_spark.operators.skew import salted_group_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_group_agg(
        li,
        "l_suppkey",
        {
            "revenue": F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            "n": F.count("*"),
        },
        n_salts=16,
    )
    return out.select(
        F.col("l_suppkey").cast("long").alias("l_suppkey"),
        sci(F.col("revenue")).alias("revenue"),
        F.col("n").cast("long").alias("n"),
    )


def _oracle_skew_salted() -> str:
    return f"""
SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
       {sci_sql('sum(l_extendedprice * (1 - l_discount))')} AS revenue,
       count(*) AS n
FROM lineitem GROUP BY 1
"""


def _q_map_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 mapBlock: per-block numpy transform (row centering — subtract
    each row's mean from every cell), exploded to scalars. The block fn is
    arbitrary numpy; the oracle replays the per-row semantics in SQL."""
    import numpy as np

    d = _wide_lineitem_drm(spark, sf_dir)

    def center_rows(keys, block):
        return keys, block - block.mean(axis=1, keepdims=True)

    out = d.map_block(center_rows)
    return out.df.select(
        "row_id", F.posexplode("features").alias("pos", "v")
    ).select("row_id", F.col("pos").cast("long").alias("pos"), sci(F.col("v")).alias("v"))


def _oracle_map_block() -> str:
    mean = "(" + " + ".join(LINEITEM_FEATURES) + ") / 4.0"
    parts = [
        f"SELECT {_LI_KEY_SQL} AS row_id, CAST({i} AS BIGINT) AS pos, "
        f"{sci_sql(f'{c} - ({mean})')} AS v FROM lineitem"
        for i, c in enumerate(LINEITEM_FEATURES)
    ]
    return "\nUNION ALL\n".join(parts)


def _q_allreduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 allreduceBlock: per-partition blockᵀ@1 partials (column sums)
    reduced with matrix addition to ONE driver matrix — the
    sum-shaped reduce (BahmaniSketch.scala:162-170 histogram shape)."""
    import numpy as np

    d = lineitem_drm(spark, sf_dir)
    total = d.allreduce_block(
        lambda keys, block: block.sum(axis=0)[None, :],
        lambda a, b: a + b,
    )
    nudge = float(_NUDGE)
    rows = [
        (i, "%.7e" % (v * nudge) if v != 0 else "0")
        for i, v in enumerate(total[0])
    ]
    return spark.createDataFrame(rows, "pos long, col_sum string")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import entry_llm
    import entry_m5
    import entry_pipe
    import entry_rel

    entry_m5._init(sci, sci_sql)
    entry_rel._init(sci, sci_sql)
    entry_pipe._init(sci, sci_sql)
    entry_llm._init(sci, sci_sql)
    full = {
        **entry_llm.QUERIES,
        **entry_pipe.QUERIES,
        "drm_abs_slice": _q_abs_slice,
        "drm_group_sum": _q_group_sum,
        "drm_transpose": _q_transpose,
        "drm_mmul": _q_mmul,
        "drm_mmul_coo": _q_mmul_coo,
        "drm_rbind": _q_rbind,
        "drm_gram_wide": _q_gram_wide,
        "skew_salted_group_sum": _q_skew_salted,
        "drm_map_block": _q_map_block,
        "drm_allreduce": _q_allreduce,
        **entry_m5.QUERIES,
        **entry_rel.QUERIES,
        "text_tokenize_counts": _q_tokenize_counts,
        "text_tfidf": _q_tfidf,
        "text_dictionary": _q_dictionary,
        "text_df_counts": _q_df_counts,
        "nb_train_text": _q_nb_train_text,
        "nb_predict_text": _q_nb_predict_text,
        "text_argmax": _q_text_argmax,
        "twcnb_train": _q_twcnb_train,
        "point_weights": _q_point_weights,
        "drm_sample_k": _q_sample_k,
        "bfgs_argmin": _q_bfgs,
        "bahmani_weights": _q_bahmani,
        "drm_colsums": _q_colsums,
        "drm_rowsums": _q_rowsums,
        "drm_ax": _q_ax,
        "drm_gram": _q_gram,
        "drm_normal_eq": _q_normal_eq,
        "dridge": _q_dridge,
        "drm_ssr": _q_drm_ssr,
        "reg_coeff_tests": _q_coeff_tests,
    }
    # Ordering is deliberate: the driver's correctness gate truncates
    # after ~50 queries.  Window, by the standing rule: (0) the rows
    # whose plan reaches the embedding operators, which now decode
    # every vector block through the DRM's Arrow codec on mapInArrow
    # (ivf_assign is the rank-1 probe), and dedup_exact_substr, whose
    # tokenize now runs once per scan; (1) the cache-ownership cohort,
    # (2) the r8-stale and (3) r9-stale rows two windows back, ungraded
    # since.  text_shingle_neighbors, graph_kcore and drm_rbind go
    # first in the next window, then the sketch, block-codec and r9
    # rows the previous window graded.
    rotation = [
        # -- (0) embedding operators on the Arrow codec, exact substr
        "dedup_embedding", "sel_decontaminate_emb", "sim_cosine_topk",
        "ann_lsh_topk", "ivf_assign", "ivf_topk", "ivf_refine",
        "kmeans_lloyd", "ann_ivf_persisted", "ann_ivf_persisted_topk",
        "ann_ivf_incremental", "dedup_semantic", "pq_encode", "pq_mse",
        "ann_ivfpq_topk", "ann_ivfpq_probe", "dedup_exact_substr",
        # -- (1) cache-ownership cohort, deferred
        "graph_pagerank", "text_token_stats", "text_bpe_chars",
        "text_bpe_merges", "text_bpe_encode",
        # -- (2) r8-stale rows
        "sketch_cms", "sketch_hll", "sketch_hll_sliding",
        "sketch_kmv_intersect", "sketch_sample_quantiles",
        "text_bigram_lm", "text_inverted_index", "text_zipf_tail",
        # -- (3) r9-stale rows (ivf_refine is in (0))
        "bloom_build", "bloom_probe", "dedup_containment",
        "dedup_ngram_jaccard", "emb_centroids", "emb_outliers",
        "ev_asof_click", "ev_dedup", "ev_funnel", "ev_retention",
        "ev_session_window", "ev_stream_asof", "ev_stream_enriched",
        "fmt_orc_roundtrip", "multimodal_frames", "multimodal_png",
        "multimodal_ppm", "multimodal_resize", "multimodal_wav",
        "rel_revenue_by_nation_bucketed",
    ]
    missing = set(rotation) - full.keys()
    assert not missing, f"rotation names not in registry: {sorted(missing)}"
    assert len(rotation) == len(set(rotation)) == 50, len(rotation)
    head = {n: full[n] for n in rotation}
    return {**head, **full}


# --------------------------------------------------------------------- #
# oracles
# --------------------------------------------------------------------- #


def _oracle_colsums() -> str:
    parts = [
        f"SELECT CAST({i} AS BIGINT) AS pos, {sci_sql(f'sum({c})')} AS col_sum FROM lineitem"
        for i, c in enumerate(LINEITEM_FEATURES)
    ]
    return "\nUNION ALL\n".join(parts)


def _oracle_rowsums() -> str:
    # left-assoc add order mirrors the Spark `aggregate` fold
    total = " + ".join(["0.0"] + LINEITEM_FEATURES)
    return (
        f"SELECT {_LI_KEY_SQL} AS row_id, {sci_sql(total)} AS row_sum FROM lineitem"
    )


def _oracle_ax() -> str:
    dot = " + ".join(
        ["0.0"] + [f"{c} * {b!r}" for c, b in zip(LINEITEM_FEATURES, _AX_BETA)]
    )
    return f"SELECT {_LI_KEY_SQL} AS row_id, {sci_sql(dot)} AS dot FROM lineitem"


def _oracle_gram() -> str:
    cols = LINEITEM_FEATURES
    parts = [
        f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j, "
        f"{sci_sql(f'sum({cols[i]} * {cols[j]})')} AS v FROM lineitem"
        for i in range(len(cols))
        for j in range(i, len(cols))
    ]
    return "\nUNION ALL\n".join(parts)


def _oracle_normal_eq() -> str:
    cols = ["1.0"] + _RIDGE_FEATS
    n = len(cols)
    parts = []
    for i in range(n):
        for j in range(i, n):
            parts.append(
                f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j, "
                f"{sci_sql(f'sum({cols[i]} * {cols[j]})')} AS v FROM lineitem"
            )
        parts.append(
            f"SELECT CAST({i} AS BIGINT) AS i, CAST({n} AS BIGINT) AS j, "
            f"{sci_sql(f'sum({cols[i]} * {_RIDGE_Y})')} AS v FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


def _oracle_dridge() -> str:
    """Closed-form 3×3 ridge solve via Cramer's rule, entirely in SQL.

    β = (XᵀX + λI)⁻¹ Xᵀy for X = [1 | l_quantity | l_discount],
    y = l_extendedprice, λ = 0.1. Agreement with the engine's LAPACK
    solve is far inside the %.7e granularity for this conditioning.
    """
    lam = _RIDGE_LAM
    c = ["1.0", *_RIDGE_FEATS]
    sums = ",\n    ".join(
        [
            f"sum({c[i]} * {c[j]}){' + ' + repr(lam) if i == j else ''} AS a{i}{j}"
            for i in range(3)
            for j in range(i, 3)
        ]
        + [f"sum({c[i]} * {_RIDGE_Y}) AS b{i}" for i in range(3)]
    )
    det = (
        "a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02) "
        "+ a02*(a01*a12 - a11*a02)"
    )
    det0 = (
        "b0*(a11*a22 - a12*a12) - a01*(b1*a22 - a12*b2) "
        "+ a02*(b1*a12 - a11*b2)"
    )
    det1 = (
        "a00*(b1*a22 - a12*b2) - b0*(a01*a22 - a12*a02) "
        "+ a02*(a01*b2 - b1*a02)"
    )
    det2 = (
        "a00*(a11*b2 - b1*a12) - a01*(a01*b2 - b1*a02) "
        "+ b0*(a01*a12 - a11*a02)"
    )
    return f"""
WITH s AS (
  SELECT
    {sums}
  FROM lineitem
)
SELECT CAST(0 AS BIGINT) AS pos, {sci_sql(f'({det0}) / ({det})')} AS beta FROM s
UNION ALL
SELECT CAST(1 AS BIGINT) AS pos, {sci_sql(f'({det1}) / ({det})')} AS beta FROM s
UNION ALL
SELECT CAST(2 AS BIGINT) AS pos, {sci_sql(f'({det2}) / ({det})')} AS beta FROM s
"""


def _oracle_drm_ssr() -> str:
    b0, b1, b2 = _SSR_BETA
    resid = (
        f"{b0!r} + {b1!r} * {_RIDGE_FEATS[0]} + {b2!r} * {_RIDGE_FEATS[1]}"
        f" - {_RIDGE_Y}"
    )
    return (
        f"SELECT 'ssr' AS stat, {sci_sql(f'sum(pow({resid}, 2))')} AS v "
        f"FROM lineitem"
    )


def _oracle_coeff_tests() -> str:
    """Cofactor-inverse 3×3 normal-equation solve + algebraic SSR
    (yᵀy − 2βᵀXᵀy + βᵀXᵀXβ), entirely in SQL — the same formula
    test_beta_table evaluates, so agreement is limited only by summation
    order (~1e-14 rel), far inside %.7e granularity."""
    x1, x2 = "l_quantity", "(l_discount * 100.0)"
    sums = f"""
  SELECT
    sum(1.0)             AS a00,
    sum({x1})            AS a01,
    sum({x2})            AS a02,
    sum({x1} * {x1})     AS a11,
    sum({x1} * {x2})     AS a12,
    sum({x2} * {x2})     AS a22,
    sum({_CT_Y})             AS b0,
    sum({x1} * {_CT_Y})      AS b1,
    sum({x2} * {_CT_Y})      AS b2,
    sum({_CT_Y} * {_CT_Y})   AS syy
  FROM lineitem"""
    rows = []
    for i in range(3):
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS pos, {sci_sql(f'be{i}')} AS beta, "
            f"{sci_sql(f'sqrt(sigma2 * c{i}{i})')} AS se, "
            f"{sci_sql(f'be{i} / sqrt(sigma2 * c{i}{i})')} AS t_stat FROM st"
        )
    return f"""
WITH s AS ({sums}),
inv AS (
  SELECT s.*,
    a00*(a11*a22 - a12*a12) - a01*(a01*a22 - a12*a02)
      + a02*(a01*a12 - a11*a02) AS det
  FROM s
),
c AS (
  SELECT inv.*,
    (a11*a22 - a12*a12) / det AS c00,
    (a02*a12 - a01*a22) / det AS c01,
    (a01*a12 - a02*a11) / det AS c02,
    (a00*a22 - a02*a02) / det AS c11,
    (a01*a02 - a00*a12) / det AS c12,
    (a00*a11 - a01*a01) / det AS c22
  FROM inv
),
be AS (
  SELECT c.*,
    c00*b0 + c01*b1 + c02*b2 AS be0,
    c01*b0 + c11*b1 + c12*b2 AS be1,
    c02*b0 + c12*b1 + c22*b2 AS be2
  FROM c
),
st AS (
  SELECT be.*,
    (syy - 2*(be0*b0 + be1*b1 + be2*b2)
         + (be0*be0*a00 + be1*be1*a11 + be2*be2*a22
            + 2*(be0*be1*a01 + be0*be2*a02 + be1*be2*a12)))
    / (a00 - 3) AS sigma2
  FROM be
)
{' UNION ALL '.join(rows)}
"""


def _oracle_abs_slice() -> str:
    cols = LINEITEM_FEATURES[1:4]
    parts = [
        f"SELECT {_LI_KEY_SQL} AS row_id, CAST({i} AS BIGINT) AS pos, "
        f"{sci_sql(f'abs({c} - 1.0)')} AS v FROM lineitem"
        for i, c in enumerate(cols)
    ]
    return "\nUNION ALL\n".join(parts)


def _oracle_group_sum() -> str:
    parts = [
        f"SELECT CAST(l_linenumber - 1 AS BIGINT) AS row_id, CAST({i} AS BIGINT) AS pos, "
        f"{sci_sql(f'sum({c})')} AS v FROM lineitem GROUP BY 1"
        for i, c in enumerate(LINEITEM_FEATURES)
    ]
    return "\nUNION ALL\n".join(parts)


def _oracle_transpose() -> str:
    parts = [
        f"SELECT CAST({i} AS BIGINT) AS row_id, CAST(l_linenumber - 1 AS BIGINT) AS pos, "
        f"{sci_sql(f'sum({c})')} AS v FROM lineitem GROUP BY 2"
        for i, c in enumerate(LINEITEM_FEATURES)
    ]
    return "\nUNION ALL\n".join(parts)


def _oracle_mmul() -> str:
    parts = []
    for j in range(3):
        dot = " + ".join(
            f"{c} * {_MMUL_B[k][j]!r}" for k, c in enumerate(LINEITEM_FEATURES)
        )
        parts.append(
            f"SELECT {_LI_KEY_SQL} AS row_id, CAST({j} AS BIGINT) AS pos, "
            f"{sci_sql(dot)} AS v FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


def _oracle_rbind() -> str:
    return f"""
WITH r AS (
  SELECT row_number() OVER (
    ORDER BY {_LI_KEY_SQL}, l_quantity, l_extendedprice, l_discount, l_tax
  ) - 1 AS rid, *
  FROM lineitem
)
SELECT CAST(rid AS BIGINT) AS row_id,
       {sci_sql('l_quantity')} AS f0, {sci_sql('l_extendedprice')} AS f1
FROM r
UNION ALL
SELECT CAST(rid + (SELECT count(*) FROM r) AS BIGINT) AS row_id,
       {sci_sql('l_discount')} AS f0, {sci_sql('l_tax')} AS f1
FROM r
"""


def _oracle_twcnb() -> str:
    n = len(LINEITEM_FEATURES)
    fs = ", ".join(f"sum({c}) AS f{i}" for i, c in enumerate(LINEITEM_FEATURES))
    ts = ", ".join(f"sum(f{i}) AS t{i}" for i in range(n))
    cs = ", ".join(f"t{i} - f{i} AS c{i}" for i in range(n))
    csum = " + ".join(f"c{i}" for i in range(n))
    ths = ", ".join(
        f"ln((c{i} + 1.0) / ({csum} + {float(n)!r})) AS th{i}" for i in range(n)
    )
    allth = ", ".join(f"th{i}" for i in range(n))
    z = " + ".join(f"abs(th{i})" for i in range(n))
    parts = [
        f"SELECT label, CAST({i} AS BIGINT) AS pos, "
        f"{sci_sql(f'th{i}')} AS theta, {sci_sql(f'th{i} / z')} AS w FROM nz"
        for i in range(n)
    ]
    return f"""
WITH pc AS (
  SELECT CAST(l_linenumber - 1 AS BIGINT) AS label, {fs}
  FROM lineitem GROUP BY 1
),
tt AS (SELECT {ts} FROM pc),
comp AS (SELECT label, {cs} FROM pc, tt),
th AS (SELECT label, {ths} FROM comp),
nz AS (SELECT label, {z} AS z, {allth} FROM th)
{' UNION ALL '.join(parts)}
"""


def _oracle_point_weights() -> str:
    return """
SELECT CAST(user_id % 16 AS BIGINT) AS label,
       CASE WHEN count(*) = 0 THEN '0'
            ELSE printf('%.7e',
                 CAST(count(*) AS DOUBLE)
                 / CAST((SELECT count(*) FROM events) AS DOUBLE)
                 * 1.0000000000001)
       END AS weight
FROM events GROUP BY 1
"""


_TOK_CTES = r"""
tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^\p{L}\p{Nd}]+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
ti AS (
  SELECT tf.doc_id, tf.term,
         sqrt(tf.tf) * (ln(nd.n / (dfreq.df + 1.0)) + 1.0) AS tfidf
  FROM tf, dfreq, nd WHERE tf.term = dfreq.term
)
"""

_NB_CTES = (
    _TOK_CTES
    + r""",
lab AS (SELECT doc_id, lang AS label FROM documents),
ct AS (
  SELECT lab.label, ti.term, sum(ti.tfidf) AS n_ct
  FROM ti JOIN lab USING (doc_id) GROUP BY 1, 2
),
tt AS (SELECT term, sum(n_ct) AS n_t FROM ct GROUP BY 1),
labels AS (SELECT DISTINCT label FROM ct),
vocab AS (SELECT count(*) AS v FROM tt),
grid AS (SELECT labels.label, tt.term, tt.n_t FROM labels CROSS JOIN tt),
comp AS (
  SELECT grid.label, grid.term, grid.n_t - coalesce(ct.n_ct, 0.0) AS comp
  FROM grid LEFT JOIN ct ON grid.label = ct.label AND grid.term = ct.term
),
den AS (
  SELECT label, sum(comp) + 1.0 * (SELECT v FROM vocab) AS denom
  FROM comp GROUP BY 1
),
th AS (
  SELECT comp.label, comp.term, ln((comp.comp + 1.0) / den.denom) AS theta
  FROM comp JOIN den USING (label)
),
z AS (SELECT label, sum(abs(theta)) AS z FROM th GROUP BY 1)
"""
)


def _oracle_tfidf() -> str:
    return f"WITH {_TOK_CTES} SELECT doc_id, term, {sci_sql('tfidf')} AS tfidf FROM ti"


def _oracle_dictionary() -> str:
    return (
        f"WITH {_TOK_CTES} "
        'SELECT term, CAST(row_number() OVER (ORDER BY term) - 1 AS BIGINT) AS "index" '
        "FROM (SELECT DISTINCT term FROM tf)"
    )


def _oracle_df_counts() -> str:
    return f"WITH {_TOK_CTES} SELECT term, df FROM dfreq"


def _oracle_nb_train_text() -> str:
    return (
        f"WITH {_NB_CTES} "
        f"SELECT th.label, th.term, {sci_sql('th.theta / z.z')} AS w, "
        f"{sci_sql('th.theta')} AS theta FROM th JOIN z USING (label)"
    )


def _oracle_nb_predict_text() -> str:
    return (
        f"WITH {_NB_CTES}, "
        "wnorm AS (SELECT th.label, th.term, th.theta / z.z AS w "
        "          FROM th JOIN z USING (label)), "
        "sc AS (SELECT ti.doc_id, wnorm.label, sum(ti.tfidf * wnorm.w) AS score "
        "       FROM ti JOIN wnorm USING (term) GROUP BY 1, 2), "
        "ranked AS (SELECT doc_id, label, "
        "           row_number() OVER (PARTITION BY doc_id ORDER BY score, label) AS rn "
        "           FROM sc) "
        "SELECT doc_id, label FROM ranked WHERE rn = 1"
    )


def _oracle_text_argmax() -> str:
    return """
SELECT vec_id,
       CAST(list_position(l, list_aggregate(l, 'max')) - 1 AS BIGINT) AS best_pos
FROM (SELECT vec_id, embedding::DOUBLE[] AS l FROM embeddings)
"""


def _oracle_bfgs() -> str:
    """Recursive-CTE replay of the BFGS loop (``BFGS.scala:19-67``) on
    the F6 paraboloid fixture — every float op in the same order as
    ``algorithms/bfgs.py``: unit line search (s = d), Sherman-Morrison
    H update ``(I − ρsyᵀ) H (I − ρysᵀ) + ρssᵀ``, stop when ‖g‖ < 1e-7
    or 40 iterations. Both engines converge to within 2.5e-8 of the
    analytic optimum (3, 5), so the round-6 outputs agree regardless of
    last-ulp BLAS/FMA differences in the trajectory."""
    return """
WITH RECURSIVE st(it, x0, x1, g0, g1, h00, h01, h10, h11) AS (
  SELECT 0, 45.0::DOUBLE, -32.0::DOUBLE,
         2.0::DOUBLE * (2.0::DOUBLE * (45.0::DOUBLE - 3.0::DOUBLE)),
         2.0::DOUBLE * (0.5::DOUBLE * (-32.0::DOUBLE - 5.0::DOUBLE)),
         1.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 1.0::DOUBLE
  UNION ALL
  SELECT it + 1, x0n, x1n, g0n, g1n,
         CASE WHEN abs(sy) > 1e-300
              THEN (m00*t00 + m01*t01) + rho*(s0*s0) ELSE h00 END,
         CASE WHEN abs(sy) > 1e-300
              THEN (m00*t10 + m01*t11) + rho*(s0*s1) ELSE h01 END,
         CASE WHEN abs(sy) > 1e-300
              THEN (m10*t00 + m11*t01) + rho*(s1*s0) ELSE h10 END,
         CASE WHEN abs(sy) > 1e-300
              THEN (m10*t10 + m11*t11) + rho*(s1*s1) ELSE h11 END
  FROM (
    SELECT *,
           t00*h00 + t01*h10 AS m00, t00*h01 + t01*h11 AS m01,
           t10*h00 + t11*h10 AS m10, t10*h01 + t11*h11 AS m11
    FROM (
      SELECT *,
             1.0 - rho*(s0*y0) AS t00, -(rho*(s0*y1)) AS t01,
             -(rho*(s1*y0)) AS t10, 1.0 - rho*(s1*y1) AS t11
      FROM (
        SELECT *,
               CASE WHEN abs(sy) > 1e-300 THEN 1.0/sy ELSE 0.0 END AS rho
        FROM (
          SELECT *, s0*y0 + s1*y1 AS sy
          FROM (
            SELECT *, g0n - g0 AS y0, g1n - g1 AS y1
            FROM (
              SELECT *, 2.0*(2.0*(x0n-3.0)) AS g0n,
                     2.0*(0.5*(x1n-5.0)) AS g1n
              FROM (
                SELECT *, x0 + s0 AS x0n, x1 + s1 AS x1n
                FROM (
                  SELECT *, -(h00*g0 + h01*g1) AS s0,
                         -(h10*g0 + h11*g1) AS s1
                  FROM st
                  WHERE it < 40 AND sqrt(g0*g0 + g1*g1) >= 1e-7
                ) a
              ) b
            ) c
          ) d
        ) e2
      ) f2
    ) g2
  ) h2
),
final AS (SELECT * FROM st ORDER BY it DESC LIMIT 1)
SELECT CAST(0 AS BIGINT) AS pos, round(x0, 6) AS x FROM final
UNION ALL
SELECT CAST(1 AS BIGINT) AS pos, round(x1, 6) AS x FROM final
"""


def _oracle_bahmani(seed: int = 42, iterations: int = 3) -> str:
    """DuckDB replay of the Bahmani k-means|| sketch
    (``BahmaniSketch.scala:37-99``) with sketch_size=20, iterations=3,
    seed=42 over the embeddings table. Replayable because the engine's
    sampler draws a PER-ROW portable uniform (md5(seed:it:key) first 60
    bits / 2^60) and orders candidates globally by row key — both
    partitioning-invariant. Distances use the same expanded form
    max(0, |a|² + |b|² − 2a·b); decisions (sample threshold, argmin
    label) are threshold comparisons, robust to last-ulp BLAS/SQL
    summation differences on continuous data."""
    ell = repr(max(1.0, 20 / 3.0))

    def u(it: int) -> str:
        return (
            f"('0x' || substring(md5('{seed}:{it}:' || CAST(id AS VARCHAR)), 1, 15))"
            "::BIGINT / 1152921504606846976.0"
        )

    def d2(a: str, b: str) -> str:
        return (
            f"greatest(0.0, list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
            f" - 2.0 * list_dot_product({a}, {b}))"
        )

    ctes = [
        "e AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v"
        " FROM embeddings)",
        "c0 AS (SELECT v FROM e ORDER BY ('0x' || substring(md5(CAST(id AS"
        f" VARCHAR) || ':{seed}'), 1, 15))::BIGINT, id LIMIT 1)",
        f"y0 AS (SELECT e.id, e.v, CAST(0 AS BIGINT) AS label,"
        f" {d2('e.v', 'c0.v')} AS d2 FROM e, c0)",
    ]
    offset_terms = ["1"]
    prev = "y0"
    for it in range(1, iterations + 1):
        off = " + ".join(offset_terms)
        ctes += [
            f"s{it} AS (SELECT id, v FROM {prev} WHERE {u(it)} <"
            f" least(1.0, {ell} * d2 / (SELECT sum(d2) FROM {prev})))",
            f"cand{it} AS (SELECT ({off}) + row_number() OVER (ORDER BY id)"
            f" - 1 AS cid, v FROM s{it})",
            f"p{it} AS (SELECT {prev}.id, c.cid, {d2(prev + '.v', 'c.v')} AS d"
            f" FROM {prev}, cand{it} c)",
            f"m{it} AS (SELECT id, cid, d FROM (SELECT id, cid, d,"
            f" row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn"
            f" FROM p{it}) WHERE rn = 1)",
            f"y{it} AS (SELECT {prev}.id, {prev}.v,"
            f" CASE WHEN m{it}.d < {prev}.d2 THEN m{it}.cid"
            f" ELSE {prev}.label END AS label,"
            f" CASE WHEN m{it}.d < {prev}.d2 THEN m{it}.d"
            f" ELSE {prev}.d2 END AS d2"
            f" FROM {prev} LEFT JOIN m{it} USING (id))",
        ]
        offset_terms.append(f"(SELECT count(*) FROM cand{it})")
        prev = f"y{it}"
    univ = " UNION ALL ".join(
        ["SELECT CAST(0 AS BIGINT) AS center"]
        + [f"SELECT cid FROM cand{i}" for i in range(1, iterations + 1)]
    )
    ctes += [
        f"univ AS ({univ})",
        f"cnt AS (SELECT label AS center, count(*)::DOUBLE AS c FROM {prev}"
        " GROUP BY 1)",
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT univ.center, round(coalesce(cnt.c, 0.0) /"
        " (SELECT count(*) FROM e), 9) AS weight\n"
        "FROM univ LEFT JOIN cnt USING (center)"
    )


def oracle_sql() -> dict[str, str]:
    import entry_llm
    import entry_m5
    import entry_pipe
    import entry_rel

    entry_m5._init(sci, sci_sql)
    entry_rel._init(sci, sci_sql)
    entry_pipe._init(sci, sci_sql)
    entry_llm._init(sci, sci_sql)
    return {
        **entry_llm.oracles(),
        **entry_pipe.oracles(),
        **entry_m5.oracles(),
        **entry_rel.oracles(),
        "text_tokenize_counts": f"WITH {_TOK_CTES} SELECT doc_id, term, tf FROM tf",
        "text_tfidf": _oracle_tfidf(),
        "text_dictionary": _oracle_dictionary(),
        "text_df_counts": _oracle_df_counts(),
        "nb_train_text": _oracle_nb_train_text(),
        "nb_predict_text": _oracle_nb_predict_text(),
        "text_argmax": _oracle_text_argmax(),
        "twcnb_train": _oracle_twcnb(),
        "point_weights": _oracle_point_weights(),
        "bfgs_argmin": _oracle_bfgs(),
        "bahmani_weights": _oracle_bahmani(),
        "drm_sample_k": f"""
WITH keyed AS (
  SELECT {_LI_KEY_SQL} AS k,
         [l_quantity, l_extendedprice, l_discount, l_tax] AS f
  FROM lineitem
)
SELECT f[1] AS f0, f[2] AS f1, f[3] AS f2, f[4] AS f3
FROM keyed
ORDER BY ('0x' || substring(md5(CAST(k AS VARCHAR) || ':42'), 1, 15))::BIGINT,
         k, f
LIMIT 10
""",
        "drm_group_sum": _oracle_group_sum(),
        "drm_transpose": _oracle_transpose(),
        "drm_mmul": _oracle_mmul(),
        "drm_mmul_coo": _oracle_mmul(),
        "drm_rbind": _oracle_rbind(),
        "drm_gram_wide": _oracle_gram_wide(),
        "skew_salted_group_sum": _oracle_skew_salted(),
        "drm_map_block": _oracle_map_block(),
        "drm_allreduce": _oracle_colsums(),
        "drm_colsums": _oracle_colsums(),
        "drm_rowsums": _oracle_rowsums(),
        "drm_ax": _oracle_ax(),
        "drm_gram": _oracle_gram(),
        "drm_normal_eq": _oracle_normal_eq(),
        "dridge": _oracle_dridge(),
        "drm_ssr": _oracle_drm_ssr(),
        "reg_coeff_tests": _oracle_coeff_tests(),
        "drm_abs_slice": _oracle_abs_slice(),
    }


# --------------------------------------------------------------------- #
# flagship
# --------------------------------------------------------------------- #


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed ridge regression (C2 — LinearRegression
    .scala:17-34) over sf0.001 lineitem via one-pass normal-equation
    aggregation + driver solve."""
    return _q_dridge(spark, "/root/testdata/sf0.001")
