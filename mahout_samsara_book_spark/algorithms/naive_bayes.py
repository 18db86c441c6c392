"""Complement naive Bayes over text, end to end (SURVEY §2D D1-D8).

Two execution shapes:

- **Distributed, fully relational** (:func:`train_text_nb`,
  :func:`score_text_nb`): the entire TWCNB train + score pipeline as
  DataFrame ops over ``(label, term, value)`` triplets — tokenize → TF-IDF
  → per-class sums → complement/smooth/log/normalize → score join →
  per-doc argmin. No driver-side matrix at any point, so vocabulary and
  corpus both scale out (unlike the reference, which assembles the model
  in-core — ``TWCNB.scala:28-148``). Every stage is SQL-checkable.

- **Serving-side, driver-local** (:class:`NBServingModel`): the
  reference's request/response classify path
  (``NaiveBayesServlet.scala:76-143``): one document, broadcast-free
  dict lookups, numpy dot — D1 vectorize → D2 classify → D3 argmax →
  D4 label map.

Model persistence (A24 — ``NBModel.dfsRead``, ``NaiveBayesServlet
.scala:42``) is a parquet directory: weights triplets + dictionary +
df-counts + JSON metadata.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mahout_samsara_book_spark.cache import track
from mahout_samsara_book_spark.functions.text import term_counts, tfidf

ALPHA_DEFAULT = 1.0


# ------------------------------------------------------------------ #
# distributed relational TWCNB over (label, term, value) triplets
# ------------------------------------------------------------------ #


def train_text_nb(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = ALPHA_DEFAULT,
) -> DataFrame:
    """TWCNB weights as a DataFrame ``(label, term, w, theta)``.

    comp(c,t) = Σ_t' n(t) − n(c,t) over the FULL label × vocab grid
    (absent terms contribute n(t)); θ = ln((comp+α)/(Σ_t comp + α·V));
    w = θ / Σ_t |θ| per class — TWCNB.scala:109-147 relationally.

    The token-count relation feeds several actions (vocab count, TF-IDF,
    per-class sums) — persisted once so the corpus is tokenized once,
    not once per action (Samsara's checkpoint-placement rule, SURVEY §4).
    """
    counts = track(term_counts(docs, id_col, text_col))
    tf_idf = tfidf(docs, id_col, text_col, counts=counts)
    labeled = tf_idf.join(
        docs.select(id_col, F.col(label_col).alias("label")), id_col
    )
    # class_term is the LAST corpus-sized computation; everything below
    # is label×vocab-sized. Five downstream broadcast subtrees (labels,
    # vocab, denom, z, and the final join input) would each re-run the
    # corpus scan without this checkpoint — persisting here is the
    # Samsara cache-placement rule (SURVEY §4) applied at the
    # corpus/model boundary.
    class_term = track(
        labeled.groupBy("label", "term").agg(F.sum("tfidf").alias("n_ct"))
    )
    term_tot = class_term.groupBy("term").agg(F.sum("n_ct").alias("n_t"))
    labels = class_term.select("label").distinct()
    # vocabulary size as a broadcast scalar subquery, NOT an eager
    # count(): keeps train a single job instead of a count-then-build
    # driver round-trip (at scale, one fewer full pass over the corpus)
    vocab = term_tot.agg(F.count("*").alias("_v"))
    # full grid: labels × vocab (labels are few — broadcast)
    grid = term_tot.crossJoin(F.broadcast(labels))
    comp = (
        grid.join(class_term, ["label", "term"], "left")
        .select(
            "label",
            "term",
            (F.col("n_t") - F.coalesce(F.col("n_ct"), F.lit(0.0))).alias("comp"),
        )
    )
    denom = (
        comp.groupBy("label")
        .agg(F.sum("comp").alias("_s"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "label",
            (F.col("_s") + F.lit(alpha) * F.col("_v")).alias("denom"),
        )
    )
    theta = comp.join(F.broadcast(denom), "label").select(
        "label",
        "term",
        F.log((F.col("comp") + F.lit(alpha)) / F.col("denom")).alias("theta"),
    )
    z = theta.groupBy("label").agg(F.sum(F.abs(F.col("theta"))).alias("z"))
    return theta.join(F.broadcast(z), "label").select(
        "label", "term", (F.col("theta") / F.col("z")).alias("w"), "theta"
    )


def score_text_nb(
    docs: DataFrame,
    weights: DataFrame,
    df_terms: DataFrame | None = None,
    n_docs: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc complement scores ``(doc_id, label, score)`` — LOWER is
    better. TF-IDF triplets joined against broadcast weights (model ≪
    corpus), one groupBy.

    ``df_terms`` (``(term, df)``) and ``n_docs`` are the TRAINING-corpus
    statistics — the reference ships them to serving as the df-count
    SequenceFile (``NaiveBayesServlet.scala:50-53``); scoring must reuse
    them, not recompute IDF from the batch being scored (a 1-document
    micro-batch would otherwise get degenerate weights). If omitted they
    are derived from ``docs`` (train-time shape).
    """
    counts = term_counts(docs, id_col, text_col)
    if df_terms is None:
        from mahout_samsara_book_spark.functions.text import doc_frequencies

        df_terms = doc_frequencies(counts, id_col)
        # broadcast scalar subquery — keeps scoring a single job (no
        # eager count round-trip); see tfidf()
        n_df = docs.select(id_col).distinct().agg(
            F.count("*").cast("double").alias("_n")
        )
    elif n_docs is None:
        raise ValueError("n_docs required when df_terms is supplied")
    else:
        n_df = docs.sparkSession.range(1).select(
            F.lit(float(n_docs)).alias("_n")
        )
    tf_idf = (
        counts.join(F.broadcast(df_terms), "term")
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
    return (
        tf_idf.join(F.broadcast(weights.select("label", "term", "w")), "term")
        .groupBy(id_col, "label")
        .agg(F.sum(F.col("tfidf") * F.col("w")).alias("score"))
    )


def predict_text_nb(
    docs: DataFrame,
    weights: DataFrame,
    df_terms: DataFrame | None = None,
    n_docs: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, label)`` — argmin of complement score (D3 on negated
    scores), ties broken by label for determinism."""
    scores = score_text_nb(docs, weights, df_terms, n_docs, id_col, text_col)
    w = Window.partitionBy(id_col).orderBy(F.col("score").asc(), F.col("label").asc())
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "label")
    )


# ------------------------------------------------------------------ #
# model I/O (A24)
# ------------------------------------------------------------------ #


def save_nb_model(
    weights: DataFrame,
    dictionary: DataFrame,
    df_counts: DataFrame,
    path: str,
    alpha: float = ALPHA_DEFAULT,
) -> None:
    """Persist the model directory: weights/dictionary/df-count parquet +
    metadata JSON (replaces SequenceFiles + NBModel.dfsWrite — SURVEY
    §1.1)."""
    spark = weights.sparkSession
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    dictionary.write.mode("overwrite").parquet(f"{path}/dictionary")
    df_counts.write.mode("overwrite").parquet(f"{path}/df_counts")
    labels = [r["label"] for r in weights.select("label").distinct().collect()]
    meta = {"alpha": alpha, "is_complementary": True, "labels": sorted(map(str, labels))}
    # JVM-literal one-row plan — local-relation writes cost 6-9 s on
    # local[32] (see operators/dedup.py:_manifest_commit, round 12)
    spark.range(1).select(
        F.lit(json.dumps(meta)).alias("meta")
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def load_nb_model(spark: SparkSession, path: str) -> dict:
    """Load a model directory → dict of DataFrames + metadata (D6
    surface: labels, is_complementary)."""
    meta_row = spark.read.json(f"{path}/meta").collect()[0]
    meta = json.loads(meta_row["meta"])
    return {
        "weights": spark.read.parquet(f"{path}/weights"),
        "dictionary": spark.read.parquet(f"{path}/dictionary"),
        "df_counts": spark.read.parquet(f"{path}/df_counts"),
        **meta,
    }


# ------------------------------------------------------------------ #
# serving-side single-document path (D1-D4, driver-local)
# ------------------------------------------------------------------ #

# [\W_]+ ≡ split on anything outside \p{L}\p{Nd} (Python \w = letters +
# digits + underscore; adding _ to the split class matches the Java regex
# contract NaiveBayesServlet.scala:80).
_TOKEN_RE = re.compile(r"[\W_]+", re.UNICODE)


@dataclass
class NBServingModel:
    """In-core model for request/response classification — the analog of
    the servlet's init-time state (``NaiveBayesServlet.scala:34-64``)."""

    dictionary: dict[str, int]  # term → index
    df_counts: dict[int, int]  # index → df; index -1 = corpus size (F7)
    weights: np.ndarray  # (T, C)
    labels: list  # class labels, column order
    is_complementary: bool = True

    @classmethod
    def from_dataframes(cls, weights: DataFrame, dictionary: DataFrame, df_counts: DataFrame) -> "NBServingModel":
        dic = {r["term"]: r["index"] for r in dictionary.collect()}
        dfc = {r["index"]: r["df"] for r in df_counts.collect()}
        labels = sorted(
            r["label"] for r in weights.select("label").distinct().collect()
        )
        lab_pos = {l: i for i, l in enumerate(labels)}
        w = np.zeros((len(dic), len(labels)), dtype=np.float64)
        for r in weights.select("label", "term", "w").collect():
            idx = dic.get(r["term"])
            if idx is not None:
                w[idx, lab_pos[r["label"]]] = r["w"]
        return cls(dictionary=dic, df_counts=dfc, weights=w, labels=labels)

    def vectorize_document(self, text: str) -> dict[int, float]:
        """D1 (``NaiveBayesServlet.scala:76-106``): tokenize, unigram
        counts, TF-IDF per in-dictionary term (out-of-dict dropped)."""
        tokens = [
            t for t in _TOKEN_RE.split(text.lower()) if t and t != "_"
        ]
        counts: dict[str, int] = {}
        for t in tokens:
            counts[t] = counts.get(t, 0) + 1
        n_docs = self.df_counts.get(-1, 1)
        vec: dict[int, float] = {}
        for term, tf_ in counts.items():
            idx = self.dictionary.get(term)
            if idx is None:
                continue
            df_ = self.df_counts.get(idx, 0)
            vec[idx] = float(np.sqrt(tf_) * (np.log(n_docs / (df_ + 1.0)) + 1.0))
        return vec

    def classify_full(self, vec: dict[int, float]) -> np.ndarray:
        """D2: score vector over labels (lower = better, complement)."""
        scores = np.zeros(len(self.labels), dtype=np.float64)
        for idx, v in vec.items():
            scores += v * self.weights[idx]
        return scores

    @staticmethod
    def argmax(scores: np.ndarray) -> tuple[int, float]:
        """D3 (``NaiveBayesServlet.scala:120-130``) on negated scores."""
        best = int(np.argmin(scores))
        return best, float(scores[best])

    def classify_text(self, text: str):
        """D4: compose D1 → D2 → D3 → reverse label map."""
        best, _ = self.argmax(self.classify_full(self.vectorize_document(text)))
        return self.labels[best]
