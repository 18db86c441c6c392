"""The benchmark workloads: ``samsara_book`` and ``nb_text``.

Each workload has two parts, both calling only public functions of
``mahout_samsara_book_spark``:

- ``*_sources``: the set-up half — read the workload's tables through
  the sources layer and scan them once;
- ``*_pass``: one timed pass.  Every call into the package runs inside
  a span named ``<layer>.<call>``; outputs are checked against numpy
  (or, for serving, against the batch predictions) after the timed call
  returns.

A pass returns the workload's named metrics (README.md).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

from mahout_samsara_book_spark import Drm
from mahout_samsara_book_spark.algorithms.bahmani import compute_point_weights, d_sample
from mahout_samsara_book_spark.algorithms.bfgs import bfgs
from mahout_samsara_book_spark.algorithms.naive_bayes import (
    NBServingModel,
    predict_text_nb,
    train_text_nb,
)
from mahout_samsara_book_spark.algorithms.regression import dridge_table, test_beta_table
from mahout_samsara_book_spark.algorithms.twcnb import twcnb_train
from mahout_samsara_book_spark.functions.text import (
    build_dictionary,
    doc_frequencies,
    term_counts,
)
from mahout_samsara_book_spark.operators.dedup import dedup_index_persist, ingest_batch
from mahout_samsara_book_spark.sources.tables import (
    LINEITEM_FEATURES,
    embeddings_drm,
    lineitem_drm,
    load_table,
)
from mahout_samsara_book_spark.streaming.serving import NBHttpServer
from pyspark.sql import functions as F

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

RIDGE_FEATS = ["l_quantity", "l_discount"]
RIDGE_Y = "l_extendedprice"
RIDGE_LAM = 0.1
AX_BETA = np.array([2.0, 0.001, -1.5, 3.0])
BFGS_MIN = np.array([3.0, 5.0])

# serving: open-loop rates (requests/s), window per rate, the rate whose
# latency is the headline, and the p99 limit that defines max rate
SERVE_RATES = (150, 400, 800)
SERVE_WINDOW_S = 2.5
SERVE_HEADLINE_RATE = 400
SERVE_P99_LIMIT_MS = 50.0


# span-name prefix -> package layer
LAYERS = {"dedup": "operators", "serving": "streaming"}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    fx: dict  # fixture paths and in-core operands (fixtures.write_all)
    work_dir: str
    cores: int
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)

    def call(self, name: str, fn):
        """Run one timed operation in span ``name`` (``layer.call``).
        An exception counts as a failed operation and is re-raised."""
        self.attempted += 1
        prefix = name.split(".", 1)[0]
        with self.tracer.span(name, LAYERS.get(prefix, prefix)):
            try:
                return fn()
            except Exception:
                self.failed += 1
                raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        ok = bool(ok)
        self.checks.append({"check": name, "ok": ok, "detail": detail})
        if not ok:
            self.failed += 1


def tracer_last(ctx: Ctx, name: str) -> float:
    """Wall of the latest span called ``name``."""
    return ctx.tracer.by_name(name)[-1].wall


def _rel_err(got: np.ndarray, want: np.ndarray) -> float:
    got, want = np.asarray(got, float), np.asarray(want, float)
    return float(np.linalg.norm(got - want) / max(np.linalg.norm(want), 1e-300))


def _median(xs) -> float:
    return float(statistics.median(xs))


# --------------------------------------------------------------------- #
# samsara_book
# --------------------------------------------------------------------- #


def book_sources(ctx: Ctx) -> dict:
    d = ctx.fx["dir"]
    li = load_table(ctx.spark, d, "lineitem")
    src = {
        "lineitem": li,
        "drm": lineitem_drm(ctx.spark, d),
        "embeddings": embeddings_drm(ctx.spark, d),
        "mmul_a": Drm(load_table(ctx.spark, d, "mmul_a"), ncol=ctx.fx["mmul_b"].shape[0]),
    }
    li.count()
    src["embeddings"].df.count()
    src["mmul_a"].df.count()
    return src


def book_pass(ctx: Ctx, src: dict) -> dict:
    fx = ctx.fx
    x = fx["lineitem_np"]  # (rows, 4) in LINEITEM_FEATURES order
    ones = np.ones((x.shape[0], 1))
    q, ext, disc = x[:, 0], x[:, 1], x[:, 2]
    li, d = src["lineitem"], src["drm"]

    # --- ridge + coefficient t-tests -------------------------------- #
    beta = ctx.call(
        "algorithms.dridge",
        lambda: dridge_table(li, RIDGE_FEATS, RIDGE_Y, lam=RIDGE_LAM),
    )
    xr = np.hstack([ones, q[:, None], disc[:, None]])
    aug_x = np.vstack([xr, np.sqrt(RIDGE_LAM) * np.eye(3)])
    aug_y = np.concatenate([ext, np.zeros(3)])
    want_beta = np.linalg.lstsq(aug_x, aug_y, rcond=None)[0]
    ctx.check("ridge_beta_vs_lstsq", _rel_err(beta, want_beta) < 1e-6,
              f"rel={_rel_err(beta, want_beta):.2e}")

    tb = ctx.call(
        "algorithms.test_beta",
        lambda: test_beta_table(li, [F.col("l_quantity"), F.col("l_discount") * 100.0], RIDGE_Y),
    )
    xt = np.hstack([ones, q[:, None], 100.0 * disc[:, None]])
    bt, rss = np.linalg.lstsq(xt, ext, rcond=None)[:2]
    se = np.sqrt(rss[0] / (len(ext) - 3) * np.diag(np.linalg.inv(xt.T @ xt)))
    ctx.check("t_test_beta_se",
              _rel_err(tb["beta"], bt) < 1e-6 and _rel_err(tb["se"], se) < 1e-5,
              f"beta_rel={_rel_err(tb['beta'], bt):.2e} se_rel={_rel_err(tb['se'], se):.2e}")

    # --- DRM operators ------------------------------------------------ #
    g = ctx.call("drm.gram", d.gram)
    ctx.check("gram_frobenius", _rel_err(g, x.T @ x) < 1e-5, f"rel={_rel_err(g, x.T @ x):.2e}")
    cs = ctx.call("drm.colsums", d.colsums)
    ctx.check("colsums", _rel_err(cs, x.sum(0)) < 1e-9)
    axs = ctx.call("drm.ax", lambda: d.ax(AX_BETA).colsums())
    ctx.check("ax_colsum", _rel_err(axs, [x.sum(0) @ AX_BETA]) < 1e-9)

    a_np, b_np = fx["mmul_a_np"], fx["mmul_b"]
    mm = ctx.call("drm.mmul", lambda: src["mmul_a"].mmul(b_np).colsums())
    ctx.check("mmul_colsums", _rel_err(mm, a_np.sum(0) @ b_np) < 1e-9)
    head = Drm(src["mmul_a"].df.filter(F.col("row_id") < 64), ncol=a_np.shape[1])
    keys, block = head.mmul(b_np).collect_keys_matrix()
    diff = float(np.linalg.norm(block[np.argsort(keys)] - a_np[:64] @ b_np))
    ctx.check("mmul_frobenius_1e-5", diff < 1e-5, f"frob={diff:.2e}")

    mb = ctx.call(
        "drm.map_block",
        lambda: d.map_block(lambda k, b: (k, b - b.mean(axis=1, keepdims=True))).colsums(),
    )
    ctx.check("map_block_colsums", _rel_err(mb, (x - x.mean(1, keepdims=True)).sum(0)) < 1e-9)
    ar = ctx.call(
        "drm.allreduce",
        lambda: d.allreduce_block(lambda k, b: b.sum(axis=0)[None, :], lambda a, b: a + b),
    )
    ctx.check("allreduce_colsums", _rel_err(ar[0], x.sum(0)) < 1e-9)

    # --- kernels: in-core single-threaded product (hpc baseline) ------ #
    ctx.call("kernels.incore_mmul", lambda: a_np @ b_np)

    # --- TWCNB, Bahmani, BFGS ---------------------------------------- #
    labeled = Drm.from_columns(li, F.col("l_linenumber") - 1, LINEITEM_FEATURES)
    model = ctx.call("algorithms.twcnb_train", lambda: twcnb_train(labeled, alpha=1.0))
    lab = fx["linenumber_np"] - 1
    per_class = np.stack([x[lab == c].sum(0) for c in np.unique(lab)])
    comp = per_class.sum(0)[None, :] - per_class
    theta = np.log((comp + 1.0) / (comp.sum(1, keepdims=True) + x.shape[1]))
    ctx.check("twcnb_theta", _rel_err(model.theta.T, theta) < 1e-9)

    def bahmani():
        centers, y = d_sample(src["embeddings"], sketch_size=20, iterations=3, seed=42)
        w = compute_point_weights(y, centers.shape[0])
        y.unpersist()
        return centers, w

    centers, w = ctx.call("algorithms.bahmani", bahmani)
    ctx.check("bahmani_weights_sum_1", abs(float(w.sum()) - 1.0) < 1e-9 and len(w) == len(centers))

    q2 = np.diag([2.0, 0.5])
    grads = [0]

    def grad(v):
        grads[0] += 1
        return 2.0 * (q2 @ (v - BFGS_MIN))

    xmin = ctx.call(
        "algorithms.bfgs",
        lambda: bfgs(lambda v: float((v - BFGS_MIN) @ q2 @ (v - BFGS_MIN)) - 3.5, grad,
                     np.array([45.0, -32.0]), max_iter=40, epsilon=1e-7),
    )
    iters = grads[0] - 1
    err = float(np.abs(xmin - BFGS_MIN).sum())
    ctx.check("bfgs_l1_1e-7_in_40", err < 1e-7 and iters <= 40, f"l1={err:.1e} iters={iters}")

    m, k, n = a_np.shape[0], a_np.shape[1], b_np.shape[1]
    ridge = tracer_last(ctx, "algorithms.dridge") + tracer_last(ctx, "algorithms.test_beta")
    mmul = tracer_last(ctx, "drm.mmul")
    return {
        "ridge_fit_s": ridge,
        "mmul_gflops": 2.0 * m * k * n / mmul / 1e9,
        "algorithms.bfgs_iters": iters,
    }


# --------------------------------------------------------------------- #
# nb_text
# --------------------------------------------------------------------- #


class TimedModel:
    """Serving model wrapper handed to ``NBHttpServer``: records the
    handler-side classification time of every request."""

    def __init__(self, model: NBServingModel):
        self._model = model
        self.times: list[float] = []

    def classify_text(self, text: str):
        t0 = time.perf_counter()
        label = self._model.classify_text(text)
        self.times.append(time.perf_counter() - t0)
        return label


def nb_sources(ctx: Ctx) -> dict:
    d = ctx.fx["dir"]
    docs = load_table(ctx.spark, d, "documents")
    return {
        "docs": docs,
        "n_docs": docs.count(),
        "corpus": load_table(ctx.spark, d, "corpus"),
        "batches": [load_table(ctx.spark, d, f"batch_{i}") for i in range(len(ctx.fx["copies"]))],
    }


def _dedup_stage(ctx: Ctx, src: dict) -> dict:
    """Build the dedup index over the corpus, then ingest the batches in
    order; every planted copy must come back with dup_of = its
    original."""
    path = os.path.join(ctx.work_dir, "index")
    shutil.rmtree(path, ignore_errors=True)
    ctx.call("dedup.index_persist", lambda: dedup_index_persist(src["corpus"], path))
    dups = 0
    for i, batch in enumerate(src["batches"]):
        rows = ctx.call("dedup.ingest_batch", lambda b=batch: ingest_batch(b, path).collect())
        got = {r["doc_id"]: r["dup_of"] for r in rows if not r["keep"]}
        planted = ctx.fx["copies"][i]
        dups += len(got)
        missed = sum(got.get(c) != o for c, o in planted.items())
        ctx.check(f"batch{i}_planted_copies_dup_of_original", missed == 0 and len(got) == len(planted),
                  f"missed={missed} flagged={len(got)} planted={len(planted)}")
    ds = pads.dataset(path + "/buckets", format="parquet", partitioning="hive")
    n_index = len(np.unique(ds.to_table(columns=["doc_id"]).column("doc_id").to_numpy()))
    sz = ctx.fx["sizes"]
    n_batch_docs = sz.dedup_batches * (sz.batch_new + sz.batch_copies)
    n_want = sz.dedup_corpus + n_batch_docs
    ctx.check("index_rows_eq_corpus_plus_batches", n_index == n_want, f"{n_index} vs {n_want}")
    index_bytes = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )
    ingest = [s.wall for s in ctx.tracer.by_name("dedup.ingest_batch")][-len(src["batches"]):]
    shutil.rmtree(path, ignore_errors=True)
    build = tracer_last(ctx, "dedup.index_persist")
    return {
        "index_build_s": build,
        "ingest_batch_s": _median(ingest),
        "ingest_docs_per_s": n_batch_docs / sum(ingest),
        "dedup.dups_found": dups,
        "dedup.index_bytes_per_input_byte": index_bytes / ctx.fx["text_bytes"],
    }


def nb_pass(ctx: Ctx, src: dict) -> dict:
    """Ingest the documents through the dedup index, then train, batch
    predict and classify in process.  Serving runs after the pass."""
    out = _dedup_stage(ctx, src)
    docs, n_docs = src["docs"], src["n_docs"]
    cached = []

    def keep(df):
        cached.append(df.cache())
        return df

    def fit_weights():
        w = keep(train_text_nb(docs, label_col="lang"))
        w.collect()
        return w

    with ctx.tracer.span("algorithms.nb_train", "algorithms"):
        w = ctx.call("algorithms.train_text_nb", fit_weights)
        counts = keep(term_counts(docs))
        ctx.call("functions.term_counts", counts.count)
        dic = keep(build_dictionary(counts))
        ctx.call("functions.dictionary", dic.count)
        dft = keep(doc_frequencies(counts))
        ctx.call("functions.doc_freq", dft.count)
        model = ctx.call(
            "algorithms.nb_model",
            lambda: NBServingModel.from_dataframes(
                w, dic, dft.join(dic, "term").select("index", "df")),
        )
        model.df_counts[-1] = n_docs
    pred = ctx.call(
        "algorithms.nb_predict",
        lambda: predict_text_nb(docs, w, dft, n_docs).collect(),
    )
    for df in cached:
        df.unpersist()
    want = {r["doc_id"]: r["label"] for r in pred}
    ctx.check("predict_covers_corpus", len(want) == n_docs, f"{len(want)}/{n_docs}")

    sample = ctx.fx["documents_np"][: min(500, n_docs)]
    local = ctx.call("algorithms.nb_classify", lambda: [model.classify_text(t) for _, t in sample])
    classify_us = tracer_last(ctx, "algorithms.nb_classify") / len(sample) * 1e6
    agree = sum(lab == want[i] for (i, _), lab in zip(sample, local))
    ctx.check("in_process_labels_eq_batch", agree == len(sample), f"{agree}/{len(sample)}")

    train_s = tracer_last(ctx, "algorithms.nb_train")
    predict_s = tracer_last(ctx, "algorithms.nb_predict")
    return {
        **out,
        "nb_train_s": train_s,
        "nb_predict_docs_per_s": n_docs / predict_s,
        "algorithms.nb_classify_us": classify_us,
        "_serving": (model, sample, want),
    }


def _percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(np.ceil(p / 100.0 * len(xs))) - 1)]


def serve(ctx: Ctx, pass_result: dict) -> dict:
    """Open-loop POST load at SERVE_RATES against an in-process server
    holding the model of ``pass_result``; the client is one separate
    process (serve_client.py).  Every response is checked against the
    batch prediction for its document."""
    model, sample, want = pass_result["_serving"]
    timed = TimedModel(model)
    server = NBHttpServer(timed).start()
    req = {
        "port": server.port,
        "texts": [t for _, t in sample],
        "rates": list(SERVE_RATES),
        "window_s": SERVE_WINDOW_S,
        "threads": ctx.cores,
    }
    try:
        with ctx.tracer.span("serving.load", "streaming"):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "serve_client.py")],
                input=json.dumps(req), capture_output=True, text=True, timeout=120,
            )
    finally:
        server.stop()
    if proc.returncode != 0:
        raise RuntimeError(f"serve client failed: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout)
    out: dict = {"serving.rates": {}}
    wrong = 0
    max_rps = 0.0
    for rate in SERVE_RATES:
        rows = result[str(rate)]
        ctx.attempted += len(rows)
        lat = [r[1] * 1e3 for r in rows]
        late = [r[2] * 1e3 for r in rows]
        bad = sum(r[3] is None or r[3] != str(want[sample[r[0]][0]]) for r in rows)
        wrong += bad
        ctx.failed += bad
        tail = late[-max(1, len(late) // 10):]
        p99 = _percentile(lat, 99)
        meets = bad == 0 and p99 <= SERVE_P99_LIMIT_MS and _median(tail) <= SERVE_P99_LIMIT_MS
        if meets:
            max_rps = max(max_rps, float(rate))
        out["serving.rates"][rate] = {
            "n": len(rows), "p50_ms": _percentile(lat, 50), "p99_ms": p99,
            "late_p99_ms": _percentile(late, 99), "meets_limit": meets,
        }
    ctx.check("http_labels_eq_batch", wrong == 0, f"{wrong} wrong or failed")
    head = out["serving.rates"][SERVE_HEADLINE_RATE]
    all_lat = [r[1] * 1e3 for rate in SERVE_RATES for r in result[str(rate)]]
    all_late = [r[2] * 1e3 for rate in SERVE_RATES for r in result[str(rate)]]
    handler_ms = _median(timed.times) * 1e3
    out.update({
        "serve_p50_ms": head["p50_ms"],
        "serve_p99_ms": head["p99_ms"],
        "serve_max_rps": max_rps,
        "serving.handler_us": handler_ms * 1e3,
        "serving.http_overhead_ms": _median(all_lat) - handler_ms,
        "serving.generator_late_ms": _percentile(all_late, 99),
    })
    return out
