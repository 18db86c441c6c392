"""Bahmani et al. k-means|| oversampling sketch (SURVEY §2C C8/C9;
reference ``myMahoutApp/.../BahmaniSketch.scala:37-174``; paper:
"Scalable K-Means++", VLDB 2012 — the same published algorithm behind
MLlib's ``KMeans(initMode='k-means||')``).

State layout mirrors the reference: a DRM ``Y = [label, d², features]``
(width ncol+2, ``BahmaniSketch.scala:23-26``). Per iteration:

- φ = Σ d²  — one column-sum over the d² slice (``:59``)
- each point is sampled w.p. ℓ·d²/φ with a PER-ROW portable uniform
  derived from ``md5(seed:iteration:rowkey)`` — deliberately stronger
  than the reference's per-partition ``new Random(subseed *
  keys(0).hashCode)`` (``:71``): the reference's draw sequence changes
  whenever partition boundaries move (a real hazard on a 1000-executor
  cluster where split planning shifts with file layout), whereas the
  per-row hash makes the sketch bit-reproducible under ANY
  partitioning and lets the DuckDB oracle replay it exactly.
  (One caveat, ADVICE r5: the DRAWS are partitioning-invariant, but
  the threshold p = ℓ·d²/φ depends on φ, whose last-ulp float value
  can vary with partition summation order; a uniform landing within
  ~1 ulp of p could then flip a draw between engines. Astronomically
  unlikely on real data and never observed across the fixture scales;
  a fully airtight variant would round φ to a partitioning-invariant
  precision before the compare on both engines.)
- sampled rows become new candidate centers (allreduce rbind,
  ``:63-92``), globally ordered by row key — again
  partitioning-invariant, unlike raw partition-concatenation order
- distances/labels update against the NEW centers only, keeping the
  running min — broadcast centers + vectorized numpy block kernel
  (the reference's Elkan triangle pruning, ``:128-142``, is an in-core
  skip-list optimization; the vectorized ``dist`` kernel computes the
  same result in one BLAS call per block)

Each iteration persists Y (reference checkpoints, ``:46,51,94``) and
releases the round it superseded once the new one is materialized.
"""

from __future__ import annotations

import numpy as np

from mahout_samsara_book_spark.drm.drm import Drm
from mahout_samsara_book_spark.kernels.incore import dist


def _portable_uniform(seed: int, iteration: int, keys: np.ndarray) -> np.ndarray:
    """Per-row uniform in [0, 1): first 60 bits of
    ``md5("{seed}:{iteration}:{key}")`` / 2^60 — the same construction
    (and therefore bit-identical doubles) as the SQL
    ``('0x' || substring(md5(...), 1, 15))::BIGINT / 2^60``."""
    import hashlib

    out = np.empty(len(keys), dtype=np.float64)
    prefix = f"{seed}:{iteration}:"
    for i, k in enumerate(keys):
        h = hashlib.md5(f"{prefix}{int(k)}".encode()).hexdigest()
        out[i] = int(h[:15], 16) / 1152921504606846976.0
    return out


def d_sample(
    drm_a: Drm, sketch_size: int, iterations: int = 5, seed: int = 12345
) -> tuple[np.ndarray, Drm]:
    """Returns (sketch centers matrix ~sketch_size × ncol, final Y DRM).

    Per-round oversampling factor ℓ = sketch_size / iterations, so the
    expected candidate count over all rounds ≈ sketch_size.
    """
    n = drm_a.ncol
    spark = drm_a.spark
    ell = max(1.0, sketch_size / float(iterations))

    # seed center: one deterministic row (drmSampleKRows, scala:48)
    c0 = drm_a.sample_k_rows(1, seed=seed)
    centers = c0.copy()
    bc = spark.sparkContext.broadcast(c0)

    def init_y(keys, block):
        d2 = dist(block, bc.value)[:, 0]
        return keys, np.hstack(
            [np.zeros((block.shape[0], 1)), d2[:, None], block]
        )

    # lazy checkpoint: the φ column-sum at the top of each round is a
    # full pass anyway — let it materialize the cache (one scan/round
    # instead of two)
    y = drm_a.map_block(init_y, ncol=n + 2).checkpoint(eager=False)

    prev = None  # predecessor cache, droppable once y materializes
    for it in range(1, iterations + 1):
        phi = float(y.slice_cols(1, 2).colsums()[0])
        # the φ pass has now materialized y's cache — its parent's cache
        # is no longer reachable from any future job
        if prev is not None:
            prev.unpersist()
            prev = None
        if phi <= 0:
            break

        def sample_fn(keys, block, _it=it, _phi=phi):
            u = _portable_uniform(seed, _it, keys)
            p = np.minimum(1.0, ell * block[:, 1] / _phi)
            mask = u < p
            # carry the row key in col 0 so the driver can impose a
            # global, partitioning-invariant candidate order
            return np.hstack(
                [keys[mask].astype(np.float64)[:, None], block[mask, 2:]]
            )

        sampled = y.allreduce_block(
            sample_fn, lambda a, b: np.vstack([a, b])
        )
        if sampled.shape[0] == 0:
            continue
        sampled = sampled[np.argsort(sampled[:, 0], kind="stable"), 1:]
        offset = centers.shape[0]
        centers = np.vstack([centers, sampled])
        bc_new = spark.sparkContext.broadcast(sampled)

        def update_y(keys, block, _off=offset):
            d_new = dist(block[:, 2:], bc_new.value)
            arg = d_new.argmin(axis=1)
            m = d_new[np.arange(block.shape[0]), arg]
            better = m < block[:, 1]
            block = block.copy()
            block[better, 0] = _off + arg[better]
            block[better, 1] = m[better]
            return keys, block

        # lazy: y_next materializes at next round's φ pass; keep y's
        # cache alive until then (unpersisting now would force a full
        # lineage recompute)
        prev, y = y, y.map_block(update_y, ncol=n + 2).checkpoint(eager=False)

    if prev is not None:
        # no φ pass follows the last update: materialize it here so the
        # last superseded round is released before returning
        y.checkpoint()
        prev.unpersist()
    return centers, y


def reduce_sketch(
    centers: np.ndarray,
    weights: np.ndarray,
    k: int,
    seed: int = 1,
    iterations: int = 25,
) -> np.ndarray:
    """The k-means|| follow-on step (Bahmani et al. §3.1): reduce the
    oversampled sketch to k final centers with WEIGHTED k-means on the
    driver — candidates are few, so this is in-core by design, exactly
    like the reference returns an in-core sketch matrix for downstream
    clustering. Weighted k-means++ seeding + weighted Lloyd."""
    rng = np.random.Generator(np.random.PCG64(seed))
    w = np.asarray(weights, dtype=np.float64)
    w = w / w.sum()
    # weighted k-means++ init
    first = rng.choice(len(centers), p=w)
    chosen = [first]
    d2 = dist(centers, centers[[first]])[:, 0]
    for _ in range(1, k):
        probs = w * d2
        total = probs.sum()
        if total <= 0:
            nxt = int(rng.choice(len(centers)))
        else:
            nxt = int(rng.choice(len(centers), p=probs / total))
        chosen.append(nxt)
        d2 = np.minimum(d2, dist(centers, centers[[nxt]])[:, 0])
    cur = centers[chosen].copy()
    for _ in range(iterations):
        assign = dist(centers, cur).argmin(axis=1)
        new = cur.copy()
        for j in range(k):
            mask = assign == j
            if w[mask].sum() > 0:
                new[j] = np.average(centers[mask], axis=0, weights=w[mask])
        if np.allclose(new, cur, atol=1e-12):
            break
        cur = new
    return cur


def compute_point_weights(drm_y: Drm, n_centers: int) -> np.ndarray:
    """C9 (``BahmaniSketch.scala:159-174``): normalized histogram of
    nearest-center assignments — relationally, groupBy(label).count()
    over Y's label column, normalized to sum 1."""
    from pyspark.sql import functions as F

    pdf = (
        drm_y.df.select(F.col("features")[0].cast("long").alias("label"))
        .groupBy("label")
        .count()
        .toPandas()
    )
    w = np.zeros(n_centers, dtype=np.float64)
    w[pdf["label"].to_numpy()] = pdf["count"].to_numpy(dtype=np.float64)
    return w / w.sum()
