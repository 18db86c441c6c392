"""Similarity search over an embedding column (north star, BASELINE.json).

- :func:`cosine_topk` — brute-force exact top-k: the correctness baseline.
  O(n·m) pairs; right for reranking and small candidate sets.
- :func:`lsh_sign_buckets` / :func:`lsh_topk` — the scale path: random-
  hyperplane (sign) LSH. Hyperplane j's component for dimension d is a
  deterministic ±1 derived from the portable hash of ``seed:j:d``, so the
  DuckDB oracle reproduces the projection bit-for-bit (no float plane
  literals needed). Buckets shrink the join from O(n²) to per-bucket;
  at 100 TB bucket width is tuned by n_planes and skew lands in AQE's
  skew-join splitting.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mahout_samsara_book_spark.cache import cached_count
from mahout_samsara_book_spark.drm.drm import _decode
from mahout_samsara_book_spark.partitioning import ensure_min_partitions


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


# higher-order array functions (zip_with + aggregate) never enter
# whole-stage codegen — each element costs two interpreted lambda
# dispatches, measured ~32 µs per 64-dim pair, which made the fold the
# ENTIRE cost of the distributed verify (54 s of a 64 s sf10 query).
# When the vector dimension is fixed and known, unroll instead: 2·dim
# codegen'd array accesses with the SAME left-associated addition order
# as the fold (0+p₀+p₁+…), so results are bit-identical — including
# null propagation, since F.get past either array's end yields null
# exactly like zip_with's padding. Dims above this cap fall back to the
# fold rather than generate unbounded expression trees.
_DOT_UNROLL_MAX_DIM = 512


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    s: Column = F.lit(0.0)
    for i in range(dim):
        s = s + F.get(a, i) * F.get(b, i)
    # the probed dim comes from ONE row (_fixed_dim): a ragged relation
    # would silently TRUNCATE longer vectors to the probe (plausible
    # wrong cosines, and nondeterministic in which dim wins).  Guard:
    # rows not matching the probe fall back to the exact fold — for a
    # conforming (fixed-dim) relation the codegen'd branch is always
    # taken and the two size checks are free
    conforms = (F.size(a) == F.lit(dim)) & (F.size(b) == F.lit(dim))
    return F.when(conforms, s).otherwise(_dot(a, b))


# (semanticHash, Catalyst size estimate) → probed dim.  Keyed on the
# ANALYZED plan's semantic hash so repeated verifies over the same
# relation pay the single-row probe once per process, not once per
# invocation (VERDICT r9 item 8); the size estimate guards the
# regenerated-fixture-at-same-path case the way the layout caches'
# source fingerprints do.  Callers that already KNOW the dimension
# (ivf/pq paths hold the collected center matrix; lsh_topk takes dim
# as a parameter) thread it through `dim=` and skip the probe
# entirely — the ADVICE r9 lazy path.
_DIM_CACHE: dict[tuple, int | None] = {}


def _fixed_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimension from the first row — ONE single-partition job,
    cached per plan fingerprint (above).  The engine's embedding
    relations are fixed-dimension by contract (every in-core
    collect/matrix builder already assumes it); callers use this only
    on heavy join-path plans where the probe amortizes, and prefer a
    caller-supplied dim where one is known."""
    key = None
    try:
        key = (
            int(df._jdf.queryExecution().analyzed().semanticHash()),
            vec_col,
            _plan_size_bytes(df),
        )
        if key in _DIM_CACHE:
            return _DIM_CACHE[key]
    except Exception:  # noqa: BLE001 — cache key is best-effort
        key = None
    try:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        d = row["d"] if row is not None else None
        out = int(d) if d and 0 < d <= _DOT_UNROLL_MAX_DIM else None
    except Exception:  # noqa: BLE001 — dispatch hint only
        out = None
    if key is not None:
        _DIM_CACHE[key] = out
    return out


# Corpus plans at or below this Catalyst-estimated size ride the
# in-core broadcast fast path; larger corpora use the distributed
# candidate-join verify. 32 MB mirrors the order of magnitude Spark
# itself uses for broadcast-join decisions (autoBroadcastJoinThreshold's
# spirit, sized up for local numpy use).
BROADCAST_BYTES_LIMIT = 32 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated plan size (bytes) — free (no Spark job):
    parquet scans carry file sizes, projections propagate them. Returns
    None on Connect or if the internal API moves; callers then fall back
    to a count-based dispatch."""
    try:
        sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.BigInt to a Python int on some Spark versions
        # and hands back a JavaObject on others
        return int(sz if isinstance(sz, int) else sz.toString())
    except Exception:  # noqa: BLE001 — internal API, any failure → fallback
        return None


def _pick_verify_strategy(
    base: DataFrame, broadcast_bytes: int = BROADCAST_BYTES_LIMIT
) -> str:
    """'broadcast' when the whole corpus comfortably ships to every
    worker (and the driver), else 'join'. Prefers the job-free Catalyst
    size estimate; the count() fallback only triggers where the internal
    stats API is unavailable."""
    sz = _plan_size_bytes(base)
    if sz is not None:
        return "broadcast" if sz <= broadcast_bytes else "join"
    return "broadcast" if base.count() <= 200_000 else "join"


def _topk_desc_tiebreak(ids, scores, k: int):
    """Indices of the top-k by (score desc, id asc) — bit-identical to a
    full ``lexsort((ids, -scores))[:k]`` but selection-based: partition
    to the rows that can reach the top k (score ≥ k-th largest, which
    keeps ALL boundary ties so the id tiebreak stays exact), then one
    small lexsort of that subset. O(n + t·log t) with t = k + ties,
    vs O(n·log n) for the full sort — the difference between 27s and
    ~8s on the 20k-corpus exact-ANN benchmark.

    Non-finite scores (a zero-norm embedding yields 0/0 = NaN cosine)
    are dropped up front: ``np.partition`` treats NaN as largest, so a
    single NaN would otherwise inflate the selection threshold and
    silently shift real candidates out of the top k (ADVICE r5). A NaN
    similarity is never a valid neighbor, so the filtered result is
    the intended semantics; when fewer than k finite scores remain,
    fewer than k rows come back."""
    finite = np.isfinite(scores)
    if not finite.all():
        keep = np.nonzero(finite)[0]
        ids, scores = ids[keep], scores[keep]
    else:
        keep = None
    n = scores.size
    if n > k:
        thresh = np.partition(scores, n - k)[n - k]
        sel = np.nonzero(scores >= thresh)[0]
    else:
        sel = np.arange(n)
    order = np.lexsort((ids[sel], -scores[sel]))[:k]
    out = sel[order]
    return keep[out] if keep is not None else out


def _normed(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _unit(base: DataFrame, id_col: str) -> DataFrame:
    """``(id, u)``: each vector of a :func:`_normed` relation divided by
    its norm — one IEEE division per element, so every verify path
    scores the same unit rows. The norm enters as an array, not as a
    lambda capture: Catalyst inlines ``nrm``'s fold into a lambda that
    names it, and the fold then runs once per element (dim² per row)."""
    nrms = F.array_repeat(F.col("nrm"), F.size("v"))
    return base.select(
        F.col(id_col),
        F.zip_with(F.col("v"), nrms, lambda x, n: x / n).alias("u"),
    )


def _collect_block(df: DataFrame, id_col: str, vec_col: str):
    """``(ids, matrix)`` of a driver-sized relation in ascending id
    order: one ``toArrow()`` collect, decoded by the DRM block codec
    (the width is the first row's; ragged rows raise ``ValueError``)."""
    table = df.select(id_col, vec_col).toArrow().sort_by(id_col)
    return _decode(table, key=id_col, vec=vec_col)


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (a ≠ b):
    ``(vec_id, neighbor, cosine, rank)``. Ties broken by neighbor id.

    Strategies (auto-dispatch like the DRM matmul):

    - ``broadcast``: the normalized corpus ships in-core; each Arrow
      block does ONE BLAS matmul against it and local top-k — no join,
      no shuffle. Picked while Catalyst's plan-size estimate fits the
      broadcast threshold (a free dispatch — no eager first()/count()
      jobs before the real one; VERDICT r2 item 8).
    - ``pairs``: SQL self-join + window rank — the any-scale fallback
      (quadratic by nature; the scale path for big corpora is
      :func:`lsh_topk`).
    """
    emb = ensure_min_partitions(emb)
    base = _normed(emb, id_col, vec_col)
    if strategy == "auto":
        strategy = (
            "broadcast"
            if _pick_verify_strategy(base) == "broadcast"
            else "pairs"
        )
    if strategy == "broadcast":
        unit = _unit(base, id_col)
        bc = emb.sparkSession.sparkContext.broadcast(
            _collect_block(unit, id_col, "u")
        )

        def op(batches):
            all_ids, m = bc.value
            for b in batches:
                qids, blk = _decode(b, m.shape[1], id_col, "u")
                sims = blk @ m.T
                out_id, out_nb, out_cos, out_rk = [], [], [], []
                for vid, s in zip(qids, sims):
                    mask = all_ids != vid
                    # order: cosine desc, neighbor asc — tie-exact
                    # top-k SELECTION, not a full per-row corpus sort
                    cand_ids, cand_s = all_ids[mask], s[mask]
                    order = _topk_desc_tiebreak(cand_ids, cand_s, k)
                    out_id.extend([vid] * len(order))
                    out_nb.extend(cand_ids[order])
                    out_cos.extend(cand_s[order])
                    out_rk.extend(range(1, len(order) + 1))
                yield pa.RecordBatch.from_pydict(
                    {
                        "vec_id": np.asarray(out_id, dtype=np.int64),
                        "neighbor": np.asarray(out_nb, dtype=np.int64),
                        "cosine": np.asarray(out_cos, dtype=np.float64),
                        "rank": np.asarray(out_rk, dtype=np.int64),
                    }
                )

        return unit.mapInArrow(
            op, schema="vec_id long, neighbor long, cosine double, rank long"
        )
    l, r = base.alias("l"), base.alias("r")
    dim = _fixed_dim(base, "v")
    dot = (
        _dot_unrolled(F.col("l.v"), F.col("r.v"), dim)
        if dim
        else _dot(F.col("l.v"), F.col("r.v"))
    )
    sims = l.join(r, F.col(f"l.{id_col}") != F.col(f"r.{id_col}")).select(
        F.col(f"l.{id_col}").alias("vec_id"),
        F.col(f"r.{id_col}").alias("neighbor"),
        (dot / (F.col("l.nrm") * F.col("r.nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def auto_n_centers(emb: DataFrame) -> int:
    """The ~√n IVF list-count rule shared by every IVF consumer:
    ``max(16, isqrt(n // 2))``. A FIXED center count is a scale trap —
    the 16-list layout that fits 500 vectors gives 1250-wide buckets at
    20k vectors and a quadratic candidate stream. The DuckDB oracle
    mirrors this exactly (``GREATEST(16, FLOOR(SQRT(count(*) // 2)))``,
    entry_m5 ``_IVF_CTES``), so Spark and oracle pick the SAME layout at
    every SF. One metadata-only count()."""
    import math

    return max(16, math.isqrt(max(cached_count(emb), 2) // 2))


def ivf_centers(
    emb: DataFrame,
    n_centers: int = 16,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: ``n_centers`` deterministic sample rows as
    centroids, chosen by the portable md5 hash of the id (the same
    drmSampleKRows ordering — oracle-replayable, no float literals).
    ``(cid, center: array<double>)`` with cid = 0.. in hash order."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("center")
        )
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(n_centers)
        .select(
            (F.row_number().over(Window.orderBy("_h", id_col)) - 1)
            .cast("long")
            .alias("cid"),
            "center",
        )
    )


def _centers_matrix(centers, vec_col: str = "center"):
    """Collect the (small by construction — O(√n) rows) center relation
    to a driver matrix in ascending-cid order. Even at n = 10¹² vectors
    the √n-rule gives ~1M centers × 64 dims ≈ 0.5 GB — the practical
    broadcast ceiling; beyond it use :func:`ivf_assign_join`.

    Accepts an already-collected ``(cids, matrix)`` tuple and returns
    it untouched — composed operators (ivf_topk, ann_ivfpq_topk)
    collect once and hand the tuple to both the assign and probe
    passes instead of paying two identical collection actions.

    EAGER AT CONSTRUCTION: passing a DataFrame runs the collect (a
    Spark job) immediately — the matrix must exist before any consumer
    serializes its Arrow closure. Plan-audit-style callers that
    construct but never execute should pass the tuple form."""
    if isinstance(centers, tuple):
        return centers
    return _collect_block(centers, "cid", vec_col)


def ivf_assign(
    emb: DataFrame,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2, ties by
    cid) — the inverted-file partitioning step. ``(vec_id, cid)``.
    ``centers`` is the center relation or an already-collected
    ``(cids, matrix)`` tuple from :func:`_centers_matrix`.

    The assignment is :func:`ivf_probes`' rank-1 cell: the same
    broadcast-BLAS narrow pass and the same (d2, cid) tie contract.
    For center counts beyond the driver-collect ceiling the declared
    relational twin :func:`ivf_assign_join` keeps the old shape
    (parity-tested in tests/test_similarity_blas.py)."""
    return ivf_probes(emb, centers, 1, id_col, vec_col).select(
        F.col("q_id").alias(id_col), "cid"
    )


def ivf_assign_join(
    emb: DataFrame,
    centers: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Relational twin of :func:`ivf_assign` for the regime where the
    center relation exceeds the driver-collect/broadcast ceiling
    (≳1M centers): broadcast cross join + window argmin. Shuffles the
    n×centers pair stream — correct at any size, but strictly slower
    whenever the BLAS path is feasible. Kept as the declared fallback
    and as the parity oracle for the BLAS tie/ulp contract."""
    v = F.col(vec_col).cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(v, F.col("center"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = ensure_min_partitions(emb).crossJoin(F.broadcast(centers)).select(
        F.col(id_col), F.col("cid"), d2.alias("d2")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("cid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cid")
    )


def ivf_probes(
    emb: DataFrame,
    centers,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
) -> DataFrame:
    """``(q_id, cid)`` — each vector's ``nprobe`` nearest centroid
    cells in (d2, cid) lexicographic order, the IVF probe-list step.

    Execution: broadcast-BLAS, one NARROW Arrow pass, zero shuffle.
    The centroid matrix ships once per executor and every batch
    computes its distance block in the expanded form ‖x‖²+‖c‖²−2xᵀc,
    center-axis chunked to ~32 MB per task. (The relational form —
    broadcast cross join + window — shuffled the n×√n pair stream to
    rank it: at sf10 89M rows through one exchange per call, 167 s on
    kmeans_lloyd's three assigns vs ~9 s here.) Per-row selection:
    within each ascending-cid chunk a STABLE argsort on d2 takes the
    chunk's top-nprobe (ties → lowest cid; ``np.argmin``, its first
    column, when nprobe is 1), the survivors are re-ordered by cid so
    the cross-chunk candidate matrix stays cid-ascending among equal
    d2, and one final stable selection on d2 yields the global
    (d2, cid) order — the oracle's ``ORDER BY d2, cid``. Sub-ulp
    expanded-vs-fold noise can flip a pick only when two centers are
    equidistant to ~1e-15 relative — the same continuous-data
    robustness contract as the bahmani sampler (entry docstrings).
    Corpus-member centers are bit-safe: both sides evaluate identical
    expressions on identical slices, so the self-distance ties out
    exactly.

    ``with_rank=True`` appends the 1-based probe rank (round-13):
    rank 1 is the vector's NEAREST cell, i.e. :func:`ivf_assign`, so
    composed consumers (ivf_topk, ann_ivfpq_topk) derive assign +
    probes from ONE corpus pass instead of two."""
    cids, cmat = _centers_matrix(centers)
    c2 = (cmat * cmat).sum(axis=1)
    bc = emb.sparkSession.sparkContext.broadcast((cids, cmat, c2))
    base = ensure_min_partitions(
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
    )
    p = int(nprobe)

    def smallest(d, q):
        if q == 1:
            return np.argmin(d, axis=1)[:, None]
        return np.argsort(d, axis=1, kind="stable")[:, :q]

    def op(batches):
        k_ids, cm, cn = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            ids, x = _decode(batch, cm.shape[1], id_col, "_v")
            x2 = (x * x).sum(axis=1)
            b = len(x)
            cand_d, cand_c = [], []
            chunk = max(16, 4_000_000 // max(1, b))
            for lo in range(0, cm.shape[0], chunk):
                d2 = np.maximum(
                    0.0,
                    x2[:, None]
                    + cn[lo : lo + chunk][None, :]
                    - 2.0 * (x @ cm[lo : lo + chunk].T),
                )
                idx = smallest(d2, min(p, d2.shape[1]))
                sel_d = np.take_along_axis(d2, idx, axis=1)
                sel_c = k_ids[lo + idx]
                # keep the chunk block cid-ascending so the final stable
                # sort breaks cross-candidate d2 ties by cid
                ordc = np.argsort(sel_c, axis=1, kind="stable")
                cand_d.append(np.take_along_axis(sel_d, ordc, axis=1))
                cand_c.append(np.take_along_axis(sel_c, ordc, axis=1))
            all_d = np.concatenate(cand_d, axis=1)
            all_c = np.concatenate(cand_c, axis=1)
            pick = smallest(all_d, min(p, all_d.shape[1]))
            out_c = np.take_along_axis(all_c, pick, axis=1)
            n_out = out_c.shape[1]
            cols = {"q_id": np.repeat(ids, n_out), "cid": out_c.reshape(-1)}
            if with_rank:
                cols["rank"] = np.tile(
                    np.arange(1, n_out + 1, dtype=np.int64), b
                )
            yield pa.RecordBatch.from_pydict(cols)

    schema = "q_id long, cid long" + (", rank long" if with_rank else "")
    return base.mapInArrow(op, schema=schema)


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_centers: int | str = "auto",
    nprobe: int = 2,
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    centroid buckets and ranks exact cosine within the candidate union.
    The scale shape: candidate count ≈ nprobe/n_centers of the corpus per
    query instead of all of it. ``(vec_id, neighbor, cosine, rank)``.

    ``n_centers='auto'`` follows the classic ~√n rule,
    ``max(16, isqrt(n/2))``, balancing assignment cost (n·centers
    distance folds) against bucket width (n/centers): a fixed centroid
    count is the same scale trap as a fixed LSH grid — the 16-centroid
    list that fits 500 vectors gives 1250-wide buckets at 20k vectors
    and a 50s verify (measured; auto's 100 centroids → ~7s). The
    oracle computes the same count (see :func:`auto_n_centers`)."""
    if n_centers == "auto":
        n_centers = auto_n_centers(emb)
    # collect the center matrix ONCE; assign and probes share it
    centers = _centers_matrix(
        ivf_centers(emb, n_centers, seed, id_col, vec_col)
    )
    # ONE rank-carrying BLAS pass serves assign AND probes (round-13,
    # guide §1.2): rank 1 under the (d2, cid) tie contract IS the IVF
    # assignment, so the second full-corpus Arrow scan is gone; the
    # n·nprobe-row (3 longs) probe relation persists once and both
    # consumers read the cache.
    from mahout_samsara_book_spark.cache import track

    pr = track(
        ivf_probes(emb, centers, nprobe, id_col, vec_col, with_rank=True)
    )
    probes = pr.select("q_id", "cid")
    members = pr.filter(F.col("rank") == 1).select(
        F.col("q_id").alias("neighbor"), F.col("cid")
    )
    cand = (
        probes.join(members, "cid")
        .filter(F.col("q_id") != F.col("neighbor"))
        .select(F.col("q_id").alias("vec_id"), "neighbor")
    )
    # size-dispatched verify+rank — broadcast in-core scoring while the
    # corpus fits, distributed candidate-join above (see _verify_topk);
    # nprobe-duplicate candidates dedup inside the verify.  The center
    # matrix already told us the dimension — no probe job needed.
    base = _normed(emb, id_col, vec_col)
    return _verify_topk(
        base, cand, k, id_col, strategy, dim=int(centers[1].shape[1])
    )


def plane_sign(seed: int, j: int, d: int) -> int:
    """Deterministic ±1 for hyperplane j, dimension d — parity of the
    portable 60-bit hash of 'seed:j:d' (python twin of the SQL form)."""
    h = int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 1 else -1


def _proj_sql(seed: int, j: int, dim: int) -> str:
    """±1-projection of column ``v`` onto plane (seed, j) as a SQL
    string — sequential left-to-right fold, identical evaluation order
    to the DuckDB oracle's list_dot_product."""
    signs = ", ".join(
        f"{float(plane_sign(seed, j, d))!r}D" for d in range(dim)
    )
    return (
        f"aggregate(zip_with(v, array({signs}), (x, s) -> x * s), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _bucket_sql(seed: int, n_planes: int, dim: int) -> str:
    """Packed sign-bit bucket of ``v`` as one SQL string."""
    bits = " + ".join(
        f"(CASE WHEN ({_proj_sql(seed, j, dim)}) > 0 "
        f"THEN {2 ** j}L ELSE 0L END)"
        for j in range(n_planes)
    )
    return f"({bits})"


def lsh_sign_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """``(vec_id, bucket)`` — bucket = packed sign bits of ±1-projections.
    The planes are literal ±1 vectors, so each projection is one
    ``zip_with``/``aggregate`` fold — no UDF, oracle-replayable."""
    base = ensure_min_partitions(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # ONE parsed SQL string instead of n_planes×dim py4j-built literal
    # Columns — expression construction was the dominant cost at low SF
    bucket = F.expr(_bucket_sql(seed, n_planes, dim))
    return base.select(F.col(id_col), bucket.alias("bucket"))


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_planes: int | str = "auto",
    n_tables: int = 8,
    seed: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    strategy: str = "auto",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to LSH candidate
    pairs, unioned over ``n_tables`` independent sign-hash tables (the
    standard multi-probe recall lever: P(found) = 1-(1-p^planes)^tables).
    ``(vec_id, neighbor, cosine, rank)``. Per-table collision prob for
    angle θ is (1-θ/π)^n_planes — size n_planes for bucket width,
    n_tables for recall.

    ``n_planes='auto'`` sizes the bucket grid to the CORPUS:
    ``max(3, ceil(log2(n / 64)))`` targets ~64-vector buckets. A fixed
    plane count is the classic LSH scale trap — bucket width grows
    linearly with the corpus and candidate volume quadratically (a fixed
    3-plane/8-bucket grid at the 20k-vector scale fixture produced
    ~200M candidate pairs and minutes of GC-bound aggregation; auto
    sizing to 9 planes cuts it ~50×). Costs one metadata-only count()
    on the scan; pass an int to pin the grid. The registered oracle
    bakes all 12 plane-bit literals and masks to the same data-derived
    count (entry_m5.o_ann_lsh_topk), so it follows auto at every SF."""
    import math

    emb = ensure_min_partitions(emb)
    if n_planes == "auto":
        n = cached_count(emb)
        n_planes = max(3, min(12, math.ceil(math.log2(max(n, 2) / 64))))
    base = _normed(emb, id_col, vec_col)
    # ALL tables' buckets in ONE scan (8×4 sign projections in a single
    # codegen'd projection), exploded to (table, bucket) rows, then a
    # single self-equi-join on (table, bucket) — not n_tables separate
    # scans+joins. Candidates dedup with one distinct.
    raw = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    # all tables' buckets as ONE parsed SQL string (see _bucket_sql:
    # py4j-built literal Columns dominated construction time)
    tb_sql = ", ".join(
        f"named_struct('t', {t}L, 'b', "
        f"{_bucket_sql(seed * 1000 + t, n_planes, dim)})"
        for t in range(n_tables)
    )
    buckets = raw.select(
        F.col(id_col), F.explode(F.expr(f"array({tb_sql})")).alias("tb")
    ).select(id_col, F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.b") == F.col("r.b"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("vec_id"),
            F.col(f"r.{id_col}").alias("neighbor"),
        )
    )
    return _verify_topk(base, cand, k, id_col, strategy, dim=dim)


def _verify_topk(
    base: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
    strategy: str = "auto",
    query_ids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Candidate verify + rank, size-dispatched (VERDICT r1/r2 scale
    item): the broadcast fast path collects the corpus once and scores
    in-core — right while rows×dim fits in a broadcast; above the
    threshold the corpus stays distributed.  With a BOUNDED query side
    (``query_ids``), the big-corpus path broadcasts just the query
    vectors and scores grouped-by-neighbor, so each corpus array
    crosses the shuffle ONCE — the serving shape (see
    :func:`_grouped_topk_query_broadcast`); otherwise candidates are
    scored by joining the embedding relation back to the pair stream —
    the shape that survives a 100 TB corpus with unbounded queries (no
    driver collect anywhere)."""
    if strategy == "auto":
        strategy = _pick_verify_strategy(base)
        if strategy == "join" and query_ids is not None:
            strategy = "qbroadcast"
    if strategy == "broadcast":
        return _grouped_topk_broadcast(base, cand, k, id_col)
    if strategy == "qbroadcast" and query_ids is not None:
        return _grouped_topk_query_broadcast(base, cand, k, id_col, query_ids)
    return _grouped_topk_join(base, cand, k, id_col, dim=dim)


def _grouped_topk_query_broadcast(
    base: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
    query_ids: DataFrame,
) -> DataFrame:
    """Bounded-query verify over a corpus too big to broadcast — the
    production ANN SERVING shape.  The join-path verify ships BOTH
    64-dim arrays through the pair join, i.e. |pairs|·2·dim·8 bytes of
    shuffle (measured 50 s of a 64 s sf10 query — the arrays, not the
    dot, were the cost; the codegen'd unrolled dot benched within noise
    of the HOF fold there).  Here the pair stream is grouped by
    NEIGHBOR first (pairs collapse to one compact row per candidate
    neighbor), the normalized query matrix (Q·dim doubles, Q bounded by
    construction) broadcasts to every worker, and each Arrow batch
    scores its neighbors against their query lists with one BLAS dot
    each — every corpus array crosses the wire exactly once.  Scores
    use the same normalized-matrix numpy dot as the full-broadcast
    path, so the two agree wherever both apply."""
    unit = _unit(base, id_col)
    bc = base.sparkSession.sparkContext.broadcast(
        _collect_block(
            unit.join(
                F.broadcast(query_ids.select(F.col(id_col))),
                id_col,
                "leftsemi",
            ),
            id_col,
            "u",
        )
    )
    nbrs = (
        cand.distinct()
        .groupBy("neighbor")
        .agg(F.collect_list("vec_id").alias("qlist"))
    )
    joined = nbrs.join(unit.withColumnRenamed(id_col, "neighbor"), "neighbor")

    def score(batches):
        ids, qm = bc.value
        for b in batches:
            nbr, nu = _decode(b, None, "neighbor", "u")
            ql = b.column("qlist")
            offs, flat = np.asarray(ql.offsets), np.asarray(ql.values)
            out_v, out_n, out_c = [], [], []
            for row_i in range(b.num_rows):
                qe = flat[offs[row_i] : offs[row_i + 1]]
                qi = np.searchsorted(ids, qe)
                # membership guard: unlike the full-corpus broadcast
                # path, this array covers only the query subset — a
                # cand row whose vec_id is NOT in query_ids would
                # otherwise score against whichever vector sits at the
                # insertion index (silently wrong) or index past the
                # end.  Fail loudly instead.
                if len(ids) == 0 or qi.max(initial=-1) >= len(ids) or not (
                    ids[np.minimum(qi, len(ids) - 1)] == qe
                ).all():
                    raise ValueError(
                        "qbroadcast verify: candidate vec_id outside "
                        "the bounded query set — cand must derive from "
                        "the query-filtered probe side"
                    )
                cos = qm[qi] @ nu[row_i]
                out_v.extend(qe)
                out_n.extend([nbr[row_i]] * len(qe))
                out_c.extend(cos)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": np.asarray(out_v, dtype=np.int64),
                    "neighbor": np.asarray(out_n, dtype=np.int64),
                    "cosine": np.asarray(out_c, dtype=np.float64),
                }
            )

    scored = joined.mapInArrow(
        score, schema="vec_id long, neighbor long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "vec_id",
            "neighbor",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _grouped_topk_join(
    base: DataFrame,
    cand: DataFrame,
    k: int,
    id_col: str,
    dim: int | None = None,
) -> DataFrame:
    """Distributed verify: dedup the pair stream, hash-join the
    unit-normalized corpus back on each side (AQE sizes/splits the
    exchanges; skewed query ids land in skew-join splitting), score with
    one codegen'd fold — JVM-side, no Python in the hot path — and
    window-rank per query. Three shuffles total (distinct, join keys,
    window), each linear in the candidate count, never in corpus²."""
    unit = _unit(base, id_col)
    ql = unit.select(F.col(id_col).alias("vec_id"), F.col("u").alias("qu"))
    nl = unit.select(F.col(id_col).alias("neighbor"), F.col("u").alias("nu"))
    # codegen'd unrolled dot when the dimension is known (bit-identical
    # to the fold — see _dot_unrolled); the HOF fold otherwise.  A
    # caller-supplied dim skips the probe job; out-of-range values
    # fall back to the fold exactly like an unprobeable relation.
    if dim is None:
        dim = _fixed_dim(base, "v")
    elif not 0 < dim <= _DOT_UNROLL_MAX_DIM:
        dim = None
    dot = (
        _dot_unrolled(F.col("qu"), F.col("nu"), dim)
        if dim
        else _dot(F.col("qu"), F.col("nu"))
    )
    scored = (
        cand.distinct()
        .join(ql, "vec_id")
        .join(nl, "neighbor")
        .select("vec_id", "neighbor", dot.alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def _grouped_topk_broadcast(
    base: DataFrame, cand: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Candidate verify + rank in ONE shuffle: duplicate candidate pairs
    (one per colliding hash table) dedup inside ``collect_set`` — with
    map-side partial aggregation, so the exchange carries one
    neighbor-set row per query id instead of the raw pair stream — and
    each Arrow batch scores its sets against the broadcast corpus and
    emits top-k directly (cosine desc, neighbor asc — the same ordering
    a row_number window would apply, minus the extra distinct shuffle
    and per-key sort)."""
    bc = base.sparkSession.sparkContext.broadcast(
        _collect_block(_unit(base, id_col), id_col, "u")
    )
    grouped = cand.groupBy("vec_id").agg(F.collect_set("neighbor").alias("nbrs"))

    def topk(batches):
        all_ids, m = bc.value
        for b in batches:
            vids = np.asarray(b.column("vec_id"), dtype=np.int64)
            nc = b.column("nbrs")
            offs, flat = np.asarray(nc.offsets), np.asarray(nc.values)
            vs, ns, cs, rs = [], [], [], []
            for row_i, vid in enumerate(vids):
                nb = np.sort(flat[offs[row_i] : offs[row_i + 1]])
                q = m[np.searchsorted(all_ids, vid)]
                cos = m[np.searchsorted(all_ids, nb)] @ q
                order = np.lexsort((nb, -cos))[:k]
                vs.extend([vid] * len(order))
                ns.extend(nb[order])
                cs.extend(cos[order])
                rs.extend(range(1, len(order) + 1))
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": np.asarray(vs, dtype=np.int64),
                    "neighbor": np.asarray(ns, dtype=np.int64),
                    "cosine": np.asarray(cs, dtype=np.float64),
                    "rank": np.asarray(rs, dtype=np.int32),
                }
            )

    return grouped.mapInArrow(
        topk, schema="vec_id long, neighbor long, cosine double, rank int"
    )


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """``(label, centroid: array<double>, n)`` — per-label mean vector
    via posexplode + (label, dim) partial-aggregated average, then
    dense reassembly with array_agg ordered by dim. Two shuffles, both
    on small keys (labels × dims); never collects vectors. The
    embedding-space analog of the DRM key-aggregating transpose
    (TWCNB.scala:48-50's per-class sums)."""
    exploded = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.avg("x").alias("m"), F.count("*").alias("cnt")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "m"))
            ).alias("dm"),
            F.first("cnt").alias("n"),
        )
        .select(
            "label",
            F.transform(F.col("dm"), lambda s: s["m"]).alias("centroid"),
            F.col("n").cast("long").alias("n"),
        )
    )


def centroid_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """``(vec_id, label, dist2)`` — squared L2 distance of each vector
    to its label's centroid: the standard embedding-quality outlier
    score (mislabeled/garbage detection before training). The centroid
    relation is labels×1 rows — broadcast back onto the corpus, the
    distance is one codegen'd zip_with/aggregate fold. Single corpus
    scan beyond the centroid build."""
    cents = label_centroids(emb, id_col, vec_col, label_col)
    v = F.col(vec_col).cast("array<double>")
    return emb.join(
        F.broadcast(
            cents.select(
                F.col("label").alias("_clabel"), "centroid"
            )
        ),
        F.col(label_col) == F.col("_clabel"),
    ).select(
        F.col(id_col),
        F.col(label_col).alias("label"),
        F.aggregate(
            F.zip_with(v, F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda s, x: s + x,
        ).alias("dist2"),
    )


# ------------------------------------------------------------------ #
# Product quantization (IVF-PQ — the FAISS-style 100 TB ANN memory
# path: vectors compressed to M sub-space codes, distances scored from
# a per-query lookup table instead of raw floats)
# ------------------------------------------------------------------ #


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """``(m, code, sub: array<double>)`` — M per-subspace codebooks of K
    codewords each. Codewords are the sub-vectors of K deterministic
    hash-sampled corpus rows (the same portable drmSampleKRows ordering
    as :func:`ivf_centers` — oracle-replayable, no Lloyd iterations, no
    float literals in the plan). Sampled codebooks are the zero-train
    baseline a k-means refinement would warm-start from; the schema and
    every consumer stay unchanged when one is plugged in."""
    sub_dim = dim // m
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    sampled = (
        emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("_h", h)
        .orderBy("_h", id_col)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("_h", id_col)) - 1)
            .cast("long")
            .alias("code"),
            "v",
        )
    )
    return sampled.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        F.col("code"),
        F.col("v"),
    ).select(
        F.col("m").cast("long").alias("m"),
        "code",
        F.slice(F.col("v"), F.col("m").cast("int") * sub_dim + 1, sub_dim).alias(
            "sub"
        ),
    )


def _sub_d2(vec_col: str, m_col: str, sub_dim: int) -> Column:
    """Squared L2 between vector slice m and the codeword ``sub`` —
    sequential fold, same evaluation order as the oracle's list_sum."""
    seg = F.slice(
        F.col(vec_col), F.col(m_col).cast("int") * sub_dim + 1, sub_dim
    )
    return F.aggregate(
        F.zip_with(seg, F.col("sub"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_scored(
    emb: DataFrame,
    books: DataFrame,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, m, code, d2)`` for EVERY (vector, subspace, codeword):
    one broadcast cross join against the M·K-row codebook (128 rows for
    the default geometry — a trivially broadcastable dimension at any
    corpus size). This single relation is both the encoder input (argmin
    per (vec_id, m)) and the ADC lookup table (all rows per query)."""
    base = ensure_min_partitions(emb).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    return base.crossJoin(F.broadcast(books)).select(
        F.col(id_col),
        F.col("m"),
        F.col("code"),
        _sub_d2("v", "m", sub_dim).alias("d2"),
    )


def pq_encode(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    books: DataFrame | None = None,
) -> DataFrame:
    """``(vec_id, m, code, d2)`` — each vector's nearest codeword per
    subspace (ties by code asc): the PQ compression step. 64 doubles →
    M 4-bit codes (with the default geometry), a 128× compression — the
    representation that lets a 100 TB embedding table live in cluster
    memory for ADC scoring.

    Round-7 execution: broadcast-BLAS per-subspace argmin — the M·K-row
    codebook ships once and each Arrow batch encodes with M tiny
    matmuls, ONE narrow pass, zero shuffle. (The relational form
    materialized the corpus × M·K scored relation — 25.6M rows at
    sf10 — and shuffled it through a (vec, m) window to keep one row in
    K.) Ulp contract: the expanded form picks the code (argmin first
    index = lowest code on exact ties, matching the oracle's
    ``ORDER BY d2, code``); the EMITTED d2 is then recomputed for the
    selected pair in difference form ``Σ(x−c)²`` — exact 0 when a
    codeword meets its own source row (the expanded form's
    cancellation residue would break the '0'-vs-'%.7e' output
    convention there), and within ~1e-16 relative of the oracle's
    sequential fold everywhere else (absorbed by %.7e).

    EAGER AT CONSTRUCTION: the codebook is collected to the driver and
    broadcast when this function is CALLED (a hash-sample Spark job),
    not when the returned DataFrame first executes — the broadcast
    must exist before the Arrow closure serializes. Callers that
    already hold the codebook relation (ann_ivfpq_topk's ADC LUT)
    pass it via ``books`` so the sampling job runs once, mirroring the
    ``_centers_matrix`` collect-once tuple pattern."""
    sub_dim = dim // m
    if books is None:
        books = pq_codebooks(emb, m, k, seed, id_col, vec_col, dim)
    bt = books.toArrow()
    codes, subs = _decode(bt, sub_dim, "code", "sub")
    bmat = np.zeros((m, int(codes.max()) + 1, sub_dim), dtype=np.float64)
    bmat[np.asarray(bt.column("m"), dtype=np.int64), codes] = subs
    bc = emb.sparkSession.sparkContext.broadcast(bmat)
    base = ensure_min_partitions(
        emb.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
    )

    def op(batches):
        bm = bc.value
        n_m, n_k, sd = bm.shape
        b2 = (bm * bm).sum(axis=2)  # (m, k)
        for batch in batches:
            if not batch.num_rows:
                continue
            ids, x = _decode(batch, None, id_col, "_v")
            picked, picked_d2 = [], []
            for mi in range(n_m):
                s = x[:, mi * sd : (mi + 1) * sd]
                s2 = (s * s).sum(axis=1)
                d2 = s2[:, None] + b2[mi][None, :] - 2.0 * (s @ bm[mi].T)
                j = np.argmin(d2, axis=1)
                diff = s - bm[mi][j]
                picked.append(j)
                picked_d2.append((diff * diff).sum(axis=1))
            yield pa.RecordBatch.from_pydict(
                {
                    id_col: np.tile(ids, n_m),
                    "m": np.repeat(np.arange(n_m, dtype=np.int64), len(ids)),
                    "code": np.concatenate(picked).astype(np.int64),
                    "d2": np.concatenate(picked_d2),
                }
            )

    return base.mapInArrow(
        op, schema=f"{id_col} long, m long, code long, d2 double"
    )


def pq_mse(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """``(vec_id, mse)`` — per-vector quantization error (sum of the M
    chosen sub-space d2s): the audit metric that decides whether a
    codebook is good enough to serve. Order-fixed sum: the M addends are
    sorted by subspace then folded sequentially, so Spark and the oracle
    add in the same order (a plain groupBy SUM leaves float
    associativity to partial-agg order)."""
    codes = pq_encode(emb, m, k, seed, id_col, vec_col, dim)
    return codes.groupBy(id_col).agg(_ordered_m_sum(m).alias("mse"))


def _ordered_m_sum(m: int, m_col: str = "m", val_col: str = "d2") -> Column:
    """Sum of the per-subspace values in FIXED subspace order:
    m conditional single-addend sums (map-side combinable, codegen'd)
    chained left-to-right — bit-identical to the oracle's ordered list
    fold, without the interpreted collect_list/array_sort/aggregate HOF
    that cost ~100 µs per group (the sf1 hot spot)."""
    terms = [
        F.sum(F.when(F.col(m_col) == i, F.col(val_col))) for i in range(m)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def ann_ivfpq_topk(
    emb: DataFrame,
    topk: int = 3,
    n_centers: int | str = "auto",
    nprobe: int = 2,
    ivf_seed: int = 9,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    query_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k, the composed FAISS-style scale
    architecture: IVF buckets prune candidates (nprobe/n_centers of the
    corpus per query), then PQ asymmetric-distance computation ranks
    them from codes + a per-query lookup table — the raw vectors of the
    candidates are never touched. ``(vec_id, neighbor, ad2, rank)`` with
    ad2 = Σ_m d2(query_sub_m, codeword(neighbor, m)).

    Scale shape: LUT is corpus × (M·K) rows (linear, narrow after the
    broadcast cross join); candidates × M join against the code table is
    linear in the candidate stream; the only per-query state is the
    window top-k. Everything shuffles on query or (query, neighbor)
    keys — no quadratic relation anywhere.

    ``query_ids`` (a one-column relation of ``id_col`` values) bounds
    the query set — the PRODUCTION shape: with Q queries total work is
    Θ(n + Q·n/√n·nprobe), linear in the corpus. The default (None =
    every corpus vector queries) is the self-join evaluation shape,
    Θ(n^1.5) by construction — see SCALING.md's sf1 call-out."""
    if n_centers == "auto":
        # ~√n rule, same rationale + resolution as ivf_topk (measured:
        # the 16-center sf1 run burned 13+ min in ADC scoring; auto's
        # 100 centers bound it at ~110s). Oracle-mirrored — see
        # auto_n_centers.
        n_centers = auto_n_centers(emb)
    sub_dim = dim // pq_m
    books = pq_codebooks(emb, pq_m, pq_k, pq_seed, id_col, vec_col, dim)
    # encoder: nearest codeword per (vector, subspace) — BLAS narrow
    # pass (round-7; the previous window argmin over the corpus × M·K
    # scored relation shuffled 25.6M rows at sf10)
    codes = pq_encode(
        emb, pq_m, pq_k, pq_seed, id_col, vec_col, dim, books=books
    ).select(
        F.col(id_col).alias("neighbor"),
        F.col("m").alias("cm"),
        F.col("code").alias("ccode"),
    )
    # IVF candidate generation (same shape as ivf_topk); the center
    # matrix is collected ONCE, and ONE rank-carrying BLAS pass serves
    # assign AND probes (round-13 — rank 1 IS the assignment; the
    # cached n·nprobe-row relation replaces a second full-corpus
    # Arrow scan)
    from mahout_samsara_book_spark.cache import track

    centers = _centers_matrix(
        ivf_centers(emb, n_centers, ivf_seed, id_col, vec_col)
    )
    pr = track(
        ivf_probes(emb, centers, nprobe, id_col, vec_col, with_rank=True)
    )
    members = pr.filter(F.col("rank") == 1).select(
        F.col("q_id").alias("neighbor"), F.col("cid")
    )
    # widened before the semi-join below: the joined plan holds an
    # exchange, so pq_scored's widen would leave it at the scan's width
    probe_src = ensure_min_partitions(emb)
    probes = pr.select("q_id", "cid")
    if query_ids is not None:
        # bounded query set: semi-restrict the probe list and the ADC
        # LUT source so candidate generation and the LUT are Q-sized,
        # not corpus-sized
        probe_src = probe_src.join(
            F.broadcast(query_ids.select(id_col)), id_col, "leftsemi"
        )
        probes = probes.join(
            F.broadcast(
                query_ids.select(F.col(id_col).alias("q_id"))
            ),
            "q_id",
            "leftsemi",
        )
    cand = (
        probes.join(members, "cid")
        .filter(F.col("q_id") != F.col("neighbor"))
        .select("q_id", "neighbor")
        .distinct()
    )
    # ADC: candidate × M codes, joined to the query's LUT rows, then an
    # order-fixed fold over the M addends (see pq_mse on associativity).
    # The LUT relation is Q × M·K — built only over the query side, so
    # a bounded query set never materializes a corpus-sized LUT
    lut = pq_scored(probe_src, books, sub_dim, id_col, vec_col).select(
        F.col(id_col).alias("q_id"),
        F.col("m").alias("cm"),
        F.col("code").alias("ccode"),
        F.col("d2"),
    )
    per_m = cand.join(codes, "neighbor").join(lut, ["q_id", "cm", "ccode"])
    ad2 = per_m.groupBy("q_id", "neighbor").agg(
        _ordered_m_sum(pq_m, "cm", "d2").alias("ad2")
    )
    w_rank = Window.partitionBy("q_id").orderBy(
        F.col("ad2").asc(), F.col("neighbor").asc()
    )
    return (
        ad2.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("q_id").alias("vec_id"),
            "neighbor",
            "ad2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def ivf_refine(
    emb: DataFrame,
    n_centers: int | str = "auto",
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd refinement iteration over the IVF coarse quantizer:
    re-estimate each inverted list's centroid as the elementwise mean of
    its members. ``(cid, pos, c)`` — the refined centroid matrix in COO
    layout (cid × dimension), the warm-start k-means step the sampled
    :func:`ivf_centers` baseline feeds into.

    The full iteration is ONE relational pass: broadcast-assign (linear
    scan) → posexplode → hash-aggregate on (cid, pos) with map-side
    partial sums — the shuffled payload is O(centers·dim·partitions)
    regardless of corpus size, which is why Lloyd's algorithm
    distributes so well. Chaining t iterations = t such jobs with the
    centers relation re-broadcast each round (SURVEY §4's iterative
    checkpoint pattern; Bahmani's sketch loop has the same shape)."""
    if n_centers == "auto":
        n_centers = auto_n_centers(emb)
    centers = ivf_centers(emb, n_centers, seed, id_col, vec_col)
    assign = ivf_assign(emb, centers, id_col, vec_col)
    v = F.col(vec_col).cast("array<double>")
    members = ensure_min_partitions(emb).join(assign, id_col).select(
        "cid", F.posexplode(v).alias("pos", "x")
    )
    return members.groupBy("cid", "pos").agg(
        F.avg("x").alias("c")
    )


def kmeans_lloyd(
    emb: DataFrame,
    iters: int = 2,
    n_centers: int | str = "auto",
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full Lloyd k-means for ``iters`` iterations from the
    hash-sampled IVF warm start: assign → centroid-mean → re-assign,
    chained. ``(cid, pos, c, n_members)`` — the final centroid matrix
    in COO layout plus each cluster's size under the final assignment.

    Scale contract (the reason Lloyd distributes): every iteration is
    one broadcast-assign linear scan (centers are O(√n) rows) plus one
    (cid, pos) hash-aggregate whose shuffled payload is
    O(centers·dim·partitions) — corpus size never crosses the wire.
    Round-13 (guide §5 — the centroid relation is DRIVER-SIZED
    metadata, O(√n·dim) doubles): each iteration collects the centroid
    means straight to the driver (one job) and hands the matrix tuple
    to the next assign's broadcast, instead of checkpointing a centers
    DataFrame (one job) that the next assign then collected anyway (a
    second job).  Lineage is cut by construction — the next iteration
    starts from a broadcast matrix, not a plan.  A cluster that loses
    all members simply drops out of the centroid rows, identically on
    both engines."""
    if iters < 1:
        raise ValueError(
            f"kmeans_lloyd needs iters >= 1 (got {iters}): the final "
            "assignment/sizes come from the last iteration's scan"
        )
    if n_centers == "auto":
        n_centers = auto_n_centers(emb)
    from mahout_samsara_book_spark.cache import track

    centers = _centers_matrix(
        ivf_centers(emb, n_centers, seed, id_col, vec_col)
    )
    embp = ensure_min_partitions(emb)
    v = F.col(vec_col).cast("array<double>")
    assign = None
    coo_t = None
    for it in range(iters):
        assign = ivf_assign(embp, centers, id_col, vec_col)
        if it == iters - 1:
            # the LAST assignment feeds both this iteration's centroid
            # means (collect action) and the final sizes aggregate —
            # tracked-persist it so the Arrow assign pass runs once,
            # not twice (it is an n-row, 2-long-column relation)
            assign = track(assign)
        coo = (
            embp.join(assign, id_col)
            .select("cid", F.posexplode(v).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("c"))
        )
        # COO → matrix: rows in ascending (cid, pos) order; every
        # surviving cluster carries all dims, so the block is dense
        coo_t = coo.toArrow().sort_by([("cid", "ascending"), ("pos", "ascending")])
        cids = np.unique(np.asarray(coo_t.column("cid"), dtype=np.int64))
        c = np.asarray(coo_t.column("c"), dtype=np.float64)
        centers = (cids, c.reshape(len(cids), -1))
    sizes = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    final_coo = emb.sparkSession.createDataFrame(
        coo_t, schema="cid long, pos int, c double"
    )
    return final_coo.join(sizes, "cid")


def ivf_persist(
    emb: DataFrame,
    path: str,
    n_centers: int | str = "auto",
    seed: int = 9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index AS TABLES — ``<path>/centers``
    (cid, center) and ``<path>/assign`` (id, cid) parquet — the
    Spark-native answer to a FAISS index file: the inverted lists are
    a relation any session can reload, the build cost (one assignment
    pass over the corpus) is paid once, and incremental corpora append
    new assignment rows without touching the centers."""
    if n_centers == "auto":
        n_centers = auto_n_centers(emb)
    centers_df = ivf_centers(emb, n_centers, seed, id_col, vec_col)
    centers_df.write.mode("overwrite").parquet(path + "/centers")
    cm = _centers_matrix(centers_df)
    ivf_assign(emb, cm, id_col, vec_col).select(id_col, "cid").write.mode(
        "overwrite"
    ).parquet(path + "/assign")


def ivf_topk_persisted(
    emb: DataFrame,
    path: str,
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
    query_ids: DataFrame | None = None,
) -> DataFrame:
    """Query a PERSISTED IVF index (see :func:`ivf_persist`): reload
    centers + inverted lists from parquet, probe, and verify — the
    serving path never re-clusters or re-assigns the corpus. Result is
    identical to :func:`ivf_topk` built with the same parameters (the
    index content is deterministic), so it shares that oracle.

    ``query_ids`` (a one-column relation of ``id_col`` values) bounds
    the QUERY side — the production serving shape: Q bounded queries
    probe nprobe cells each against the full persisted lists, Θ(Q·√n)
    candidate work instead of the all-points-as-queries evaluation
    shape's Θ(n^1.5). Results for the selected ids are identical to the
    unbounded call's rows for those ids (per-query work is independent),
    which is what lets the capped registry query share the topk oracle
    with a qsel filter."""
    spark = emb.sparkSession
    cm = _centers_matrix(spark.read.parquet(path + "/centers"))
    members = spark.read.parquet(path + "/assign").select(
        F.col(id_col).alias("neighbor"), "cid"
    )
    # widened before the semi-join, as in ann_ivfpq_topk
    qside = ensure_min_partitions(emb)
    if query_ids is not None:
        qside = qside.join(
            F.broadcast(query_ids.select(id_col)), id_col, "leftsemi"
        )
    probes = ivf_probes(qside, cm, nprobe, id_col, vec_col)
    cand = (
        probes.join(members, "cid")
        .filter(F.col("q_id") != F.col("neighbor"))
        .select(F.col("q_id").alias("vec_id"), "neighbor")
    )
    base = _normed(emb, id_col, vec_col)
    return _verify_topk(
        base, cand, k, id_col, strategy,
        query_ids=query_ids, dim=int(cm[1].shape[1]),
    )
