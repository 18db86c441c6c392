"""Distributed ridge/OLS regression + coefficient t-tests (SURVEY §2C
C2-C5; reference ``myMahoutApp/.../LinearRegression.scala:17-97``).

Two physical strategies, same math:

- :func:`dridge` — DRM path: bias column (A11) → Gram ``XᵀX`` via Arrow
  partials (A7, never materializing Xᵀ) → ``Xᵀy`` (A8) → driver LAPACK
  solve. Mirrors the reference's plan (SURVEY §3 entry point 1).
- :func:`dridge_table` — relational path for narrow feature sets straight
  off a table: ALL normal-equation sums (upper triangle of XᵀX plus Xᵀy)
  computed in ONE codegen'd aggregation pass over the table — zero
  explodes, zero joins, one partial+final agg. This is the formulation
  the DuckDB oracle checks, and the fastest plan at 100 TB for ncol ≤
  a few hundred (ncol² partial aggregates per task, single tiny shuffle).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mahout_samsara_book_spark.drm.drm import FEAT, Drm, _decode
from mahout_samsara_book_spark.kernels.incore import solve
from mahout_samsara_book_spark.kernels.stats import student_t_sf


def dridge(drm_x: Drm, y: np.ndarray, lam: float = 0.0) -> np.ndarray:
    """β = (XᵦᵀXᵦ + λI)⁻¹ Xᵦᵀy with Xᵦ = [1 | X]
    (``LinearRegression.scala:17-34``; bias prepended like ``1 cbind drmX``
    :23; λ added to the whole diagonal incl. bias, :27)."""
    xb = drm_x.cbind_ones(prepend=True)
    a = xb.gram()
    if lam:
        a[np.diag_indices_from(a)] += lam
    b = xb.atx(np.asarray(y, dtype=np.float64))
    return solve(a, b)


def ssr(drm_x: Drm, beta: np.ndarray, y: np.ndarray) -> float:
    """Sum of squared residuals ‖Xᵦβ − y‖² (``LinearRegression.scala:37-47``).
    Fully distributed: predictions via A9, residuals against the broadcast
    y inside a block map, one scalar back to the driver."""
    y = np.asarray(y, dtype=np.float64).ravel()
    pred = drm_x.cbind_ones(prepend=True).ax(np.asarray(beta, dtype=np.float64))
    bc = pred.spark.sparkContext.broadcast(y)

    def resid_sq(keys, block):
        r = block[:, 0] - bc.value[keys]
        return keys, (r * r)[:, None]

    return float(pred.map_block(resid_sq, ncol=1).colsums()[0])


def reg_var_estimate(ssr_value: float, m: int, n: int) -> float:
    """σ̂² = SSR / (m − n) (``LinearRegression.scala:50-57``); n counts the
    bias column."""
    return ssr_value / float(m - n)


def test_beta(
    drm_x: Drm, y: np.ndarray, lam: float = 0.0
) -> dict[str, np.ndarray | float]:
    """Coefficient t-tests (``LinearRegression.scala:59-97``):
    C = (XᵀX)⁻¹, SE_i = √(σ̂²·C_ii), t_i = β_i/SE_i,
    p_i = 2(1 − F_t(|t_i|; df)), df = m − n."""
    y = np.asarray(y, dtype=np.float64).ravel()
    xb = drm_x.cbind_ones(prepend=True).checkpoint()
    a = xb.gram()
    if lam:
        a[np.diag_indices_from(a)] += lam
    c_inv = solve(a)
    beta = c_inv @ xb.atx(y)
    m, n = xb.nrow, xb.ncol
    rss = ssr(drm_x, beta, y)
    sigma2 = reg_var_estimate(rss, m, n)
    se = np.sqrt(sigma2 * np.diag(c_inv))
    t = beta / se
    p = student_t_sf(t, df=m - n)
    xb.unpersist()
    return {"beta": beta, "se": se, "t": t, "p": p, "df": m - n, "sigma2": sigma2}


def ssr_xy(drm_xy: Drm, beta: np.ndarray, strategy: str = "sql") -> float:
    """SSR over a DRM whose LAST column is y and whose earlier columns are
    the features; ``beta[0]`` is the bias (``LinearRegression.scala:37-47``
    with the y vector carried in-row instead of broadcast-by-ordinal, so it
    works for arbitrary row keys).

    ``strategy='sql'`` (default): the residual fold runs entirely
    JVM-side — β becomes scalar literals in one whole-stage-codegen'd
    sum, no Python worker, no Arrow transfer (measured 49s → 3s at the
    6M-row scale fixture). ``'arrow'`` keeps the reference-shaped
    allreduceBlock plan (A13): each partition maps its Arrow blocks to a
    SINGLE partial Σr² — one double per partition back — with broadcast
    β (A18); the shape a NON-linear per-block reduction needs, kept for
    operator parity and tested equal."""
    beta = np.asarray(beta, dtype=np.float64).ravel()
    if strategy == "sql":
        n_feat = len(beta) - 1
        pred = " + ".join(
            [repr(float(beta[0]))]
            + [
                f"element_at({FEAT}, {i + 1}) * {float(beta[i + 1])!r}"
                for i in range(n_feat)
            ]
        )
        r = F.expr(f"({pred}) - element_at({FEAT}, {n_feat + 1})")
        total = (
            drm_xy.df.select((r * r).alias("r2"))
            .agg(F.sum("r2").alias("s"))
            .first()["s"]
        )
        return float(total) if total is not None else 0.0

    bc = drm_xy.spark.sparkContext.broadcast(beta)
    ncol = drm_xy.ncol

    def partials(batches):
        b = bc.value
        acc = 0.0
        for batch in batches:
            _, block = _decode(batch, ncol)
            r = b[0] + block[:, :-1] @ b[1:] - block[:, -1]
            acc += float(r @ r)
        yield pa.RecordBatch.from_pydict({"s": [acc]})

    part = drm_xy.df.mapInArrow(partials, schema="s double")
    total = part.agg(F.sum("s").alias("s")).first()["s"]
    return float(total) if total is not None else 0.0


def test_beta_table(
    df: DataFrame, feature_cols: list[str | F.Column], y_col: str, lam: float = 0.0
) -> dict[str, np.ndarray | float]:
    """Coefficient t-tests straight off a relational table
    (``LinearRegression.scala:59-97``), computed from ONE aggregation pass:
    the normal-equation sums plus Σy² give SSR algebraically as
    ``yᵀy − 2βᵀXᵀy + βᵀXᵀXβ`` — no second residual scan. At 100 TB this is
    the plan you want for narrow feature sets: ncol² partial aggregates per
    task, a single tiny shuffle, everything else on the driver.

    ``feature_cols`` entries may be Columns (e.g. rescaled features — keep
    the design matrix well-conditioned: an 8-digit oracle match survives a
    κ(XᵀX)~1e3 inverse, not a κ~1e7 one)."""
    cols = [F.lit(1.0)] + [
        c.cast("double") if isinstance(c, F.Column) else F.col(c).cast("double")
        for c in feature_cols
    ]
    n = len(cols)
    ycol = F.col(y_col).cast("double")
    aggs = []
    for i in range(n):
        for j in range(i, n):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"s_{i}_{j}"))
        aggs.append(F.sum(cols[i] * ycol).alias(f"b_{i}"))
    aggs.append(F.sum(ycol * ycol).alias("syy"))
    row = df.agg(*aggs).collect()[0].asDict()
    if row["s_0_0"] is None:
        raise ValueError("test_beta_table: empty input table")
    a = np.zeros((n, n), dtype=np.float64)
    b = np.zeros(n, dtype=np.float64)
    for i in range(n):
        b[i] = row[f"b_{i}"]
        for j in range(i, n):
            a[i, j] = a[j, i] = row[f"s_{i}_{j}"]
    syy = float(row["syy"])
    m = int(round(a[0, 0]))  # Σ1·1 = row count
    if m <= n:
        raise ValueError(f"test_beta_table: need more rows ({m}) than columns ({n})")
    a0 = a.copy()  # UNregularized Gram: RSS is ‖Xβ−y‖², not the ridge loss
    if lam:
        a[np.diag_indices_from(a)] += lam
    c_inv = solve(a)
    beta = c_inv @ b
    rss = syy - 2.0 * float(beta @ b) + float(beta @ a0 @ beta)
    sigma2 = reg_var_estimate(rss, m, n)
    se = np.sqrt(sigma2 * np.diag(c_inv))
    t = beta / se
    p = student_t_sf(t, df=m - n)
    return {"beta": beta, "se": se, "t": t, "p": p, "df": m - n, "sigma2": sigma2}


def dump_coeff_csv(x: np.ndarray, y: np.ndarray, path: str) -> None:
    """External-tool verification artifact (SURVEY §5: the reference dumps
    ``ols-coeff-tests.csv`` 'for verification in R', MyAppSuite.scala:
    46-70,111): header ``y,X0,X1,...`` then one row per observation."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64).ravel()
    header = ",".join(["y"] + [f"X{i}" for i in range(x.shape[1])])
    with open(path, "w") as f:
        f.write(header + "\n")
        for yi, row in zip(y, x):
            f.write(",".join(repr(float(v)) for v in [yi, *row]) + "\n")


def normal_equation_sums(
    df: DataFrame, feature_cols: list[str], y_col: str
) -> DataFrame:
    """Upper triangle of XᵦᵀXᵦ and XᵦᵀY as triplets ``(i, j, v)`` (j = ncol
    ⇒ the Xᵀy entry), computed in one aggregation pass. Relational, hence
    oracle-checkable; bias column is index 0."""
    cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in feature_cols]
    n = len(cols)
    aggs, names = [], []
    for i in range(n):
        for j in range(i, n):
            nm = f"s_{i}_{j}"
            aggs.append(F.sum(cols[i] * cols[j]).alias(nm))
            names.append((i, j, nm))
        nm = f"s_{i}_{n}"
        aggs.append(F.sum(cols[i] * F.col(y_col).cast("double")).alias(nm))
        names.append((i, n, nm))
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"), F.col(nm).alias("v"))
            for i, j, nm in names
        ]
    )
    return row.select(F.explode(entries).alias("e")).select(
        F.col("e.i").alias("i"), F.col("e.j").alias("j"), F.col("e.v").alias("v")
    )


def dridge_table(
    df: DataFrame, feature_cols: list[str], y_col: str, lam: float = 0.0
) -> np.ndarray:
    """Ridge over a relational table: one-pass normal-equation sums →
    driver solve. β[0] is the bias."""
    n = len(feature_cols) + 1
    pdf = normal_equation_sums(df, feature_cols, y_col).toPandas()
    a = np.zeros((n, n), dtype=np.float64)
    b = np.zeros(n, dtype=np.float64)
    for _, r in pdf.iterrows():
        i, j, v = int(r["i"]), int(r["j"]), float(r["v"])
        if j == n:
            b[i] = v
        else:
            a[i, j] = v
            a[j, i] = v
    if lam:
        a[np.diag_indices_from(a)] += lam
    return solve(a, b)
