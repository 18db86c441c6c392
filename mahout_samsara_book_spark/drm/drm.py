"""Distributed Row Matrix (DRM) on DataFrames — the engine's dataflow layer.

Reproduces the Samsara DRM operator surface exercised by the reference
(SURVEY.md §2A; use-site citations per method) on an idiomatic Spark
representation: a DataFrame ``(row_id: long, features: array<double>)``
with the matrix width carried as engine metadata (``ArrayType`` does not
encode length — SURVEY §1.2).

Design rules (SURVEY §7, 100 TB posture):

- Every operator is a *lazy* DataFrame transformation; like Samsara, nothing
  executes until an action (``collect``, ``colsums``, ``gram``, ``nrow``,
  ``checkpoint``). Catalyst then owns the physical plan.
- Operators are pure Spark SQL expressions wherever the semantics allow
  (``transform`` / ``aggregate`` / ``zip_with`` / ``slice`` /
  ``posexplode`` + groupBy) so plans stay inside whole-stage codegen and
  are relationally checkable against the DuckDB oracle.
- Arrow record batches via ``mapInPandas`` are the analog of Samsara's
  vertical blockification (``(keys, block)`` closures): numpy 2-D blocks
  in, numpy 2-D blocks out. Used only where SQL genuinely can't express
  the op (gram partials, arbitrary block functions).
- ``collect``-shaped results are only legal for *declared-small* outputs
  (gram matrices, sketches, models) — everything row-scaled stays
  distributed.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_samsara_book_spark.cache import release, track

KEY = "row_id"
FEAT = "features"

# Widths at/below this use ncol-wide column expressions (one pass, no
# explode); above it, explode-based plans or Arrow blocks take over.
_NARROW_NCOL = 64

# Dense-transpose width guard: t() output rows are nrow-wide doubles;
# 65536 columns = 512 KB/row, the ceiling before per-row arrays start
# dominating executor memory. Wider transposes must stay sparse (t_coo)
# or aggregate (aggregate_rows_by_key).
_T_MAX_WIDTH = 65_536


def _rows_to_pdf(keys: np.ndarray, block: np.ndarray) -> pd.DataFrame:
    # dtype=object keeps an EMPTY features column list-typed — a plain
    # empty column defaults to float64, which Arrow can't convert to
    # list<double>.
    return pd.DataFrame(
        {
            KEY: pd.Series(keys, dtype="int64"),
            FEAT: pd.Series([row.tolist() for row in block], dtype=object),
        }
    )


def _pdf_to_block(pdf: pd.DataFrame, ncol: int) -> tuple[np.ndarray, np.ndarray]:
    keys = pdf[KEY].to_numpy()
    if len(pdf) == 0:
        return keys, np.zeros((0, ncol), dtype=np.float64)
    block = np.array(pdf[FEAT].tolist(), dtype=np.float64)
    return keys, block


def _partial_pdf(pid: int, partial) -> pd.DataFrame:
    """One partition's ``allreduce_block`` partial as rows. A zero-row
    partial becomes one ``ridx = -1`` row carrying its width, so the
    reduce can tell a ``map_fn`` that returned nothing from a DRM that
    has no rows."""
    partial = np.asarray(partial, dtype=np.float64)
    if partial.ndim == 1:
        partial = partial[None, :]
    if partial.shape[0] == 0:
        return pd.DataFrame(
            {
                "pid": [pid],
                "ridx": [-1],
                FEAT: pd.Series([[0.0] * partial.shape[1]], dtype=object),
            }
        )
    return pd.DataFrame(
        {
            "pid": pid,
            "ridx": np.arange(partial.shape[0]),
            FEAT: pd.Series([r.tolist() for r in partial], dtype=object),
        }
    )


def drm_broadcast(spark: SparkSession, value: np.ndarray):
    """``drmBroadcast(v)`` — ship an in-core vector/matrix to all tasks
    (TWCNB.scala:118,135; BahmaniSketch.scala:104). Thin wrapper so user
    code mirrors the reference; pandas-UDF closures deref with ``.value``.
    """
    return spark.sparkContext.broadcast(np.asarray(value, dtype=np.float64))


class Drm:
    """A distributed row matrix: ``(row_id: long, features: array<double>)``
    plus ``ncol`` metadata. Row keys are int64; positional (0..nrow-1) for
    matrices created from in-core data, arbitrary int64 for keyed matrices
    (e.g. class labels — TWCNB's relabeling, TWCNBSuite.scala:66-74).
    """

    def __init__(self, df: DataFrame, ncol: int, nrow: int | None = None):
        self.df = df
        self.ncol = int(ncol)
        self._nrow = nrow
        self._transpose_of: Drm | None = None

    # ------------------------------------------------------------------ #
    # sources / sinks
    # ------------------------------------------------------------------ #

    @classmethod
    def from_numpy(
        cls, spark: SparkSession, mx: np.ndarray, num_partitions: int | None = None
    ) -> Drm:
        """``drmParallelize(mx, numPartitions)`` (A1 — TWCNB.scala:89,
        MyAppSuite.scala:83)."""
        mx = np.asarray(mx, dtype=np.float64)
        if mx.ndim == 1:
            mx = mx[:, None]
        pdf = _rows_to_pdf(np.arange(mx.shape[0], dtype=np.int64), mx)
        df = spark.createDataFrame(pdf, schema=f"{KEY} long, {FEAT} array<double>")
        if num_partitions:
            df = df.repartition(num_partitions)
        return cls(df, ncol=mx.shape[1], nrow=mx.shape[0])

    @classmethod
    def from_df(cls, df: DataFrame, ncol: int, nrow: int | None = None) -> Drm:
        return cls(df.select(F.col(KEY).cast("long"), F.col(FEAT)), ncol, nrow)

    @classmethod
    def from_columns(
        cls, df: DataFrame, key: Column | str, cols: Sequence[Column | str]
    ) -> Drm:
        """Pack numeric table columns into a DRM — the bridge from the
        relational layer (TESTDATA tables) to the matrix layer
        (FIXTURES.md 'Mapping onto the driver's TPC-H-ish tables')."""
        key_col = F.col(key) if isinstance(key, str) else key
        feats = [
            (F.col(c) if isinstance(c, str) else c).cast("double") for c in cols
        ]
        out = df.select(
            key_col.cast("long").alias(KEY), F.array(*feats).alias(FEAT)
        )
        return cls(out, ncol=len(cols))

    def to_coo(self, drop_zeros: bool = True) -> DataFrame:
        """Sparse triplet view ``(row_id, pos, v)`` — the relational
        sparse-matrix form (SURVEY §7 risk register: the wide-matrix
        path; the text-NB pipeline lives natively in this form). Zeros
        dropped by default, so a 1e5-column TF-IDF matrix shuffles only
        its nonzeros."""
        out = self.df.select(
            F.col(KEY), F.posexplode(F.col(FEAT)).alias("pos", "v")
        )
        return out.filter(F.col("v") != 0.0) if drop_zeros else out

    @classmethod
    def from_coo(
        cls, coo: DataFrame, ncol: int, nrow: int | None = None
    ) -> Drm:
        """Triplets ``(row_id, pos, v)`` → dense-row DRM. Duplicate
        (row, pos) entries SUM (the aggregation semantics of §1.2);
        missing positions are 0. Rows with no entries at all do not
        reappear — COO carries no geometry for empty rows (same contract
        as the COO transpose). One logical pipeline: per-cell sum (map-
        side combinable) → per-row map scatter."""
        cells = (
            coo.select(
                F.col("row_id").cast("long").alias(KEY),
                F.col("pos").cast("int").alias("pos"),
                F.col("v").cast("double").alias("v"),
            )
            .groupBy(KEY, "pos")
            .agg(F.sum("v").alias("v"))
        )
        grouped = cells.groupBy(KEY).agg(
            F.collect_list(F.struct(F.col("pos"), F.col("v"))).alias("_entries")
        )
        m = F.map_from_entries(F.col("_entries"))
        dense = F.transform(
            F.sequence(F.lit(0), F.lit(ncol - 1)),
            lambda i: F.coalesce(F.element_at(m, i.cast("int")), F.lit(0.0)),
        )
        out = grouped.select(F.col(KEY), dense.alias(FEAT))
        return cls(out, ncol=ncol, nrow=nrow)

    def collect(self) -> np.ndarray:
        """``drm.collect`` (A2 — TWCNBSuite.scala:86,116). Driver-bound:
        only for declared-small matrices."""
        pdf = self.df.orderBy(KEY).toPandas()
        if len(pdf) == 0:
            return np.zeros((0, self.ncol), dtype=np.float64)
        return np.array(pdf[FEAT].tolist(), dtype=np.float64)

    def collect_keys_matrix(self) -> tuple[np.ndarray, np.ndarray]:
        pdf = self.df.orderBy(KEY).toPandas()
        return _pdf_to_block(pdf, self.ncol)

    def collect_col(self, j: int) -> np.ndarray:
        """``drm.collect(::, j)`` (A3 — LinearRegression.scala:30,46,74):
        one column to the driver; only column ``j`` crosses the wire."""
        pdf = (
            self.df.select(KEY, F.col(FEAT)[j].alias("v")).orderBy(KEY).toPandas()
        )
        return pdf["v"].to_numpy(dtype=np.float64)

    def checkpoint(self, eager: bool = True) -> Drm:
        """``drm.checkpoint()`` (A4 — TWCNB.scala:50,104; LinearRegression
        .scala:23,71): optimizer barrier + cache. Catalyst does not
        auto-cache shared subplans (SURVEY §4), so reused subexpressions
        persist here; the count() forces materialization like Samsara's
        checkpoint action.

        ``eager=False`` registers the cache but lets the NEXT action
        materialize it — iterative loops whose first per-round action is
        itself a full pass (Bahmani's φ column-sum) save one complete
        scan per round by folding materialization into that action.

        The cache is :func:`cache.track`-ed (see the rule in cache.py):
        ``unpersist`` or the host's ``release_tracked`` drops it."""
        self.df = track(self.df)
        if eager:
            self._nrow = self.df.count()
        return self

    def unpersist(self) -> Drm:
        release(self.df)
        return self

    # ------------------------------------------------------------------ #
    # geometry (A21)
    # ------------------------------------------------------------------ #

    @property
    def nrow(self) -> int:
        """``drm.nrow`` (A21 — LinearRegression.scala:19,39). Counted once
        and cached."""
        if self._nrow is None:
            self._nrow = self.df.count()
        return self._nrow

    @property
    def spark(self) -> SparkSession:
        """``drm.context`` analog (A22 — TWCNB.scala:30)."""
        return self.df.sparkSession

    # ------------------------------------------------------------------ #
    # structural ops
    # ------------------------------------------------------------------ #

    def cbind_ones(self, prepend: bool = True) -> Drm:
        """``1 cbind drmX`` (A11 — LinearRegression.scala:23,46,71):
        constant bias column. Pure projection — no shuffle."""
        one = F.array(F.lit(1.0))
        expr = (
            F.concat(one, F.col(FEAT)) if prepend else F.concat(F.col(FEAT), one)
        )
        return Drm(
            self.df.select(KEY, expr.alias(FEAT)), self.ncol + 1, self._nrow
        )

    def cbind(self, other: Drm) -> Drm:
        """General cbind of two DRMs: equi-join on row key + concat.
        Co-partitioned inputs avoid a shuffle; otherwise Catalyst plans a
        sort-merge join on row_id."""
        right = other.df.withColumnRenamed(FEAT, "_rfeat")
        out = self.df.join(right, KEY).select(
            KEY, F.concat(F.col(FEAT), F.col("_rfeat")).alias(FEAT)
        )
        return Drm(out, self.ncol + other.ncol, self._nrow)

    def rbind(self, other: Drm) -> Drm:
        """``drmA rbind drmB`` (A20 — reduce fns TWCNB.scala:81,
        BahmaniSketch.scala:91,95): vertical stack with re-keying so row
        ids stay unique."""
        if other.ncol != self.ncol:
            raise ValueError(f"ncol mismatch: {self.ncol} vs {other.ncol}")
        offset = self.nrow
        shifted = other.df.select(
            (F.col(KEY) + F.lit(offset)).alias(KEY), FEAT
        )
        return Drm(
            self.df.unionByName(shifted),
            self.ncol,
            None if other._nrow is None else offset + other._nrow,
        )

    def reindex(self, unique_keys: bool = False) -> Drm:
        """Re-key rows to positional ids 0..nrow-1, ordered by the current
        key (deterministic). Restores the positional-Int-key contract the
        reference's DRMs carry (``DrmLike[Int]``) after keys became sparse
        or non-positional. Costs a global ordering — a fixture-alignment
        tool, not a hot-path operator.

        ``unique_keys=True`` declares the key column a total order by
        itself, so the range-sort skips the (expensive) array-column
        tiebreak — same result whenever the declaration holds."""
        from pyspark.sql import Window

        # Distributed global rank: range-sort on the total order (key,
        # features), then per-partition row_number + collected partition
        # offsets — a global Window.orderBy would drag every row to ONE
        # partition. Output ids are the global rank in the total order,
        # deterministic regardless of where the sampled range boundaries
        # land (ties are full-duplicate rows, hence interchangeable).
        order = [KEY] if unique_keys else [KEY, FEAT]
        sorted_df = (
            self.df.repartitionByRange(*[F.col(c) for c in order])
            .sortWithinPartitions(*order)
            .withColumn("_pid", F.spark_partition_id())
        )
        sorted_df = track(sorted_df)
        counts = {
            r["_pid"]: r["cnt"]
            for r in sorted_df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        off_map = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )
        w = Window.partitionBy("_pid").orderBy(*order)
        out = sorted_df.select(
            (
                F.row_number().over(w) - 1 + off_map[F.col("_pid")]
            ).cast("long").alias(KEY),
            FEAT,
        )
        return Drm(out, self.ncol, acc)

    def slice_cols(self, start: int, stop: int) -> Drm:
        """``drmY(::, a until b)`` (A16 — BahmaniSketch.scala:59): column
        range projection via ``F.slice`` — narrow, codegen'd."""
        n = stop - start
        return Drm(
            self.df.select(KEY, F.slice(FEAT, start + 1, n).alias(FEAT)),
            n,
            self._nrow,
        )

    def sample_k_rows(self, k: int, seed: int) -> np.ndarray:
        """``drmSampleKRows(drm, k)`` (A17 — BahmaniSketch.scala:48),
        deterministic variant: order by a seeded PORTABLE hash of the row
        key (stable across retries, unlike ``orderBy(rand())`` — SURVEY
        §7 risk register; portable so the DuckDB oracle replays it), take
        k. Top-k is a treeified limit, not a global sort. Ties (duplicate
        keys) break on the feature values."""
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(KEY).cast("string"), F.lit(str(seed))
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        sampled = (
            self.df.orderBy(h, F.col(KEY), F.col(FEAT)).limit(k).toPandas()
        )
        _, block = _pdf_to_block(sampled, self.ncol)
        return block

    # ------------------------------------------------------------------ #
    # elementwise / scalar-function ops (A19, B7/B8 distributed subset)
    # ------------------------------------------------------------------ #

    def map_elements(self, fn: Callable[[Column], Column]) -> Drm:
        """Cell-wise transform as a SQL lambda (B7 distributed analog) —
        stays in whole-stage codegen."""
        return Drm(
            self.df.select(
                KEY, F.transform(F.col(FEAT), fn).alias(FEAT)
            ),
            self.ncol,
            self._nrow,
        )

    def abs(self) -> Drm:
        """``dabs(drm)`` (A19 — TWCNB.scala:134)."""
        return self.map_elements(lambda x: F.abs(x))

    def scalar_op(self, op: str, s: float) -> Drm:
        """Scalar broadcast arithmetic (B8: ``mxC /= 4``, ``vec += alpha``)."""
        ops = {
            "+": lambda x: x + F.lit(s),
            "-": lambda x: x - F.lit(s),
            "*": lambda x: x * F.lit(s),
            "/": lambda x: x / F.lit(s),
            "^": lambda x: F.pow(x, F.lit(s)),
        }
        return self.map_elements(ops[op])

    def ewise(self, other: Drm, op: str) -> Drm:
        """Elementwise +,-,*,/ of two conforming DRMs via ``zip_with``
        after a key join (B8 distributed)."""
        ops = {
            "+": lambda a, b: a + b,
            "-": lambda a, b: a - b,
            "*": lambda a, b: a * b,
            "/": lambda a, b: a / b,
        }
        right = other.df.withColumnRenamed(FEAT, "_rfeat")
        out = self.df.join(right, KEY).select(
            KEY,
            F.zip_with(F.col(FEAT), F.col("_rfeat"), ops[op]).alias(FEAT),
        )
        return Drm(out, self.ncol, self._nrow)

    # ------------------------------------------------------------------ #
    # aggregations (A14, A15)
    # ------------------------------------------------------------------ #

    def rowsums_col(self) -> Column:
        """Per-row sum as a SQL expression (A15 — TWCNB.scala:110)."""
        return F.aggregate(
            F.col(FEAT), F.lit(0.0), lambda acc, x: acc + x
        )

    def rowsums(self) -> DataFrame:
        return self.df.select(KEY, self.rowsums_col().alias("row_sum"))

    def colsums_df(self) -> DataFrame:
        """Column sums as ``(pos, col_sum)`` — distributed result."""
        if self.ncol <= _NARROW_NCOL:
            # One codegen'd pass, ncol partial aggregates, no explode.
            aggs = [
                F.sum(F.col(FEAT)[i]).alias(f"c{i}") for i in range(self.ncol)
            ]
            row = self.df.agg(*aggs)
            cols = F.array(*[F.col(f"c{i}") for i in range(self.ncol)])
            return row.select(
                F.posexplode(cols).alias("pos", "col_sum")
            )
        exploded = self.df.select(
            F.posexplode(F.col(FEAT)).alias("pos", "v")
        )
        return exploded.groupBy("pos").agg(F.sum("v").alias("col_sum"))

    def colsums(self) -> np.ndarray:
        """``drm.colSums()`` (A14 — TWCNB.scala:117,134) → driver vector."""
        pdf = self.colsums_df().toPandas()
        out = np.zeros(self.ncol, dtype=np.float64)
        out[pdf["pos"].to_numpy()] = pdf["col_sum"].to_numpy(dtype=np.float64)
        return out

    def colmeans(self) -> np.ndarray:
        return self.colsums() / float(self.nrow)

    # ------------------------------------------------------------------ #
    # linear algebra (A5-A10)
    # ------------------------------------------------------------------ #

    def t(self, width: int | None = None) -> Drm:
        """``drm.t`` (A5 — TWCNB.scala:50,102; LinearRegression.scala:26).

        Logical transpose m×n → n×m via COO explode + groupBy, assembling
        dense rows with a key→value map (zeros dropped before the shuffle,
        refilled on assembly — sparse-friendly). Duplicate row keys SUM
        into one column, matching Samsara's aggregate-by-key transpose
        semantics (§1.2); for the pure aggregation use-case prefer
        :meth:`aggregate_rows_by_key` (one groupBy, no transpose).

        Double transpose is peephole-eliminated (SURVEY §4: Samsara's
        ``A.t.t`` collapse): the returned Drm remembers its parent and
        ``t()`` on it returns the parent untouched.

        Scale guard (VERDICT r2 item 5): the dense result's row width is
        the INPUT's nrow — transposing a tall matrix would materialize
        nrow-wide arrays on every row (60k rows → 480 KB/row; 100× that
        is a hard stop). Widths beyond ``_T_MAX_WIDTH`` raise with
        guidance: use :meth:`t_coo` (sparse triplets, no dense blowup)
        or :meth:`aggregate_rows_by_key` (the aggregation use-case).
        """
        if self._transpose_of is not None and width is None:
            return self._transpose_of
        w = width if width is not None else self.nrow
        if w is not None and w > _T_MAX_WIDTH:
            raise ValueError(
                f"t(): dense transpose of a {w}-row DRM would build "
                f"{w}-wide rows (> _T_MAX_WIDTH={_T_MAX_WIDTH}). Use "
                "t_coo() for a sparse transposed view, or "
                "aggregate_rows_by_key() if the goal is per-key sums."
            )
        exploded = (
            self.df.select(KEY, F.posexplode(F.col(FEAT)).alias("pos", "v"))
            .filter(F.col("v") != 0.0)
            .groupBy("pos", KEY)
            .agg(F.sum("v").alias("v"))
        )
        assembled = (
            exploded.groupBy("pos")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col(KEY), F.col("v")))
                ).alias("m")
            )
            .select(
                F.col("pos").cast("long").alias(KEY),
                F.transform(
                    F.sequence(F.lit(0).cast("long"), F.lit(w - 1).cast("long")),
                    lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)),
                ).alias(FEAT),
            )
        )
        # geometry restore: all-zero input columns vanished in the COO
        # explode — re-seat them as zero rows so t() of an m×n DRM is
        # always n×m (hypothesis-found edge case)
        full = self.spark.range(self.ncol).select(F.col("id").alias(KEY))
        assembled = full.join(assembled, KEY, "left").select(
            KEY,
            F.coalesce(
                FEAT, F.array_repeat(F.lit(0.0), w)
            ).alias(FEAT),
        )
        out = Drm(assembled, ncol=w, nrow=self.ncol)
        out._transpose_of = self
        return out

    def t_coo(self, aggregate: bool = True) -> DataFrame:
        """Transpose as sparse triplets ``(row_id, pos, v)`` — the
        any-width path: in COO form a transpose is a coordinate swap
        (one narrow projection, NO shuffle unless aggregating). With
        ``aggregate=True`` duplicate input row keys SUM into one output
        column, matching :meth:`t`'s dup-key semantics (one groupBy with
        map-side partial aggregation); pass ``False`` when keys are
        known-unique to skip that shuffle entirely. Feed the result to
        :meth:`from_coo` (with a sane ncol) or keep it relational."""
        swapped = self.to_coo().select(
            F.col("pos").cast("long").alias("row_id"),
            F.col(KEY).cast("long").alias("pos"),
            F.col("v"),
        )
        if not aggregate:
            return swapped
        return swapped.groupBy("row_id", "pos").agg(F.sum("v").alias("v"))

    def aggregate_rows_by_key(self) -> Drm:
        """The clean form of the reference's 'transpose trick' (§1.2:
        TWCNB.scala:48-50, TWCNBSuite.scala:82-85 — re-key rows by class
        label, transpose twice to get per-key sums): one relational
        ``groupBy(key).agg(elementwise_sum)``, a single shuffle with
        map-side partial aggregation. Geometry deviates deliberately from
        the reference (no retained empty rows — the reference itself
        strips them as a workaround, TWCNB.scala:52-83)."""
        if self.ncol <= _NARROW_NCOL:
            aggs = [
                F.sum(F.col(FEAT)[i]).alias(f"c{i}") for i in range(self.ncol)
            ]
            grouped = self.df.groupBy(KEY).agg(*aggs)
            out = grouped.select(
                KEY,
                F.array(*[F.col(f"c{i}") for i in range(self.ncol)]).alias(FEAT),
            )
            return Drm(out, self.ncol)
        exploded = self.df.select(
            KEY, F.posexplode(F.col(FEAT)).alias("pos", "v")
        ).filter(F.col("v") != 0.0)
        summed = exploded.groupBy(KEY, "pos").agg(F.sum("v").alias("v"))
        assembled = (
            summed.groupBy(KEY)
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct(F.col("pos").cast("long"), F.col("v")))
                ).alias("m")
            )
            .select(
                KEY,
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"), F.lit(self.ncol - 1).cast("long")
                    ),
                    lambda i: F.coalesce(F.element_at("m", i), F.lit(0.0)),
                ).alias(FEAT),
            )
        )
        # geometry restore: keys whose rows are all-zero still form a group
        keys_df = self.df.select(KEY).distinct()
        assembled = keys_df.join(assembled, KEY, "left").select(
            KEY,
            F.coalesce(
                FEAT, F.array_repeat(F.lit(0.0), self.ncol)
            ).alias(FEAT),
        )
        return Drm(assembled, self.ncol)

    def gram_df(self) -> DataFrame:
        """Upper triangle of ``XᵀX`` as triplets ``(i, j, v)`` — the
        distributed half of :meth:`gram`, exposed as a DataFrame so the
        relational oracle can check it."""
        n = self.ncol

        def partials(batches):
            acc = np.zeros((n, n), dtype=np.float64)
            seen = False
            for pdf in batches:
                _, block = _pdf_to_block(pdf, n)
                if block.shape[0]:
                    acc += block.T @ block
                    seen = True
            if seen:
                iu = np.triu_indices(n)
                yield pd.DataFrame(
                    {"i": iu[0], "j": iu[1], "v": acc[iu]}
                )

        triplets = self.df.mapInPandas(partials, schema="i int, j int, v double")
        return triplets.groupBy("i", "j").agg(F.sum("v").alias("v"))

    def gram(self) -> np.ndarray:
        """``drmA.t %*% drmA`` collected in-core (A7 — LinearRegression
        .scala:26,80): the AtA fusion from SURVEY §4. One pass of
        per-partition ``blockᵀ @ block`` partials over Arrow batches —
        Xᵀ is never materialized, no transpose shuffle — then a tiny
        (ncol²-row) partial+final aggregation. This is the
        ``RowMatrix.computeGramianMatrix`` shape, DataFrame-native."""
        n = self.ncol
        pdf = self.gram_df().toPandas()
        out = np.zeros((n, n), dtype=np.float64)
        out[pdf["i"], pdf["j"]] = pdf["v"]
        iu = np.triu_indices(n, k=1)
        out[(iu[1], iu[0])] = out[iu]
        return out

    def atx(self, y: np.ndarray) -> np.ndarray:
        """``drmA.t %*% y`` → driver vector (A8 — LinearRegression.scala:30).
        y is broadcast; per-partition partials ``blockᵀ @ y[keys]`` are
        summed — map-side only, single-row-per-partition shuffle. Requires
        positional int keys (0..nrow-1), like the reference's
        ``DrmLike[Int]`` contract."""
        y = np.asarray(y, dtype=np.float64).ravel()
        bc = self.spark.sparkContext.broadcast(y)
        n = self.ncol

        def partials(batches):
            acc = np.zeros(n, dtype=np.float64)
            seen = False
            for pdf in batches:
                keys, block = _pdf_to_block(pdf, n)
                if block.shape[0]:
                    acc += block.T @ bc.value[keys]
                    seen = True
            if seen:
                yield pd.DataFrame({"pos": np.arange(n), "v": acc})

        pdf = (
            self.df.mapInPandas(partials, schema="pos int, v double")
            .groupBy("pos")
            .agg(F.sum("v").alias("v"))
            .toPandas()
        )
        out = np.zeros(n, dtype=np.float64)
        out[pdf["pos"].to_numpy()] = pdf["v"].to_numpy(dtype=np.float64)
        return out

    def ax(self, beta: np.ndarray) -> Drm:
        """``drmA %*% beta`` → DRM m×1 (A9 — LinearRegression.scala:46,74).
        Narrow matrices: pure SQL ``zip_with`` + ``aggregate`` against an
        array literal (codegen'd, duckdb-checkable). Wide: broadcast numpy
        dot inside an Arrow batch map."""
        beta = np.asarray(beta, dtype=np.float64).ravel()
        if len(beta) != self.ncol:
            raise ValueError(f"beta has {len(beta)} elems, ncol={self.ncol}")
        if self.ncol <= _NARROW_NCOL:
            lit = F.array(*[F.lit(float(b)) for b in beta])
            dot = F.aggregate(
                F.zip_with(F.col(FEAT), lit, lambda x, b: x * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            out = self.df.select(KEY, F.array(dot).alias(FEAT))
            return Drm(out, 1, self._nrow)
        bc = self.spark.sparkContext.broadcast(beta)
        n = self.ncol

        def op(batches):
            for pdf in batches:
                keys, block = _pdf_to_block(pdf, n)
                yield _rows_to_pdf(keys, (block @ bc.value)[:, None])

        out = self.df.mapInPandas(op, schema=f"{KEY} long, {FEAT} array<double>")
        return Drm(out, 1, self._nrow)

    def mmul(self, other: Drm | np.ndarray, strategy: str = "auto") -> Drm:
        """``drmA %*% drmB`` (A6/A10 — TWCNBSuite.scala:115). Row keys of
        A carry through unchanged (duplicates preserved — aggregation is
        transpose's job, §1.2).

        Physical strategies (the Samsara-optimizer dispatch, SURVEY §4):

        - ``broadcast``: right operand ships in-core to every task; one
          narrow Arrow pass, zero shuffle. Chosen automatically when B is
          slim (≤1M cells) — the A10 scoring shape (model terms×classes).
        - ``coo``: both sides explode to sparse triplets, equi-join on
          the contraction index, aggregate per (row-tag, j) — the pure
          relational formulation Catalyst shuffle-plans and AQE
          skew-splits. The big×big path.
        """
        if isinstance(other, np.ndarray):
            b = np.asarray(other, dtype=np.float64)
            if b.shape[0] != self.ncol:
                raise ValueError(f"shape mismatch: {self.ncol} vs {b.shape[0]}")
            bc = self.spark.sparkContext.broadcast(b)
            n = self.ncol

            def op(batches):
                for pdf in batches:
                    keys, block = _pdf_to_block(pdf, n)
                    yield _rows_to_pdf(keys, block @ bc.value)

            out = self.df.mapInPandas(
                op, schema=f"{KEY} long, {FEAT} array<double>"
            )
            return Drm(out, b.shape[1], self._nrow)

        if other.ncol is None or self.ncol is None:
            raise ValueError("mmul requires known geometry")
        if strategy == "auto":
            strategy = (
                "broadcast" if other.nrow * other.ncol <= 1_000_000 else "coo"
            )
        if strategy == "broadcast":
            return self.mmul(other.collect())
        # COO path. A unique per-row tag keeps duplicate row keys as
        # separate output rows. The zero-pruning filters keep ONE
        # sentinel entry per A-row (k == 0) and per B-row (j == 0): an
        # all-zero row/column then still reaches the join, so geometry
        # survives the INNER join with no persist/count barrier and no
        # geometry-restore join afterwards — the plan stays a single
        # linear pipeline, which also makes the unmaterialized
        # monotonically_increasing_id tag safe (no plan fork to
        # recompute it differently).
        #
        # PRECONDITION (VERDICT r2 item 6): the sentinel trick — and the
        # matmul semantics themselves — require B's row keys to be
        # positional 0..nrow-1 without duplicates (DrmLike[Int]'s
        # contract; the codebase otherwise supports sparse keys via
        # reindex()). A non-positional B would silently VANISH any A row
        # whose kept entries reference only missing B keys. Validate with
        # one narrow agg over B's key column (cheap next to the join
        # itself) and fail loudly with guidance instead.
        kstats = other.df.agg(
            F.min(KEY).alias("kmin"),
            F.max(KEY).alias("kmax"),
            F.count(KEY).alias("kcnt"),
            F.countDistinct(KEY).alias("kdst"),
        ).first()
        if (
            kstats["kcnt"] != 0
            and not (
                kstats["kmin"] == 0
                and kstats["kmax"] == kstats["kcnt"] - 1
                and kstats["kcnt"] == kstats["kdst"]
            )
        ):
            raise ValueError(
                "mmul(strategy='coo') requires positional row keys "
                f"0..nrow-1 on the right operand (got min={kstats['kmin']}, "
                f"max={kstats['kmax']}, rows={kstats['kcnt']}, "
                f"distinct={kstats['kdst']}). Call .reindex() on it first."
            )
        tagged = self.df.withColumn("_rtag", F.monotonically_increasing_id())
        a_coo = tagged.select(
            "_rtag",
            F.col(KEY).alias("i"),
            F.posexplode(F.col(FEAT)).alias("k", "va"),
        ).filter((F.col("va") != 0.0) | (F.col("k") == 0))
        b_coo = other.df.select(
            F.col(KEY).alias("k2"), F.posexplode(F.col(FEAT)).alias("j", "vb")
        ).filter((F.col("vb") != 0.0) | (F.col("j") == 0))
        # ONE shuffle: group all of a row's products at once, then sum
        # per output column inside the row with higher-order functions
        # (arr is ~nnz(a_row)·nnz(b_col) entries — in-row work, no second
        # shuffle).
        n_out = other.ncol
        joined = a_coo.join(b_coo, a_coo["k"] == b_coo["k2"])
        if n_out <= 32:
            # Slim result: one conditional sum per output column. The agg
            # input is plain (va·vb) doubles, so Catalyst's map-side
            # partial aggregation collapses the ~nnz(A)·nnz(B_row)
            # product stream to one fixed-width row per _rtag BEFORE the
            # exchange (products for a row are partition-local — explode
            # preserves locality and the slim-B join broadcasts), and the
            # final agg emits the dense row directly — no per-row
            # higher-order-function pass.
            assembled = (
                joined.groupBy("_rtag")
                .agg(
                    F.first("i").alias("i"),
                    *[
                        F.sum(
                            F.when(
                                F.col("j") == jj, F.col("va") * F.col("vb")
                            ).otherwise(0.0)
                        ).alias(f"_c{jj}")
                        for jj in range(n_out)
                    ],
                )
                .select(
                    F.col("i").cast("long").alias(KEY),
                    F.array(*[F.col(f"_c{jj}") for jj in range(n_out)]).alias(
                        FEAT
                    ),
                )
            )
            return Drm(assembled, other.ncol, self._nrow)
        # Wide result: per-(row, j) products collected once, summed per
        # output column with higher-order functions (in-row work).
        assembled = (
            joined.groupBy("_rtag")
            .agg(
                F.first("i").alias("i"),
                F.collect_list(
                    F.struct(
                        F.col("j").cast("long").alias("j"),
                        (F.col("va") * F.col("vb")).alias("p"),
                    )
                ).alias("arr"),
            )
            .select(
                F.col("i").cast("long").alias(KEY),
                F.transform(
                    F.sequence(
                        F.lit(0).cast("long"), F.lit(n_out - 1).cast("long")
                    ),
                    lambda idx: F.aggregate(
                        F.filter(F.col("arr"), lambda e: e["j"] == idx),
                        F.lit(0.0),
                        lambda acc, e: acc + e["p"],
                    ),
                ).alias(FEAT),
            )
        )
        return Drm(assembled, other.ncol, self._nrow)

    # ------------------------------------------------------------------ #
    # MLlib distributed-matrix bridge (C11 — BlockMatrix.scala:8-16)
    # ------------------------------------------------------------------ #

    def to_indexed_row_matrix(self):
        """Bridge to MLlib's ``IndexedRowMatrix`` — the reference's
        2-D-block-partitioned matrix interface (``BlockMatrix`` trait,
        C11) is exactly MLlib's distributed-matrix family; this exposes
        it without leaving the DataFrame representation as the source of
        truth."""
        from pyspark.mllib.linalg.distributed import (
            IndexedRow,
            IndexedRowMatrix,
        )

        rdd = self.df.rdd.map(lambda r: IndexedRow(r["row_id"], r["features"]))
        return IndexedRowMatrix(rdd, numRows=self.nrow, numCols=self.ncol)

    def to_block_matrix(self, rows_per_block: int = 1024, cols_per_block: int = 1024):
        """MLlib ``BlockMatrix`` view (C11): 2-D block partitioning with
        ``blocks((i,j) → Matrix)`` — the scale path for big×big matmul
        chains that outgrow the COO join."""
        return self.to_indexed_row_matrix().toBlockMatrix(
            rows_per_block, cols_per_block
        )

    # ------------------------------------------------------------------ #
    # block API (A12, A13)
    # ------------------------------------------------------------------ #

    def map_block(
        self,
        fn: Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]],
        ncol: int | None = None,
        flavor: str = "dense",
    ) -> Drm:
        """``mapBlock(ncol?)(fn)`` (A12 — TWCNB.scala:90-147,
        BahmaniSketch.scala:23-26): per-block functional transform. ``fn``
        receives ``(keys: int64[b], block)`` and returns possibly
        re-keyed / re-shaped ``(keys', block')``. Narrow unless ``fn``
        itself changes geometry.

        ``flavor`` is the in-core matrix-flavor dispatch (B5/B14 —
        reference ``getFlavor``/``SparseRowMatrix``, ``MMul.scala:37-39``):

        - ``dense``: ``block`` is a ``float64[b, ncol]`` numpy view of
          one Arrow batch (the vertical block — SURVEY §1.2).
        - ``sparse``: ``block`` is a :class:`~mahout_samsara_book_spark.
          kernels.sparse.CsrMatrix` built from the COO view, so zeros
          are filtered JVM-SIDE and the Python worker's peak memory is
          O(nnz) — the 1e5-column TF-IDF shape never materializes
          b×ncol doubles. ``fn`` sees the whole partition as one block
          (Samsara's one-block-per-partition contract) and may return a
          CsrMatrix or a dense array. Contract: row keys must be unique
          (duplicate keys would merge) and all-zero rows do not reach
          ``fn`` (COO carries no geometry for them).
        """
        out_ncol = ncol if ncol is not None else self.ncol
        in_ncol = self.ncol
        if flavor == "sparse":
            return self._map_block_sparse(fn, in_ncol, out_ncol)

        def op(batches):
            for pdf in batches:
                keys, block = _pdf_to_block(pdf, in_ncol)
                if block.shape[0] == 0:
                    continue
                keys2, block2 = fn(keys, block)
                if block2.shape[1] != out_ncol:
                    raise ValueError(
                        f"mapBlock fn returned width {block2.shape[1]}, "
                        f"declared ncol={out_ncol}"
                    )
                yield _rows_to_pdf(np.asarray(keys2, dtype=np.int64), block2)

        out = self.df.mapInPandas(op, schema=f"{KEY} long, {FEAT} array<double>")
        return Drm(out, out_ncol, self._nrow if out_ncol == in_ncol else None)

    def _map_block_sparse(self, fn, in_ncol: int, out_ncol: int) -> Drm:
        """Sparse-flavor map_block: one CSR block per partition, fed from
        the zero-pruned COO projection (see :meth:`map_block`)."""
        from mahout_samsara_book_spark.kernels.sparse import CsrMatrix

        coo = self.to_coo()

        def op(batches):
            rs, cs, vs = [], [], []
            for pdf in batches:
                if len(pdf):
                    rs.append(pdf[KEY].to_numpy(dtype=np.int64))
                    cs.append(pdf["pos"].to_numpy(dtype=np.int64))
                    vs.append(pdf["v"].to_numpy(dtype=np.float64))
            if not rs:
                return
            r = np.concatenate(rs)
            keys, local = np.unique(r, return_inverse=True)
            csr = CsrMatrix.from_coo(
                local,
                np.concatenate(cs),
                np.concatenate(vs),
                (len(keys), in_ncol),
            )
            keys2, block2 = fn(keys, csr)
            if isinstance(block2, CsrMatrix):
                block2 = block2.to_dense()
            block2 = np.asarray(block2, dtype=np.float64)
            if block2.ndim != 2 or block2.shape[1] != out_ncol:
                raise ValueError(
                    f"mapBlock fn returned shape {block2.shape}, "
                    f"declared ncol={out_ncol}"
                )
            yield _rows_to_pdf(np.asarray(keys2, dtype=np.int64), block2)

        out = coo.mapInPandas(op, schema=f"{KEY} long, {FEAT} array<double>")
        return Drm(out, out_ncol)

    def allreduce_block(
        self,
        map_fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
        reduce_fn: Callable[[np.ndarray, np.ndarray], np.ndarray],
        flavor: str = "dense",
    ) -> np.ndarray:
        """``allreduceBlock(mapFn, reduceFn)`` (A13 — TWCNB.scala:54-83,
        BahmaniSketch.scala:63-92): map each partition's block to an
        arbitrary in-core matrix, associatively reduce to ONE driver-side
        matrix. Partition-side the blocks of one task are concatenated so
        ``map_fn`` sees the whole partition (matching Samsara's
        one-block-per-partition contract); partials come back as rows and
        reduce on the driver — legal because allreduce results are
        declared-small by contract.

        ``flavor='sparse'`` hands ``map_fn`` a CSR block built from the
        zero-pruned COO view (same contract as :meth:`map_block`): the
        wide-TF-IDF partial (e.g. per-class colsums) then costs O(nnz)
        worker memory instead of b×ncol.

        A DRM with no rows raises ``ValueError``; one whose every
        ``map_fn`` call returns zero rows (a sampling round that drew
        nothing) returns a zero-row matrix of ``map_fn``'s width."""
        in_ncol = self.ncol

        def op(batches):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            chunks_k, chunks_b = [], []
            for pdf in batches:
                keys, block = _pdf_to_block(pdf, in_ncol)
                if block.shape[0]:
                    chunks_k.append(keys)
                    chunks_b.append(block)
            if not chunks_b:
                return
            keys = np.concatenate(chunks_k)
            block = np.vstack(chunks_b)
            yield _partial_pdf(pid, map_fn(keys, block))

        def op_sparse(batches):
            from pyspark import TaskContext

            from mahout_samsara_book_spark.kernels.sparse import CsrMatrix

            pid = TaskContext.get().partitionId()
            rs, cs, vs = [], [], []
            for pdf in batches:
                if len(pdf):
                    rs.append(pdf[KEY].to_numpy(dtype=np.int64))
                    cs.append(pdf["pos"].to_numpy(dtype=np.int64))
                    vs.append(pdf["v"].to_numpy(dtype=np.float64))
            if not rs:
                return
            r = np.concatenate(rs)
            keys, local = np.unique(r, return_inverse=True)
            csr = CsrMatrix.from_coo(
                local, np.concatenate(cs), np.concatenate(vs), (len(keys), in_ncol)
            )
            yield _partial_pdf(pid, map_fn(keys, csr))

        src = self.to_coo() if flavor == "sparse" else self.df
        pdf = src.mapInPandas(
            op_sparse if flavor == "sparse" else op,
            schema=f"pid int, ridx int, {FEAT} array<double>",
        ).toPandas()
        if len(pdf) == 0:
            raise ValueError("allreduce_block over an empty DRM")
        empty = pdf["ridx"] < 0
        if empty.all():  # rows, but every map_fn returned none
            return np.zeros((0, len(pdf[FEAT].iloc[0])), dtype=np.float64)
        pdf = pdf[~empty]
        partials = []
        for _, grp in pdf.sort_values(["pid", "ridx"]).groupby("pid", sort=True):
            partials.append(np.array(grp[FEAT].tolist(), dtype=np.float64))
        return functools.reduce(reduce_fn, partials)
