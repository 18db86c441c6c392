"""Table readers: the bridge from the driver's TPC-H-ish parquet tables
(TESTDATA.md) to the DRM matrix layer (FIXTURES.md 'Mapping onto the
driver's TPC-H-ish tables').

Parquet is the only real source needed (the reference's SequenceFile
dictionary/df-count pairs, ``NaiveBayesServlet.scala:45-53``, are remodeled
as two-column parquet tables per SURVEY §1.1).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_samsara_book_spark.drm.drm import Drm

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

LINEITEM_FEATURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def ensure_session_confs(spark: SparkSession) -> None:
    """Defend against a caller-provided SparkSession (the driver builds
    its own): older fixture generations wrote events.ts as parquet
    TIMESTAMP(NANOS), which Spark rejects without the legacy conf
    (harmless for the current TIMESTAMP(MICROS) fixtures), and
    date-literal / NTZ→TZ casts must be UTC to agree with the oracle's
    naive timestamps. Both are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def ts_us(ev: DataFrame, col: str = "ts") -> F.Column:
    """Event-time as int64 epoch MICROSECONDS, independent of how the
    fixture generation stored ``ts``:

    - ``timestamp`` / ``timestamp_ntz`` (current fixtures: parquet
      TIMESTAMP(MICROS)) → ``unix_micros`` after an NTZ→TZ cast, which is
      value-preserving under the pinned-UTC session
      (:func:`ensure_session_confs`);
    - ``bigint`` (legacy fixtures: TIMESTAMP(NANOS) surfaced as int64
      nanos via ``nanosAsLong``) → integer ``div 1000``.

    µs is the common resolution: the DuckDB oracle truncates to µs and
    the current fixtures carry µs, so pure integer arithmetic on this
    column is bit-identical across both engines. Downstream constants
    (window widths, session gaps) must be expressed in µs."""
    dtype = dict(ev.dtypes).get(col)
    if dtype in ("bigint", "long"):
        return F.expr(f"{col} div 1000")
    # the NTZ→TZ cast below reads the SESSION timezone — a caller-built
    # session (the driver's) may not be UTC, which would shift every
    # epoch value against the oracle's naive timestamps. Pin the confs
    # through the DataFrame's own session so every ts_us call site is
    # safe regardless of how the table was loaded.
    ensure_session_confs(ev.sparkSession)
    return F.unix_micros(F.col(col).cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table reader with a RESOLUTION memo (round 12, guide §6):
    every ``spark.read.parquet`` pays ~100 ms of driver work (file
    listing + footer schema read + relation resolution), and the bench
    registry re-resolves the same ten fixture tables hundreds of times
    per run.  The memo returns the already-resolved DataFrame for the
    same (SparkContext, path, file fingerprint) — the local-mode analog
    of the catalog/file-index caching the optimization guide prescribes
    for repeatedly-scanned tables (``filesourcePartitionFileCacheSize``).

    This caches a PLAN handle, never data or results: every action on
    the returned DataFrame re-reads the parquet bytes.  The
    :func:`source_fingerprint` (size + mtime_ns) in the key means a
    regenerated fixture at the same path misses the memo, and the
    applicationId scopes entries to the live SparkContext."""
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if MEMO_BYPASS:
        # box-noise controls (bench.py) read around the memo: the r12
        # memo made the control trio faster for CODE reasons, so
        # control_ratio conflated box drift with real optimization
        # (VERDICT r12 item 3).  Bypass reads neither consult nor
        # populate the memo — each one pays the full resolution cost,
        # keeping the yardstick code-independent.
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        path,
        source_fingerprint(sf_dir, name),
    )
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _TABLE_MEMO[key] = df
    return df


_TABLE_MEMO: dict[tuple, DataFrame] = {}

# when True, load_table skips the resolution memo entirely (bench.py
# control probes — see load_table docstring)
MEMO_BYPASS = False


def source_fingerprint(sf_dir: str, name: str) -> tuple:
    """Cheap identity of a source parquet table for write-once layout
    caches (round-9, ADVICE r8): (total bytes, max mtime_ns) over the
    file or directory.  Cache keys built from ``id(sparkContext)`` can
    collide after the old context is garbage-collected, and a
    regenerated fixture at the same path would otherwise silently serve
    a stale derived layout/index — the fingerprint changes in both
    cases.  Pure ``os.stat``, no Spark involvement.

    A path ``os.stat`` cannot see (missing, or a non-local filesystem
    like s3://) must NOT collapse to the constant (0, 0) — a constant
    key silently resurrects the stale-layout bug the fingerprint exists
    to fix (ADVICE r9).  Such paths get a token MEMOIZED per path for
    the process lifetime (ADVICE r10): still distinct from every
    stat-able fingerprint and from every other path, so cross-path /
    regenerated-local-fixture staleness stays impossible, but repeat
    invocations over the SAME remote path now HIT the fingerprint-keyed
    caches instead of silently rebuilding the staging layout once per
    rep (bench's 5 reps were 5 full re-writes, and bench.py's
    ORC_WRITE_SECS producer/consumer keys could never match).  The
    residual trade — a remote object mutated mid-process serves the
    stale layout until restart — is the same contract local stat-able
    paths already have within one mtime granule; a one-time warning
    makes the branch visible."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    total, mtime = 0, 0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                total += st.st_size
                mtime = max(mtime, st.st_mtime_ns)
    elif os.path.exists(path):
        st = os.stat(path)
        total, mtime = st.st_size, st.st_mtime_ns
    else:
        if path not in _FP_FRESH_BY_PATH:
            import warnings

            warnings.warn(
                f"source_fingerprint: {path!r} is not os.stat-able; "
                "using a process-lifetime token (derived layouts for "
                "this path will not refresh until restart)",
                RuntimeWarning,
                stacklevel=2,
            )
            _FP_FRESH_BY_PATH[path] = next(_FP_FRESH)
        return ("unfingerprintable", path, _FP_FRESH_BY_PATH[path])
    return (total, mtime)


# per-path process-lifetime tokens for source_fingerprint's
# unfingerprintable branch — module-level so the memo holds across all
# callers; the counter keeps tokens unique if paths ever alias
_FP_FRESH = itertools.count()
_FP_FRESH_BY_PATH: dict[str, int] = {}


def lineitem_key() -> F.Column:
    """Stable int64 row key for lineitem: (orderkey, linenumber) packed.
    TPC-H linenumber ∈ 1..7, so *8 is collision-free. Deterministic across
    runs/partitionings (unlike monotonically_increasing_id)."""
    return (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long")


def lineitem_drm(spark: SparkSession, sf_dir: str) -> Drm:
    """lineitem numerics as a 4-wide DRM keyed by the packed key —
    the standard matrix fixture for A6-A15 oracle checks (FIXTURES.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    return Drm.from_columns(li, lineitem_key(), LINEITEM_FEATURES)


def embeddings_drm(spark: SparkSession, sf_dir: str) -> Drm:
    """embeddings table as a 64-wide DRM keyed by vec_id (unique)."""
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        F.col("vec_id").cast("long").alias("row_id"),
        F.col("embedding").cast("array<double>").alias("features"),
    )
    return Drm(df, ncol=64)
