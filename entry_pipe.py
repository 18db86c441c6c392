"""Training-set assembly + sketch registry (north-star extensions,
round 3): deterministic split / stratified sample / shard / pack,
KMV distinct sketches, and three more relational join/JSON queries.
Merged into __spark_entry__ like entry_m5 / entry_rel.

Every oracle REPLAYS the engine pipeline over the same portable
md5-derived hash (operators/hashing.py) so hash-matches certify the
full decision chain, not just output shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mahout_samsara_book_spark.partitioning import ensure_min_partitions
from mahout_samsara_book_spark.sources.tables import load_table

from mahout_samsara_book_spark.operators.hashing import h60_sql

_sci = None
_sci_sql = None


def _init(sci, sci_sql):
    global _sci, _sci_sql
    _sci, _sci_sql = sci, sci_sql


# DuckDB twin of functions.text.tokenize (same regex class)
TOKS_SQL = (
    r"list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{Nd}]+'), "
    r"t -> t <> '')"
)

SEED = 42
N_SHARDS = 8
PACK_BUDGET = 512
KMV_K = 32
_H60_SPAN_F = float(1 << 60)

STRATA_FRACTIONS = {"en": 0.5, "de": 0.25, "es": 0.1}


def _doc_hash_sql(seed: int = SEED) -> str:
    return h60_sql(f"concat('s{seed}:', CAST(doc_id AS VARCHAR))")


# ------------------------------------------------------------------ #
# selection queries
# ------------------------------------------------------------------ #


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.selection import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return split_assign(docs, seed=SEED)


def o_split_assign() -> str:
    return f"""
SELECT doc_id,
       CASE WHEN bucket < 800 THEN 'train'
            WHEN bucket < 900 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, {_doc_hash_sql()} % 1000 AS bucket FROM documents)
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.selection import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(docs, "lang", STRATA_FRACTIONS, seed=SEED)
    return out.select("doc_id", "lang")


def o_stratified_sample() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {int(round(v * 10000))}"
        for k, v in sorted(STRATA_FRACTIONS.items())
    )
    draw = h60_sql(
        f"concat('s{SEED}:', lang, ':', CAST(doc_id AS VARCHAR))"
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {draw} % 10000 < (CASE {cases} ELSE 0 END)
"""


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.selection import shard_assign

    docs = load_table(spark, sf_dir, "documents")
    out = shard_assign(docs, N_SHARDS, seed=SEED)
    return out.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


def o_shard_assign() -> str:
    return f"""
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM (SELECT doc_id, {_doc_hash_sql()} % {N_SHARDS} AS shard,
             {_doc_hash_sql()} AS h
      FROM documents)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text import tokenize
    from mahout_samsara_book_spark.operators.selection import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokenize(F.col("text"))).alias("n_tok")
    )
    out = pack_sequences(
        docs, "n_tok", PACK_BUDGET, N_SHARDS, seed=SEED
    )
    return out.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        "pack_id",
        "pack_off",
    )


def o_pack_sequences() -> str:
    return f"""
WITH t AS (SELECT doc_id, len({TOKS_SQL}) AS tok,
                  {_doc_hash_sql()} AS h
           FROM documents),
c AS (SELECT doc_id, h % {N_SHARDS} AS shard,
             COALESCE(SUM(tok) OVER (
                 PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum
      FROM t)
SELECT doc_id, shard,
       CAST(floor(cum / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       CAST(cum % {PACK_BUDGET} AS BIGINT) AS pack_off
FROM c
"""


# ------------------------------------------------------------------ #
# sketch queries
# ------------------------------------------------------------------ #


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.sketches import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=KMV_K)


def _kmv_tail_sql(k: int = KMV_K) -> str:
    """Shared rank→sketch→estimate tail over a CTE named ``hashed``
    with columns (grp, h)."""
    return f"""
r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r
      FROM hashed),
sk AS (SELECT grp, max(h) AS rk, count(*) AS n_seen
       FROM r WHERE r <= {k} GROUP BY grp)
SELECT grp AS event_type,
       CAST(floor(CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
                       ELSE ({float(k - 1)} * {_H60_SPAN_F}) / rk END)
            AS BIGINT) AS n_est,
       CAST(n_seen AS BIGINT) AS n_seen
FROM sk
"""


def o_kmv_distinct() -> str:
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type AS grp,
         {h60_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
{_kmv_tail_sql()}
"""


def q_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.sketches import (
        kmv_union_distinct,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.get_json_object(F.col("props"), "$.k").alias("k_str"),
    )
    return kmv_union_distinct(
        ev, "event_type", ("user_id", "k_str"), k=KMV_K
    )


def o_kmv_union() -> str:
    return f"""
WITH stacked AS (
  SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS v FROM events
  UNION ALL
  SELECT event_type AS grp, json_extract_string(props, '$.k') AS v
  FROM events
),
hashed AS (
  SELECT DISTINCT grp, {h60_sql("v")} AS h FROM stacked
),
{_kmv_tail_sql()}
"""


# ------------------------------------------------------------------ #
# relational queries
# ------------------------------------------------------------------ #


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        shipping_priority,
    )

    out = shipping_priority(spark, sf_dir, k=10)
    return out.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        _sci(F.col("revenue")).alias("revenue"),
    )


def o_shipping_priority() -> str:
    return f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {_sci_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey ASC
LIMIT 10
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import large_orders

    out = large_orders(spark, sf_dir, min_qty=150.0)
    return out.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_name",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        _sci(F.col("o_totalprice")).alias("totalprice"),
        _sci(F.col("total_qty")).alias("total_qty"),
    )


def o_large_orders() -> str:
    return f"""
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150.0
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       {_sci_sql("o_totalprice")} AS totalprice,
       {_sci_sql("total_qty")} AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        json_props_rollup,
    )

    out = json_props_rollup(spark, sf_dir)
    return out.select(
        "event_type",
        "k_bucket",
        F.col("n").cast("long").alias("n"),
        F.col("k_sum").cast("long").alias("k_sum"),
        _sci(F.col("value_sum")).alias("value_sum"),
    )


def o_json_extract() -> str:
    return f"""
SELECT event_type,
       CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10)
            AS BIGINT) AS k_bucket,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       {_sci_sql("sum(value)")} AS value_sum
FROM events
GROUP BY event_type, CAST(floor(CAST(json_extract_string(props, '$.k')
                                     AS BIGINT) / 10) AS BIGINT)
"""


def q_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        monthly_revenue_trend,
    )

    out = monthly_revenue_trend(spark, sf_dir)
    return out.select(
        "month",
        "yr",
        "mo",
        _sci(F.col("revenue")).alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def o_date_trunc() -> str:
    return f"""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       {_sci_sql("sum(o_totalprice)")} AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY 1, 2, 3
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        customer_name_stats,
    )

    out = customer_name_stats(spark, sf_dir)
    return out.select(
        "prefix",
        F.col("n").cast("long").alias("n"),
        F.col("name_chars").cast("long").alias("name_chars"),
        F.col("n_with_zero").cast("long").alias("n_with_zero"),
        _sci(F.col("balance_sum")).alias("balance_sum"),
    )


def o_string_funcs() -> str:
    return f"""
SELECT upper(substring(c_name, 1, 9)) AS prefix,
       count(*) AS n,
       CAST(sum(length(c_name)) AS BIGINT) AS name_chars,
       CAST(sum(CASE WHEN c_name LIKE '%0%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_zero,
       {_sci_sql("sum(c_acctbal)")} AS balance_sum
FROM customer
GROUP BY 1
"""


BLOOM_M = 4096
BLOOM_K = 4


def _bloom_pos_list_sql(hexpr: str) -> str:
    """DuckDB list of the k probe positions for a precomputed h60
    column expression — replays operators/bloom._positions exactly."""
    return (
        "["
        + ", ".join(
            f"(({hexpr}) % 1073741824 + {i} * (({hexpr}) >> 30)) % {BLOOM_M}"
            for i in range(BLOOM_K)
        )
        + "]"
    )


def q_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.bloom import bloom_build

    ev = load_table(spark, sf_dir, "events")
    return bloom_build(ev, "event_type", "user_id", m_bits=BLOOM_M, k=BLOOM_K)


def o_bloom_build() -> str:
    return f"""
WITH h AS (SELECT event_type AS grp,
                  {h60_sql("CAST(user_id AS VARCHAR)")} AS h
           FROM events),
pos AS (SELECT grp, unnest({_bloom_pos_list_sql("h")}) AS pos FROM h)
SELECT grp AS event_type, pos // 63 AS word_idx,
       bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word_bits
FROM pos GROUP BY grp, pos // 63
"""


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    ev = load_table(spark, sf_dir, "events")
    bloom = bloom_build(ev, "event_type", "user_id", m_bits=BLOOM_M, k=BLOOM_K)
    present = ev.select("event_type", "user_id").distinct()
    absent = present.select(
        "event_type", (F.col("user_id") + 10_000_000).alias("user_id")
    )
    probes = present.unionByName(absent)
    out = bloom_probe(
        bloom, probes, "event_type", "user_id", m_bits=BLOOM_M, k=BLOOM_K
    )
    return out.select(
        "event_type", F.col("value").cast("long").alias("value"), "maybe_present"
    )


def o_bloom_probe() -> str:
    return f"""
WITH h0 AS (SELECT event_type AS grp,
                   {h60_sql("CAST(user_id AS VARCHAR)")} AS h
            FROM events),
pos0 AS (SELECT grp, unnest({_bloom_pos_list_sql("h")}) AS pos FROM h0),
bm AS (SELECT grp, pos // 63 AS word_idx,
              bit_or(1::BIGINT << CAST(pos % 63 AS INT)) AS word_bits
       FROM pos0 GROUP BY grp, pos // 63),
probes AS (
  SELECT DISTINCT event_type AS grp, user_id AS value FROM events
  UNION ALL
  SELECT DISTINCT event_type AS grp, user_id + 10000000 AS value FROM events
),
ph AS (SELECT grp, value,
              {h60_sql("CAST(value AS VARCHAR)")} AS h
       FROM probes),
pp AS (SELECT grp, value, unnest({_bloom_pos_list_sql("h")}) AS pos FROM ph),
j AS (SELECT pp.grp, pp.value,
             (COALESCE(bm.word_bits, 0)
              & (1::BIGINT << CAST(pp.pos % 63 AS INT))) <> 0 AS hit
      FROM pp LEFT JOIN bm
        ON pp.grp = bm.grp AND (pp.pos // 63) = bm.word_idx)
SELECT grp AS event_type, CAST(value AS BIGINT) AS value,
       bool_and(hit) AS maybe_present
FROM j GROUP BY grp, value
"""


def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        order_rank_family,
    )

    out = order_rank_family(spark, sf_dir)
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("rnk").cast("long").alias("rnk"),
        F.col("drnk").cast("long").alias("drnk"),
        _sci(F.col("prnk")).alias("prnk"),
        _sci(F.col("cdist")).alias("cdist"),
        F.col("quartile").cast("long").alias("quartile"),
    )


def o_rank_family() -> str:
    return f"""
SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       {_sci_sql("percent_rank() OVER w")} AS prnk,
       {_sci_sql("cume_dist() OVER w")} AS cdist,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import upsert_orders

    out = upsert_orders(spark, sf_dir, bump=1.1)
    return out.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "o_orderstatus",
        _sci(F.col("o_totalprice")).alias("o_totalprice"),
    )


def o_upsert() -> str:
    band = h60_sql("CAST(o_orderkey AS VARCHAR)")
    return f"""
WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              FROM orders),
banded AS (SELECT *, {band} % 100 AS b FROM base),
changes AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice
  FROM banded WHERE b < 10
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice
  FROM banded WHERE b >= 10 AND b < 15
)
SELECT CAST(COALESCE(c.o_orderkey, b.o_orderkey) AS BIGINT) AS o_orderkey,
       CAST(COALESCE(c.o_custkey, b.o_custkey) AS BIGINT) AS o_custkey,
       COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       {_sci_sql("COALESCE(c.o_totalprice, b.o_totalprice)")} AS o_totalprice
FROM changes c FULL OUTER JOIN base b ON c.o_orderkey = b.o_orderkey
"""


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.layout import (
        zorder_layout_stats,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").bitwiseAND(F.lit(65535)).alias("x"),
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("y"),
    )
    out = zorder_layout_stats(ev, "x", "y", bits=16, bucket_shift=10)
    return out.select(
        "z_bucket",
        F.col("n").cast("long").alias("n"),
        "x_min",
        "x_max",
        "y_min",
        "y_max",
    )


def o_zorder_stats() -> str:
    from mahout_samsara_book_spark.operators.layout import z_value_sql

    z = z_value_sql("x", "y", bits=16)
    return f"""
WITH xy AS (
  SELECT user_id & 65535 AS x,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
  FROM events
)
SELECT {z} >> 10 AS z_bucket, count(*) AS n,
       min(x) AS x_min, max(x) AS x_max,
       min(y) AS y_min, max(y) AS y_max
FROM xy GROUP BY 1
"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.selection import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(docs, size=200, stride=150)
    return out.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"), "chunk_text"
    )


def o_chunk_docs() -> str:
    return """
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
c AS (SELECT doc_id, text,
             unnest(range(0, 1 + (greatest(n - 200, 0) + 149) // 150))
               AS chunk_id
      FROM t)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       substring(text, CAST(chunk_id * 150 + 1 AS INT), 200) AS chunk_text
FROM c
"""


def q_incr_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        incremental_order_summary,
    )

    out = incremental_order_summary(spark, sf_dir)
    return out.select(
        "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        _sci(F.col("price_sum")).alias("price_sum"),
        _sci(F.col("price_min")).alias("price_min"),
        _sci(F.col("price_max")).alias("price_max"),
    )


def o_incr_summary() -> str:
    # the oracle computes the summary DIRECTLY — a hash-match proves the
    # base+delta merge path reproduces the ground-truth aggregate
    return f"""
SELECT o_orderstatus, count(*) AS n,
       {_sci_sql("sum(o_totalprice)")} AS price_sum,
       {_sci_sql("min(o_totalprice)")} AS price_min,
       {_sci_sql("max(o_totalprice)")} AS price_max
FROM orders GROUP BY 1
"""


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        asof_with_tolerance,
    )

    out = asof_with_tolerance(spark, sf_dir, tolerance_minutes=60)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        _sci(F.col("value")).alias("value"),
        _sci(F.col("recent_prior_value")).alias("recent_prior_value"),
    )


def o_asof_tolerance() -> str:
    tol_us = 60 * 60 * 1_000_000
    return f"""
WITH tl AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS t_us,
         last_value(CASE WHEN event_type <> 'purchase' THEN value END
                    IGNORE NULLS) OVER w AS prior_v,
         last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END
                    IGNORE NULLS) OVER w AS prior_t
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS event_id,
       {_sci_sql("value")} AS value,
       {_sci_sql(
           f"CASE WHEN t_us - prior_t <= {tol_us} THEN prior_v END"
       )} AS recent_prior_value
FROM tl WHERE event_type = 'purchase'
"""


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.relational import (
        discount_vs_avg_sql,
    )

    out = discount_vs_avg_sql(spark, sf_dir)
    return out.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        _sci(F.col("c_acctbal")).alias("c_acctbal"),
        _sci(F.col("above_avg")).alias("above_avg"),
    )


def o_scalar_subquery() -> str:
    return f"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       {_sci_sql("c_acctbal")} AS c_acctbal,
       {_sci_sql(
           "c_acctbal - (SELECT avg(c2.c_acctbal) FROM customer c2 "
           "WHERE c2.c_nationkey = c1.c_nationkey)"
       )} AS above_avg
FROM customer c1
WHERE c_acctbal > (SELECT avg(c3.c_acctbal) FROM customer c3
                   WHERE c3.c_nationkey = c1.c_nationkey)
"""


EMB_DIM = 64


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import (
        label_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = label_centroids(emb)
    return out.select(
        F.col("label").cast("long").alias("label"),
        # Scalarize: the driver's canonicalizer cannot hash list cells
        # (same hazard text_inverted_index hit in round 4), so join the
        # per-dim %.7e strings into one comma-separated scalar.
        F.concat_ws(
            ",", F.transform(F.col("centroid"), lambda m: _sci(m))
        ).alias("centroid"),
        "n",
    )


def o_emb_centroids() -> str:
    sci_m = _sci_sql("m")
    return f"""
WITH l AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT label, i, v[i + 1] AS x FROM l, range({EMB_DIM}) t(i)),
pd AS (SELECT label, i AS dim, avg(x) AS m, count(*) AS cnt
       FROM e GROUP BY 1, 2)
SELECT CAST(label AS BIGINT) AS label,
       array_to_string(list({sci_m} ORDER BY dim), ',') AS centroid,
       CAST(min(cnt) AS BIGINT) AS n
FROM pd GROUP BY label
"""


def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.similarity import (
        centroid_outliers,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb)
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        _sci(F.col("dist2")).alias("dist2"),
    )


def o_emb_outliers() -> str:
    return f"""
WITH l AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT label, i, v[i + 1] AS x FROM l, range({EMB_DIM}) t(i)),
pd AS (SELECT label, i AS dim, avg(x) AS m FROM e GROUP BY 1, 2),
c AS (SELECT label, list(m ORDER BY dim) AS centroid FROM pd GROUP BY 1)
SELECT l.vec_id, CAST(l.label AS BIGINT) AS label,
       {_sci_sql(
           "list_aggregate(list_transform(range(1, " + str(EMB_DIM + 1) + "), "
           "i -> (l.v[i] - c.centroid[i]) * (l.v[i] - c.centroid[i])), 'sum')"
       )} AS dist2
FROM l JOIN c ON l.label = c.label
"""


# ------------------------------------------------------------------ #
# Count-Min / HyperLogLog / priority sampling (round-3 additions)
# ------------------------------------------------------------------ #

CMS_W = 256
CMS_D = 4
CMS_SEED = 7
CMS_PROBES = 20
HLL_B = 6
PRI_K = 5
PRI_SEED = 17


def q_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.sketches import (
        cms_estimate,
        heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents")
    probes = heavy_hitters(docs, k=CMS_PROBES)
    return cms_estimate(
        docs, probes, width=CMS_W, depth=CMS_D, seed=CMS_SEED
    )


def o_cms_estimate() -> str:
    from mahout_samsara_book_spark.operators.hashing import (
        affine_sql,
        h31_sql,
        hash_family,
    )

    fam = hash_family(CMS_D, CMS_SEED)
    th = h31_sql("term")
    arms = " UNION ALL ".join(
        f"SELECT term, {r} AS r, ({affine_sql(th, a, b)}) % {CMS_W} AS bucket"
        " FROM toks"
        for r, (a, b) in enumerate(fam)
    )
    parms = " UNION ALL ".join(
        f"SELECT term, {r} AS r, ({affine_sql(th, a, b)}) % {CMS_W} AS bucket"
        " FROM probes"
        for r, (a, b) in enumerate(fam)
    )
    return f"""
WITH toks AS (SELECT unnest({TOKS_SQL}) AS term FROM documents),
probes AS (SELECT term FROM (SELECT term, count(*) AS n FROM toks GROUP BY 1)
           ORDER BY n DESC, term LIMIT {CMS_PROBES}),
counters AS (SELECT r, bucket, count(*) AS c FROM ({arms}) GROUP BY 1, 2),
pb AS ({parms})
SELECT pb.term, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS n_est
FROM pb LEFT JOIN counters c USING (r, bucket)
GROUP BY pb.term
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.sketches import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(ev, "event_type", "user_id", b=HLL_B)


def _hll_tail_sql(out_grp: str) -> str:
    """Shared HLL register->estimate replay over a CTE named ``hashed``
    with columns (grp, h). ``out_grp`` names the output group column."""
    from mahout_samsara_book_spark.operators.sketches import _hll_alpha

    m = 1 << HLL_B
    low_bits = 60 - HLL_B
    span = 1 << low_bits
    alpha_m2 = repr(_hll_alpha(m) * m * m)
    return f"""
regs AS (
  SELECT grp, h >> {low_bits} AS j,
         max(CASE WHEN h % {span} = 0 THEN {low_bits + 1}
             ELSE {low_bits} - length(bin(h % {span})) + 1 END) AS mj
  FROM hashed GROUP BY 1, 2
),
folded AS (
  SELECT grp,
         list_sum(list(power(2.0, -mj) ORDER BY j)) AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY grp
),
est AS (
  SELECT grp, n_regs,
         {alpha_m2} / (s_present + CAST({m} - n_regs AS DOUBLE)) AS raw,
         CAST({m} - n_regs AS DOUBLE) AS zeros
  FROM folded
)
SELECT grp AS {out_grp},
       CAST(floor(CASE WHEN raw <= {repr(2.5 * m)} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE raw END) AS BIGINT) AS n_est,
       CAST(n_regs AS BIGINT) AS n_regs
FROM est
"""


def o_hll_distinct() -> str:
    h = h60_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (SELECT event_type AS grp, {h} AS h FROM events),
{_hll_tail_sql("event_type")}
"""


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.selection import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    out = priority_sample(
        docs, "lang", F.octet_length("text"), k=PRI_K, seed=PRI_SEED
    )
    return out.select(
        "doc_id", "lang", _sci(F.col("priority")).alias("priority")
    )


def o_priority_sample() -> str:
    h = h60_sql(f"concat('w{PRI_SEED}:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH p AS (
  SELECT doc_id, lang,
         (CAST(strlen(text) AS DOUBLE) * {_H60_SPAN_F!r})
           / CAST({h} + 1 AS DOUBLE) AS priority
  FROM documents
),
r AS (SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY priority DESC, doc_id) AS rn FROM p)
SELECT doc_id, lang, {_sci_sql('priority')} AS priority
FROM r WHERE rn <= {PRI_K}
"""


# ------------------------------------------------------------------ #
# graph analytics + fuzzy join (round-3 additions)
# ------------------------------------------------------------------ #

PR_DAMPING = 0.85
PR_ITERS = 5
FUZZY_PERTURB = 10


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.graph import (
        pagerank,
        transition_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = transition_edges(ev)
    out = pagerank(edges, damping=PR_DAMPING, iters=PR_ITERS)
    return out.select("node", _sci(F.col("pr")).alias("pr"))


def o_pagerank() -> str:
    d = PR_DAMPING
    base = f"({(1.0 - d)!r} / nn.n)"
    parts = [
        f"""
pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
edges AS MATERIALIZED (
  SELECT src, dst, count(*) AS w FROM pairs
  WHERE dst IS NOT NULL GROUP BY 1, 2
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
probs AS MATERIALIZED (
  SELECT e.src, e.dst,
         CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS p
  FROM edges e JOIN ow o USING (src)
),
dangling AS MATERIALIZED (
  SELECT node FROM nodes
  WHERE node NOT IN (SELECT DISTINCT src FROM edges)
),
r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f""",
inc{i} AS (
  SELECT p.dst, list_sum(list(p.p * r.pr ORDER BY p.src)) AS inc
  FROM probs p JOIN r{i - 1} r ON r.node = p.src GROUP BY p.dst
),
dg{i} AS (
  SELECT coalesce(list_sum(list(r.pr ORDER BY r.node)), 0.0) AS dm
  FROM dangling g JOIN r{i - 1} r ON r.node = g.node
),
r{i} AS (
  SELECT n.node,
         {base} + {d!r} * (coalesce(i.inc, 0.0) + g.dm / nn.n) AS pr
  FROM nodes n LEFT JOIN inc{i} i ON n.node = i.dst
  CROSS JOIN dg{i} g CROSS JOIN nn
)"""
        )
    body = "".join(parts)
    return f"""
WITH {body.lstrip()}
SELECT node, {_sci_sql('pr')} AS pr FROM r{PR_ITERS}
"""


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.fuzzy import fuzzy_self_join

    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.min("p_partkey").alias("id")
    )
    # plant single-char-deletion variants of the 10 lowest-id names so
    # the distance-1 path provably fires (mirrors _AUG_DOCS_SQL)
    perturbed = (
        names.orderBy("id")
        .limit(FUZZY_PERTURB)
        .select(
            (F.col("id") + 1000000).alias("id"),
            F.expr(
                "concat(substring(name, 1, 2), substring(name, 4))"
            ).alias("name"),
        )
    )
    aug = names.select("id", "name").unionByName(perturbed)
    return fuzzy_self_join(aug, id_col="id", name_col="name", max_dist=1)


def o_fuzzy_join() -> str:
    return f"""
WITH names AS (SELECT min(p_partkey) AS id, p_name AS name
               FROM part GROUP BY p_name),
pert AS (
  SELECT id + 1000000 AS id,
         substring(name, 1, 2) || substring(name, 4) AS name
  FROM (SELECT * FROM names ORDER BY id LIMIT {FUZZY_PERTURB})
),
aug AS (SELECT id, name FROM names UNION ALL SELECT id, name FROM pert),
v AS MATERIALIZED (
  SELECT DISTINCT id AS vid, name AS vname, variant FROM (
    SELECT id, name,
           unnest(list_append(
             list_transform(range(1, length(name) + 1),
               i -> substring(name, 1, i - 1)
                    || substring(name, i + 1)),
             name)) AS variant
    FROM aug)
),
cand AS (
  SELECT DISTINCT l.vid AS id_a, r.vid AS id_b,
                  l.vname AS name_a, r.vname AS name_b
  FROM v l JOIN v r ON l.variant = r.variant AND l.vid < r.vid
)
SELECT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 1
"""


UNIV_PCT = 10
UNIV_SEED = 23


def q_universe_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two universe-sampled tables: because both sides sample the
    SAME key slice, the join loses no matched rows relative to sampling
    the join result itself."""
    from mahout_samsara_book_spark.operators.selection import (
        universe_sample,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    so = universe_sample(orders, "o_orderkey", UNIV_PCT, UNIV_SEED)
    sl = universe_sample(li, "l_orderkey", UNIV_PCT, UNIV_SEED)
    out = (
        so.join(sl, so.o_orderkey == sl.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )
    return out.select(
        "o_orderpriority",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("n_orders").cast("long").alias("n_orders"),
    )


def o_universe_sample() -> str:
    d_o = h60_sql(f"concat('u{UNIV_SEED}:', CAST(o_orderkey AS VARCHAR))")
    d_l = h60_sql(f"concat('u{UNIV_SEED}:', CAST(l_orderkey AS VARCHAR))")
    return f"""
WITH so AS (SELECT * FROM orders WHERE {d_o} % 100 < {UNIV_PCT}),
sl AS (SELECT * FROM lineitem WHERE {d_l} % 100 < {UNIV_PCT})
SELECT o_orderpriority, count(*) AS n_items,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
FROM so JOIN sl ON o_orderkey = l_orderkey
GROUP BY 1
"""




# ------------------------------------------------------------------ #
# round-3 late additions: triangle counting, degree histogram,
# int8 quantization, bigram-LM quality scoring
# ------------------------------------------------------------------ #

# Co-occurrence graph shared by the triangle/degree queries: parts are
# adjacent when some order contains both (the classic market-basket
# projection of the order->part bipartite graph).
# min co-occurrence weight for the triangle query: one shared order
# links everything (avg degree ~116 at sf0.01 → wedge explosion);
# repeated co-occurrence keeps the affinity graph sparse at every sf
TRI_MIN_W = 2


def _cooc_sql(min_w: int) -> str:
    having = f"HAVING count(*) >= {min_w}" if min_w > 1 else ""
    return f"""
li_set AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
e0 AS MATERIALIZED (
  SELECT a.i AS a, b.i AS b
  FROM li_set a
  JOIN li_set b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2 {having}
),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0
  ) GROUP BY 1
)"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # pack_ids=True: part keys are 32-bit-bounded in this corpus; the
    # packed single-long pair key makes the projection aggregate 2.3x
    # cheaper at sf10 (round-8), with a codegen'd overflow guard
    out = triangle_counts(cooccurrence_edges(li, min_weight=TRI_MIN_W, pack_ids=True))
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("tri").cast("long").alias("tri"),
    )


def o_graph_triangles() -> str:
    return f"""
WITH {_cooc_sql(TRI_MIN_W)},
o AS MATERIALIZED (
  SELECT CASE WHEN (da.deg < db.deg)
                OR (da.deg = db.deg AND e0.a < e0.b)
              THEN e0.a ELSE e0.b END AS src,
         CASE WHEN (da.deg < db.deg)
                OR (da.deg = db.deg AND e0.a < e0.b)
              THEN e0.b ELSE e0.a END AS dst
  FROM e0
  JOIN deg da ON da.node = e0.a
  JOIN deg db ON db.node = e0.b
),
tri AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM o e1
  JOIN o e2 ON e1.dst = e2.src
  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
corners AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS tri
FROM corners GROUP BY 1
"""


def q_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.graph import (
        cooccurrence_edges,
        degrees,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = degrees(cooccurrence_edges(li, pack_ids=True))
    return (
        out.groupBy("deg")
        .agg(F.count("*").alias("n_nodes"))
        .select(
            F.col("deg").cast("long").alias("deg"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
        )
    )


def o_graph_degree_hist() -> str:
    return f"""
WITH {_cooc_sql(1)}
SELECT CAST(deg AS BIGINT) AS deg, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY 1
"""


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.quantize import (
        int8_recon_stats,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = int8_recon_stats(emb)
    return out.select(
        "vec_id",
        _sci(F.col("scale")).alias("scale"),
        _sci(F.col("mse")).alias("mse"),
        F.col("code_l1").cast("long").alias("code_l1"),
    )


def o_emb_quantize_int8() -> str:
    d = EMB_DIM
    err_i = "(v[i] - CAST(codes[i] AS DOUBLE) * scale)"
    return f"""
WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS amax
  FROM l
),
c AS (
  SELECT vec_id, v, amax / 127.0 AS scale,
         CASE WHEN amax = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(
                     v, x -> CAST(round(x / (amax / 127.0)) AS INT))
         END AS codes
  FROM q
)
SELECT vec_id,
       {_sci_sql("scale")} AS scale,
       {_sci_sql(
           "list_aggregate(list_transform(range(1, " + str(d + 1) + "), "
           "i -> " + err_i + " * " + err_i + "), 'sum') / " + str(float(d))
       )} AS mse,
       CAST(list_aggregate(
           list_transform(codes, x -> CAST(abs(x) AS BIGINT)),
           'sum') AS BIGINT) AS code_l1
FROM c
"""


def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.functions.text_analysis import (
        bigram_lm_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = bigram_lm_scores(docs)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        _sci(F.col("avg_logp")).alias("avg_logp"),
    )


def o_text_bigram_lm() -> str:
    return f"""
WITH tk AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
tok AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos, toks[i] AS tok
  FROM tk, LATERAL unnest(generate_series(1, len(toks))) AS t(i)
),
bgn AS MATERIALIZED (
  SELECT * FROM (
    SELECT doc_id, pos, tok,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM tok
  ) WHERE nxt IS NOT NULL
),
bc AS MATERIALIZED (
  SELECT tok, nxt, count(*) AS cnt FROM bgn GROUP BY 1, 2
),
ctx AS (SELECT tok, sum(cnt) AS ctx_cnt FROM bc GROUP BY 1),
v AS (SELECT count(DISTINCT tok) AS vv FROM tok),
sc AS (
  SELECT b.doc_id, b.pos,
         ln(CAST(c.cnt + 1 AS DOUBLE)
            / CAST(x.ctx_cnt + v.vv AS DOUBLE)) AS logp
  FROM bgn b
  JOIN bc c ON b.tok = c.tok AND b.nxt = c.nxt
  JOIN ctx x ON b.tok = x.tok
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       {_sci_sql("list_sum(list(logp ORDER BY pos)) / CAST(count(*) AS DOUBLE)")} AS avg_logp
FROM sc GROUP BY doc_id
"""




SQ_K = 256
SQ_SEED = 17
SQ_QS = (0.1, 0.5, 0.9, 0.99)


def q_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.sketches import (
        sample_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    out = sample_quantiles(
        ev, "event_type", "value", "event_id",
        quantiles=SQ_QS, k=SQ_K, seed=SQ_SEED,
    )
    return out.select(
        "event_type",
        _sci(F.col("q")).alias("q"),
        _sci(F.col("est")).alias("est"),
    )


def o_sample_quantiles() -> str:
    h = h60_sql(f"concat('q{SQ_SEED}:', CAST(event_id AS VARCHAR))")
    qvals = ", ".join(f"({q!r})" for q in SQ_QS)
    return f"""
WITH hashed AS (
  SELECT event_type AS grp, value AS v, event_id AS key, {h} AS h
  FROM events
),
rnk AS (
  SELECT grp, v, key,
         row_number() OVER (PARTITION BY grp ORDER BY h, key, v) AS r
  FROM hashed
),
s AS (
  SELECT grp, list(v ORDER BY v, key) AS sv, count(*) AS n_eff
  FROM rnk WHERE r <= {SQ_K} GROUP BY grp
)
SELECT grp AS event_type,
       {_sci_sql("q.q")} AS q,
       {_sci_sql(
           "sv[CAST(floor(CAST(n_eff - 1 AS DOUBLE) * q.q) AS INT) + 1]"
       )} AS est
FROM s CROSS JOIN (VALUES {qvals}) AS q(q)
"""



QUERIES = {
    "sketch_sample_quantiles": q_sample_quantiles,
    "graph_triangles": q_graph_triangles,
    "graph_degree_hist": q_graph_degree_hist,
    "emb_quantize_int8": q_emb_quantize_int8,
    "text_bigram_lm": q_text_bigram_lm,
    "sel_universe_sample": q_universe_sample,
    "graph_pagerank": q_pagerank,
    "rel_fuzzy_join": q_fuzzy_join,
    "sketch_cms": q_cms_estimate,
    "sketch_hll": q_hll_distinct,
    "sel_priority_sample": q_priority_sample,
    "sel_split_assign": q_split_assign,
    "sel_stratified_sample": q_stratified_sample,
    "sel_shard_assign": q_shard_assign,
    "sel_pack_sequences": q_pack_sequences,
    "sketch_kmv_distinct": q_kmv_distinct,
    "sketch_kmv_union": q_kmv_union,
    "rel_shipping_priority": q_shipping_priority,
    "rel_large_orders": q_large_orders,
    "rel_json_extract": q_json_extract,
    "rel_date_trunc": q_date_trunc,
    "rel_string_funcs": q_string_funcs,
    "bloom_build": q_bloom_build,
    "bloom_probe": q_bloom_probe,
    "rel_rank_family": q_rank_family,
    "rel_upsert": q_upsert,
    "zorder_stats": q_zorder_stats,
    "sel_chunk_docs": q_chunk_docs,
    "rel_incr_summary": q_incr_summary,
    "emb_centroids": q_emb_centroids,
    "emb_outliers": q_emb_outliers,
    "rel_asof_tolerance": q_asof_tolerance,
    "rel_scalar_subquery": q_scalar_subquery,
}


def oracles() -> dict[str, str]:
    return {
        "sketch_sample_quantiles": o_sample_quantiles(),
        "graph_triangles": o_graph_triangles(),
        "graph_degree_hist": o_graph_degree_hist(),
        "emb_quantize_int8": o_emb_quantize_int8(),
        "text_bigram_lm": o_text_bigram_lm(),
        "sel_universe_sample": o_universe_sample(),
        "graph_pagerank": o_pagerank(),
        "rel_fuzzy_join": o_fuzzy_join(),
        "sketch_cms": o_cms_estimate(),
        "sketch_hll": o_hll_distinct(),
        "sel_priority_sample": o_priority_sample(),
        "sel_split_assign": o_split_assign(),
        "sel_stratified_sample": o_stratified_sample(),
        "sel_shard_assign": o_shard_assign(),
        "sel_pack_sequences": o_pack_sequences(),
        "sketch_kmv_distinct": o_kmv_distinct(),
        "sketch_kmv_union": o_kmv_union(),
        "rel_shipping_priority": o_shipping_priority(),
        "rel_large_orders": o_large_orders(),
        "rel_json_extract": o_json_extract(),
        "rel_date_trunc": o_date_trunc(),
        "rel_string_funcs": o_string_funcs(),
        "bloom_build": o_bloom_build(),
        "bloom_probe": o_bloom_probe(),
        "rel_rank_family": o_rank_family(),
        "rel_upsert": o_upsert(),
        "zorder_stats": o_zorder_stats(),
        "sel_chunk_docs": o_chunk_docs(),
        "rel_incr_summary": o_incr_summary(),
        "emb_centroids": o_emb_centroids(),
        "emb_outliers": o_emb_outliers(),
        "rel_asof_tolerance": o_asof_tolerance(),
        "rel_scalar_subquery": o_scalar_subquery(),
    }


# ------------------------------------------------------------------ #
# power-iteration PCA (round-3 late batch)
# ------------------------------------------------------------------ #

PCA_ITERS = 4


def q_emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.algorithms.spectra import (
        power_iteration,
    )
    from mahout_samsara_book_spark.drm.drm import Drm

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("row_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "features"
        ),
    )
    g = Drm.from_df(emb, EMB_DIM).gram()
    v = power_iteration(g, iters=PCA_ITERS)
    rows = [(i, float(x)) for i, x in enumerate(v)]
    df = spark.createDataFrame(rows, "pos long, x double")
    return df.select("pos", _sci(F.col("x")).alias("x"))


def o_emb_pca_power() -> str:
    d = EMB_DIM
    parts = [
        f"""
WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, i, v[i + 1] AS x FROM l, range({d}) t(i)),
g AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS v
  FROM e a JOIN e b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
v0 AS (SELECT i, {1.0 / d ** 0.5!r} AS x FROM range({d}) t(i))"""
    ]
    for k in range(1, PCA_ITERS + 1):
        parts.append(
            f""",
w{k} AS (
  SELECT g.i, list_sum(list(g.v * v.x ORDER BY g.j)) AS x
  FROM g JOIN v{k - 1} v ON g.j = v.i GROUP BY 1
),
n{k} AS (SELECT sqrt(list_sum(list(x * x ORDER BY i))) AS nrm FROM w{k}),
v{k} AS (SELECT i, x / nrm AS x FROM w{k} CROSS JOIN n{k})"""
        )
    parts.append(
        f"""
SELECT CAST(i AS BIGINT) AS pos, {_sci_sql('x')} AS x
FROM v{PCA_ITERS}"""
    )
    return "".join(parts)


QUERIES["emb_pca_power"] = q_emb_pca_power
_oracles_pre_pca = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_pca()
    d["emb_pca_power"] = o_emb_pca_power()
    return d


# ------------------------------------------------------------------ #
# Markov next-state + order-value histogram (round-3 late batch)
# ------------------------------------------------------------------ #

MARKOV_TOPK = 3
HIST_WIDTH = 20_000.0
HIST_MAX_BUCKET = 29  # clamp tail into a terminal overflow bucket


def q_ev_markov_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.graph import (
        top_transitions,
        transition_edges,
    )

    ev = load_table(spark, sf_dir, "events")
    out = top_transitions(transition_edges(ev), k=MARKOV_TOPK)
    return out.select(
        "src",
        "dst",
        F.col("w").cast("long").alias("w"),
        _sci(F.col("p")).alias("p"),
        F.col("rank").cast("long").alias("rank"),
    )


def o_ev_markov_next() -> str:
    return f"""
WITH pairs AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
edges AS (
  SELECT src, dst, count(*) AS w FROM pairs
  WHERE dst IS NOT NULL GROUP BY 1, 2
),
ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
rk AS (
  SELECT e.src, e.dst, e.w,
         CAST(e.w AS DOUBLE) / CAST(o.ow AS DOUBLE) AS p,
         row_number() OVER (PARTITION BY e.src
                            ORDER BY e.w DESC, e.dst) AS rank
  FROM edges e JOIN ow o USING (src)
)
SELECT src, dst, CAST(w AS BIGINT) AS w, {_sci_sql('p')} AS p,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {MARKOV_TOPK}
"""


def q_rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(HIST_WIDTH)).cast("long"),
        F.lit(HIST_MAX_BUCKET).cast("long"),
    )
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("o_totalprice").alias("total"),
        )
        .select(
            "bucket",
            F.col("n").cast("long").alias("n"),
            _sci(F.col("total")).alias("total"),
        )
    )


def o_rel_histogram() -> str:
    return f"""
SELECT least(CAST(floor(o_totalprice / {HIST_WIDTH!r}) AS BIGINT),
             {HIST_MAX_BUCKET}) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       {_sci_sql('sum(o_totalprice)')} AS total
FROM orders GROUP BY 1
"""


QUERIES["ev_markov_next"] = q_ev_markov_next
QUERIES["rel_histogram"] = q_rel_histogram
_oracles_pre_mkv = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_mkv()
    d["ev_markov_next"] = o_ev_markov_next()
    d["rel_histogram"] = o_rel_histogram()
    return d


# ------------------------------------------------------------------ #
# bloom runtime-filter join (round-3 late batch)
# ------------------------------------------------------------------ #

BPJ_MIN_BAL = 9000.0
BPJ_M_BITS = 1 << 17
BPJ_K = 4


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.bloom import bloom_prune_join

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > BPJ_MIN_BAL
    )
    orders = load_table(spark, sf_dir, "orders")
    pruned = bloom_prune_join(
        cust, orders, "c_custkey", "o_custkey",
        m_bits=BPJ_M_BITS, k=BPJ_K,
    )
    out = (
        pruned.join(cust, pruned.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("total"),
        )
    )
    return out.select(
        "c_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        _sci(F.col("total")).alias("total"),
    )


def o_bloom_join_prune() -> str:
    # the bloom prefilter is semantically invisible (no false
    # negatives; the exact join removes false positives), so the oracle
    # is the plain join — a hash-match certifies the pruning chain
    # never dropped a true match
    return f"""
SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
       {_sci_sql('sum(o_totalprice)')} AS total
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > {BPJ_MIN_BAL!r}
GROUP BY 1
"""


QUERIES["bloom_join_prune"] = q_bloom_join_prune
_oracles_pre_bpj = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_bpj()
    d["bloom_join_prune"] = o_bloom_join_prune()
    return d


# ------------------------------------------------------------------ #
# fixed-round k-core peeling (round-3 late batch)
# ------------------------------------------------------------------ #

KCORE_K = 90
KCORE_ROUNDS = 4


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.operators.graph import (
        cooccurrence_edges,
        kcore_peel,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = kcore_peel(cooccurrence_edges(li, pack_ids=True), k=KCORE_K, rounds=KCORE_ROUNDS)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("deg").cast("long").alias("deg"),
    )


def o_graph_kcore() -> str:
    parts = [f"WITH {_cooc_sql(1)}"]
    prev_e = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f""",
d{r} AS (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM {prev_e} UNION ALL SELECT b AS node FROM {prev_e}
  ) GROUP BY 1
),
k{r} AS (SELECT node FROM d{r} WHERE deg >= {KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev_e} e
  WHERE e.a IN (SELECT node FROM k{r})
    AND e.b IN (SELECT node FROM k{r})
)"""
        )
        prev_e = f"e{r}"
    parts.append(
        f"""
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS deg
FROM (
  SELECT a AS node FROM {prev_e} UNION ALL SELECT b AS node FROM {prev_e}
) GROUP BY 1"""
    )
    return "".join(parts)


QUERIES["graph_kcore"] = q_graph_kcore
_oracles_pre_kcore = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_kcore()
    d["graph_kcore"] = o_graph_kcore()
    return d


def q_sketch_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mahout_samsara_book_spark.sources.tables import load_table
    from mahout_samsara_book_spark.streaming.events import sliding_hll_users

    out = sliding_hll_users(
        load_table(spark, sf_dir, "events"), 3600, 900, b=HLL_B
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "n_est",
        "n_regs",
    )


def o_sketch_hll_sliding() -> str:
    h = h60_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH t AS (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events),
hashed AS (
  SELECT ((sec // 900) - i) * 900 AS grp, {h} AS h
  FROM t, LATERAL unnest(generate_series(0, 3)) AS g(i)
),
{_hll_tail_sql("window_start")}
"""


QUERIES["sketch_hll_sliding"] = q_sketch_hll_sliding
_oracles_pre_hllw = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_hllw()
    d["sketch_hll_sliding"] = o_sketch_hll_sliding()
    return d


# ------------------------------------------------------------------ #
# order-insensitive table checksum (round-3 late batch)
# ------------------------------------------------------------------ #


def q_rel_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-integrity fingerprint: per returnflag partition, the XOR of
    the portable row-key hashes plus the row count — the primitive a
    100 TB copy/migration verifies with (order-insensitive, mergeable
    across shards, no overflow: XOR is closed on 64 bits where a SUM of
    2^60-scale hashes would overflow BIGINT differently per engine).
    Row identity = the integer key tuple, so the checksum is
    float-format-free and engine-portable by construction."""
    from mahout_samsara_book_spark.operators.hashing import h60

    li = ensure_min_partitions(load_table(spark, sf_dir, "lineitem"))
    rowkey = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bit_xor(h60(rowkey)).alias("checksum"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            F.col("checksum").cast("long").alias("checksum"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


def o_rel_table_checksum() -> str:
    h = h60_sql(
        "concat(CAST(l_orderkey AS VARCHAR), ':', "
        "CAST(l_linenumber AS VARCHAR), ':', "
        "CAST(l_partkey AS VARCHAR), ':', "
        "CAST(l_suppkey AS VARCHAR))"
    )
    return f"""
SELECT l_returnflag,
       CAST(bit_xor({h}) AS BIGINT) AS checksum,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY 1
"""


QUERIES["rel_table_checksum"] = q_rel_table_checksum
_oracles_pre_cksum = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_cksum()
    d["rel_table_checksum"] = o_rel_table_checksum()
    return d


# ------------------------------------------------------------------ #
# table profiling: the data-quality audit a pipeline runs before
# trusting a 100 TB input (round-5 extension)
# ------------------------------------------------------------------ #

_PROFILE_COLS = (
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_linestatus", "str"),
    ("l_returnflag", "str"),
)


def q_rel_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of lineitem — ``(column, n, n_null,
    n_distinct, min_s, max_s)``: the null/cardinality/range audit every
    ingestion run performs before trusting an input drop.

    Plan shape (round-6 rewrite, two stages, both Expand-free and
    sort-free):

    1. **Extremes + row count** — ONE wide global aggregate (min/max
       per column, count(*)), no distinct, no grouping keys.  The
       string min/max buffers make this a SortAggregate, but with an
       empty grouping key there is nothing to sort — partials fold on
       the scan, one row crosses the wire.  A literal-array explode
       pivots the single row to ``(column, min_s, max_s)``.
    2. **Null + distinct counts** — UNPIVOT to a narrow
       ``(column, v)`` relation, then ``groupBy("column")`` with ONE
       ``count_distinct``.  A single distinct aggregate plans as a
       plain two-phase HASH aggregate (long-only buffers) — no Expand,
       no sort.

    The previous shapes each hid a row-scaled cost: N
    ``count_distinct`` in one ``agg`` forced Catalyst's multi-distinct
    Expand (N× row replication); folding string extremes into the
    grouped long-relation aggregate forced a SortAggregate over the
    N×-exploded rows (string min/max buffers are immutable, so hash
    aggregation is off the table — measured 6.5 s at sf0.1).  Splitting
    costs a second column-pruned parquet scan — the right trade at
    100 TB, where scans are linear and parallel but Expand/sort
    multipliers compound.  ``v`` (string cast, injective on the actual
    value domain) carries distinctness; numeric extremes format through
    the engine's %.7e convention.  The two 5-row sides broadcast-join
    on column name."""
    li = load_table(spark, sf_dir, "lineitem")
    ext_aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        ext_aggs += [
            (
                _sci(F.min(col).cast("double"))
                if kind == "num"
                else F.min(col).cast("string")
            ).alias(f"{c}__min"),
            (
                _sci(F.max(col).cast("double"))
                if kind == "num"
                else F.max(col).cast("string")
            ).alias(f"{c}__max"),
        ]
    ext_row = li.agg(*ext_aggs)
    ext_entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    ext = ext_row.select(
        F.col("_n").alias("n"), F.explode(ext_entries).alias("e")
    ).select("n", "e.*")

    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("v"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    long = li.select(F.explode(entries).alias("e")).select("e.*")
    dn = long.groupBy("column").agg(
        F.sum(F.col("v").isNull().cast("long")).cast("long").alias("n_null"),
        F.count_distinct(F.col("v")).cast("long").alias("n_distinct"),
    )
    return ext.join(F.broadcast(dn), "column").select(
        "column", "n", "n_null", "n_distinct", "min_s", "max_s"
    )


def o_rel_profile() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        mn = (
            _sci_sql(f"min({c})::DOUBLE")
            if kind == "num"
            else f"CAST(min({c}) AS VARCHAR)"
        )
        mx = (
            _sci_sql(f"max({c})::DOUBLE")
            if kind == "num"
            else f"CAST(max({c}) AS VARCHAR)"
        )
        parts.append(
            f"SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n,\n"
            f"  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_null,\n"
            f"  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"  {mn} AS min_s, {mx} AS max_s\n"
            "FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


QUERIES["rel_profile"] = q_rel_profile
_oracles_pre_profile = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_profile()
    d["rel_profile"] = o_rel_profile()
    return d


# ------------------------------------------------------------------ #
# round-8: theta-style KMV intersection estimates
# ------------------------------------------------------------------ #

KMV_I_K = 256  # larger sketch: pairwise intersections amplify KMV error


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap estimates between event types (the
    theta-sketch intersection KMV union can't express): per event-type
    pair, the estimated number of users active in BOTH. All sketch math
    is integer md5 hashes; see kmv_intersect_distinct's scale notes
    (pair join over k-row sketches, never the raw user sets)."""
    from mahout_samsara_book_spark.operators.sketches import (
        kmv_intersect_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    out = kmv_intersect_distinct(ev, "event_type", "user_id", k=KMV_I_K)
    return out.select(
        "grp_a",
        "grp_b",
        F.col("n_common").cast("long").alias("n_common"),
        _sci(F.col("inter_est")).alias("inter_est"),
    )


def o_kmv_intersect() -> str:
    k = KMV_I_K
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type AS grp,
         {h60_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events
),
r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS r
      FROM hashed),
entries AS (SELECT grp, h FROM r WHERE r <= {k}),
thetas AS (
  SELECT grp,
         CASE WHEN count(*) < {k} THEN {int(_H60_SPAN_F)}
              ELSE max(h) END AS theta
  FROM entries GROUP BY grp
),
common AS (
  SELECT ea.grp AS grp_a, eb.grp AS grp_b,
         count(*) AS n_common,
         min(least(ta.theta, tb.theta)) AS th
  FROM entries ea
  JOIN entries eb ON ea.h = eb.h AND ea.grp < eb.grp
  JOIN thetas ta ON ta.grp = ea.grp
  JOIN thetas tb ON tb.grp = eb.grp
  WHERE ea.h <= least(ta.theta, tb.theta)
  GROUP BY 1, 2
)
SELECT grp_a, grp_b, CAST(n_common AS BIGINT) AS n_common,
       {{SCI}} AS inter_est
FROM common
""".replace(
        "{SCI}",
        _sci_sql(f"CAST(n_common AS DOUBLE) * {_H60_SPAN_F} / CAST(th AS DOUBLE)"),
    )


QUERIES["sketch_kmv_intersect"] = q_kmv_intersect
_oracles_pre_kmvi = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_kmvi()
    d["sketch_kmv_intersect"] = o_kmv_intersect()
    return d


# ------------------------------------------------------------------ #
# round-9: training-pipeline additions — epoch shuffle, leakage-safe
# split, and the as-of join (int8 quantization already exists:
# emb_quantize_int8 / operators/quantize.py, round 4)
# ------------------------------------------------------------------ #

EPOCH = 3
EPOCH_SHARDS = 8


def q_sel_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle of the corpus (see
    operators/selection.py:epoch_shuffle): shard by the epoch-seeded
    hash, position = rank within the shard — reproducible training
    order with no global total sort."""
    from mahout_samsara_book_spark.operators.selection import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, epoch=EPOCH, n_shards=EPOCH_SHARDS)


def o_sel_epoch_shuffle() -> str:
    h = h60_sql(f"concat('ep{EPOCH}:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (SELECT doc_id, {h} AS key FROM documents),
s AS (SELECT doc_id, CAST(key % {EPOCH_SHARDS} AS INT) AS shard, key
      FROM keyed)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS BIGINT) AS pos
FROM s
"""


LSPLIT_SEED = 42
LSPLIT_BUCKETS = 1000


def q_sel_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup-cluster-aware train/val/test split (see
    operators/selection.py:leakage_safe_split): every copy of the same
    content inherits the canonical doc's split, so duplicates never
    straddle a split boundary."""
    from mahout_samsara_book_spark.operators.selection import (
        leakage_safe_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs, seed=LSPLIT_SEED, buckets=LSPLIT_BUCKETS)


def o_sel_leakage_split() -> str:
    h = h60_sql(f"concat('s{LSPLIT_SEED}:', CAST(keeper AS VARCHAR))")
    return f"""
WITH ch AS (SELECT doc_id, md5(coalesce(text, '')) AS chash FROM documents),
keepers AS (SELECT chash, min(doc_id) AS keeper FROM ch GROUP BY chash),
assigned AS (
  SELECT keeper,
         CASE WHEN {h} % {LSPLIT_BUCKETS} < 800 THEN 'train'
              WHEN {h} % {LSPLIT_BUCKETS} < 900 THEN 'val'
              ELSE 'test' END AS split
  FROM keepers
)
SELECT c.doc_id, k.keeper, a.split
FROM ch c JOIN keepers k USING (chash) JOIN assigned a USING (keeper)
"""

def q_ev_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward-inclusive AS-OF join (functions/relational.py:asof_join
    — kdb aj / pandas merge_asof / DuckDB ASOF JOIN): each purchase
    event picks up the user's most recent click at-or-before it, via
    the union-merge formulation (one shuffle, no range-join pair
    explosion). Ties at the same microsecond resolve to the greatest
    click event_id; purchases with no prior click keep null
    click/gap (left-join semantics)."""
    from mahout_samsara_book_spark.functions.relational import asof_join
    from mahout_samsara_book_spark.sources.tables import load_table, ts_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("t_us", ts_us(ev))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "t_us",
        F.col("event_id").alias("click_id"),
        F.col("t_us").alias("ct_us"),
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="t_us",
        right_time="t_us",
        payload=["click_id", "ct_us"],
        right_order="click_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "click_id",
        _sci(
            (F.col("t_us") - F.col("ct_us")) / F.lit(1_000_000.0)
        ).alias("gap_s"),
    )


def o_ev_asof_click() -> str:
    return f"""
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
            FROM events),
p AS (SELECT event_id, user_id, t_us FROM ev
      WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, t_us FROM ev
      WHERE event_type = 'click'),
u AS (
  SELECT user_id AS k, t_us AS t, 1 AS side, NULL::BIGINT AS ro,
         event_id, t_us,
         NULL::STRUCT(click_id BIGINT, ct_us BIGINT) AS p
  FROM p
  UNION ALL
  SELECT user_id, t_us, 0, click_id, NULL, NULL,
         {{'click_id': click_id, 'ct_us': t_us}}
  FROM c
),
w AS (
  SELECT *,
         last_value(p IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY t, side, ro NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM u
)
SELECT event_id, k AS user_id, cp.click_id AS click_id,
       {_sci_sql("(t_us - cp.ct_us) / 1000000.0")} AS gap_s
FROM w WHERE side = 1
"""


ASOF_NEAREST_TOL_US = 600_000_000  # 10 minutes


def q_ev_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of with tolerance (round-10, VERDICT r9
    item 4 — the graded twin of the property-tested contracts): each
    purchase picks whichever of {most recent view at-or-before, first
    view at-or-after} is closer in time, exact-distance ties going
    backward, and any candidate farther than 10 minutes discarded
    (null view / gap — merge_asof's tolerance semantics).  Same
    union-merge plan as the backward row: the second direction is one
    more window over the SAME per-user partitioning, no extra shuffle,
    still no range-join pair stream.  gap_s is SIGNED (negative when
    the matched view is after the purchase)."""
    from mahout_samsara_book_spark.functions.relational import asof_join
    from mahout_samsara_book_spark.sources.tables import load_table, ts_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("t_us", ts_us(ev))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "t_us"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "t_us",
        F.col("event_id").alias("view_id"),
        F.col("t_us").alias("vt_us"),
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_time="t_us",
        right_time="t_us",
        payload=["view_id", "vt_us"],
        right_order="view_id",
        direction="nearest",
        tolerance=ASOF_NEAREST_TOL_US,
    )
    return out.select(
        "event_id",
        "user_id",
        "view_id",
        _sci(
            (F.col("t_us") - F.col("vt_us")) / F.lit(1_000_000.0)
        ).alias("gap_s"),
    )


def o_ev_asof_nearest() -> str:
    tol = ASOF_NEAREST_TOL_US
    return f"""
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
            FROM events),
p AS (SELECT event_id, user_id, t_us FROM ev
      WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_id, user_id, t_us FROM ev
      WHERE event_type = 'view'),
u AS (
  SELECT user_id AS k, t_us AS t, 1 AS side, NULL::BIGINT AS ro,
         event_id, t_us,
         NULL::STRUCT(view_id BIGINT, vt_us BIGINT) AS p
  FROM p
  UNION ALL
  SELECT user_id, t_us, 0, view_id, NULL, NULL,
         {{'view_id': view_id, 'vt_us': t_us}}
  FROM v
),
w AS (
  SELECT *,
         last_value(p IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY t, side, ro NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         last_value(p IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY t DESC, side, ro DESC NULLS LAST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf
  FROM u
),
tolr AS (
  SELECT *,
         CASE WHEN cb IS NOT NULL AND abs(t - cb.vt_us) <= {tol}
              THEN cb END AS cbt,
         CASE WHEN cf IS NOT NULL AND abs(t - cf.vt_us) <= {tol}
              THEN cf END AS cft
  FROM w
),
r AS (
  SELECT *,
         CASE WHEN cbt IS NULL THEN cft
              WHEN cft IS NULL
                   OR (t - cbt.vt_us) <= (cft.vt_us - t) THEN cbt
              ELSE cft END AS cp
  FROM tolr
)
SELECT event_id, k AS user_id, cp.view_id AS view_id,
       {_sci_sql("(t_us - cp.vt_us) / 1000000.0")} AS gap_s
FROM r WHERE side = 1
"""


def q_ev_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD-direction as-of (round-10, closing the last ungraded
    asof_join contract): each click picks the user's EARLIEST purchase
    at-or-after it — conversion attribution, the mirror of
    ev_asof_click.  Equal-time ties resolve to the SMALLEST purchase
    id (the documented forward tie contract); clicks with no later
    purchase keep nulls.  Same union-merge single-shuffle plan — the
    forward walk is the same window with the sort reversed."""
    from mahout_samsara_book_spark.functions.relational import asof_join
    from mahout_samsara_book_spark.sources.tables import load_table, ts_us

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("t_us", ts_us(ev))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "t_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "t_us",
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("pt_us"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_time="t_us",
        right_time="t_us",
        payload=["purchase_id", "pt_us"],
        right_order="purchase_id",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_id",
        _sci(
            (F.col("pt_us") - F.col("t_us")) / F.lit(1_000_000.0)
        ).alias("lead_s"),
    )


def o_ev_asof_forward() -> str:
    return f"""
WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us
            FROM events),
c AS (SELECT event_id, user_id, t_us FROM ev
      WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_id, user_id, t_us FROM ev
      WHERE event_type = 'purchase'),
u AS (
  SELECT user_id AS k, t_us AS t, 1 AS side, NULL::BIGINT AS ro,
         event_id, t_us,
         NULL::STRUCT(purchase_id BIGINT, pt_us BIGINT) AS p
  FROM c
  UNION ALL
  SELECT user_id, t_us, 0, purchase_id, NULL, NULL,
         {{'purchase_id': purchase_id, 'pt_us': t_us}}
  FROM p
),
w AS (
  SELECT *,
         last_value(p IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY t DESC, side, ro DESC NULLS LAST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
  FROM u
)
SELECT event_id, k AS user_id, cp.purchase_id AS purchase_id,
       {_sci_sql("(cp.pt_us - t_us) / 1000000.0")} AS lead_s
FROM w WHERE side = 1
"""


QUERIES["sel_epoch_shuffle"] = q_sel_epoch_shuffle
QUERIES["sel_leakage_split"] = q_sel_leakage_split
QUERIES["ev_asof_click"] = q_ev_asof_click
QUERIES["ev_asof_nearest"] = q_ev_asof_nearest
QUERIES["ev_asof_forward"] = q_ev_asof_forward
_oracles_pre_r9p = oracles


def oracles() -> dict[str, str]:  # noqa: F811 — extend the registry
    d = _oracles_pre_r9p()
    d["sel_epoch_shuffle"] = o_sel_epoch_shuffle()
    d["sel_leakage_split"] = o_sel_leakage_split()
    d["ev_asof_click"] = o_ev_asof_click()
    d["ev_asof_nearest"] = o_ev_asof_nearest()
    d["ev_asof_forward"] = o_ev_asof_forward()
    return d
