"""Extension queries: as-of join, range join, incremental summary
rewrite — capabilities beyond the reference surface, oracle-checked.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cubert_spark.catalog import load_table
from cubert_spark.operators.asof import asof_join, range_join
from cubert_spark.queries._util import dsum, dsum_sql

#: composite-graph node offset: supplier nodes live at OFF + suppkey
_PR_OFF = 10_000_000


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """For each purchase event: the most recent prior-or-equal click by
    the same user (backward as-of join; union-and-carry, one shuffle).
    """
    e = load_table(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    out = asof_join(
        purchases, clicks, ["user_id"], left_ts="ts", right_ts="click_ts",
        right_cols=["click_value"],
    )
    return out.select("event_id", "user_id", "click_value")


SQL_ASOF_JOIN = """
SELECT p.event_id, p.user_id, c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Band events by value ranges (broadcast nested-loop range join)."""
    e = load_table(spark, sf, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 40.0), ("mid", 40.0, 80.0), ("high", 80.0, 1e9)],
        "band string, lo double, hi double",
    )
    j = range_join(e, bands, "value")
    return j.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("uniq_users"),
    )


SQL_RANGE_JOIN = """
SELECT band, COUNT(*) AS n, COUNT(DISTINCT user_id) AS uniq_users
FROM events
JOIN (VALUES ('low', 0.0, 40.0), ('mid', 40.0, 80.0), ('high', 80.0, 1e9)) b(band, lo, hi)
  ON value >= lo AND value < hi
GROUP BY band
"""


def q_summary_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental summary rewrite (plans.summary — Cubert's
    SummaryRewriter/CountDistinctRewriter): summarize orders days
    before 1999, answer a 1996-2000 query by merging summary partials
    with spliced fact days. The oracle is the DIRECT aggregation — the
    rewrite must be result-identical."""
    from cubert_spark.plans.summary import SummarySpec, SummaryStore

    o = load_table(spark, sf, "orders").withColumn(
        "price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    spec = SummarySpec(
        time_col="o_orderdate",
        dims=("o_orderpriority",),
        measures=(("SUM", "price_dec"), ("COUNT", "o_orderkey")),
        distinct_col="o_custkey",
    )
    tmp = tempfile.mkdtemp(prefix="cubert_summary_")
    try:
        store = SummaryStore(tmp, spec)
        store.build(o.filter(F.to_date("o_orderdate") < F.lit("1999-01-01")))
        out = store.rewrite(spark, o, "1996-01-01", "2000-12-31", ["o_orderpriority"])
        result = out.select(
            "o_orderpriority",
            F.col("sum__price_dec").cast("string").cast("double").alias("sum_price"),
            F.col("count__o_orderkey").alias("n_orders"),
            F.col("count_distinct__o_custkey").alias("uniq_customers"),
        )
        # ORACLE-HARNESS-ONLY materialization: the result must outlive
        # the scratch tempdir this query deletes below, and summary
        # cardinality is tiny (|priorities|). The production API
        # (plans.summary.SummaryStore.rewrite) is fully lazy and never
        # collects — do not copy this pattern outside the harness.
        result = spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return result


SQL_SUMMARY_REWRITE = """
SELECT o_orderpriority,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS uniq_customers
FROM orders
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '2000-12-31'
GROUP BY o_orderpriority
"""


def q_sparse_matmul(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked sparse matrix multiply (CollateVectorBlockOperator
    analog, operators.matrix): A (order-bucket x part-bucket) times
    B (part-bucket x supp-bucket), both aggregated from lineitem."""
    from cubert_spark.operators.matrix import sparse_matmul

    li = load_table(spark, sf, "lineitem")
    qdec = F.col("l_quantity").cast("decimal(18,2)")
    a = li.groupBy(
        (F.col("l_orderkey") % 100).alias("i"), (F.col("l_partkey") % 50).alias("j")
    ).agg(F.sum(qdec).cast("string").cast("double").alias("v"))
    b = li.groupBy(
        (F.col("l_partkey") % 50).alias("i"), (F.col("l_suppkey") % 40).alias("j")
    ).agg(F.sum(qdec).cast("string").cast("double").alias("v"))
    return sparse_matmul(a, b)


SQL_SPARSE_MATMUL = """
WITH a AS (
  SELECT l_orderkey % 100 AS i, l_partkey % 50 AS k,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS v
  FROM lineitem GROUP BY 1, 2
), b AS (
  SELECT l_partkey % 50 AS k, l_suppkey % 40 AS j,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS v
  FROM lineitem GROUP BY 1, 2
)
SELECT a.i, b.j, CAST(CAST(SUM(CAST(a.v * b.v AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS v
FROM a JOIN b ON a.k = b.k
GROUP BY a.i, b.j
"""


def q_combine_sorted(spark: SparkSession, sf: str) -> DataFrame:
    """COMBINE two sorted relations (order-preserving union; the
    compare is order-insensitive, so the oracle is the UNION ALL)."""
    from cubert_spark.operators import combine

    o = load_table(spark, sf, "orders")
    hi = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey", "o_totalprice")
    lo = o.filter(F.col("o_totalprice") <= 150000).select("o_orderkey", "o_totalprice")
    return combine(hi, lo, sorted_on=["o_orderkey"])


SQL_COMBINE_SORTED = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 150000
"""


def q_salted_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-spread exact count-distinct (member-hash salting) — must
    equal the plain COUNT(DISTINCT)."""
    from cubert_spark.operators.skew import salted_count_distinct

    li = load_table(spark, sf, "lineitem")
    return salted_count_distinct(li, ["l_returnflag"], "l_orderkey", num_salts=16)


SQL_SALTED_COUNT_DISTINCT = """
SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS count_distinct_l_orderkey
FROM lineitem GROUP BY l_returnflag
"""


def q_salted_topn(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-tolerant per-key top-n (salt + two-level cut) — must equal
    the plain window top-n."""
    from cubert_spark.operators.skew import salted_topn

    o = load_table(spark, sf, "orders")
    return salted_topn(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        3,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        num_salts=8,
    )


SQL_SALTED_TOPN = """
SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_dict_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Dictionary refresh: codes for existing values stay stable, new
    values appended after the max (DictionaryRefreshMapSideOperator)."""
    from cubert_spark.operators.dictionary import build_dictionary, refresh_dictionary

    n = load_table(spark, sf, "nation")
    base = build_dictionary(n.filter(F.col("n_nationkey") < 10), "n_name")
    return refresh_dictionary(base, n, "n_name")


SQL_DICT_REFRESH = """
WITH base AS (
  SELECT n_name AS value,
         CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS INT) AS code
  FROM (SELECT DISTINCT n_name FROM nation WHERE n_nationkey < 10)
),
novel AS (
  SELECT n_name AS value FROM (SELECT DISTINCT n_name FROM nation)
  WHERE n_name NOT IN (SELECT value FROM base)
)
SELECT value, code FROM base
UNION ALL
SELECT value,
       CAST((SELECT MAX(code) FROM base)
            + ROW_NUMBER() OVER (ORDER BY value) AS INT) AS code
FROM novel
"""


def q_udaf_geomean(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF (the AggregationFunction extension
    surface) computing a geometric mean, checked against DuckDB's
    closed form exp(avg(ln x)) — rounded to 6dp on both sides (float
    reduction order differs by engine)."""
    import numpy as np

    from cubert_spark.functions.udf import grouped_agg_udaf

    gmean = grouped_agg_udaf(
        lambda s: float(np.exp(np.log(s.to_numpy(dtype="float64")).mean())), "double"
    )
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.round(gmean(F.col("o_totalprice")), 6).alias("gm_price"))
    )


SQL_UDAF_GEOMEAN = """
SELECT o_orderpriority, ROUND(EXP(AVG(LN(o_totalprice))), 6) AS gm_price
FROM orders GROUP BY o_orderpriority
"""




def q_scalar_udf(spark: SparkSession, sf: str) -> DataFrame:
    """Vectorized scalar pandas UDF (the Function extension surface):
    a Python string-normalization kernel, checked against the SQL
    closed form on DuckDB."""
    from cubert_spark.functions.udf import scalar_udf

    norm = scalar_udf(lambda s: s.str.strip().str.lower().str[:8], "string")
    n = load_table(spark, sf, "customer")
    return n.select(
        "c_custkey", norm(F.col("c_mktsegment")).alias("seg_norm")
    )


SQL_SCALAR_UDF = """
SELECT c_custkey, substr(lower(trim(c_mktsegment)), 1, 8) AS seg_norm
FROM customer
"""


def q_cube_udaf(spark: SparkSession, sf: str) -> DataFrame:
    """EasyCubeAggregator analog: a GROUPED_AGG pandas UDAF (sum of
    squares) over every cuboid of two dims — Catalyst's Expand feeds
    the UDAF per grouping set exactly like built-ins."""
    import decimal

    from cubert_spark.functions.udf import cube_udaf, grouped_agg_udaf

    def ssq_cents(s):
        # exact: integer cents squared, summed in Python bignums —
        # float reduction order would differ between engines at 1e13+
        cents = (s.to_numpy(dtype="float64") * 100).round().astype("int64")
        return decimal.Decimal(sum(int(c) * int(c) for c in cents))

    ss = grouped_agg_udaf(ssq_cents, "decimal(38,0)")
    o = load_table(spark, sf, "orders")
    out = cube_udaf(
        o.withColumn("__p", F.col("o_totalprice").cast("double")),
        ["o_orderpriority", "o_orderstatus"],
        [ss(F.col("__p")).alias("sum_sq")],
    )
    # emit as string: a DECIMAL(38,0) at ~1e17-1e19 exceeds float64's
    # exact integer range, so the two engines' Decimal representations
    # can't converge in the driver canonicalizer — the digit string can
    return out.select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("sum_sq").cast("string").alias("sum_sq"),
    )


SQL_CUBE_UDAF = """
SELECT o_orderpriority, o_orderstatus,
       CAST(CAST(SUM(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                * CAST(round(o_totalprice * 100) AS BIGINT)) AS DECIMAL(38,0))
            AS VARCHAR)
         AS sum_sq
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_pivot_apply(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT + per-pivot operator chain (PivotedBlock pattern via
    applyInPandas): per-priority price centering, oracle = the window
    closed form."""
    import pandas as pd

    from cubert_spark.operators.pivot import pivot_apply

    def center(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.copy()
        pdf["price_dev"] = (pdf.o_totalprice - pdf.o_totalprice.mean()).round(3)
        return pdf[["o_orderkey", "o_orderpriority", "price_dev"]]

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return pivot_apply(
        o,
        ["o_orderpriority"],
        center,
        "o_orderkey long, o_orderpriority string, price_dev double",
    )


SQL_PIVOT_APPLY = """
SELECT o_orderkey, o_orderpriority,
       ROUND(o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderpriority), 3)
         AS price_dev
FROM orders
"""

def q_avro_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """AVRO STORE -> LOAD through the pure-Python object-container
    codec (sources.AvroDataSource; AvroStorage.java:32 parity), then an
    aggregate over the re-read relation. Doubles survive bit-exactly
    (IEEE little-endian per spec), so the oracle runs on the original
    parquet table."""
    from cubert_spark.catalog import load, store

    sup = load_table(spark, sf, "supplier")
    # mkdtemp-scoped so concurrent harnesses (bench vs attestation)
    # never race one overwrite against another's lazy read
    path = _materialize_once(
        spark, sf, "avro_rt", lambda p: store(sup, p, fmt="avro")
    )
    back = load(spark, path, fmt="avro")
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("s_acctbal").alias("min_bal"),
        F.max("s_acctbal").alias("max_bal"),
    )


SQL_AVRO_ROUNDTRIP = """
SELECT s_nationkey, COUNT(*) AS n,
       MIN(s_acctbal) AS min_bal, MAX(s_acctbal) AS max_bal
FROM supplier
GROUP BY s_nationkey
"""


#: Reader schema for q_avro_evolution — relative to the writer schema
#: it DROPS l_extendedprice (writer-field-skip path) and ADDS the
#: nullable l_comment2 (null-padding path, reference CHANGELOG:6).
_AVRO_EVO_READER_SCHEMA = """
{"type": "record", "name": "lineitem_v2", "fields": [
  {"name": "l_orderkey", "type": ["null", "long"]},
  {"name": "l_quantity", "type": ["null", "double"]},
  {"name": "l_returnflag", "type": ["null", "string"]},
  {"name": "l_linestatus", "type": ["null", "string"]},
  {"name": "l_comment2", "type": ["null", "string"], "default": null}
]}
"""


def q_avro_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """AVRO at scale + schema evolution: STORE the 60k-row lineitem
    slice as ONE Avro container file, re-read it under a CHANGED reader
    schema (drops a writer field, adds a nullable one → null-padded by
    the codec's name-resolution, avroio.read_file), through byte-range
    splits (splitSize=256KB → the sync-marker split protocol fans a
    single file across tasks), then aggregate. Reference parity:
    vendored AvroStorage.java evolution contract (CHANGELOG:6).
    l_quantity is integer-valued, so the double sum is order-exact and
    the oracle runs on the original parquet table."""
    from cubert_spark.catalog import load, store

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"
    )
    path = _materialize_once(
        spark, sf, "avro_evo",
        lambda p: store(li.coalesce(1), p, fmt="avro"),
    )
    back = load(
        spark, path, fmt="avro",
        avroSchema=_AVRO_EVO_READER_SCHEMA,
        splitSize=str(256 << 10),
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count("l_comment2").alias("n_padded"),
    )


SQL_AVRO_EVOLUTION = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       SUM(l_quantity) AS sum_qty,
       COUNT(CAST(NULL AS VARCHAR)) AS n_padded
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_clustered_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """store_clustered STORE -> filtered LOAD: orders written with
    hive-style year partitions + custkey-range-clustered sorted files,
    read back through a partition-pruned, stat-skipping scan (the
    BLOCKGEN BY PARTITION KEY scan-pruning analog; layout verified in
    tests/test_plans.py::test_store_clustered_layout_prunes). Oracle
    runs the same filtered aggregate on the original table — the
    roundtrip must be lossless."""
    from cubert_spark.catalog import store_clustered

    o = load_table(spark, sf, "orders").withColumn("o_year", F.year("o_orderdate"))
    path = _materialize_once(
        spark, sf, "clustered_rt",
        lambda p: store_clustered(
            o, p, partition_by=["o_year"], cluster_by=["o_custkey"]
        ),
    )
    back = spark.read.parquet(path)
    first_year = F.lit(1995)
    return (
        back.filter((F.col("o_year") == first_year) & (F.col("o_custkey") <= 500))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )


SQL_CLUSTERED_ROUNDTRIP = """
SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE EXTRACT(YEAR FROM o_orderdate) = 1995 AND o_custkey <= 500
GROUP BY o_orderpriority
"""


def q_window_analytics(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic-window breadth beyond the reference's RANK/TOP-N
    (extension): lag/lead, ntile, percent_rank, cume_dist, and a
    running bigint sum, all over one partitioned window — one shuffle
    on the group key, per-group state bounded by the frame. The total
    order (o_orderdate, o_orderkey) is unique, so every value —
    including the IEEE divides inside percent_rank/cume_dist — is
    deterministic cross-engine."""
    from pyspark.sql import Window

    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdist"),
        F.sum("o_orderkey").over(wrun).alias("run_keys"),
    )


SQL_WINDOW_ANALYTICS = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER w AS prev_key,
       LEAD(o_orderkey) OVER w AS next_key,
       CAST(NTILE(4) OVER w AS INT) AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cdist,
       CAST(SUM(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_keys
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_zorder_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """store_zorder STORE -> 2-D filtered LOAD: orders laid out on the
    Morton curve over (o_custkey, o_orderkey), read back through a
    scan whose row-group stats are narrow in BOTH columns (multi-dim
    skipping verified in tests/test_plans.py). Oracle runs the same
    2-D filtered aggregate on the original table — the layout must be
    lossless."""
    from cubert_spark.catalog import store_zorder

    o = load_table(spark, sf, "orders")
    path = _materialize_once(
        spark, sf, "zorder_rt",
        lambda p: store_zorder(o, p, zorder_by=["o_custkey", "o_orderkey"]),
    )
    back = spark.read.parquet(path)
    return (
        back.filter((F.col("o_custkey") <= 400) & (F.col("o_orderkey") <= 20000))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
    )


SQL_ZORDER_ROUNDTRIP = """
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
WHERE o_custkey <= 400 AND o_orderkey <= 20000
GROUP BY o_orderstatus
"""


def q_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """STORE -> LOAD through ORC (the second columnar format beside
    parquet; Spark-native writer/reader with predicate pushdown and
    column pruning): write orders, read back through a filtered
    aggregate. The oracle runs the same aggregate on the original
    table — the format hop must be lossless."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _materialize_once(
        spark, sf, "orc_rt", lambda p: o.write.mode("overwrite").orc(p)
    )
    back = spark.read.orc(path)
    return (
        back.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


SQL_ORC_ROUNDTRIP = f"""
SELECT o_orderpriority, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
FROM orders WHERE o_totalprice > 100000
GROUP BY 1
"""


def q_rfm_scores(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer scoring (recency / frequency / monetary — the
    classic warehouse segmentation): per customer, integer days since
    last order (vs the corpus max date), order count, and
    DECIMAL-exact spend; each dimension then bins into quintiles via
    broadcast percentile_disc cutpoints — the same distributed
    binning as equidepth_histogram, no global NTILE sort. Score = 1 +
    #cutpoints strictly below the value (ascending by raw value;
    consumers flip recency's direction — documented convention)."""
    o = load_table(spark, sf, "orders")
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("__maxd"))
    per_c = (
        o.crossJoin(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("__maxd"), F.to_date("o_orderdate"))).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
    )
    # lazy checkpoint (r16): per_c feeds both the cutpoint agg and
    # the scoring join — without the cut each consumer re-runs the
    # orders scan + groupBy; |customers| x 4 narrow columns
    # materialize cheaper than that recompute at any scale
    from cubert_spark.checkpoints import lazy_checkpoint

    per_c = per_c.transform(lazy_checkpoint)
    cuts = per_c.agg(
        *[
            F.expr(
                f"percentile_disc({q / 5}) WITHIN GROUP (ORDER BY {c})"
            ).alias(f"__{c}_c{q}")
            for c in ("recency_days", "frequency", "monetary")
            for q in (1, 2, 3, 4)
        ]
    )
    j = per_c.crossJoin(F.broadcast(cuts))
    out = j
    for c, alias in (
        ("recency_days", "r_score"),
        ("frequency", "f_score"),
        ("monetary", "m_score"),
    ):
        score = F.lit(1)
        for q in (1, 2, 3, 4):
            score = score + F.when(
                F.col(f"__{c}_c{q}") < F.col(c), 1
            ).otherwise(0)
        out = out.withColumn(alias, score)
    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
    )


def _rfm_cut_sql(c: str, q: int) -> str:
    return f"quantile_disc({c}, {q / 5})"


SQL_RFM_SCORES = f"""
WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS md FROM orders),
per_c AS (
  SELECT o_custkey,
         MIN(datediff('day', CAST(o_orderdate AS DATE), maxd.md)) AS recency_days,
         COUNT(*) AS frequency,
         {dsum_sql('o_totalprice')} AS monetary
  FROM orders, maxd
  GROUP BY o_custkey, maxd.md
),
cuts AS (
  SELECT
    {", ".join(f"{_rfm_cut_sql(c, q)} AS {c}_c{q}" for c in ('recency_days', 'frequency', 'monetary') for q in (1, 2, 3, 4))}
  FROM per_c
)
SELECT o_custkey, recency_days, frequency, monetary,
  1 {"".join(f"+ (CASE WHEN recency_days_c{q} < recency_days THEN 1 ELSE 0 END)" for q in (1, 2, 3, 4))} AS r_score,
  1 {"".join(f"+ (CASE WHEN frequency_c{q} < frequency THEN 1 ELSE 0 END)" for q in (1, 2, 3, 4))} AS f_score,
  1 {"".join(f"+ (CASE WHEN monetary_c{q} < monetary THEN 1 ELSE 0 END)" for q in (1, 2, 3, 4))} AS m_score
FROM per_c, cuts
"""


def q_mode_by_group(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group MODE (most frequent l_quantity per return
    flag, ties to the smallest value): value-count agg then ONE
    struct-max — two keyed shuffles, no window sort. The struct-max
    spelling is the same skew-safe argmax idiom as cdc/golden_record;
    the oracle is the ROW_NUMBER formulation."""
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = counts.groupBy("l_returnflag").agg(
        F.max(
            F.struct(
                F.col("cnt").alias("c"),
                (-F.col("l_quantity")).alias("nq"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).alias("n_distinct_values"),
    )
    return best.select(
        "l_returnflag",
        (-F.col("__b.nq")).alias("mode_quantity"),
        F.col("__b.c").alias("mode_count"),
        "n_distinct_values",
    )


SQL_MODE_BY_GROUP = """
SELECT l_returnflag, mode_quantity, mode_count, n_distinct_values
FROM (
  SELECT l_returnflag, l_quantity AS mode_quantity, cnt AS mode_count,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n_distinct_values,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC
         ) AS rn
  FROM (
    SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
  )
) WHERE rn = 1
"""


def q_merge_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO round trip (catalog.merge_upsert): store a narrow
    orders table, merge a delta that REPLACES every 10th key (doubled
    price) and DELETES keys ≡ 3 (mod 17) among them, read back and
    aggregate. The oracle computes the same merge relationally — the
    storage swap must be exactly the anti-join ∪ inserts algebra."""
    from cubert_spark.catalog import _read_parquet, _remember_schema, merge_upsert

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    delta = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        (F.col("o_orderkey") % 17 == 3).alias("__del"),
    )

    def _write(p):
        # base write + merge belong in ONE memoized step: re-merging
        # an already-merged table would double the prices again
        o.write.mode("overwrite").parquet(p)
        # merge_upsert reads the base back with the writer's schema
        _remember_schema(spark, p, o.schema)
        merge_upsert(spark, p, delta, ["o_orderkey"], delete_col="__del")

    path = _materialize_once(spark, sf, "merge_rt", _write)
    back = _read_parquet(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total")
    )


SQL_MERGE_ROUNDTRIP = f"""
WITH delta AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 AS o_totalprice,
         (o_orderkey % 17 = 3) AS del
  FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
  UNION ALL
  SELECT o_orderkey, o_orderpriority, o_totalprice FROM delta WHERE NOT del
)
SELECT o_orderpriority, COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
FROM merged GROUP BY 1
"""


def q_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew profile (the salting operators' diagnostic sibling):
    top-20 heaviest l_partkey posting lists with their share of all
    rows. share = bigint/bigint — one IEEE divide, engine-portable;
    ties broken by key. One map-side-combined agg + a 20-row
    TakeOrderedAndProject; the rank window runs AFTER the limit, over
    20 rows — never a global window over all keys."""
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = li.agg(F.count(F.lit(1)).alias("__tot"))
    top = counts.orderBy(F.desc("cnt"), F.col("l_partkey")).limit(20)
    w = Window.orderBy(F.desc("cnt"), F.col("l_partkey"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("share", F.col("cnt").cast("double") / F.col("__tot").cast("double"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select("l_partkey", "cnt", "share", "rnk")
    )


SQL_HEAVY_HITTERS = """
WITH counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
total AS (SELECT COUNT(*) AS tot FROM lineitem)
SELECT l_partkey, cnt,
       CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey) AS rnk
  FROM counts, total
) WHERE rnk <= 20
"""


def q_hll_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic HyperLogLog (p=8) cardinality estimates for
    orders.o_custkey and lineitem.l_partkey — md5 registers, exact
    bigint harmonic sum, ONE IEEE divide per estimate; every register
    and both estimates replay bit-for-bit in the oracle
    (datapipe.sketches; accuracy vs exact counts pinned in pytest)."""
    from cubert_spark.datapipe import sketches

    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    return sketches.hll_estimate(o, "o_custkey").unionAll(
        sketches.hll_estimate(li, "l_partkey")
    )


def _hll_oracle() -> str:
    from cubert_spark.datapipe import sketches

    return (
        sketches.hll_sql("orders", "o_custkey")
        + "\nUNION ALL\n"
        + sketches.hll_sql("lineitem", "l_partkey")
    )


SQL_HLL_ESTIMATE = _hll_oracle()


def q_kmv_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-set algebra (datapipe.sketches.kmv_set_ops):
    estimate |distinct l_partkey UNION distinct p_partkey| and their
    intersection from two 256-digest sketches — the tables never join;
    each side contributes a TakeOrdered k-row sketch. Every digest,
    the exact-bigint kth60, and both one-divide estimates replay in
    the oracle. (Extension beyond the reference: Cubert's
    COUNT_DISTINCT tier is exact-only.)"""
    from cubert_spark.datapipe import sketches

    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    return sketches.kmv_set_ops(li, "l_partkey", p, "p_partkey", k=256)


def _kmv_oracle() -> str:
    from cubert_spark.datapipe import sketches

    return sketches.kmv_set_ops_sql("lineitem", "l_partkey", "part", "p_partkey", k=256)


SQL_KMV_SET_OPS = _kmv_oracle()


def q_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS (datapipe.components.bfs_hops): minimum hop
    distance from the p_size=50 part set over the bidirectional
    part<->supplier co-purchase graph, bounded at 3 hops. Fixed small
    bound => the whole walk is ONE lazy job; the oracle is a bounded
    recursive-CTE walk with MIN(hops)."""
    from cubert_spark.datapipe.components import bfs_hops

    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.lit(_PR_OFF) + F.col("l_suppkey")).alias("dst"),
    )
    sources = (
        load_table(spark, sf, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("node"))
    )
    return bfs_hops(edges, sources, max_hops=3)


SQL_BFS_HOPS = f"""
WITH RECURSIVE e AS (
  SELECT l_partkey AS u, {_PR_OFF} + l_suppkey AS v FROM lineitem
  UNION
  SELECT {_PR_OFF} + l_suppkey AS u, l_partkey AS v FROM lineitem
),
s AS (SELECT DISTINCT p_partkey AS node FROM part WHERE p_size = 50),
walk AS (
  SELECT node, 0 AS hops FROM s
  UNION
  SELECT e.v AS node, w.hops + 1 AS hops
  FROM walk w JOIN e ON e.u = w.node
  WHERE w.hops < 3
)
SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk GROUP BY 1
"""


def q_join_ivm(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (plans.ivm): split both
    base tables at a date cutoff into (old, delta), maintain
    J = orders ⋈ lineitem by the delta rule
    J_old ∪ (dA ⋈ B) ∪ (A ⋈ dB) ∪ (dA ⋈ dB), and aggregate the
    maintained view. The oracle re-joins the FULL tables directly —
    the two must be result-identical (insert-only deltas). In
    production J_old is stored and only the delta-sized terms run."""
    from cubert_spark.plans.ivm import maintain_join

    cutoff = "1999-01-01"
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("odate")
    )
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
        F.to_date("l_shipdate").alias("sdate"),
    )
    a_old = o.filter(F.col("odate") < cutoff)
    d_a = o.filter(F.col("odate") >= cutoff)
    b_old = li.filter(F.col("sdate") < cutoff)
    d_b = li.filter(F.col("sdate") >= cutoff)
    j_old = a_old.join(b_old, ["o_orderkey"])
    j_new = maintain_join(j_old, a_old, b_old, d_a, d_b, ["o_orderkey"])
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return j_new.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum(rev).alias("revenue")
    )


SQL_JOIN_IVM = f"""
SELECT o_orderpriority, COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


def q_pareto_frontier(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped 2-D skyline (operators.skyline): per (order priority,
    year), the orders on the Pareto frontier of (total price, order
    recency) — no other same-group order with >= both and > one. The
    sweep implementation is one group-key shuffle; the oracle is the
    textbook quadratic NOT EXISTS."""
    from cubert_spark.operators.skyline import skyline2d

    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.year(F.to_date("o_orderdate")).alias("oyear"),
        "o_totalprice",
        F.to_date("o_orderdate").alias("odate"),
    )
    return skyline2d(
        o, ["o_orderpriority", "oyear"], "o_totalprice", "odate"
    ).select("o_orderkey", "o_orderpriority", "oyear", "o_totalprice", "odate")


SQL_PARETO_FRONTIER = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         year(CAST(o_orderdate AS DATE)) AS oyear,
         o_totalprice, CAST(o_orderdate AS DATE) AS odate
  FROM orders
)
SELECT o_orderkey, o_orderpriority, oyear, o_totalprice, odate
FROM o b
WHERE NOT EXISTS (
  SELECT 1 FROM o a
  WHERE a.o_orderpriority = b.o_orderpriority AND a.oyear = b.oyear
    AND a.o_totalprice >= b.o_totalprice AND a.odate >= b.odate
    AND (a.o_totalprice > b.o_totalprice OR a.odate > b.odate)
)
"""


def q_golden_record(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution end-cap (golden record / survivorship):
    match customers whose names are within edit distance 1 AND share
    a nation (SymSpell-blocked, never a product), cluster matches
    with distributed connected components, then per cluster elect the
    surviving record by (max acctbal, min custkey) and report
    membership. Composes dedup.fuzzy_pairs + components.
    connected_components + a struct-max survivorship agg."""
    from cubert_spark.datapipe import components, dedup

    c = load_table(spark, sf, "customer")
    edges = dedup.fuzzy_pairs(
        c.select("c_custkey", "c_name", "c_nationkey"),
        max_dist=1,
        block_cols=["c_nationkey"],
    ).select("id_a", "id_b")
    cc = components.connected_components(edges, "id_a", "id_b")
    lab = c.join(
        cc.withColumnRenamed("id", "c_custkey"), "c_custkey", "left"
    ).withColumn("cluster", F.coalesce("component", F.col("c_custkey")))
    best = lab.groupBy("cluster").agg(
        F.max(
            F.struct(
                F.col("c_acctbal").alias("a"),
                (-F.col("c_custkey")).alias("nk"),
                F.col("c_name").alias("nm"),
            )
        ).alias("__b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "cluster",
        (-F.col("__b.nk")).alias("rep_custkey"),
        F.col("__b.nm").alias("rep_name"),
        F.col("__b.a").alias("rep_acctbal"),
        "n_members",
    )


SQL_GOLDEN_RECORD = """
WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT DISTINCT u AS id, u AS lbl FROM edges
  UNION
  SELECT e.v AS id, r.lbl FROM reach r JOIN edges e ON e.u = r.id
),
comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
lab AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal,
         COALESCE(comp.component, c.c_custkey) AS cluster
  FROM customer c LEFT JOIN comp ON comp.id = c.c_custkey
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY c_acctbal DESC, c_custkey) AS rn,
         COUNT(*) OVER (PARTITION BY cluster) AS n_members
  FROM lab
)
SELECT cluster, c_custkey AS rep_custkey, c_name AS rep_name,
       c_acctbal AS rep_acctbal, n_members
FROM ranked WHERE rn = 1
"""


def _bloom_prune_counts(spark: SparkSession, sf: str, hash_fn: str) -> DataFrame:
    """Shared body of the bloom_prune twins — the hash_fn is the ONLY
    difference between the oracle row and the production row, so both
    call here (a drifting copy would silently desynchronize them)."""
    from cubert_spark.datapipe.dedup import _spread
    from cubert_spark.operators.bloom import bloom_build, bloom_prune

    keys = load_table(spark, sf, "part").filter(F.col("p_size") < 10).select(
        "p_partkey"
    )
    # _spread: the 3-hash-per-row probe work lands on every core even
    # when the scan has few splits (a no-op at real scale)
    li = _spread(
        load_table(spark, sf, "lineitem").select(
            "l_partkey", "l_orderkey", "l_linenumber"
        ),
        "l_partkey",
    )
    bm = bloom_build(keys, "p_partkey", hash_fn=hash_fn)
    pruned = bloom_prune(li, "l_partkey", bm, hash_fn=hash_fn)
    kl = keys.withColumnRenamed("p_partkey", "l_partkey")
    # ONE fact pass (r17): the exact semi-join count rides the pruned
    # relation — no false negatives means every true match IS in
    # pruned, so counting kl matches inside it equals the full-side
    # semi-join count, and the old second lineitem scan (+ its spread
    # exchange) disappears. p_partkey is unique, so the broadcast
    # left join cannot duplicate rows. fp = pruned - exact as before.
    # A/B at sf0.1: a WASH (3.38 -> 3.29 s md5, order-controlled
    # stash arms — the md5 probe dominates there and the removed scan
    # is cheap); kept because at real scale the removed pass is a
    # FULL fact-table scan, the single most expensive thing the old
    # plan did twice.
    counted = pruned.join(
        F.broadcast(kl.withColumn("__m", F.lit(1))), "l_partkey", "left"
    ).agg(
        F.count(F.lit(1)).alias("pruned_rows"),
        F.count("__m").alias("exact_rows"),
    )
    return counted.select(
        "pruned_rows",
        "exact_rows",
        (F.col("pruned_rows") - F.col("exact_rows")).alias("fp_rows"),
    )


def q_bloom_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter semi-join pruning (operators.bloom): the dim key
    set (part with p_size<10, ~18% of parts) reduces to a broadcast
    bitmap; lineitem is pruned by pure column arithmetic + broadcast
    joins — the fact side never shuffles. Output: one row with the
    pruned row count, the exact semi-join count, and the
    false-positive overshoot (pruned ⊇ exact always; fp bounded by
    the (1-e^(-kn/m))^k rate). Every md5 bit position and bitmap word
    replays in the oracle."""
    return _bloom_prune_counts(spark, sf, hash_fn="md5")


def q_bloom_prune_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production-hash (xxhash64) twin of ``bloom_prune`` — rows-only
    check (bit positions are JVM-specific; the md5 variant above is
    the oracle path, exactly the minhash_lsh/minhash_lsh_fast split).
    Same broadcast-bitmap plan; the per-row probe cost drops from 1
    md5 digest + 3 hex decodes to 3 native xxhash64 calls. Output
    contract is identical (pruned ⊇ exact; fp bounded) and pytest-
    pinned in test_datapipe.test_bloom_prune_fast_superset."""
    return _bloom_prune_counts(spark, sf, hash_fn="xxhash64")


def q_pq_adc_topk_fast(spark: SparkSession, sf: str) -> DataFrame:
    """Production-arithmetic twin of ``pq_adc_topk`` — double dots and
    a double estimate sum (what a real ADC fleet computes; also the
    light-codegen path: the exact row's DECIMAL(38,18) folds are the
    JIT-heavy part of its plan). Bench-only (float sums are not
    oracle-replayable — the bloom_prune_fast/minhash_lsh_fast split);
    rank agreement with the exact row is pytest-pinned on the bench
    codebooks (test_pq_adc_fast_ranks_agree)."""
    from cubert_spark.datapipe import similarity
    from cubert_spark.queries.datapipe import _PQ_CODEBOOKS

    e = load_table(spark, sf, "embeddings")
    return similarity.pq_adc_topk(
        e, e.filter(F.col("vec_id") < 5), _PQ_CODEBOOKS, k=5, exact=False
    ).select("q_id", "vec_id", "rnk")


def _bloom_pos_sql(i: int, key: str, num_bits: int = 65536) -> str:
    # chunk i of ONE digest (mirrors operators.bloom._positions)
    return (
        f"CAST(('0x' || substr(md5('bloom|' || CAST({key} AS VARCHAR)), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {num_bits}"
    )


SQL_BLOOM_PRUNE = f"""
WITH keys AS (SELECT p_partkey FROM part WHERE p_size < 10),
pos AS (
  {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(i, 'p_partkey')} AS pos FROM keys" for i in range(3))}
),
bm AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
lp AS (
  SELECT l_partkey,
         {", ".join(f"{_bloom_pos_sql(i, 'l_partkey')} AS p{i}" for i in range(3))}
  FROM lineitem
),
pruned AS (
  SELECT lp.l_partkey FROM lp
  {" ".join(f"JOIN bm b{i} ON b{i}.word = lp.p{i} // 32 AND ((b{i}.bits >> CAST(lp.p{i} % 32 AS INT)) & 1) = 1" for i in range(3))}
),
exact AS (
  SELECT l_partkey FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM keys)
)
SELECT (SELECT COUNT(*) FROM pruned) AS pruned_rows,
       (SELECT COUNT(*) FROM exact) AS exact_rows,
       (SELECT COUNT(*) FROM pruned) - (SELECT COUNT(*) FROM exact) AS fp_rows
"""


def q_cms_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch (depth 4 x width 256) over the l_partkey
    stream, point-queried for the 20 heaviest true keys: (key,
    true_cnt, est) with est >= true_cnt always (CMS upper bound;
    the inequality is also pytest-pinned). Sketch and probes are both
    md5-addressed, so every counter replays in DuckDB."""
    from cubert_spark.datapipe import sketches

    li = load_table(spark, sf, "lineitem").select("l_partkey")
    sk = sketches.cms_sketch(li, "l_partkey")
    probes = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.col("l_partkey"))
        .limit(20)
    )
    est = sketches.cms_estimate(sk, probes.select("l_partkey"), "l_partkey")
    return probes.join(est, "l_partkey").select("l_partkey", "true_cnt", "est")


def _cms_bucket_sql(j: int, val: str) -> str:
    nib = (
        "(strpos('0123456789abcdef', substr(md5('cms%d|' || CAST(%s AS VARCHAR)), %d, 1)) - 1)"
    )
    return f"({nib % (j, val, 1)}) * 16 + ({nib % (j, val, 2)})"


SQL_CMS_TOPK = f"""
WITH rb AS (
  {" UNION ALL ".join(f"SELECT {j} AS row, {_cms_bucket_sql(j, 'l_partkey')} AS bucket FROM lineitem" for j in range(4))}
),
sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM rb GROUP BY 1, 2),
probes AS (
  SELECT l_partkey, COUNT(*) AS true_cnt FROM lineitem GROUP BY 1
  ORDER BY true_cnt DESC, l_partkey LIMIT 20
),
pb AS (
  {" UNION ALL ".join(f"SELECT l_partkey, {j} AS row, {_cms_bucket_sql(j, 'l_partkey')} AS bucket FROM probes" for j in range(4))}
)
SELECT probes.l_partkey, probes.true_cnt, est.est
FROM probes JOIN (
  SELECT pb.l_partkey, MIN(sk.cnt) AS est
  FROM pb JOIN sk USING (row, bucket) GROUP BY 1
) est USING (l_partkey)
"""


#: supplier-node id offset for the bipartite part<->supplier graph
_PR_SCALE = 10 ** 12


def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Integer-quantized PageRank (3 iterations, damping 0.85, scale
    1e12) on the bidirectional part<->supplier graph from lineitem —
    exact bigint arithmetic end-to-end (datapipe.components.pagerank),
    so the fixed-iteration ranks match the oracle's unrolled SQL
    bit-for-bit. Output: supplier ranks."""
    from cubert_spark.datapipe.components import pagerank

    li = load_table(spark, sf, "lineitem")
    fwd = li.select(
        F.col("l_partkey").alias("src"),
        (F.lit(_PR_OFF) + F.col("l_suppkey")).alias("dst"),
    )
    edges = fwd.unionAll(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    pr = pagerank(edges, iterations=3, scale=_PR_SCALE)
    return (
        pr.filter(F.col("node") >= _PR_OFF)
        .select((F.col("node") - _PR_OFF).alias("l_suppkey"), "rank_q")
    )


def _pr_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT nodes.u,
         CAST((15 * {_PR_SCALE}) // (100 * (SELECT n FROM nn))
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_q
  FROM nodes LEFT JOIN (
    SELECT e.v AS u, SUM({prev}.rank_q // outdeg.deg) AS s
    FROM e JOIN {prev} ON e.u = {prev}.u JOIN outdeg ON e.u = outdeg.u
    GROUP BY 1
  ) c ON nodes.u = c.u
)"""


SQL_PAGERANK = f"""
WITH e AS (
  SELECT l_partkey AS u, {_PR_OFF} + l_suppkey AS v FROM lineitem
  UNION
  SELECT {_PR_OFF} + l_suppkey AS u, l_partkey AS v FROM lineitem
),
outdeg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY 1),
nodes AS (SELECT DISTINCT u FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT u, CAST({_PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS rank_q FROM nodes
),
{_pr_iter_sql("r0", "r1")},
{_pr_iter_sql("r1", "r2")},
{_pr_iter_sql("r2", "r3")}
SELECT u - {_PR_OFF} AS l_suppkey, rank_q FROM r3 WHERE u >= {_PR_OFF}
"""


def q_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff (dataset versioning / audit op): keyed full-outer
    compare of two table versions -> added / removed / changed rows
    with old+new payloads. Versions here are two overlapping date
    windows of orders, with the newer one's 'F'-status prices
    restated (an exact *2 — IEEE-exact) so all three change classes
    appear. One full-outer equi-join on the key; unchanged rows drop
    out so the diff is |changes|-sized, not |table|-sized."""
    o = load_table(spark, sf, "orders")
    yr = F.year("o_orderdate")
    old = o.filter(yr.isin(1995, 1996)).select(
        "o_orderkey", F.col("o_totalprice").alias("old_price")
    )
    new = (
        o.filter(yr.isin(1996, 1997))
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "F", F.col("o_totalprice") * 2
            ).otherwise(F.col("o_totalprice")).alias("new_price"),
        )
    )
    j = old.join(new, "o_orderkey", "full_outer")
    change = (
        F.when(F.col("old_price").isNull(), "added")
        .when(F.col("new_price").isNull(), "removed")
        .when(F.col("old_price") != F.col("new_price"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select("o_orderkey", "change", "old_price", "new_price")
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_totalprice AS old_price FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
              ELSE o_totalprice END AS new_price
  FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
)
SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old_price IS NULL THEN 'added'
            WHEN new_price IS NULL THEN 'removed'
            WHEN old_price <> new_price THEN 'changed'
            ELSE 'unchanged' END AS change,
       old_price, new_price
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE (CASE WHEN old_price IS NULL THEN 'added'
            WHEN new_price IS NULL THEN 'removed'
            WHEN old_price <> new_price THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
"""


def q_hll_by_group(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped HLL: approximate distinct parts per returnflag as a
    mergeable sketch agg (sketches.hll_estimate_by) — at most 256
    register rows per group cross the wire instead of every
    (group, part) pair; registers and estimates replay bit-for-bit."""
    from cubert_spark.datapipe import sketches

    li = load_table(spark, sf, "lineitem")
    return sketches.hll_estimate_by(li, "l_partkey", ["l_returnflag"])


def _hll_by_oracle() -> str:
    from cubert_spark.datapipe import sketches

    return sketches.hll_sql_by("lineitem", "l_partkey", "l_returnflag")


SQL_HLL_BY_GROUP = _hll_by_oracle()


def q_basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence: the 20 most frequent part pairs
    appearing in the same order. The self-join is keyed on the order
    (posting lists bounded by order size — ~7 line items — so the
    quadratic is per-order constant, never corpus-wide); counts are
    exact, rank window runs post-limit over 20 rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = pairs.orderBy(F.desc("n"), "part_a", "part_b").limit(20)
    w = Window.orderBy(F.desc("n"), "part_a", "part_b")
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


SQL_BASKET_PAIRS = """
WITH pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, part_a, part_b) AS rnk
  FROM pairs
) WHERE rnk <= 20
"""


def q_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnostic (operators.skew.profile_skew): for
    each candidate join/agg key of orders, the top-10 heaviest values
    with exact counts and skew_ratio = cnt / (n_rows / n_keys) — the
    measurement half of the skew toolkit (salted_count_distinct /
    salted_topn / AQE are the mitigation half). o_orderpriority (5
    keys, ratio ~1) vs o_custkey (thousands of keys) shows the
    uniform and granular ends; a production run on a hot key column
    would surface ratios in the hundreds and the exact values to
    salt."""
    from cubert_spark.operators.skew import profile_skew

    o = load_table(spark, sf, "orders")
    return profile_skew(o, ["o_orderpriority", "o_orderstatus", "o_custkey"])


def _skew_profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS col_name, CAST(rnk AS INT) AS rnk, key_value, cnt, n_rows, n_keys,
       CAST(cnt * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_ratio
FROM (
  SELECT COALESCE(CAST({c} AS VARCHAR), '__null__') AS key_value, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, COALESCE(CAST({c} AS VARCHAR), '__null__')) AS rnk,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_rows,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_keys
  FROM orders GROUP BY 1
) WHERE rnk <= 10"""


SQL_SKEW_PROFILE = "\nUNION ALL\n".join(
    _skew_profile_col_sql(c)
    for c in ("o_orderpriority", "o_orderstatus", "o_custkey")
)


def _materialize_once(spark: SparkSession, sf: str, tag: str, write) -> str:
    """SIDE EFFECT, memoized: roundtrip queries must write before they
    can read back, so their builders are not plan-only — the first
    construction per (session, sf, tag) pays one write into a fresh
    ``tempfile.mkdtemp`` dir (unique per call: no pid-reuse collisions,
    r6 ADVICE) and every later construction in the same session reuses
    the written path, so lint/explain/advisor sweeps pay the write at
    most once."""
    import tempfile

    # keyed by the session's applicationId, not id(spark): a stopped
    # session's recycled object address must never alias a live one
    key = (spark.sparkContext.applicationId, sf.rstrip("/"), tag)
    path = _MATERIALIZED.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix=f"cubert_spark_{tag}_")
        write(path)
        _MATERIALIZED[key] = path
    return path


def reset_materialized() -> None:
    """Forget memoized roundtrip materializations so the NEXT
    construction re-executes its write. bench.py calls this before
    every timed run — without it, runs 2..n of the roundtrip queries
    would time read+agg only and their min would no longer measure
    the store path (cross-round comparability would silently break).

    Also RECLAIMS the forgotten dirs (r7 ADVICE): ~8 materializing
    queries x 3 timed runs otherwise leak dozens of full table copies
    into /tmp per bench invocation — multi-GB at sf1, disk exhaustion
    across rounds. Deletion is safe by construction: every forgotten
    path was created by _materialize_once via mkdtemp (ours alone),
    and any live DataFrame still lazily reading one belongs to a
    construction the caller has, by calling reset, declared stale.

    ORDERING INVARIANT (r17, ADVICE): construct-then-reset-then-
    EXECUTE is a bug at the call site. release_checkpoints() below
    destroys the blocks of truncated-lineage RDDs, so a DataFrame
    built BEFORE this call and executed AFTER it fails with
    'Checkpoint block not found'. The sole production caller,
    bench.timed_run, resets FIRST and constructs the query inside the
    timed region afterwards — keep that order in any new caller; do
    not cache query DataFrames across resets."""
    import shutil

    from cubert_spark.catalog import _SCHEMAS

    for path in _MATERIALIZED.values():
        shutil.rmtree(path, ignore_errors=True)
        _SCHEMAS.pop(path, None)  # written-schema memo of the dir
    _MATERIALIZED.clear()
    # Release prior constructions' localCheckpoint blocks (r16): the
    # ledger holds every checkpoint taken since the last reset; by
    # calling reset the caller declares those constructions stale, so
    # their block storage is freed deterministically instead of
    # lingering until a GC cycle (accumulated blocks measurably slow
    # later queries in a long bench session — see
    # cubert_spark/checkpoints.py).
    from cubert_spark.checkpoints import release_checkpoints

    release_checkpoints()


_MATERIALIZED: dict[tuple, str] = {}

# end-of-process reclaim for whatever the last constructions left
# memoized (bounded: one dir per (app, sf, tag), but sf1-sized)
import atexit as _atexit  # noqa: E402

_atexit.register(reset_materialized)


def q_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """STORE -> LOAD through JSON Lines (the interchange format every
    corpus pipeline ingests from and exports to; Spark-native
    writer/reader — schema applied on read, so the hop is typed, not
    stringly): write orders' keys/priority/price as JSONL, read back
    with an explicit schema, and run a filtered aggregate the oracle
    replays on the original table. Gzip-compressed parts: JSONL's
    size penalty is the format's cost, compression is the standard
    mitigation, and codec split-boundaries are Spark's problem, not
    the query's. Construction WRITES (once per session/sf —
    ``_materialize_once``)."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = _materialize_once(
        spark, sf, "jsonl_rt",
        lambda p: o.write.mode("overwrite")
        .option("compression", "gzip").json(p),
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).json(path)
    return (
        back.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


SQL_JSONL_ROUNDTRIP = f"""
SELECT o_orderpriority, COUNT(*) AS n,
       {dsum_sql('o_totalprice')} AS total
FROM orders
WHERE o_totalprice > 100000
GROUP BY o_orderpriority
"""


def q_dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectation suite (datapipe.expectations): six
    dbt-style rules over lineitem as one long-format violation report
    — aggregate rules fuse into a single scan, uniqueness is one
    keyed agg, each referential check is one anti-join with a
    broadcast dim. Complements VALIDATE (schema shape) with VALUE
    checks; on TPC-H-clean data every row reports 0 violations, and
    the oracle derives the same counts relationally."""
    from cubert_spark.datapipe import expectations as X

    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    p = load_table(spark, sf, "part")
    rules = [
        X.not_null("l_orderkey"),
        X.accepted_values("l_returnflag", ["A", "N", "R"]),
        X.in_range("l_discount", 0.0, 0.1),
        X.unique("l_orderkey", "l_linenumber"),
        X.foreign_key("l_orderkey", o, "o_orderkey"),
        X.foreign_key("l_partkey", p, "p_partkey"),
    ]
    return X.run_expectations(li, rules)


SQL_DQ_EXPECTATIONS = """
WITH n AS (SELECT COUNT(*) AS n FROM lineitem)
SELECT 'not_null' AS rule, 'l_orderkey' AS col_name,
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT) AS n_violations,
       n.n AS n_checked FROM n
UNION ALL
SELECT 'accepted_values', 'l_returnflag',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_returnflag IS NOT NULL
               AND l_returnflag NOT IN ('A','N','R')) AS BIGINT),
       n.n FROM n
UNION ALL
SELECT 'in_range', 'l_discount',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1)) AS BIGINT),
       n.n FROM n
UNION ALL
SELECT 'unique', 'l_orderkey,l_linenumber',
       CAST((SELECT SUM(c - 1) FROM (
          SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)) AS BIGINT),
       n.n FROM n
UNION ALL
SELECT 'foreign_key', 'l_orderkey',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_orderkey IS NOT NULL
               AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL) AS BIGINT) FROM n
UNION ALL
SELECT 'foreign_key', 'l_partkey',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_partkey IS NOT NULL
               AND l_partkey NOT IN (SELECT p_partkey FROM part)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NOT NULL) AS BIGINT) FROM n
"""


def q_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Parquet schema evolution on LOAD (the mergeSchema path —
    Cubert-side analog: the Avro reader-schema evolution already
    covered by avro_evolution, here for the primary columnar format):
    two parquet writes of the SAME logical table where the second adds
    a column; reading the directory with mergeSchema=true null-pads
    the old files, and the aggregate proves both eras contribute. The
    oracle replays the union-with-nulls relationally. Construction
    WRITES (once per session/sf — ``_materialize_once``)."""
    o = load_table(spark, sf, "orders")
    era1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    era2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice")
    )

    def _write(p):
        era1.write.mode("overwrite").parquet(p + "/era=1")
        era2.write.mode("overwrite").parquet(p + "/era=2")

    path = _materialize_once(spark, sf, "schevo", _write)
    back = spark.read.option("mergeSchema", "true").parquet(
        path + "/era=1", path + "/era=2"
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        dsum(F.coalesce("o_totalprice", F.lit(0.0))).alias("price_sum"),
    )


SQL_SCHEMA_EVOLUTION = f"""
SELECT o_orderpriority, COUNT(*) AS n_rows,
       COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS n_with_price,
       {dsum_sql('CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice ELSE 0.0 END')} AS price_sum
FROM orders
GROUP BY o_orderpriority
"""




def q_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Versioned-table time travel (catalog.tx_commit / tx_read — the
    minimal parquet-native snapshot log): commit v1 = orders keys
    ===0 (mod 3), commit v2 = append keys ===1 (mod 3); read BOTH
    versions and aggregate each — v1 must still see only its own
    snapshot after v2 lands (immutable data files + manifest file
    lists ARE the isolation). Construction WRITES (once per
    session/sf — ``_materialize_once``). The oracle replays the two
    snapshots relationally."""
    from cubert_spark.catalog import tx_commit, tx_read

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.filter(F.col("o_orderkey") % 3 == 0)
    v2 = o.filter(F.col("o_orderkey") % 3 == 1)

    def _write(p):
        tx_commit(v1, p, mode="append")
        tx_commit(v2, p, mode="append")

    path = _materialize_once(spark, sf, "txlog", _write)
    out = []
    for ver in (1, 2):
        out.append(
            tx_read(spark, path, version=ver)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").alias("key_sum"),
                dsum("o_totalprice").alias("price_sum"),
            )
            .select(F.lit(ver).alias("version"), "n", "key_sum", "price_sum")
        )
    return out[0].unionByName(out[1])


def q_tx_maintain(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental join-view maintenance FROM THE TX LOG
    (plans.ivm.maintain_join_tx over catalog.tx_commit chains — the
    reference's SummaryRewriter idea, AggregateRewriter.java:54,
    generalized from dated partitions to manifest-diffed snapshots):
    orders gets two append commits; customer gets an append and then
    an OVERWRITE commit (r15 VERDICT task 3: the overwrite leg
    drops manifest files, so maintain_join_tx routes through the full
    retract+insert rule ``maintain_join_rw`` — the hardest IVM case —
    while the a side still exercises the cheap insert-only deltas in
    the same maintenance). The join MV is materialized at (v1, v1)
    and maintained to the heads; deltas are read from the MANIFEST
    file-set difference (plans.ivm.tx_delta_rw), never a row-level
    diff or a replay. The oracle is the DIRECT RECOMPUTE of the final
    join — result-identity of maintain vs recompute is the IVM
    contract. Construction WRITES (once per session/sf —
    ``_materialize_once``)."""
    from cubert_spark.catalog import tx_commit, tx_read
    from cubert_spark.plans.ivm import maintain_join_tx

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_acctbal"
    )
    a1 = o.filter(F.col("o_orderkey") % 3 == 0)
    a2 = o.filter(F.col("o_orderkey") % 3 == 1)
    b1 = c.filter(F.col("o_custkey") % 2 == 0)
    b2 = c.filter(F.col("o_custkey") % 2 == 1)
    # the overwrite head: replaces the v2 state (all customers) with
    # the custkey%4 != 3 subset — retracts rows ALREADY IN the view
    # and keeps rows that must survive, so a wrong retract rule can't
    # hide in an empty intersection
    b3 = c.filter(F.col("o_custkey") % 4 != 3)

    def _write(p):
        tx_commit(a1, f"{p}/a", mode="append")
        tx_commit(a2, f"{p}/a", mode="append")
        tx_commit(b1, f"{p}/b", mode="append")
        tx_commit(b2, f"{p}/b", mode="append")
        tx_commit(b3, f"{p}/b", mode="overwrite")

    path = _materialize_once(spark, sf, "txivm", _write)
    j_old = tx_read(spark, f"{path}/a", version=1).join(
        tx_read(spark, f"{path}/b", version=1), "o_custkey"
    )
    j_new = maintain_join_tx(
        spark, j_old, f"{path}/a", f"{path}/b", ["o_custkey"], 1, 1
    )
    return (
        j_new.groupBy((F.col("o_custkey") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            dsum("o_totalprice").alias("price_sum"),
            dsum("c_acctbal").alias("bal_sum"),
        )
    )


SQL_TX_MAINTAIN = f"""
SELECT o_custkey % 10 AS bucket,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {dsum_sql('o_totalprice')} AS price_sum,
       {dsum_sql('c_acctbal')} AS bal_sum
FROM orders
JOIN customer ON c_custkey = o_custkey
WHERE o_orderkey % 3 IN (0, 1) AND c_custkey % 4 <> 3
GROUP BY o_custkey % 10
"""


SQL_TIME_TRAVEL = f"""
SELECT 1 AS version, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {dsum_sql('o_totalprice')} AS price_sum
FROM orders WHERE o_orderkey % 3 = 0
UNION ALL
SELECT 2, COUNT(*),
       CAST(SUM(o_orderkey) AS BIGINT),
       {dsum_sql('o_totalprice')}
FROM orders WHERE o_orderkey % 3 IN (0, 1)
"""


QUERIES = {
    "avro_roundtrip": q_avro_roundtrip,
    "zorder_roundtrip": q_zorder_roundtrip,
    "snapshot_diff": q_snapshot_diff,
    "hll_by_group": q_hll_by_group,
    "basket_pairs": q_basket_pairs,
    "heavy_hitters": q_heavy_hitters,
    "hll_estimate": q_hll_estimate,
    "kmv_set_ops": q_kmv_set_ops,
    "bloom_prune": q_bloom_prune,
    "pareto_frontier": q_pareto_frontier,
    "skew_profile": q_skew_profile,
    "jsonl_roundtrip": q_jsonl_roundtrip,
    "dq_expectations": q_dq_expectations,
    "time_travel": q_time_travel,
    "tx_maintain": q_tx_maintain,
    "schema_evolution": q_schema_evolution,
    "golden_record": q_golden_record,
    "join_ivm": q_join_ivm,
    "bfs_hops": q_bfs_hops,
    "merge_roundtrip": q_merge_roundtrip,
    "mode_by_group": q_mode_by_group,
    "rfm_scores": q_rfm_scores,
    "orc_roundtrip": q_orc_roundtrip,
    "cms_topk": q_cms_topk,
    "pagerank": q_pagerank,
    "avro_evolution": q_avro_evolution,
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "summary_rewrite": q_summary_rewrite,
    "sparse_matmul": q_sparse_matmul,
    "combine_sorted": q_combine_sorted,
    "salted_count_distinct": q_salted_count_distinct,
    "salted_topn": q_salted_topn,
    "dict_refresh": q_dict_refresh,
    "udaf_geomean": q_udaf_geomean,
    "scalar_udf": q_scalar_udf,
    "cube_udaf": q_cube_udaf,
    "pivot_apply": q_pivot_apply,
    "window_analytics": q_window_analytics,
    "clustered_roundtrip": q_clustered_roundtrip,
}

ORACLES = {
    "avro_roundtrip": SQL_AVRO_ROUNDTRIP,
    "zorder_roundtrip": SQL_ZORDER_ROUNDTRIP,
    "snapshot_diff": SQL_SNAPSHOT_DIFF,
    "hll_by_group": SQL_HLL_BY_GROUP,
    "basket_pairs": SQL_BASKET_PAIRS,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "hll_estimate": SQL_HLL_ESTIMATE,
    "kmv_set_ops": SQL_KMV_SET_OPS,
    "bloom_prune": SQL_BLOOM_PRUNE,
    "pareto_frontier": SQL_PARETO_FRONTIER,
    "skew_profile": SQL_SKEW_PROFILE,
    "jsonl_roundtrip": SQL_JSONL_ROUNDTRIP,
    "dq_expectations": SQL_DQ_EXPECTATIONS,
    "time_travel": SQL_TIME_TRAVEL,
    "tx_maintain": SQL_TX_MAINTAIN,
    "schema_evolution": SQL_SCHEMA_EVOLUTION,
    "golden_record": SQL_GOLDEN_RECORD,
    "join_ivm": SQL_JOIN_IVM,
    "bfs_hops": SQL_BFS_HOPS,
    "merge_roundtrip": SQL_MERGE_ROUNDTRIP,
    "mode_by_group": SQL_MODE_BY_GROUP,
    "rfm_scores": SQL_RFM_SCORES,
    "orc_roundtrip": SQL_ORC_ROUNDTRIP,
    "cms_topk": SQL_CMS_TOPK,
    "pagerank": SQL_PAGERANK,
    "avro_evolution": SQL_AVRO_EVOLUTION,
    "asof_join": SQL_ASOF_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "summary_rewrite": SQL_SUMMARY_REWRITE,
    "sparse_matmul": SQL_SPARSE_MATMUL,
    "combine_sorted": SQL_COMBINE_SORTED,
    "salted_count_distinct": SQL_SALTED_COUNT_DISTINCT,
    "salted_topn": SQL_SALTED_TOPN,
    "dict_refresh": SQL_DICT_REFRESH,
    "udaf_geomean": SQL_UDAF_GEOMEAN,
    "scalar_udf": SQL_SCALAR_UDF,
    "cube_udaf": SQL_CUBE_UDAF,
    "pivot_apply": SQL_PIVOT_APPLY,
    "window_analytics": SQL_WINDOW_ANALYTICS,
    "clustered_roundtrip": SQL_CLUSTERED_ROUNDTRIP,
}
