"""Driver contract for the spark-graft builder (PySpark target).

Every query is built through the polars_net_spark library (so the operator
surface from SURVEY.md §2 is exercised end-to-end) and paired with an ANSI-SQL
oracle that DuckDB runs on the same parquet views.  Aggregate doubles are
rounded identically on both sides so cross-engine summation-order noise
cannot flip the value hash; integer outputs are cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import polars_net_spark as pls
from polars_net_spark import col, lit, when
from polars_net_spark.frame import LazyFrame
from polars_net_spark.llm import (
    dedup_exact,
    dedup_clusters,
    dedup_fuzzy,
    ivf_topk,
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_signatures,
    embedding_near_dup_pairs,
    cosine_topk,
    lsh_bucket_topk,
    token_count,
    quality_score,
    language_id,
    content_fingerprint,
    shingle_fingerprints,
    text_metrics_frame,
    shingle_fingerprint_frame,
    gopher_quality_frame,
    repetition_metrics_frame,
    pii_metrics_frame,
    tfidf_top_terms,
    bm25_topk,
)
from polars_net_spark.llm.similarity import sq8_recall_frame
from polars_net_spark.operators.joins_ext import range_join, salted_join
from polars_net_spark.session import _preinit_case_mapping

STOPWORDS_SQL = "('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this')"


_T_CONF_DONE: "set[str]" = set()
_T_MEMO: "dict[tuple[str, str, str], LazyFrame | StructType]" = {}


def _session_key(spark) -> str:
    """Session-lifetime identifier for the memo/conf caches.  id(spark) is
    UNSAFE here: CPython reuses addresses after GC, so a new session
    allocated where a stopped one lived would inherit stale memoized
    LazyFrames bound to the dead session (r7 ADVICE).  applicationId is
    unique per SparkContext lifetime."""
    try:
        return str(spark.sparkContext.applicationId)
    except Exception:
        return f"id:{id(spark)}"  # last resort (no context yet)


def _t(spark: SparkSession, sf_dir: str, name: str) -> LazyFrame:
    """Load one driver table; normalizes the events ns-timestamp column.

    Both the session-conf tuning and the parquet scan (a ~100 ms schema
    probe) are memoized per session: 280 queries x ~1-3 table loads each
    was ~35 s of pure loader overhead across the suite.  The memoized
    LazyFrame wraps an immutable DataFrame, so sharing it across queries
    is safe — every operator derives new frames.

    ``get_spark`` also turns off PySpark's DataFrame debugging context
    (``spark.python.sql.dataFrameDebugging.enabled=false``), which skips a
    Python call-site capture on every Column call.  That conf is static:
    Spark rejects a ``spark.conf.set`` of it at runtime, so unlike the
    runtime confs below ``_t`` cannot apply it to a session the driver
    built itself.  Such a session keeps the capture unless its builder
    set the conf.  The same holds for ``get_spark``'s generated-class cache
    size (``spark.sql.codegen.cache.maxEntries``): it is static, and Spark
    builds the cache once per JVM, so it cannot be applied at run time.  A
    session the driver built keeps Spark's 100 entries, and recompiles
    most of a re-run plan's classes, unless its builder set the conf.

    A session ``get_spark`` did not build gets the case-mapping pre-init
    (``session._preinit_case_mapping``) at its first sighting here, so
    Spark's code-point title-case table builds on a spare core while the
    first gate runs instead of inside the first ``lower``/``upper``/
    ``initcap`` it executes."""
    # The driver passes its own SparkSession; these are all runtime-settable
    # and make its runs match our tuned sessions.
    skey = _session_key(spark)
    if skey not in _T_CONF_DONE:
        # First sighting of a new session: evict memo/conf entries left by
        # stopped sessions so a long-lived driver process that cycles many
        # SparkSessions doesn't accumulate dead LazyFrames (r8 ADVICE).
        stale = [k for k in _T_MEMO if k[0] != skey]
        for k in stale:
            del _T_MEMO[k]
        _T_CONF_DONE.intersection_update({skey})
        _preinit_case_mapping(spark)
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.ansi.enabled", "false")  # polars: /0 is data, not an error
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
            )
            _T_CONF_DONE.add(skey)
        except Exception:
            pass
    key = (skey, sf_dir, name)
    hit = _T_MEMO.get(key)
    if hit is not None:
        return hit
    lf = pls.scan_parquet(f"{sf_dir}/{name}.parquet", spark=spark)
    if name == "events" and dict(lf._sdf.dtypes).get("ts") == "bigint":
        lf = LazyFrame(
            lf._sdf.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        )
    _T_MEMO[key] = lf
    return lf


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return _q01(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# relational core


def _q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            col("l_quantity").sum().round(2).alias("sum_qty"),
            col("l_extendedprice").sum().round(2).alias("sum_base_price"),
            (col("l_extendedprice") * (1 - col("l_discount"))).sum().round(2).alias("sum_disc_price"),
            (col("l_extendedprice") * (1 - col("l_discount")) * (1 + col("l_tax"))).sum().round(2).alias("sum_charge"),
            col("l_quantity").mean().round(6).alias("avg_qty"),
            col("l_extendedprice").mean().round(6).alias("avg_price"),
            col("l_discount").mean().round(6).alias("avg_disc"),
            col("l_quantity").len().cast("long").alias("count_order"),
        )
        .sort(["l_returnflag", "l_linestatus"])
    )
    return out.spark


_q01_sql = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q02(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(
            col("l_quantity").is_between(10, 20),
            col("l_returnflag").is_in(["A", "R"]),
        )
        .group_by("l_returnflag")
        .agg(
            col("l_orderkey").len().cast("long").alias("n_rows"),
            col("l_extendedprice").sum().round(2).alias("sum_price"),
        )
    )
    return out.spark


_q02_sql = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R')
GROUP BY l_returnflag
"""


def _q03(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cutoff = lit("1997-01-01").cast("timestamp")
    out = (
        c.filter(col("c_mktsegment") == "BUILDING")
        .join(o, left_on="c_custkey", right_on="o_custkey", how="inner")
        .filter(col("o_orderdate") < cutoff)
        .join(li, left_on="o_orderkey", right_on="l_orderkey", how="inner")
        .filter(col("l_shipdate") > cutoff)
        .group_by("o_orderkey", "o_orderdate")
        .agg((col("l_extendedprice") * (1 - col("l_discount"))).sum().round(2).alias("revenue"))
        .sort(["revenue", "o_orderdate", "o_orderkey"], descending=[True, False, False])
        .limit(10)
    )
    return out.spark


_q03_sql = """
SELECT o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, o_orderkey
LIMIT 10
"""


def _q04(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = li.filter(col("l_quantity") > 45)
    out = (
        o.join(big, left_on="o_orderkey", right_on="l_orderkey", how="semi")
        .group_by("o_orderpriority")
        .agg(col("o_orderkey").len().cast("long").alias("order_count"))
        .sort("o_orderpriority")
    )
    return out.spark


_q04_sql = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def _q05(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    out = (
        li.join(o, left_on="l_orderkey", right_on="o_orderkey", how="inner")
        .join(c, left_on="o_custkey", right_on="c_custkey", how="inner")
        .join(n, left_on="c_nationkey", right_on="n_nationkey", how="inner", broadcast=True)
        .join(r, left_on="n_regionkey", right_on="r_regionkey", how="inner", broadcast=True)
        .group_by("r_name")
        .agg((col("l_extendedprice") * (1 - col("l_discount"))).sum().round(2).alias("revenue"))
        .sort("r_name")
    )
    return out.spark


_q05_sql = """
SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


def _q06(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp"),
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"),
        col("l_discount").is_between(0.05, 0.07),
        col("l_quantity") < 24,
    )
    return filtered.spark.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue")
    )


_q06_sql = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def _q07(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, left_on="c_custkey", right_on="o_custkey", how="left")
        .group_by("c_custkey")
        .agg(col("o_orderkey").count().cast("long").alias("c_count"))
    )
    out = (
        per_cust.group_by("c_count")
        .agg(col("c_custkey").len().cast("long").alias("custdist"))
        .sort(["custdist", "c_count"], descending=[True, True])
    )
    return out.spark


_q07_sql = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def _q08(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    out = (
        c.join(o, left_on="c_custkey", right_on="o_custkey", how="anti")
        .group_by("c_mktsegment")
        .agg(col("c_custkey").len().cast("long").alias("n_no_orders"))
        .sort("c_mktsegment")
    )
    return out.spark


_q08_sql = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_no_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _q09(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    out = (
        r.join(n, how="cross")
        .filter(col("n_regionkey") != col("r_regionkey"))
        .select(col("r_name"), col("n_name"))
        .sort(["r_name", "n_name"])
    )
    return out.spark


_q09_sql = """
SELECT r_name, n_name FROM region CROSS JOIN nation
WHERE n_regionkey <> r_regionkey ORDER BY r_name, n_name
"""


def _q10(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = li.select(col("l_returnflag"), col("l_linestatus")).unique().sort(["l_returnflag", "l_linestatus"])
    return out.spark


_q10_sql = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2"


def _q11(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.select(col("l_orderkey"), col("l_linenumber").cast("i64").alias("l_linenumber"), col("l_extendedprice"))
        .sort(["l_extendedprice", "l_orderkey", "l_linenumber"], descending=[True, False, False])
        .limit(20)
    )
    return out.spark


_q11_sql = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
"""


def _q12(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.group_by("l_suppkey")
        .agg(col("l_quantity").sum().round(2).alias("total_qty"))
        .filter(col("total_qty") > 6000)
        .sort("l_suppkey")
    )
    return out.spark


_q12_sql = """
SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
FROM lineitem GROUP BY l_suppkey HAVING round(sum(l_quantity), 2) > 6000
ORDER BY l_suppkey
"""


def _q13(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    band = (
        when(col("o_totalprice") < 100000).then(lit("low"))
        .when(col("o_totalprice") < 300000).then(lit("mid"))
        .otherwise(lit("high"))
        .alias("band")
    )
    out = (
        o.with_columns(band)
        .group_by("band")
        .agg(
            col("o_orderkey").len().cast("long").alias("n"),
            col("o_totalprice").mean().round(4).alias("avg_price"),
        )
        .sort("band")
    )
    return out.spark


_q13_sql = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
            WHEN o_totalprice < 300000 THEN 'mid' ELSE 'high' END AS band,
       CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY 1 ORDER BY 1
"""


def _q14(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    left = c.select(col("c_custkey").alias("id"), col("c_name").alias("name"))
    right = o.select(col("o_orderkey").alias("id"), col("o_totalprice").alias("price"))
    out = pls.concat([left, right], how="diagonal")
    return out.spark


_q14_sql = """
SELECT c_custkey AS id, c_name AS name, NULL::DOUBLE AS price FROM customer
UNION ALL BY NAME
SELECT o_orderkey AS id, NULL::VARCHAR AS name, o_totalprice AS price FROM orders
"""


def _q15(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    piv = li.collect().pivot(index="l_returnflag", columns="l_linestatus", values="l_quantity", aggregate_function="sum")
    out = piv.lazy().with_columns(
        col("F").round(2).alias("F"), col("O").round(2).alias("O")
    ).sort("l_returnflag")
    return out.spark


_q15_sql = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# window / time series


def _q16(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = o.select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice")
        .cum_sum(order_by=[col("o_orderdate"), col("o_orderkey")], partition_by=["o_custkey"])
        .round(2)
        .alias("running_total"),
    )
    return out.spark


_q16_sql = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def _q17(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = o.select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice")
        .diff(1, order_by=[col("o_orderdate"), col("o_orderkey")], partition_by=["o_custkey"])
        .round(2)
        .alias("price_diff"),
    )
    return out.spark


_q17_sql = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS price_diff
FROM orders
"""


def _q18(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    order_keys = [col("l_shipdate"), col("l_orderkey"), col("l_linenumber")]
    out = li.select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber").cast("i64").alias("l_linenumber"),
        col("l_quantity")
        .rolling_mean("7i", min_periods=1, order_by=order_keys, partition_by=["l_suppkey"])
        .round(6)
        .alias("roll_avg_qty"),
    )
    return out.spark


_q18_sql = """
SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       round(avg(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_avg_qty
FROM lineitem
"""


def _q19(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        col("l_suppkey"),
        col("l_orderkey"),
        col("l_linenumber").cast("i64").alias("l_linenumber"),
        col("l_quantity")
        .rolling_sum_by("l_shipdate", "7d", closed="both", min_periods=1, partition_by=["l_suppkey"])
        .round(2)
        .alias("qty_7d"),
    )
    return out.spark


_q19_sql = """
SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       round(sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW), 2) AS qty_7d
FROM lineitem
"""


def _q20(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.group_by_dynamic("ts", every="1h", closed="left", label="left")
        .agg(
            col("event_id").len().cast("long").alias("n_events"),
            col("value").sum().round(2).alias("sum_value"),
        )
    )
    return LazyFrame(out._sdf.withColumnRenamed("ts", "bucket_start")).spark


_q20_sql = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1 ORDER BY 1
"""


def _q21(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(
        col("ts"), col("user_id"), col("event_id"), col("value")
    )
    out = o.join_asof(
        ev,
        left_on="o_orderdate",
        right_on="ts",
        by_left=["o_custkey"],
        by_right=["user_id"],
        strategy="backward",
    ).select(col("o_orderkey"), col("o_custkey"), col("event_id"), col("value"))
    return out.spark


_q21_sql = """
SELECT o_orderkey, o_custkey, e.event_id, e.value
FROM orders o ASOF LEFT JOIN events e
  ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
"""


def _q22(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    grouped = (
        li.group_by("l_returnflag")
        .agg(
            col("l_extendedprice").quantiles([0.5, 0.9]).alias("__qs__"),
            col("l_extendedprice").std(ddof=1).round(6).alias("sd"),
        )
    )
    out = grouped.select(
        col("l_returnflag"),
        col("__qs__").list.get(0).round(6).alias("p50"),
        col("__qs__").list.get(1).round(6).alias("p90"),
        col("sd"),
    ).sort("l_returnflag")
    return out.spark


_q22_sql = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
       round(stddev_samp(l_extendedprice), 6) AS sd
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# strings / dates / lists / structs / casts


def _q23(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    out = p.select(
        col("p_partkey"),
        col("p_name").str.to_uppercase().alias("name_upper"),
        col("p_type").str.slice(0, 5).alias("type_prefix"),
        col("p_brand").str.extract(r"(\d+)", 1).alias("brand_num"),
        col("p_name").str.len_chars().cast("i64").alias("name_len"),
        col("p_name").str.contains("green").cast("boolean").alias("has_green"),
    )
    return out.spark


_q23_sql = """
SELECT p_partkey, upper(p_name) AS name_upper, substring(p_type, 1, 5) AS type_prefix,
       regexp_extract(p_brand, '(\\d+)', 1) AS brand_num,
       CAST(length(p_name) AS BIGINT) AS name_len,
       regexp_matches(p_name, 'green') AS has_green
FROM part
"""


def _q24(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = o.select(
        col("o_orderkey"),
        col("o_orderdate").dt.year().cast("i64").alias("yr"),
        col("o_orderdate").dt.month().cast("i64").alias("mo"),
        col("o_orderdate").dt.day().cast("i64").alias("dy"),
        col("o_orderdate").dt.weekday().cast("i64").alias("isodow"),
        col("o_orderdate").dt.truncate("1mo").alias("month_start"),
    )
    return out.spark


_q24_sql = """
SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mo,
       CAST(day(o_orderdate) AS BIGINT) AS dy,
       CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
       date_trunc('month', o_orderdate) AS month_start
FROM orders
"""


def _q25(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = e.select(
        col("vec_id"),
        col("embedding").list.len().cast("i64").alias("n_dims"),
        col("embedding").list.sum().round(4).alias("vsum"),
        col("embedding").list.min().cast("f64").alias("vmin"),
        col("embedding").list.max().cast("f64").alias("vmax"),
        col("embedding").list.first().cast("f64").alias("v0"),
        col("embedding").list.mean().round(6).alias("vmean"),
    )
    return out.spark


_q25_sql = """
WITH e AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
       round(list_sum(v), 4) AS vsum,
       CAST(list_min(v) AS DOUBLE) AS vmin,
       CAST(list_max(v) AS DOUBLE) AS vmax,
       CAST(v[1] AS DOUBLE) AS v0,
       round(list_sum(v) / len(embedding), 6) AS vmean
FROM e
"""


def _q26(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    packed = c.select(
        col("c_custkey"),
        pls.as_struct([col("c_name"), col("c_acctbal")]).alias("info"),
    )
    out = packed.select(
        col("c_custkey"),
        col("info").struct.field("c_name").alias("name_out"),
        col("info").struct.field("c_acctbal").alias("bal_out"),
    )
    return out.spark


_q26_sql = """
WITH s AS (SELECT c_custkey, struct_pack(c_name := c_name, c_acctbal := c_acctbal) AS info FROM customer)
SELECT c_custkey, info.c_name AS name_out, info.c_acctbal AS bal_out FROM s
"""


def _q27(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = d.select(
        col("doc_id"),
        col("text").str.slice(0, 3).cast("i64").fill_null(-1).alias("parsed"),
        col("n_chars").cast("str").alias("n_str"),
    )
    return out.spark


_q27_sql = """
SELECT doc_id, coalesce(TRY_CAST(substring(text, 1, 3) AS BIGINT), -1) AS parsed,
       CAST(n_chars AS VARCHAR) AS n_str
FROM documents
"""


def _q28(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    d = LazyFrame(d._sdf.repartition(spark.sparkContext.defaultParallelism))
    words = d.select(
        pls.Expr(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))).alias("word")
    )
    out = (
        words.group_by("word")
        .agg(col("word").len().cast("long").alias("n"))
        .sort(["n", "word"], descending=[True, False])
        .limit(50)
    )
    return out.spark


_q28_sql = """
SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 50
"""


# ---------------------------------------------------------------------------
# LLM pipeline operators


def _q29(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    kept = dedup_exact(d, text_col="text", id_col="doc_id")
    out = kept.select(col("doc_id")).sort("doc_id")
    return out.spark


_q29_sql = r"""
SELECT min(doc_id) AS doc_id
FROM documents
GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
ORDER BY doc_id
"""


_NGRAM_PAIRS_SQL = r"""
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb, count(*) AS shared
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(shared / (na + nb - shared), 6) AS jaccard
FROM p WHERE round(shared / (na + nb - shared), 6) >= 0.5
"""


def _q30(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, n=3, threshold=0.5).spark


def _q31(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, n=3, threshold=0.5, num_hashes=64, bands=16).spark


def _q32(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.45).spark


_q32_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
"""


def _q33(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    out = cosine_topk(e, q, k=5)
    return out._sdf.withColumn("rank", F.col("rank").cast("long"))


_q33_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 10),
s AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             round(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM q JOIN e c ON c.vec_id <> q.vec_id)
SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
WHERE rn <= 5
"""


def _q34(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return text_metrics_frame(d, text_col="text", id_col="doc_id").spark


_q34_sql = rf"""
WITH t AS (SELECT doc_id, text,
                  length(text)::DOUBLE AS n,
                  string_split_regex(trim(text), '\s+') AS ws
           FROM documents),
u AS (SELECT doc_id, text, n,
             len(ws)::DOUBLE AS nw,
             len(list_filter(ws, w -> lower(w) IN {STOPWORDS_SQL}))::DOUBLE AS sh,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::DOUBLE AS p,
             CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n_tokens,
             len(list_filter(ws, w -> lower(w) IN ('the','and','of','to','is'))) AS h_en,
             len(list_filter(ws, w -> lower(w) IN ('el','la','de','que','los'))) AS h_es,
             len(list_filter(ws, w -> lower(w) IN ('der','die','das','und','ist'))) AS h_de,
             len(list_filter(ws, w -> lower(w) IN ('le','la','les','et','est'))) AS h_fr,
             len(list_filter(ws, w -> lower(w) IN ('的','是','了','在','我'))) AS h_zh
      FROM t)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round((least(n / 500.0, 1.0)
              + CASE WHEN nw > 0 AND (n - (nw - 1)) / nw BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END
              + CASE WHEN (CASE WHEN n > 0 THEN p / n ELSE 0 END) <= 0.2 THEN 1.0 ELSE 0.5 END
              + least((CASE WHEN nw > 0 THEN sh / nw ELSE 0 END) * 4.0, 1.0)) / 4.0, 6) AS quality,
       CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'unknown'
            WHEN h_en = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
            WHEN h_es = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
            WHEN h_de = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
            WHEN h_fr = greatest(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
            ELSE 'zh' END AS lang_pred
FROM u
"""


def _q35(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return shingle_fingerprint_frame(d, text_col="text", id_col="doc_id", k=3, keep_every=4).spark


_q35_sql = r"""
WITH w AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
g AS (SELECT doc_id, text,
             CASE WHEN len(ws) >= 3
                  THEN list_transform(generate_series(1, len(ws) - 2),
                                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                  ELSE [] END AS grams
      FROM w),
h AS (SELECT doc_id, text,
             list_sort(list_distinct(list_filter(list_transform(grams, s -> md5(s)),
                                                 x -> substring(x, 1, 1) IN ('0','1','2','3')))) AS kept
      FROM g)
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
       CAST(len(kept) AS BIGINT) AS n_kept,
       kept[1] AS min_fp,
       kept[-1] AS max_fp
FROM h
"""


def _q36(spark, sf_dir):
    # md5-based 60-bit variant: bit-identical to the DuckDB oracle below, so
    # this row is hash-gated (the xxhash64 fast path shares every line of the
    # bit-sum machinery and is covered by invariants in test_llm.py)
    d = _t(spark, sf_dir, "documents")
    return simhash_signatures(d, bits=60, hash_fn="md5").spark


def _simhash_md5_oracle_sql(bits: int = 60) -> str:
    """DuckDB replica of simhash_signatures(hash_fn='md5'): token hash = first
    15 hex chars of md5(token) as a 60-bit int, extracted digit-by-digit."""
    sums = []
    for b in range(bits):
        pos = 15 - b // 4  # 1-based hex-char position holding bit b
        p = 1 << (b % 4)
        sums.append(
            f"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1) "
            f"// {p}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        )
    sig = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS w
  FROM documents),
d AS (SELECT doc_id, md5(w) AS h FROM toks),
bitsums AS (SELECT doc_id, {', '.join(sums)} FROM d GROUP BY doc_id)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bitsums
"""


_q36_sql = _simhash_md5_oracle_sql()


def _q37(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    gap_us = 30 * 60 * 1_000_000
    prev_ts = col("ts").shift(1, order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
    new_sess = (
        when(
            prev_ts.is_null()
            | (
                pls.Expr(F.unix_micros(F.col("ts").cast("timestamp")))
                - pls.Expr(F.unix_micros(prev_ts._col.cast("timestamp")))
                > gap_us
            )
        )
        .then(lit(1))
        .otherwise(lit(0))
    )
    sess = ev.with_columns(new_sess.alias("new_sess")).with_columns(
        col("new_sess").cum_sum(order_by=[col("ts"), col("event_id")], partition_by=["user_id"]).alias("session_id")
    )
    out = (
        sess.group_by("user_id", "session_id")
        .agg(
            col("event_id").len().cast("long").alias("n_events"),
            col("value").sum().round(2).alias("session_value"),
        )
    )
    return out.spark.withColumn("session_id", F.col("session_id").cast("long"))


_q37_sql = """
WITH g AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS session_value
FROM s GROUP BY user_id, session_id
"""


def _q41(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks_only = when(col("event_type") == "click").then(col("value")).otherwise(lit(None))
    out = ev.with_columns(clicks_only.alias("click_value")).select(
        col("event_id"),
        col("user_id"),
        col("click_value")
        .forward_fill(order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
        .alias("last_click_value"),
        col("click_value")
        .backward_fill(order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
        .alias("next_click_value"),
    )
    return out.spark


_q41_sql = """
WITH g AS (SELECT event_id, user_id, ts,
                  CASE WHEN event_type = 'click' THEN value END AS cv
           FROM events)
SELECT event_id, user_id,
       last_value(cv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value,
       first_value(cv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click_value
FROM g
"""


def _q42(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = e._sdf.select(
        F.col("vec_id"), F.posexplode(F.col("embedding")).alias("pos", "val")
    ).select(
        "vec_id", F.col("pos").cast("long").alias("pos"), F.col("val").cast("double").alias("val")
    )
    return out


_q42_sql = """
SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, CAST(embedding[i] AS DOUBLE) AS val
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
"""


def _q43(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    a = n.sort("n_nationkey").select(col("n_name"))
    b = n.sort("n_nationkey", descending=True).select(col("n_nationkey").alias("rev_key"))
    out = pls.concat([a, b], how="horizontal")
    return out.spark


_q43_sql = """
WITH a AS (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS rn FROM nation),
b AS (SELECT n_nationkey AS rev_key, row_number() OVER (ORDER BY n_nationkey DESC) AS rn FROM nation)
SELECT n_name, rev_key FROM a JOIN b USING (rn)
"""


def _q44(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    ctx = pls.SQLContext(spark, lineitem_v=li, part_v=p)
    out = ctx.execute(
        """
        SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE l_quantity < (
            SELECT 0.2 * avg(l_quantity) FROM lineitem_v l2 WHERE l2.l_partkey = part_v.p_partkey)
        GROUP BY p_brand ORDER BY p_brand
        """
    )
    return out.spark


_q44_sql = """
SELECT p_brand, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
GROUP BY p_brand ORDER BY p_brand
"""


def _q46(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    d = c.collect().describe()
    stats = d.lazy()
    rounded = [col("statistic")] + [
        col(name).round(4).alias(name) for name in stats.columns if name != "statistic"
    ]
    return stats.select(rounded).spark


_q46_sql = """
WITH s AS (
  SELECT CAST(count(c_custkey) AS DOUBLE) AS ck_count,
         CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS ck_nulls,
         avg(c_custkey) AS ck_mean, stddev_samp(c_custkey) AS ck_std,
         CAST(min(c_custkey) AS DOUBLE) AS ck_min,
         quantile_cont(c_custkey, 0.25) AS ck_p25, quantile_cont(c_custkey, 0.5) AS ck_p50,
         quantile_cont(c_custkey, 0.75) AS ck_p75, CAST(max(c_custkey) AS DOUBLE) AS ck_max,
         CAST(count(c_nationkey) AS DOUBLE) AS nk_count,
         CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nk_nulls,
         avg(c_nationkey) AS nk_mean, stddev_samp(c_nationkey) AS nk_std,
         CAST(min(c_nationkey) AS DOUBLE) AS nk_min,
         quantile_cont(c_nationkey, 0.25) AS nk_p25, quantile_cont(c_nationkey, 0.5) AS nk_p50,
         quantile_cont(c_nationkey, 0.75) AS nk_p75, CAST(max(c_nationkey) AS DOUBLE) AS nk_max,
         CAST(count(c_acctbal) AS DOUBLE) AS ab_count,
         CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS ab_nulls,
         avg(c_acctbal) AS ab_mean, stddev_samp(c_acctbal) AS ab_std,
         CAST(min(c_acctbal) AS DOUBLE) AS ab_min,
         quantile_cont(c_acctbal, 0.25) AS ab_p25, quantile_cont(c_acctbal, 0.5) AS ab_p50,
         quantile_cont(c_acctbal, 0.75) AS ab_p75, CAST(max(c_acctbal) AS DOUBLE) AS ab_max
  FROM customer)
SELECT 'count' AS statistic, round(ck_count,4) AS c_custkey, round(nk_count,4) AS c_nationkey, round(ab_count,4) AS c_acctbal FROM s
UNION ALL SELECT 'null_count', round(ck_nulls,4), round(nk_nulls,4), round(ab_nulls,4) FROM s
UNION ALL SELECT 'mean', round(ck_mean,4), round(nk_mean,4), round(ab_mean,4) FROM s
UNION ALL SELECT 'std', round(ck_std,4), round(nk_std,4), round(ab_std,4) FROM s
UNION ALL SELECT 'min', round(ck_min,4), round(nk_min,4), round(ab_min,4) FROM s
UNION ALL SELECT '25%', round(ck_p25,4), round(nk_p25,4), round(ab_p25,4) FROM s
UNION ALL SELECT '50%', round(ck_p50,4), round(nk_p50,4), round(ab_p50,4) FROM s
UNION ALL SELECT '75%', round(ck_p75,4), round(nk_p75,4), round(ab_p75,4) FROM s
UNION ALL SELECT 'max', round(ck_max,4), round(nk_max,4), round(ab_max,4) FROM s
"""


def _q45(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    numeric_x2 = pls.cs.numeric().map_cols(c.schema, lambda e: (e * 2))
    out = c.select(numeric_x2)
    return out.spark


_q45_sql = """
SELECT c_custkey * 2 AS c_custkey, c_nationkey * 2 AS c_nationkey,
       c_acctbal * 2 AS c_acctbal
FROM customer
"""


def _q47(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = li.select(
        col("l_orderkey"),
        col("l_linenumber").cast("i64").alias("l_linenumber"),
        col("l_quantity").map(lambda s: s * 2 + 1, return_dtype="f64").alias("q2"),
    )
    return out.spark


_q47_sql = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_quantity * 2 + 1 AS q2
FROM lineitem
"""


def _q48(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(
        col("ts"), col("user_id"), col("event_id"), col("value")
    )
    out = o.join_asof(
        ev,
        left_on="o_orderdate",
        right_on="ts",
        by_left=["o_custkey"],
        by_right=["user_id"],
        strategy="forward",
    ).select(col("o_orderkey"), col("o_custkey"), col("event_id"), col("value"))
    return out.spark


_q48_sql = """
SELECT o_orderkey, o_custkey, e.event_id, e.value
FROM orders o LEFT JOIN LATERAL (
  SELECT event_id, value FROM events e
  WHERE e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
  ORDER BY e.ts, e.event_id LIMIT 1) e ON true
"""


def _q49(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = (
        o.with_columns(
            col("o_totalprice")
            .rank("ordinal", order_by=[col("o_totalprice"), col("o_orderkey")], partition_by=["o_orderpriority"])
            .cast("i64")
            .alias("rn")
        )
        .filter(col("rn") <= 5)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    )
    return out.spark


_q49_sql = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 5
"""


def _q50(spark, sf_dir):
    n = _t(spark, sf_dir, "nation")
    grouped = n.group_by("n_regionkey").agg(
        pls.Expr(F.array_join(F.array_sort(F.collect_list(F.col("n_name"))), ",")).alias("nations"),
        col("n_nationkey").len().cast("long").alias("n"),
    )
    return grouped.select(
        col("n_regionkey").cast("i64").alias("n_regionkey"), col("nations"), col("n")
    ).sort("n_regionkey").spark


_q50_sql = """
SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       CAST(count(*) AS BIGINT) AS n
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


def _q39(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            col("l_quantity").sum().round(2).alias("sum_qty"),
            col("l_orderkey").len().cast("long").alias("n"),
        )
    )
    return out.spark


_q39_sql = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q40(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    out = o.cube("o_orderpriority", "o_orderstatus").agg(
        col("o_totalprice").sum().round(2).alias("total"),
        col("o_orderkey").len().cast("long").alias("n"),
    )
    return out.spark


_q40_sql = """
SELECT o_orderpriority, o_orderstatus, round(sum(o_totalprice), 2) AS total,
       CAST(count(*) AS BIGINT) AS n
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def _q38(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    out = lsh_bucket_topk(e, q, k=5, num_planes=6, num_tables=6)
    return out._sdf.withColumn("rank", F.col("rank").cast("long"))


def _lsh_topk_oracle_sql(k: int = 5, num_planes: int = 6, num_tables: int = 6, dim: int = 64) -> str:
    """DuckDB replica of lsh_bucket_topk: the hyperplanes are deterministic
    (seeded LCG, no RNG state), so the exact plane vectors the Spark job uses
    are embedded here as literals.  Candidates = pairs sharing a bucket in
    ≥1 table; scoring and ranking mirror the Spark plan."""
    from polars_net_spark.llm.similarity import _hyperplane

    bucket_cols = []
    for t in range(num_tables):
        terms = []
        for i in range(num_planes):
            plane = _hyperplane(dim, seed=t * 1000 + i)
            lits = ", ".join(repr(x) for x in plane)
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {1 << i} ELSE 0 END"
            )
        bucket_cols.append("(" + " + ".join(terms) + f") AS b{t}")
    on_clause = " OR ".join(f"q.b{t} = c.b{t}" for t in range(num_tables))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {", ".join(bucket_cols)} FROM e),
cand AS (
  SELECT q.vec_id AS query_id, q.v AS qv, c.vec_id AS corpus_id, c.v AS cv
  FROM b q JOIN b c ON c.vec_id <> q.vec_id AND ({on_clause})
  WHERE q.vec_id < 10),
s AS (SELECT query_id, corpus_id,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
      FROM cand)
SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
WHERE rn <= {k}
"""


_q38_sql = _lsh_topk_oracle_sql()


def _q51(spark, sf_dir):
    # pair generation (same params as q30) -> connected components ->
    # per-doc cluster assignment including singletons
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    return dedup_clusters(pairs, vertices=d, vertex_id="doc_id").spark


# transitive closure of the q30 pair list: cluster_id = min reachable doc_id
# (recursive CTE mirrors the label-propagation fixpoint exactly)
_q51_sql = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb, count(*) AS shared
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
pr AS (SELECT id_a, id_b FROM p WHERE round(shared / (na + nb - shared), 6) >= 0.5),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.dst, reach.lbl FROM reach JOIN ed ON ed.src = reach.id
)
SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
"""


def _q53(spark, sf_dir):
    # the one-call pipeline op: minhash pairs (exact-verified, so the kept
    # set depends only on the true Jaccard graph) -> components -> keep the
    # lowest-id doc per cluster, all original columns
    d = _t(spark, sf_dir, "documents")
    out = dedup_fuzzy(d, method="minhash", threshold=0.5, n=3, num_hashes=64, bands=16)
    return out.spark.select("doc_id", "text", "lang", "source", "n_chars")


# kept docs = those whose doc_id equals their component's min reachable id,
# over the exact-Jaccard pair graph (minhash verify makes them identical)
_q53_sql = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb, count(*) AS shared
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
pr AS (SELECT id_a, id_b FROM p WHERE round(shared / (na + nb - shared), 6) >= 0.5),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.dst, reach.lbl FROM reach JOIN ed ON ed.src = reach.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN comp ON d.doc_id = comp.id
WHERE comp.id = comp.cluster_id
"""


def _q52(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    out = ivf_topk(e, q, k=5, nlist=16, nprobe=4)
    return out._sdf.withColumn("rank", F.col("rank").cast("long"))


_q52_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
ca AS (SELECT e.vec_id AS corpus_id, e.v, cent.centroid_id,
              round(list_dot_product(e.v, cent.cv) /
                    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS ccos
       FROM e CROSS JOIN cent),
assigned AS (SELECT corpus_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY corpus_id ORDER BY ccos DESC, centroid_id) AS rn FROM ca)
    WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qa AS (SELECT q.query_id, q.qv, cent.centroid_id,
              round(list_dot_product(q.qv, cent.cv) /
                    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS qcos
       FROM q CROSS JOIN cent),
probed AS (SELECT centroid_id, query_id, qv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, centroid_id) AS rn FROM qa)
    WHERE rn <= 4),
s AS (SELECT p.query_id, a.corpus_id,
             round(list_dot_product(p.qv, a.v) /
                   (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
      FROM probed p JOIN assigned a USING (centroid_id)
      WHERE a.corpus_id <> p.query_id)
SELECT query_id, corpus_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s)
WHERE rn <= 5
"""


# ---------------------------------------------------------------------------
# quality / retrieval / extended joins / sketches (round 2)


def _q54(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = gopher_quality_frame(d, min_stop_hits=1)
    return out.spark.withColumn("passes", F.col("passes").cast("long"))


_q54_sql = r"""
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\s+') AS ws,
         string_split(text, chr(10)) AS ls
  FROM documents),
m AS (
  SELECT doc_id,
    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n_words,
    COALESCE(list_sum(list_transform(ws, x -> len(x))), 0) AS word_chars,
    len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS symbols,
    len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*]'))) AS bullet_lines,
    len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ellipsis_lines,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
    len(ls) AS n_lines,
    len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
        ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM w),
r AS (
  SELECT doc_id,
    CAST(n_words AS BIGINT) AS n_words,
    round(CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0 END, 6) AS mean_word_len,
    round(CASE WHEN n_words > 0 THEN symbols::DOUBLE / n_words ELSE 0 END, 6) AS symbol_ratio,
    round(CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines ELSE 0 END, 6) AS bullet_frac,
    round(CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines ELSE 0 END, 6) AS ellipsis_frac,
    round(CASE WHEN n_words > 0 THEN alpha_words::DOUBLE / n_words ELSE 0 END, 6) AS alpha_frac,
    CAST(stop_hits AS BIGINT) AS stop_hits
  FROM m)
SELECT *, CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
                AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
                AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS passes
FROM r
"""


def _q55(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return repetition_metrics_frame(d, ngram=2).spark


_q55_sql = r"""
WITH w AS (
  SELECT doc_id, len(text) AS nc,
         string_split_regex(lower(trim(text)), '\s+') AS ws,
         string_split(text, chr(10)) AS ls
  FROM documents),
base AS (
  SELECT doc_id, nc,
         CASE WHEN len(ls) > 1
              THEN round(1 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
              ELSE 0.0 END AS dup_line_frac,
         ws
  FROM w),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 1),
                                   i -> ws[i] || ' ' || ws[i+1])) AS gram
      FROM base WHERE len(ws) >= 2),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
t AS (SELECT doc_id, gram, cnt FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn FROM c)
      WHERE rn = 1)
SELECT b.doc_id, b.dup_line_frac,
       COALESCE(t.gram, '') AS top_gram,
       CAST(COALESCE(t.cnt, 0) AS BIGINT) AS top_gram_count,
       round(COALESCE(t.cnt * len(t.gram) / b.nc, 0.0), 6) AS top_ngram_frac
FROM base b LEFT JOIN t USING (doc_id)
"""


def _q56(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=3).spark


_q56_sql = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                    x -> len(x) > 0)) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
WHERE rn <= 3
"""


_BM25_TERMS = ["data", "query", "spark"]


def _q57(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, _BM25_TERMS, k=10).spark


_q57_sql = r"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> len(x) > 0) AS ws
  FROM documents),
docs AS (SELECT doc_id, len(ws) AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM docs),
toks AS (SELECT doc_id, unnest(ws) AS term FROM base),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN ('data', 'query', 'spark') GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
parts AS (
  SELECT tf.doc_id,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / s.avgdl)) AS part
  FROM tf JOIN docs d USING (doc_id) JOIN df USING (term) CROSS JOIN stats s),
agg AS (SELECT doc_id, round(sum(part), 4) AS score FROM parts GROUP BY doc_id)
SELECT doc_id, score, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
FROM agg ORDER BY score DESC, doc_id LIMIT 10
"""


def _q58(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    injected = LazyFrame(
        d._sdf.select(
            F.col("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(F.lit(" ip 10.0.0."), (F.col("doc_id") % 250).cast("string")),
                ).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-000-1234")).otherwise(
                    F.lit("")
                ),
            ).alias("text"),
        )
    )
    return pii_metrics_frame(injected).spark


_q58_sql = r"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
              || CASE WHEN doc_id % 5 = 0 THEN ' call 555-000-1234' ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
FROM inj
"""


def _q59(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    left = ev.select(col("event_id"), col("user_id"), col("ts"))
    right = ev.select(
        col("event_id").alias("next_id"), col("user_id"), col("ts").alias("ts2"), col("value")
    )
    joined = range_join(
        left,
        right,
        on="user_id",
        left_anchor="ts",
        right_anchor="ts2",
        lower="0h",
        upper="6h",
        closed="right",  # (ts, ts + 6h]: strictly-after, inclusive upper
        how="left",
        bucket="6h",  # skew guard: join on (user_id, 6h-bucket), 2 copies/row
    )
    out = joined.spark.groupBy("event_id").agg(
        F.count("next_id").cast("long").alias("n_next"),
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 2).alias("next_value"),
    )
    return out


_q59_sql = """
SELECT a.event_id, CAST(count(b.event_id) AS BIGINT) AS n_next,
       round(COALESCE(sum(b.value), 0), 2) AS next_value
FROM events a LEFT JOIN events b
  ON b.user_id = a.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
GROUP BY a.event_id
"""


def _q60(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(
        col("o_orderkey").alias("l_orderkey"), col("o_orderpriority")
    )
    joined = salted_join(li, o, on="l_orderkey", buckets=8)
    out = (
        joined.group_by("o_orderpriority")
        .agg(
            col("l_orderkey").len().cast("long").alias("n"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .sum()
            .round(2)
            .alias("revenue"),
        )
        .sort("o_orderpriority")
    )
    return out.spark


_q60_sql = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _q61(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev._sdf.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("__approx__"),
        )
        .withColumn(
            "approx_ok",
            (
                F.abs(F.col("__approx__") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).cast("long"),
        )
        .drop("__approx__")
        .orderBy("event_type")
    )
    return out


_q61_sql = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS approx_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def _q62(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    return sq8_recall_frame(e, q, k=5, min_recall=0.8).spark


_q62_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (SELECT vec_id, i AS pos, v[i] AS val
      FROM e, unnest(generate_series(1, len(v))) AS t(i)),
st AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM x GROUP BY pos),
dqx AS (SELECT vec_id, pos,
               CASE WHEN mx > mn
                    THEN mn + round((val - mn) / ((mx - mn) / 255), 0) * ((mx - mn) / 255)
                    ELSE mn END AS dq
        FROM x JOIN st USING (pos)),
dqv AS (SELECT vec_id, list(dq ORDER BY pos) AS v FROM dqx GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
ap AS (SELECT q.query_id, c.vec_id AS corpus_id,
              round(list_dot_product(q.qv, c.v) /
                    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
       FROM q JOIN dqv c ON c.vec_id <> q.query_id),
atop AS (SELECT query_id, corpus_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM ap)
         WHERE rn <= 5),
ex AS (SELECT q.query_id, c.vec_id AS corpus_id,
              round(list_dot_product(q.qv, c.v) /
                    (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
       FROM q JOIN e c ON c.vec_id <> q.query_id),
etop AS (SELECT query_id, corpus_id FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM ex)
         WHERE rn <= 5),
rec AS (SELECT a.query_id,
               round(sum(CASE WHEN e2.corpus_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5, 6) AS recall
        FROM atop a LEFT JOIN etop e2 USING (query_id, corpus_id)
        GROUP BY a.query_id)
SELECT query_id, recall, CAST(CASE WHEN recall >= 0.8 THEN 1 ELSE 0 END AS BIGINT) AS ok
FROM rec
"""


def _q63(spark, sf_dir):
    """Multimodal plumbing, oracle-gated: payloads are constructed
    deterministically (magic-number prefix + UTF-8 text bytes, nulls every
    7th row), then the REAL operators run — Column-level mime sniffing
    (attach_media_metadata) and the Arrow-batched mapInPandas feature
    extractor (extract_image_features).  The oracle knows the expected
    outputs by construction."""
    from polars_net_spark.llm.multimodal import (
        attach_media_metadata,
        extract_image_features,
    )

    d = _t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("FFD8"))
        .when(F.col("doc_id") % 4 == 1, F.lit("89504E47"))
        .when(F.col("doc_id") % 4 == 2, F.lit("47494638"))
        .otherwise(F.lit("52494646"))
    )
    payload = F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("binary")).otherwise(
        F.concat(F.unhex(magic), F.encode(F.col("text"), "UTF-8"))
    )
    media = d._sdf.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    meta = attach_media_metadata(media)._sdf.select("media_id", "sniffed_mime")
    feats = extract_image_features(media)._sdf.select(
        "media_id", "n_bytes", F.col("byte_histogram")
    )
    out = feats.join(meta, on="media_id").select(
        F.col("media_id"),
        F.col("n_bytes"),
        F.col("sniffed_mime"),
        F.col("byte_histogram")[2].alias("hist_2"),
        F.col("byte_histogram")[6].alias("hist_6"),
        F.col("byte_histogram")[7].alias("hist_7"),
    )
    return out


# The text corpus is pure ASCII, so byte == codepoint for the text part and
# the magic prefixes (nibbles 15,13 / 8,5,4,4 / 4,4,4,3 / 5,4,4,4) never land
# in buckets 2/6/7 — the oracle adds only their length.
_q63_sql = """
WITH base AS (
  SELECT doc_id AS media_id, text, doc_id % 7 = 0 AS is_null, doc_id % 4 AS m
  FROM documents),
t AS (
  SELECT media_id, is_null, m, strlen(text) AS tb,
         list_transform(generate_series(1, strlen(text)),
                        i -> ord(substr(text, i, 1)) // 16) AS nb
  FROM base)
SELECT media_id,
  CAST(CASE WHEN is_null THEN 0
            ELSE tb + CASE WHEN m = 0 THEN 2 ELSE 4 END END AS BIGINT) AS n_bytes,
  CASE WHEN is_null THEN 'application/octet-stream'
       WHEN m = 0 THEN 'image/jpeg'
       WHEN m = 1 THEN 'image/png'
       WHEN m = 2 THEN 'image/gif'
       ELSE 'audio/wav' END AS sniffed_mime,
  CAST(CASE WHEN is_null THEN 0 ELSE len(list_filter(nb, x -> x = 2)) END AS BIGINT) AS hist_2,
  CAST(CASE WHEN is_null THEN 0 ELSE len(list_filter(nb, x -> x = 6)) END AS BIGINT) AS hist_6,
  CAST(CASE WHEN is_null THEN 0 ELSE len(list_filter(nb, x -> x = 7)) END AS BIGINT) AS hist_7
FROM t
"""


def _q64(spark, sf_dir):
    from polars_net_spark.llm import kfold_by_hash, split_by_hash

    d = _t(spark, sf_dir, "documents").select(col("doc_id"))
    out = kfold_by_hash(split_by_hash(d, "doc_id", salt="r2"), "doc_id", k=5)
    return out.spark


# md5-based bucket replicated via hex-digit fold (strpos-1 per digit)
_q64_sql = """
WITH h AS (
  SELECT doc_id,
         md5('r2' || CAST(doc_id AS VARCHAR)) AS hs,
         md5(CAST(doc_id AS VARCHAR)) AS hk
  FROM documents),
b AS (
  SELECT doc_id,
    list_reduce(list_transform(generate_series(1, 8),
                i -> strpos('0123456789abcdef', substr(hs, i, 1)) - 1),
                (a, x) -> a * 16 + x) % 10000 AS bs,
    list_reduce(list_transform(generate_series(1, 8),
                i -> strpos('0123456789abcdef', substr(hk, i, 1)) - 1),
                (a, x) -> a * 16 + x) % 10000 AS bk
  FROM h)
SELECT doc_id,
  CASE WHEN bs < 9000 THEN 'train' WHEN bs < 9500 THEN 'val' ELSE 'test' END AS split,
  CAST(bk % 5 AS BIGINT) AS fold
FROM b
"""


def _q65(spark, sf_dir):
    from polars_net_spark.llm import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, size=32, overlap=8, lowercase=True).spark


_q65_sql = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> len(x) > 0) AS ws
  FROM documents),
n AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) > 0),
c AS (SELECT doc_id, ws, n,
             unnest(generate_series(0, (1 + (greatest(n - 32, 0) + 23) // 24) - 1)) AS chunk_id
      FROM n)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(list_slice(ws, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(ws, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk
FROM c
"""


def _q66(spark, sf_dir):
    from polars_net_spark.llm import pack_sequences

    d = _t(spark, sf_dir, "documents")
    sized = d.select(
        col("doc_id"),
        pls.Expr(token_count(F.col("text"))).cast("i64").alias("n_tokens"),
    )
    return pack_sequences(sized, budget=256, num_buckets=16).spark


_q66_sql = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents),
b AS (
  SELECT doc_id, n_tokens,
         list_reduce(list_transform(generate_series(1, 8),
                     i -> strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1),
                     (a, x) -> a * 16 + x) % 16 AS bucket
  FROM t),
c AS (
  SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
         CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM b)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, bucket, cum_tokens,
       CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS pack_id
FROM c
"""


def _q67(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as the eval
    benchmark; per-doc 3-gram overlap fraction against the broadcast
    benchmark gram set flags contaminated training documents."""
    from polars_net_spark.llm import contamination_frame

    d = _t(spark, sf_dir, "documents")
    bench = LazyFrame(d._sdf.filter(F.col("doc_id") % 97 == 0))
    return contamination_frame(d, bench, n=3, threshold=0.5).spark


_q67_sql = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
d AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                 i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
              ELSE [] END AS grams
  FROM w),
g AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
      FROM d WHERE len(grams) > 0),
bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
m AS (SELECT g.doc_id, max(g.n_grams) AS n_grams,
             sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_matched
      FROM g LEFT JOIN bg ON g.gram = bg.gram GROUP BY g.doc_id),
alln AS (
  SELECT doc_id, n_grams, n_matched FROM m
  UNION ALL
  SELECT doc_id, 0, 0 FROM d WHERE len(grams) = 0),
f AS (SELECT doc_id, n_grams, n_matched,
             round(CASE WHEN n_grams > 0 THEN n_matched::DOUBLE / n_grams
                        ELSE 0 END, 6) AS overlap_frac
      FROM alln)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_matched AS BIGINT) AS n_matched, overlap_frac,
       CAST(CASE WHEN overlap_frac >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM f
"""


def _q68(spark, sf_dir):
    """Per-source document cap (max 10 per source by n_chars desc).  The
    plain window is the scale plan: Catalyst's WindowGroupLimit(Partial)
    bounds the shuffle at 10 rows per source per map task (plan-audited)."""
    from polars_net_spark.llm import cap_per_key

    d = _t(spark, sf_dir, "documents")
    out = cap_per_key(d, "source", 10, order_by="n_chars", tie_col="doc_id")
    return out.select(col("doc_id"), col("source"), col("n_chars")).spark


_q68_sql = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn <= 10
"""


def _q69(spark, sf_dir):
    """Deterministic stratified sample: 50% of en, 25% of de, 10% of every
    other language — membership a pure md5 function of (salt, doc_id)."""
    from polars_net_spark.llm import sample_stratified_hash

    d = _t(spark, sf_dir, "documents")
    out = sample_stratified_hash(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_fraction=0.1, salt="r2s"
    )
    return out.select(col("doc_id"), col("lang")).spark


_q69_sql = """
WITH b AS (
  SELECT doc_id, lang,
    list_reduce(list_transform(generate_series(1, 8),
                i -> strpos('0123456789abcdef',
                            substr(md5('r2s' || CAST(doc_id AS VARCHAR)), i, 1)) - 1),
                (a, x) -> a * 16 + x) % 10000 AS bk
  FROM documents)
SELECT doc_id, lang FROM b
WHERE bk < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
"""


def _q70(spark, sf_dir):
    """Out-of-vocabulary rate against the corpus's own top-200 word
    vocabulary (frequency desc, word asc — fully deterministic)."""
    from polars_net_spark.llm import oov_rate_frame

    d = _t(spark, sf_dir, "documents")
    return oov_rate_frame(d, vocab_size=200).spark


_q70_sql = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> len(x) > 0) AS ws
  FROM documents),
e AS (SELECT doc_id, unnest(ws) AS word FROM w),
v AS (SELECT word FROM (
        SELECT word, count(*) AS c FROM e GROUP BY word
        ORDER BY c DESC, word LIMIT 200)),
m AS (SELECT e.doc_id, count(*) AS n_words,
             sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM e LEFT JOIN v ON e.word = v.word GROUP BY e.doc_id),
alln AS (
  SELECT doc_id, n_words, n_oov FROM m
  UNION ALL
  SELECT doc_id, 0, 0 FROM w WHERE len(ws) = 0)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(n_oov AS BIGINT) AS n_oov,
       round(CASE WHEN n_words > 0 THEN n_oov::DOUBLE / n_words ELSE 0 END, 6) AS oov_frac
FROM alln
"""


def _q71(spark, sf_dir):
    """Deterministic data-mixture sampling: largest subsample with per-source
    n_chars mass in 50/30/20 proportion across src0/src1/src2 (other sources
    dropped).  Fully in-plan: totals agg -> empty-partition window min ->
    broadcast plan join -> md5-bucket filter."""
    from polars_net_spark.llm import mixture_sample

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d,
        "doc_id",
        "source",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        size_col="n_chars",
        salt="mix",
    )
    return out.select(col("doc_id"), col("source")).spark


_q71_sql = """
WITH t AS (SELECT source, sum(n_chars) AS T FROM documents GROUP BY source),
w AS (SELECT source, T,
             CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.2 ELSE 0.0 END AS w
      FROM t),
p AS (SELECT source, T, w, T::DOUBLE / w AS ratio FROM w WHERE w > 0 AND T > 0),
f AS (SELECT source, least(1.0, min(ratio) OVER () * w / T) AS frac FROM p),
b AS (SELECT doc_id, source,
        list_reduce(list_transform(generate_series(1, 8),
                    i -> strpos('0123456789abcdef',
                                substr(md5('mix' || CAST(doc_id AS VARCHAR)), i, 1)) - 1),
                    (a, x) -> a * 16 + x) % 10000 AS bk
      FROM documents)
SELECT b.doc_id, b.source FROM b JOIN f USING (source)
WHERE bk < round(frac * 10000)
"""


def _q72(spark, sf_dir):
    """Unigram log-probability quality proxy: corpus-trained top-500
    vocabulary, floor prob 1/N for the tail, per-doc mean log10 prob."""
    from polars_net_spark.llm import unigram_logprob_frame

    d = _t(spark, sf_dir, "documents")
    return unigram_logprob_frame(d, vocab_size=500).spark


_q72_sql = r"""
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> len(x) > 0) AS ws
  FROM documents),
e AS (SELECT doc_id, unnest(ws) AS word FROM w),
n AS (SELECT count(*) AS N FROM e),
v AS (SELECT word, c FROM (
        SELECT word, count(*) AS c FROM e GROUP BY word
        ORDER BY c DESC, word LIMIT 500)),
m AS (SELECT e.doc_id, count(*) AS n_words,
             round(avg(log10(coalesce(v.c, 1)::DOUBLE / n.N)), 6) AS mean_logprob
      FROM e LEFT JOIN v USING (word), n GROUP BY e.doc_id),
alln AS (
  SELECT doc_id, n_words, mean_logprob FROM m
  UNION ALL
  SELECT doc_id, 0, 0.0 FROM w WHERE len(ws) = 0)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_logprob FROM alln
"""


def _q73(spark, sf_dir):
    """Corpus-wide keep-first line dedup (boilerplate removal).  The corpus
    has no newlines, so — like q63's constructed payloads — the query first
    deterministically restructures each doc into 8-word lines, then runs the
    REAL dedup_lines operator (posexplode -> keep-first window with
    WindowGroupLimit pruning -> reassembly)."""
    from polars_net_spark.llm import dedup_lines

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.ceil(F.size(words) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    d2 = d._sdf.select(F.col("doc_id"), F.array_join(lines, "\n").alias("text"))
    return dedup_lines(d2).spark


_q73_sql = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
l AS (
  SELECT doc_id,
         list_transform(generate_series(0, CAST(ceil(len(ws) / 8.0) AS INT) - 1),
                        i -> array_to_string(list_slice(ws, i*8 + 1, i*8 + 8), ' ')) AS lines
  FROM w),
e AS (SELECT doc_id, i AS pos, lines[i] AS line
      FROM l, unnest(generate_series(1, len(lines))) AS t(i)),
r AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY lower(trim(line))
                                ORDER BY doc_id, pos) AS rn
      FROM e),
k AS (SELECT doc_id,
             array_to_string(list(line ORDER BY pos), chr(10)) AS text,
             count(*) AS n_kept
      FROM r WHERE rn = 1 GROUP BY doc_id),
t AS (SELECT doc_id, CAST(ceil(len(ws) / 8.0) AS BIGINT) AS n_lines FROM w)
SELECT t.doc_id, coalesce(k.text, '') AS text, t.n_lines,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
FROM t LEFT JOIN k USING (doc_id)
"""


def _q74(spark, sf_dir):
    """SQL-MERGE semantics in one full-outer join: a deterministic change
    batch (every 10th order re-priced +10%, every 97th deleted via
    when_matched on a second merge, plus synthetic new orders) applied onto
    the orders snapshot; output is an audit aggregate of the merged state."""
    from polars_net_spark.operators.merge import merge_into

    o = _t(spark, sf_dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus")
    )
    updates = LazyFrame(
        o._sdf.filter(F.col("o_orderkey") % 10 == 0).select(
            "o_orderkey",
            "o_custkey",
            # +1.0 is exact in binary — a *1.1 re-price lands on half-cent
            # decimal boundaries where Spark (BigDecimal HALF_UP on the
            # binary expansion) and DuckDB (scaled-double round) disagree
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            F.lit("U").alias("o_orderstatus"),
        )
    )
    inserts = LazyFrame(
        o._sdf.filter(F.col("o_orderkey") % 97 == 0).select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            "o_custkey",
            F.lit(1.0).alias("o_totalprice"),
            F.lit("N").alias("o_orderstatus"),
        )
    )
    batch = LazyFrame(updates._sdf.unionByName(inserts._sdf))
    merged = merge_into(o, batch, on="o_orderkey")
    out = (
        merged._sdf.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.round(F.col("o_totalprice"), 2)), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )
    return out


_q74_sql = """
WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
s AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
         'U' AS o_orderstatus
  FROM t WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, 1.0, 'N'
  FROM t WHERE o_orderkey % 97 = 0),
m AS (
  SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
         CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN s.o_custkey
              WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey
              ELSE s.o_custkey END AS o_custkey,
         CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN s.o_totalprice
              WHEN t.o_orderkey IS NOT NULL THEN t.o_totalprice
              ELSE s.o_totalprice END AS o_totalprice,
         CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN s.o_orderstatus
              WHEN t.o_orderkey IS NOT NULL THEN t.o_orderstatus
              ELSE s.o_orderstatus END AS o_orderstatus
  FROM t FULL JOIN s USING (o_orderkey))
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(round(o_totalprice, 2)), 2) AS total
FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def _q75(spark, sf_dir):
    """Binning: fixed-edge cut (right-closed when-free comparison sum) and
    exact-quantile qcut (boundaries = one aggregate row broadcast back, no
    global window) cross-tabulated over lineitem quantities."""
    li = _t(spark, sf_dir, "lineitem").select(col("l_quantity"))
    banded = li.with_columns(
        pls.Expr(F.col("l_quantity")).cut([10.0, 25.0, 40.0]).alias("band")
    )
    both = banded.with_qcut("l_quantity", 4, "quartile")
    out = (
        both._sdf.groupBy("band", "quartile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.min("l_quantity"), 2).alias("qmin"),
            F.round(F.max("l_quantity"), 2).alias("qmax"),
        )
        .orderBy("band", "quartile")
    )
    return out


_q75_sql = """
WITH b AS (SELECT quantile_cont(l_quantity, 0.25) AS b0,
                  quantile_cont(l_quantity, 0.5)  AS b1,
                  quantile_cont(l_quantity, 0.75) AS b2 FROM lineitem),
x AS (SELECT l_quantity,
        CAST((l_quantity > 10.0)::INT + (l_quantity > 25.0)::INT
             + (l_quantity > 40.0)::INT AS BIGINT) AS band,
        CAST((l_quantity > b0)::INT + (l_quantity > b1)::INT
             + (l_quantity > b2)::INT AS BIGINT) AS quartile
      FROM lineitem, b)
SELECT band, quartile, CAST(count(*) AS BIGINT) AS n,
       round(min(l_quantity), 2) AS qmin, round(max(l_quantity), 2) AS qmax
FROM x GROUP BY band, quartile ORDER BY band, quartile
"""


def _q76(spark, sf_dir):
    """value_counts: one hash aggregation with map-side combine, count desc +
    value asc tie-break (frame.py value_counts; polars Series.value_counts)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.value_counts("l_returnflag", "l_linestatus", name="n").spark


_q76_sql = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY n DESC, l_returnflag, l_linestatus
"""


def _q77(spark, sf_dir):
    """pct_change with polars null semantics: forward-fill BEFORE the lag, so
    a null row reports 0 change and the next real row measures against the
    last seen value (exprs.py pct_change; ADVICE r2)."""
    ev = _t(spark, sf_dir, "events")
    v = when(col("event_id") % 7 < 2).then(lit(None)).otherwise(col("value"))
    lf = ev.with_columns(v.alias("v"))
    pc = col("v").pct_change(1, order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
    return lf.with_columns(pc.round(6).alias("pct")).select(
        col("event_id"), col("user_id"), col("pct")
    ).spark


_q77_sql = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 7 < 2 THEN NULL ELSE value END AS v
  FROM events),
f AS (
  SELECT event_id, user_id, ts,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
  FROM e)
SELECT event_id, user_id,
       round((ff - lag(ff) OVER w) / lag(ff) OVER w, 6) AS pct
FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _q78(spark, sf_dir):
    """Rolling quantile over trailing 7 rows per user: exact linear
    interpolation (Spark percentile window) + rolling median
    (exprs.py rolling_quantile/rolling_median)."""
    ev = _t(spark, sf_dir, "events")
    order = [col("ts"), col("event_id")]
    q90 = col("value").rolling_quantile(0.9, 7, min_periods=1, interpolation="linear",
                                        order_by=order, partition_by=["user_id"])
    med = col("value").rolling_median(7, min_periods=1, order_by=order,
                                      partition_by=["user_id"])
    return ev.with_columns(
        q90.round(6).alias("q90"), med.round(6).alias("med")
    ).select(col("event_id"), col("user_id"), col("q90"), col("med")).spark


_q78_sql = """
SELECT event_id, user_id,
       round(quantile_cont(value, 0.9) OVER w, 6) AS q90,
       round(quantile_cont(value, 0.5) OVER w, 6) AS med
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def _q79(spark, sf_dir):
    """Linear interpolation of nulls between surrounding non-nulls, pure
    window math, leading/trailing nulls stay null (exprs.py interpolate)."""
    ev = _t(spark, sf_dir, "events")
    v = when(col("event_id") % 5 == 0).then(lit(None)).otherwise(col("value"))
    lf = ev.with_columns(v.alias("v"))
    it = col("v").interpolate(order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
    return lf.with_columns(it.round(6).alias("interp")).select(
        col("event_id"), col("user_id"), col("interp")
    ).spark


_q79_sql = """
WITH e AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
  FROM events),
r AS (
  SELECT event_id, user_id, ts, v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM e),
w AS (
  SELECT event_id, user_id, v, i,
         last_value(v IGNORE NULLS) OVER
           (ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS) OVER
           (ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
         first_value(v IGNORE NULLS) OVER
           (ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN i END IGNORE NULLS) OVER
           (ord ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
  FROM r
  WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_id, user_id,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * (i - pi) / (ni - pi) END, 6) AS interp
FROM w
"""


def _q80(spark, sf_dir):
    """EWM mean (alpha=0.5, adjust=True) per user via Arrow applyInPandas;
    DuckDB oracle is the closed form sum((1-a)^(t-i) x_i)/sum((1-a)^(t-i))
    over a bounded per-user self-join (operators/ewm.py)."""
    # project BEFORE the pandas stage: Catalyst cannot prune columns through
    # applyInPandas (the UDF schema pins them), and events.props is a fat
    # string that would otherwise ride the Arrow round trip
    ev = _t(spark, sf_dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
    out = ev.with_ewm_mean(
        "value", alpha=0.5, adjust=True,
        order_by=["ts", "event_id"], partition_by=["user_id"], out_col="ewm",
    )
    return out.select(
        col("event_id"), col("user_id"), col("ewm").round(6).alias("ewm")
    ).spark


_q80_sql = """
WITH e AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
SELECT a.event_id, a.user_id,
       round(sum(pow(0.5, a.rn - b.rn) * b.value)
             / sum(pow(0.5, a.rn - b.rn)), 6) AS ewm
FROM e a JOIN e b ON a.user_id = b.user_id AND b.rn <= a.rn
GROUP BY a.event_id, a.user_id
"""


def _q81(spark, sf_dir):
    """Debiased EWM variance + std (alpha=0.5, adjust=True, bias=False);
    oracle replicates pandas' reliability-weight debias factor
    sumw^2/(sumw^2 - sum(w^2)) in closed form (operators/ewm.py)."""
    ev = _t(spark, sf_dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
    out = ev.with_ewm(
        "value", kind=["var", "std"], alpha=0.5, order_by=["ts", "event_id"],
        partition_by=["user_id"], out_col=["evar", "estd"],
    )
    return out.select(
        col("event_id"), col("user_id"),
        col("evar").round(6).alias("evar"), col("estd").round(6).alias("estd"),
    ).spark


_q81_sql = """
WITH e AS (
  SELECT event_id, user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
agg AS (
  SELECT a.event_id, a.user_id,
         sum(pow(0.5, a.rn - b.rn)) AS sumw,
         sum(pow(0.5, 2 * (a.rn - b.rn))) AS sumw2,
         sum(pow(0.5, a.rn - b.rn) * b.value) AS sumwx,
         sum(pow(0.5, a.rn - b.rn) * b.value * b.value) AS sumwx2
  FROM e a JOIN e b ON a.user_id = b.user_id AND b.rn <= a.rn
  GROUP BY a.event_id, a.user_id),
v AS (
  SELECT event_id, user_id,
         greatest(sumwx2 / sumw - (sumwx / sumw) * (sumwx / sumw), 0)
           * (sumw * sumw / NULLIF(sumw * sumw - sumw2, 0)) AS evar
  FROM agg)
SELECT event_id, user_id, round(evar, 6) AS evar,
       round(sqrt(evar), 6) AS estd
FROM v
"""


def _q82(spark, sf_dir):
    """Distinctness predicate family: is_duplicated / is_unique /
    is_first_distinct / is_last_distinct as value-partitioned count and
    row_number windows (exprs.py; polars null-is-a-value semantics)."""
    o = _t(spark, sf_dir, "orders")
    return o.with_columns(
        col("o_custkey").is_duplicated().alias("dup"),
        col("o_custkey").is_unique().alias("uniq"),
        col("o_custkey").is_first_distinct(order_by=[col("o_orderkey")]).alias("first_d"),
        col("o_custkey").is_last_distinct(order_by=[col("o_orderkey")]).alias("last_d"),
    ).select(
        col("o_orderkey"), col("o_custkey"),
        col("dup"), col("uniq"), col("first_d"), col("last_d"),
    ).spark


_q82_sql = """
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey) > 1 AS dup,
       count(*) OVER (PARTITION BY o_custkey) = 1 AS uniq,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1 AS first_d,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1 AS last_d
FROM orders
"""


def _q83(spark, sf_dir):
    """mode() aggregate with Spark 4's deterministic smallest-value tie-break;
    oracle picks max-count then min-value explicitly (exprs.py mode)."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.group_by("o_orderstatus")
        .agg(
            col("o_orderpriority").mode().alias("mode_priority"),
            col("o_orderkey").len().cast("long").alias("n"),
        )
        .sort("o_orderstatus")
    )
    return out.spark


_q83_sql = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
  FROM orders GROUP BY o_orderstatus, o_orderpriority),
r AS (
  SELECT o_orderstatus, o_orderpriority,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY cnt DESC, o_orderpriority ASC) AS rk
  FROM c),
n AS (SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus)
SELECT r.o_orderstatus, r.o_orderpriority AS mode_priority, n.n
FROM r JOIN n ON r.o_orderstatus = n.o_orderstatus
WHERE r.rk = 1 ORDER BY r.o_orderstatus
"""


def _q84(spark, sf_dir):
    """map_groups: per-user z-score via applyInPandas (one shuffle on the
    keys, Arrow both ways, arbitrary per-group pandas logic — frame.py
    map_groups; polars group_by().map_groups)."""
    # project to the UDF's inputs before the Arrow stage (props is dead weight)
    ev = _t(spark, sf_dir, "events").select(col("event_id"), col("user_id"), col("value"))

    def _z(pdf):
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=0)
        out = pdf[["event_id", "user_id"]].copy()
        out["z"] = (pdf["value"] - m) / s
        return out

    out = ev.group_by("user_id").map_groups(_z, "event_id bigint, user_id bigint, z double")
    return out.select(
        col("event_id"), col("user_id"), col("z").round(6).alias("z")
    ).spark


_q84_sql = """
SELECT event_id, user_id,
       round((value - avg(value) OVER w) / stddev_pop(value) OVER w, 6) AS z
FROM events WINDOW w AS (PARTITION BY user_id)
"""


def _q85(spark, sf_dir):
    """Higher-moment + information aggregates (skew/kurtosis/entropy, corr/
    cov): all map-side-combinable Column aggregates, no second pass
    (exprs.py skew/kurtosis/entropy; pl.corr/pl.cov)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.group_by("l_returnflag")
        .agg(
            col("l_quantity").skew().round(6).alias("skew_b"),
            col("l_quantity").skew(bias=False).round(6).alias("skew_u"),
            col("l_quantity").kurtosis().round(6).alias("kurt"),
            col("l_quantity").kurtosis(bias=False).round(6).alias("kurt_u"),
            col("l_quantity").entropy().round(6).alias("ent"),
            pls.corr("l_quantity", "l_extendedprice").round(6).alias("r"),
            pls.cov("l_quantity", "l_extendedprice").round(2).alias("cs"),
            pls.cov("l_quantity", "l_extendedprice", ddof=0).round(2).alias("cp"),
        )
        .sort("l_returnflag")
    )
    return out.spark


_q85_sql = """
WITH m AS (SELECT l_returnflag, avg(l_quantity) AS mu FROM lineitem GROUP BY l_returnflag),
c AS (
  SELECT l.l_returnflag,
         count(*) AS n,
         avg(pow(l.l_quantity - m.mu, 2)) AS m2,
         avg(pow(l.l_quantity - m.mu, 3)) AS m3,
         avg(pow(l.l_quantity - m.mu, 4)) AS m4,
         sum(l.l_quantity) AS s,
         sum(l.l_quantity * ln(l.l_quantity)) AS xlx,
         corr(l.l_quantity, l.l_extendedprice) AS r,
         covar_samp(l.l_quantity, l.l_extendedprice) AS cs,
         covar_pop(l.l_quantity, l.l_extendedprice) AS cp
  FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
  GROUP BY l.l_returnflag)
SELECT l_returnflag,
       round(m3 / pow(m2, 1.5), 6) AS skew_b,
       round(sqrt(n * (n - 1)) / (n - 2) * m3 / pow(m2, 1.5), 6) AS skew_u,
       round(m4 / (m2 * m2) - 3, 6) AS kurt,
       round((n - 1) / ((n - 2.0) * (n - 3.0)) * ((n + 1) * (m4 / (m2 * m2) - 3) + 6), 6) AS kurt_u,
       round(ln(s) - xlx / s, 6) AS ent,
       round(r, 6) AS r, round(cs, 2) AS cs, round(cp, 2) AS cp
FROM c ORDER BY l_returnflag
"""


def _q86(spark, sf_dir):
    """Run ids + strict local peaks over per-user event series: stacked
    lag/lead + cumsum windows on one (user, time) shuffle
    (exprs.py rle_id/peak_max/peak_min)."""
    ev = _t(spark, sf_dir, "events")
    order = [col("ts"), col("event_id")]
    out = ev.with_columns(
        col("event_type").rle_id(order_by=order, partition_by=["user_id"]).alias("rid"),
        col("value").peak_max(order_by=order, partition_by=["user_id"]).alias("pmax"),
        col("value").peak_min(order_by=order, partition_by=["user_id"]).alias("pmin"),
    ).select(col("event_id"), col("user_id"), col("rid"), col("pmax"), col("pmin"))
    return out.spark


_q86_sql = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         CASE WHEN row_number() OVER ord = 1 THEN 0
              WHEN event_type IS NOT DISTINCT FROM lag(event_type) OVER ord THEN 0
              ELSE 1 END AS chg,
         lag(value) OVER ord AS pv, lead(value) OVER ord AS nv
  FROM events WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT event_id, user_id,
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rid,
         (pv IS NULL OR value > pv) AND (nv IS NULL OR value > nv) AS pmax,
         (pv IS NULL OR value < pv) AND (nv IS NULL OR value < nv) AS pmin
  FROM w)
SELECT * FROM s
"""


def _q87(spark, sf_dir):
    """product() aggregate: exact multiplication fold over the collected
    group (exprs.py product) on a bounded subset (compounded discount
    factors)."""
    li = _t(spark, sf_dir, "lineitem")
    sub = li.filter(col("l_partkey") % 997 == 0).with_columns(
        (col("l_discount") + 1.0).alias("f")
    )
    out = (
        sub.group_by("l_returnflag")
        .agg(
            col("f").product().round(6).alias("compound"),
            col("f").len().cast("long").alias("n"),
        )
        .sort("l_returnflag")
    )
    return out.spark


_q87_sql = """
SELECT l_returnflag,
       round(product(l_discount + 1.0), 6) AS compound,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_partkey % 997 = 0
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _q88(spark, sf_dir):
    """join_where (polars 1.x inequality join): equi predicate on the
    customer key -> hash join, with the date/price inequalities as residual
    filters (frame.py join_where; never a cartesian — plan-audited)."""
    o = _t(spark, sf_dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice")
    )
    bigger_later = o.join_where(
        o,
        col("o_custkey") == col("o_custkey_right"),
        col("o_orderdate_right") > col("o_orderdate"),
        col("o_totalprice_right") > col("o_totalprice"),
    )
    out = (
        bigger_later.spark.groupBy("o_orderkey")
        .agg(
            F.count("o_orderkey_right").cast("long").alias("n_later_bigger"),
            F.round(F.max("o_totalprice_right"), 2).alias("max_later"),
        )
        .orderBy("o_orderkey")
    )
    return out


_q88_sql = """
SELECT a.o_orderkey,
       CAST(count(*) AS BIGINT) AS n_later_bigger,
       round(max(b.o_totalprice), 2) AS max_later
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND b.o_orderdate > a.o_orderdate
 AND b.o_totalprice > a.o_totalprice
GROUP BY a.o_orderkey ORDER BY a.o_orderkey
"""


def _q89(spark, sf_dir):
    """Value remap + per-element list expressions: Expr.replace (map literal +
    element_at, unmatched pass through), repeat_by, list.filter/list.eval
    (F.filter/F.transform — codegen, no UDF)."""
    d = _t(spark, sf_dir, "documents")
    words = pls.Expr(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    long_upper = (
        words.list.filter(lambda w: w.str.len_chars() > 4)
        .list.eval(lambda w: w.str.to_uppercase())
        .list.join(",")
    )
    out = d.with_columns(
        col("lang").replace({"en": "english", "de": "german", "fr": "french"}).alias("lang_name"),
        col("source").repeat_by((col("doc_id") % 3 + 1).cast("i32")).list.join("|").alias("src_rep"),
        long_upper.alias("long_words"),
    ).select(col("doc_id"), col("lang_name"), col("src_rep"), col("long_words"))
    return out.spark


_q89_sql = """
SELECT doc_id,
       CASE lang WHEN 'en' THEN 'english' WHEN 'de' THEN 'german'
                 WHEN 'fr' THEN 'french' ELSE lang END AS lang_name,
       array_to_string(list_transform(range(1, CAST(doc_id % 3 + 2 AS BIGINT)),
                                      x -> source), '|') AS src_rep,
       array_to_string(
         list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       w -> length(w) > 4),
           w -> upper(w)), ',') AS long_words
FROM documents
"""


def _q90(spark, sf_dir):
    """group_by().head/tail: rank window pruned map-side by WindowGroupLimit
    (hot groups shed rows before the exchange — same plan family as q68/q73)."""
    li = _t(spark, sf_dir, "lineitem")
    # the synthetic (l_orderkey, l_linenumber) is NOT unique — include every
    # output column in the order so ties can only be full-row duplicates
    # (indistinguishable in the sorted compare)
    order = [col("l_orderkey"), col("l_linenumber"), col("l_quantity")]
    first3 = li.group_by("l_returnflag").head(3, order_by=order)
    last2 = li.group_by("l_returnflag").tail(2, order_by=order)
    out = (
        LazyFrame(first3._sdf.unionByName(last2._sdf))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    )
    return out.spark


_q90_sql = """
WITH r AS (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn_a,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_orderkey DESC, l_linenumber DESC, l_quantity DESC) AS rn_d
  FROM lineitem)
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM r WHERE rn_a <= 3
UNION ALL
SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM r WHERE rn_d <= 2
"""


def _q91(spark, sf_dir):
    """Exact duplicated-substring spans (word 5-grams occurring >= 2 times in
    the corpus, merged into maximal per-doc spans) — the substring-dedup
    building block (llm/dedup.py duplicated_spans)."""
    from polars_net_spark.llm import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    return duplicated_spans(d, k=5, min_count=2).spark


_q91_sql = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents),
tok AS (
  SELECT doc_id, u.i - 1 AS pos, array_to_string(ws[u.i:u.i+4], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS u(i)),
hot AS (SELECT gram FROM tok GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM tok WHERE gram IN (SELECT gram FROM hot)),
m AS (
  SELECT doc_id, pos,
         max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM dup),
f AS (SELECT doc_id, pos,
             CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS flag
      FROM m),
s AS (SELECT doc_id, pos,
             sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM f)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 5 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM s GROUP BY doc_id, sid
"""


def _q92(spark, sf_dir):
    """Apply duplicated-substring spans: cut every marked region out of the
    text (llm/dedup.py remove_duplicated_spans; codegen filter+exists over a
    small per-doc span list)."""
    from polars_net_spark.llm import remove_duplicated_spans

    d = _t(spark, sf_dir, "documents")
    out = remove_duplicated_spans(d, k=5, min_count=2)
    return out.select(col("doc_id"), col("cleaned_text"), col("n_removed_words")).spark


_q92_sql = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents),
tok AS (
  SELECT doc_id, u.i - 1 AS pos, array_to_string(ws[u.i:u.i+4], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS u(i)),
hot AS (SELECT gram FROM tok GROUP BY gram HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM tok WHERE gram IN (SELECT gram FROM hot)),
m AS (
  SELECT doc_id, pos,
         max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM dup),
f AS (SELECT doc_id, pos,
             CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS flag
      FROM m),
s AS (SELECT doc_id, pos, sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS sid FROM f),
spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 5 AS e FROM s GROUP BY doc_id, sid),
spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp FROM spans GROUP BY doc_id)
SELECT w.doc_id,
       CASE WHEN spl.sp IS NULL THEN coalesce(array_to_string(ws, ' '), '')
            ELSE coalesce(array_to_string([ws[j] for j in range(1, len(ws)+1)
                   if len(list_filter(spl.sp, r -> (r.s <= j-1) AND (j-1 < r.e))) = 0], ' '), '')
       END AS cleaned_text,
       CAST(CASE WHEN spl.sp IS NULL THEN 0
            ELSE len(ws) - len([ws[j] for j in range(1, len(ws)+1)
                   if len(list_filter(spl.sp, r -> (r.s <= j-1) AND (j-1 < r.e))) = 0])
       END AS BIGINT) AS n_removed_words
FROM w LEFT JOIN spl ON w.doc_id = spl.doc_id
"""


def _q93(spark, sf_dir):
    """C4-style blocklist filter: phrase list compiled into the plan
    (closure-broadcast), word-boundary regexp hits, map-only corpus pass
    (llm/quality.py blocklist_metrics_frame)."""
    from polars_net_spark.llm import blocklist_metrics_frame

    d = _t(spark, sf_dir, "documents")
    return blocklist_metrics_frame(d, ["slow", "spill shuffle", "vector"]).spark


_q93_sql = """
WITH h AS (
  SELECT doc_id,
         (CASE WHEN regexp_matches(lower(text), '(^|\\W)slow($|\\W)') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(lower(text), '(^|\\W)spill\\ shuffle($|\\W)') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(lower(text), '(^|\\W)vector($|\\W)') THEN 1 ELSE 0 END) AS hits,
         len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         w -> length(w) > 0)) AS n_words
  FROM documents)
SELECT doc_id, CAST(hits AS BIGINT) AS n_blocked_hits,
       round(hits / greatest(n_words, 1), 6) AS blocked_frac,
       hits > 0 AS blocked
FROM h
"""


def _q94(spark, sf_dir):
    """dt namespace extras: quarter / ISO week / ISO year / leap year /
    days-in-month (exprs.py ExprDtNamespace)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        col("event_id"),
        col("ts").dt.quarter().cast("long").alias("q"),
        col("ts").dt.week().cast("long").alias("wk"),
        col("ts").dt.iso_year().cast("long").alias("iy"),
        col("ts").dt.is_leap_year().alias("leap"),
        col("ts").dt.days_in_month().cast("long").alias("dim"),
    ).spark


_q94_sql = """
SELECT event_id,
       CAST(date_part('quarter', ts) AS BIGINT) AS q,
       CAST(date_part('week', ts) AS BIGINT) AS wk,
       CAST(date_part('isoyear', ts) AS BIGINT) AS iy,
       (date_part('year', ts) % 4 = 0 AND date_part('year', ts) % 100 <> 0)
         OR date_part('year', ts) % 400 = 0 AS leap,
       CAST(date_part('day', last_day(CAST(ts AS DATE))) AS BIGINT) AS dim
FROM events
"""


def _q95(spark, sf_dir):
    """str namespace extras: zfill (sign-aware), pad_start/pad_end
    (longer-unchanged), extract_groups, splitn (exprs.py ExprStrNamespace)."""
    d = _t(spark, sf_dir, "documents")
    sid = col("doc_id").cast("string")
    groups = col("source").str.extract_groups(r"(?P<stem>[a-z]+)(?P<num>\d+)")
    return d.with_columns(
        sid.str.zfill(6).alias("zid"),
        col("source").str.pad_start(8, "_").alias("ps"),
        col("source").str.pad_end(8, ".").alias("pe"),
        groups.alias("g"),
        col("lang").str.splitn("h", 2).alias("sp"),
    ).select(
        col("doc_id"), col("zid"), col("ps"), col("pe"),
        pls.Expr(F.col("g.stem")).alias("stem"),
        pls.Expr(F.col("g.num")).alias("num"),
        pls.Expr(F.col("sp.field_0")).alias("sp0"),
        pls.Expr(F.col("sp.field_1")).alias("sp1"),
    ).spark


_q95_sql = """
SELECT doc_id,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS zid,
       CASE WHEN length(source) >= 8 THEN source ELSE lpad(source, 8, '_') END AS ps,
       CASE WHEN length(source) >= 8 THEN source ELSE rpad(source, 8, '.') END AS pe,
       CASE WHEN regexp_matches(source, '([a-z]+)(\\d+)')
            THEN regexp_extract(source, '([a-z]+)(\\d+)', 1) ELSE NULL END AS stem,
       CASE WHEN regexp_matches(source, '([a-z]+)(\\d+)')
            THEN regexp_extract(source, '([a-z]+)(\\d+)', 2) ELSE NULL END AS num,
       string_split(lang, 'h')[1] AS sp0,
       CASE WHEN len(string_split(lang, 'h')) >= 2
            THEN array_to_string(string_split(lang, 'h')[2:], 'h') ELSE NULL END AS sp1
FROM documents
"""


def _q96(spark, sf_dir):
    """Horizontal fold family (polars pl.*_horizontal / fold / coalesce):
    pure Column arithmetic, one codegen stage, no UDF (exprs.py
    sum_horizontal..cum_reduce)."""
    li = _t(spark, sf_dir, "lineitem")
    d = when(col("l_discount") != 0).then(col("l_discount")).otherwise(lit(None))
    return li.select(
        col("l_orderkey"),
        col("l_linenumber"),
        pls.sum_horizontal(col("l_quantity"), d, col("l_tax")).round(6).alias("hsum"),
        pls.mean_horizontal(col("l_quantity"), d).round(6).alias("hmean"),
        pls.min_horizontal(d, col("l_tax")).round(6).alias("hmin"),
        pls.max_horizontal(col("l_quantity"), col("l_tax")).round(6).alias("hmax"),
        pls.any_horizontal(d > 0.05, col("l_tax") > 0.05).alias("hany"),
        pls.all_horizontal(d > 0.05, col("l_tax") > 0.05).alias("hall"),
        pls.coalesce(d, col("l_tax")).round(6).alias("hcoal"),
        pls.fold(
            lit(0.0), lambda acc, x: acc + x.fill_null(0.0), [col("l_quantity"), d, col("l_tax")]
        ).round(6).alias("hfold"),
    ).spark


_q96_sql = """
WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity, l_tax,
                  nullif(l_discount, 0) AS d
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(l_quantity + coalesce(d, 0) + l_tax, 6) AS hsum,
       round((l_quantity + coalesce(d, 0))
             / (1 + CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END), 6) AS hmean,
       round(least(d, l_tax), 6) AS hmin,
       round(greatest(l_quantity, l_tax), 6) AS hmax,
       (coalesce(d > 0.05, FALSE) OR coalesce(l_tax > 0.05, FALSE)) AS hany,
       (coalesce(d > 0.05, TRUE) AND coalesce(l_tax > 0.05, TRUE)) AS hall,
       round(coalesce(d, l_tax), 6) AS hcoal,
       round(l_quantity + coalesce(d, 0) + coalesce(l_tax, 0), 6) AS hfold
FROM t
"""


def _q97(spark, sf_dir):
    """SemDeDup: cluster-scoped embedding dedup (llm/similarity.py semdedup).
    Cluster = the precomputed label column here (the oracle-replicable path);
    production uses the hyperplane or kmeans assignment.  One shuffle keyed on
    cluster; per-task pair math bounded by cluster size."""
    from polars_net_spark.llm import semdedup

    e = _t(spark, sf_dir, "embeddings")
    return semdedup(e, threshold=0.45, cluster_col="label").spark


_q97_sql = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT a.vec_id AS id,
             max(round(list_dot_product(a.v, b.v) /
                       (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                       6)) AS mc
      FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
      GROUP BY 1)
SELECT e.vec_id, CAST(e.label AS BIGINT) AS cluster, p.mc AS max_cos_prev,
       coalesce(p.mc >= 0.45, FALSE) AS is_dup
FROM e LEFT JOIN p ON p.id = e.vec_id
"""


def _q98(spark, sf_dir):
    """upsample: per-user 6h time grid from first to last event, exact-match
    left join back (polars DataFrame.upsample; frame.py upsample). Grid rows
    are generated map-side per group via F.sequence+explode — no driver work."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(col("user_id"), col("ts"), col("value"))
        .upsample("ts", "6h", group_by=["user_id"])
        .with_columns(col("value").round(6).alias("value"))
        .spark
    )


_q98_sql = """
WITH b AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM events GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 6 HOUR)) AS ts FROM b)
SELECT g.user_id, g.ts, round(e.value, 6) AS value
FROM g LEFT JOIN events e ON e.user_id = g.user_id AND e.ts = g.ts
"""


def _q99(spark, sf_dir):
    """Temporal rolling group-by (polars LazyFrame.rolling): one output row
    per event with [t-6h, t] per-user aggregates, compiled to range-frame
    windows over unix-micros (frame.py RollingGroupBy) — no self-join."""
    ev = _t(spark, sf_dir, "events")
    out = ev.rolling("ts", "6h", closed="both", group_by=["user_id"]).agg(
        col("value").sum().alias("s"),
        col("value").count().alias("n"),
        col("value").max().alias("mx"),
    )
    return out.select(
        col("user_id"), col("ts"),
        col("s").round(6).alias("s"),
        col("n").cast("long").alias("n"),
        col("mx").round(6).alias("mx"),
    ).spark


_q99_sql = """
SELECT user_id, ts,
       round(sum(value) OVER w, 6) AS s,
       CAST(count(value) OVER w AS BIGINT) AS n,
       round(max(value) OVER w, 6) AS mx
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
"""


def _q100(spark, sf_dir):
    """to_dummies one-hot encoding (polars to_dummies; frame.py): bounded
    distinct-collect for the output schema (same driver action as pivot),
    map-only CASE WHEN indicators, no shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(col("event_id"), col("event_type"))
        .to_dummies("event_type")
        .spark
    )


_q100_sql = """
SELECT event_id,
       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS event_type_click,
       CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS event_type_error,
       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS event_type_purchase,
       CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS event_type_signup,
       CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS event_type_view
FROM events
"""


def _q101(spark, sf_dir):
    """Time-decay EWM (polars ewm_mean_by; operators/ewm.py with_ewm_mean_by):
    y_i = x_i + 0.5**(dt/half_life) * (y_prev - x_i), per-user applyInPandas
    recurrence (one shuffle on user_id). Oracle replicates via the closed-form
    weight expansion over a bounded per-user self-join."""
    ev = _t(spark, sf_dir, "events")
    out = ev.with_ewm_mean_by(
        "value", by="ts", half_life="6h",
        order_by=["ts", "event_id"], partition_by=["user_id"],
    )
    return out.select(
        col("user_id"), col("event_id"), col("ts"),
        col("value_ewm_mean_by").round(6).alias("vewm"),
    ).spark


_q101_sql = """
WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS tu FROM events),
o AS (SELECT *, lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS tp FROM e),
c AS (SELECT *, CASE WHEN tp IS NULL THEN 1.0
                     ELSE 1.0 - power(0.5, (tu - tp) / 21600000000.0) END AS cj
      FROM o)
SELECT a.user_id, a.event_id, a.ts,
       round(sum(b.cj * power(0.5, (a.tu - b.tu) / 21600000000.0) * b.value), 6) AS vewm
FROM c a JOIN c b
  ON a.user_id = b.user_id
 AND (b.tu < a.tu OR (b.tu = a.tu AND b.event_id <= a.event_id))
GROUP BY a.user_id, a.event_id, a.ts
"""


def _q102(spark, sf_dir):
    """rolling_std / rolling_var (5-row frames, min_periods=window) and
    temporal rolling_std_by ([t-6h, t] range frame) — exprs.py _rolling /
    _rolling_by with sample-variance aggregates."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        col("user_id"), col("event_id"), col("ts"),
        col("value").rolling_std(5, order_by=["ts", "event_id"], partition_by=["user_id"])
        .round(6).alias("rstd"),
        col("value").rolling_var(5, order_by=["ts", "event_id"], partition_by=["user_id"])
        .round(6).alias("rvar"),
        col("value").rolling_std_by("ts", "6h", closed="both", partition_by=["user_id"])
        .round(6).alias("rstd_t"),
    ).spark


_q102_sql = """
SELECT user_id, event_id, ts,
       round(CASE WHEN count(value) OVER w5 >= 5
                  THEN stddev_samp(value) OVER w5 END, 6) AS rstd,
       round(CASE WHEN count(value) OVER w5 >= 5
                  THEN var_samp(value) OVER w5 END, 6) AS rvar,
       round(stddev_samp(value) OVER wt, 6) AS rstd_t
FROM events
WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wt AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
"""


def _q103(spark, sf_dir):
    """Binary namespace (polars Expr.bin; exprs.py ExprBinNamespace): hex /
    base64 encode, byte size, literal prefix test — all JVM built-ins,
    map-only."""
    d = _t(spark, sf_dir, "documents")
    b = col("source").cast("binary")
    return d.select(
        col("doc_id"),
        b.bin.encode("hex").alias("hx"),
        b.bin.encode("base64").alias("b64"),
        b.bin.size().cast("long").alias("nbytes"),
        b.bin.starts_with(b"c").alias("sw"),
    ).spark


_q103_sql = """
SELECT doc_id,
       lower(hex(encode(source))) AS hx,
       base64(encode(source)) AS b64,
       CAST(octet_length(encode(source)) AS BIGINT) AS nbytes,
       starts_with(source, 'c') AS sw
FROM documents
"""


def _q104(spark, sf_dir):
    """str.extract_all / count_matches / find (exprs.py ExprStrNamespace):
    regexp built-ins, map-only."""
    d = _t(spark, sf_dir, "documents")
    arr = col("text").str.extract_all(r"[a-z]{6,}")
    return d.select(
        col("doc_id"),
        arr.list.len().cast("long").alias("n_long_words"),
        when(arr.list.len() > 0).then(arr.list.get(0)).otherwise(lit(None)).alias("first_long"),
        col("text").str.count_matches("e", literal=True).cast("long").alias("n_e"),
        col("text").str.find("data", literal=True).cast("long").alias("pos_data"),
    ).spark


_q104_sql = """
WITH t AS (SELECT doc_id, text, regexp_extract_all(text, '[a-z]{6,}') AS arr FROM documents)
SELECT doc_id,
       CAST(len(arr) AS BIGINT) AS n_long_words,
       CASE WHEN len(arr) > 0 THEN arr[1] END AS first_long,
       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e,
       CASE WHEN strpos(text, 'data') > 0 THEN CAST(strpos(text, 'data') - 1 AS BIGINT) END AS pos_data
FROM t
"""


def _q105(spark, sf_dir):
    """dt.month_start / month_end (time-of-day preserved, polars semantics)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        col("event_id"),
        col("ts").dt.month_start().alias("ms"),
        col("ts").dt.month_end().alias("me"),
    ).spark


_q105_sql = """
SELECT event_id,
       ts - (date_part('day', ts) - 1) * INTERVAL 1 DAY AS ms,
       ts + (date_part('day', last_day(CAST(ts AS DATE))) - date_part('day', ts))
            * INTERVAL 1 DAY AS me
FROM events
"""


def _q106(spark, sf_dir):
    """Expr.top_k / bottom_k group aggregates (collect_list+sort_array+slice;
    lists emitted as joined strings for the cross-engine hash)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            col("l_quantity").top_k(5).list.join(",").alias("top5"),
            col("l_quantity").bottom_k(5).list.join(",").alias("bot5"),
        )
        .spark
    )


_q106_sql = """
SELECT l_returnflag,
       array_to_string(list_slice(list_sort(list(l_quantity), 'DESC'), 1, 5), ',') AS top5,
       array_to_string(list_slice(list_sort(list(l_quantity), 'ASC'), 1, 5), ',') AS bot5
FROM lineitem GROUP BY l_returnflag
"""


def _q107(spark, sf_dir):
    """hist over explicit edges (polars (lo, hi] bins; frame.py hist):
    map-side CASE bucket + tiny groupBy, empty bins kept."""
    li = _t(spark, sf_dir, "lineitem")
    return li.hist("l_quantity", [0, 10, 20, 30, 40, 50]).spark


_q107_sql = """
WITH b(bin, bin_start, bin_end) AS (VALUES
  (0, 0.0, 10.0), (1, 10.0, 20.0), (2, 20.0, 30.0), (3, 30.0, 40.0), (4, 40.0, 50.0)),
c AS (SELECT CASE WHEN l_quantity > 0  AND l_quantity <= 10 THEN 0
                  WHEN l_quantity > 10 AND l_quantity <= 20 THEN 1
                  WHEN l_quantity > 20 AND l_quantity <= 30 THEN 2
                  WHEN l_quantity > 30 AND l_quantity <= 40 THEN 3
                  WHEN l_quantity > 40 AND l_quantity <= 50 THEN 4 END AS bin
      FROM lineitem),
g AS (SELECT bin, count(*) AS n FROM c WHERE bin IS NOT NULL GROUP BY 1)
SELECT b.bin_start, b.bin_end, CAST(coalesce(g.n, 0) AS BIGINT) AS count
FROM b LEFT JOIN g USING (bin)
"""


def _q108(spark, sf_dir):
    """datetime_range constructor (polars pl.datetime_range; io.py):
    distributed spark.range grid — start + id*step per row, no single-row
    sequence explode."""
    return pls.datetime_range(
        "2024-01-01", "2024-01-31", "1h", spark=spark
    ).spark


_q108_sql = """
SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                              TIMESTAMP '2024-01-31', INTERVAL 1 HOUR)) AS datetime
"""


def _q109(spark, sf_dir):
    """Math extras (sin/cos/tanh/sign/cbrt/log1p/degrees/arctan2) +
    pl.format + pl.concat_list — all JVM built-ins, map-only."""
    li = _t(spark, sf_dir, "lineitem")
    d = col("l_discount")
    return li.select(
        col("l_orderkey"), col("l_linenumber"),
        d.sin().round(6).alias("s"),
        d.cos().round(6).alias("c"),
        d.tanh().round(6).alias("th"),
        (d - lit(0.05)).sign().alias("sg"),
        d.cbrt().round(6).alias("cb"),
        d.log1p().round(6).alias("l1p"),
        d.degrees().round(6).alias("dg"),
        pls.arctan2(col("l_tax"), d).round(6).alias("at2"),
        pls.format("{}|{}", col("l_returnflag"), col("l_linestatus")).alias("fmt"),
        pls.concat_list(col("l_quantity"), col("l_tax")).list.join(",").alias("cl"),
    ).spark


_q109_sql = """
SELECT l_orderkey, l_linenumber,
       round(sin(l_discount), 6) AS s,
       round(cos(l_discount), 6) AS c,
       round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 6) AS th,
       sign(l_discount - 0.05) AS sg,
       round(cbrt(l_discount), 6) AS cb,
       round(ln(1 + l_discount), 6) AS l1p,
       round(degrees(l_discount), 6) AS dg,
       round(atan2(l_tax, l_discount), 6) AS at2,
       l_returnflag || '|' || l_linestatus AS fmt,
       CAST(l_quantity AS VARCHAR) || ',' || CAST(l_tax AS VARCHAR) AS cl
FROM lineitem
"""


def _q110(spark, sf_dir):
    """Null-safe equality (eq_missing/ne_missing), is_finite/is_infinite,
    str.head/tail with negative lengths — map-only Column built-ins."""
    d = _t(spark, sf_dir, "documents")
    a = when(col("lang") != "en").then(col("lang")).otherwise(lit(None))
    b = when(col("n_chars") > 200).then(col("lang")).otherwise(lit(None))
    big = (col("n_chars").cast("double") * lit(10.0)).exp()
    return d.select(
        col("doc_id"),
        a.eq_missing(b).alias("em"),
        a.ne_missing(b).alias("nm"),
        big.is_finite().alias("fin"),
        big.is_infinite().alias("inf"),
        col("source").str.head(3).alias("h3"),
        col("source").str.tail(2).alias("t2"),
        col("source").str.head(-2).alias("hneg"),
        col("source").str.tail(-4).alias("tneg"),
    ).spark


_q110_sql = """
WITH t AS (SELECT doc_id, source, n_chars,
                  CASE WHEN lang <> 'en' THEN lang END AS a,
                  CASE WHEN n_chars > 200 THEN lang END AS b,
                  exp(n_chars * 10.0) AS big
           FROM documents)
SELECT doc_id,
       a IS NOT DISTINCT FROM b AS em,
       a IS DISTINCT FROM b AS nm,
       isfinite(big) AS fin,
       isinf(big) AS "inf",
       substr(source, 1, 3) AS h3,
       right(source, 2) AS t2,
       substr(source, 1, greatest(length(source) - 2, 0)) AS hneg,
       substr(source, 5) AS tneg
FROM t
"""


_Q111_WEIGHTS = [0.8, -1.2, 0.3, 2.1, -0.7, 0.0, 1.5, -2.3,
                 0.9, -0.4, 1.1, -1.8, 0.6, -0.2, 1.9, -0.9]


def _q111(spark, sf_dir):
    """fastText-style hashed linear quality classifier (llm/quality.py
    linear_quality_score_frame): md5-hash each word into 16 buckets, score =
    sigmoid(bias + mean bucket weight).  Weights are plan literals — one
    map-only corpus pass, no UDF, no vocabulary join."""
    from polars_net_spark.llm import linear_quality_score_frame

    d = _t(spark, sf_dir, "documents")
    return linear_quality_score_frame(d, _Q111_WEIGHTS, bias=0.1).spark


_q111_sql = f"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                              w -> length(w) > 0) AS ws
           FROM documents),
s AS (SELECT doc_id, len(ws) AS n,
             list_sum(list_transform(ws, w ->
               ({str(_Q111_WEIGHTS)})[
                 (list_reduce(list_transform(generate_series(1, 8),
                    i -> strpos('0123456789abcdef', substr(md5('lq' || w), i, 1)) - 1),
                    (a, x) -> a * 16 + x) % 16) + 1])) AS contrib
      FROM t)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       round(1 / (1 + exp(-(0.1 + coalesce(contrib, 0) / greatest(n, 1)))), 6) AS q_score,
       round(1 / (1 + exp(-(0.1 + coalesce(contrib, 0) / greatest(n, 1)))), 6) >= 0.5 AS keep
FROM s
"""


def _q112(spark, sf_dir):
    """Per-key token-budget trim (llm/sampling.py cap_tokens_per_key): keep
    whole docs per source in priority order while the running token sum stays
    under budget — one cumsum window, one shuffle keyed on source."""
    from polars_net_spark.llm import cap_tokens_per_key

    d = _t(spark, sf_dir, "documents")
    out = cap_tokens_per_key(
        d, key_col="source", token_col="n_chars", budget=5_000,
        order_by="n_chars", tie_col="doc_id",
    )
    return out.select(
        col("doc_id"), col("source"),
        col("n_chars").cast("long").alias("n_chars"),
        col("cum_tokens"),
    ).spark


_q112_sql = """
WITH c AS (SELECT doc_id, source, n_chars,
                  sum(coalesce(n_chars, 0)) OVER (
                    PARTITION BY source
                    ORDER BY n_chars DESC NULLS LAST, doc_id
                    ROWS UNBOUNDED PRECEDING) AS cum
           FROM documents)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum <= 5000
"""


def _q113(spark, sf_dir):
    """str.json_path_match on the events props JSON column (get_json_object;
    map-only)."""
    ev = _t(spark, sf_dir, "events")
    k = col("props").str.json_path_match("$.k")
    return ev.select(
        col("event_id"),
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
        col("props").str.json_path_match("$.missing").alias("m"),
    ).spark


_q113_sql = """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
       json_extract_string(props, '$.missing') AS m
FROM events
"""


def _q114(spark, sf_dir):
    """Embedding utilities (llm/similarity.py): L2 normalization and
    matryoshka truncation — map-only F.transform math; at 100 TB a 4x dim
    cut is a 4x scan cut."""
    from polars_net_spark.llm import normalize_embeddings, truncate_embeddings

    e = _t(spark, sf_dir, "embeddings")
    normed = normalize_embeddings(e, out_col="nv")
    out = truncate_embeddings(normed, dim=16, vec_col="embedding", out_col="tv")
    from polars_net_spark.llm.similarity import _norm_expr

    return out.select(
        col("vec_id"),
        pls.Expr(F.round(_norm_expr(F.col("nv")), 6)).alias("n_norm"),
        pls.Expr(F.round(F.element_at(F.col("nv"), 1), 6)).alias("n0"),
        pls.Expr(F.round(_norm_expr(F.col("tv")), 6)).alias("t_norm"),
        pls.Expr(F.round(F.element_at(F.col("tv"), 1), 6)).alias("t0"),
        pls.Expr(F.size(F.col("tv")).cast("long")).alias("t_dim"),
    ).spark


_q114_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
             v[1:16] AS tv0
      FROM e),
t AS (SELECT vec_id, nrm,
             list_transform(v, x -> x / nrm) AS nv,
             sqrt(list_dot_product(tv0, tv0)) AS tnrm, tv0
      FROM n),
f AS (SELECT vec_id,
             round(sqrt(list_dot_product(nv, nv)), 6) AS n_norm,
             round(nv[1], 6) AS n0,
             list_transform(tv0, x -> x / tnrm) AS tv
      FROM t)
SELECT vec_id, n_norm, n0,
       round(sqrt(list_dot_product(tv, tv)), 6) AS t_norm,
       round(tv[1], 6) AS t0,
       CAST(len(tv) AS BIGINT) AS t_dim
FROM f
"""


def _q115(spark, sf_dir):
    """LazyFrame.update (polars overlay-by-key): customers' acctbal replaced
    by their order-total where they have orders, kept otherwise — one
    broadcast-eligible equi-join, coalesce overlay (frame.py update)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    upd = o.group_by("o_custkey").agg(
        col("o_totalprice").sum().round(2).alias("c_acctbal")
    ).rename({"o_custkey": "c_custkey"})
    out = c.update(upd, on="c_custkey")
    return out.select(
        col("c_custkey"), col("c_name"),
        col("c_acctbal").round(2).alias("c_acctbal"),
    ).spark


_q115_sql = """
WITH u AS (SELECT o_custkey AS k, round(sum(o_totalprice), 2) AS nb
           FROM orders GROUP BY 1)
SELECT c_custkey, c_name, round(coalesce(u.nb, c_acctbal), 2) AS c_acctbal
FROM customer LEFT JOIN u ON u.k = c_custkey
"""


def _q116(spark, sf_dir):
    """Rank methods incl. polars' default 'average' and 'max' (tie-count
    window composition — one shuffle, no self-join; exprs.py Expr.rank)."""
    li = _t(spark, sf_dir, "lineitem")
    q = col("l_quantity")
    return li.select(
        col("l_orderkey"), col("l_linenumber"),
        q.rank("min", partition_by=["l_returnflag"]).cast("long").alias("rmin"),
        q.rank("max", partition_by=["l_returnflag"]).cast("long").alias("rmax"),
        q.rank("average", partition_by=["l_returnflag"]).alias("ravg"),
        q.rank("dense", partition_by=["l_returnflag"]).cast("long").alias("rdense"),
    ).spark


_q116_sql = """
SELECT l_orderkey, l_linenumber,
       CAST(rank() OVER w AS BIGINT) AS rmin,
       CAST(rank() OVER w + count(*) OVER tw - 1 AS BIGINT) AS rmax,
       (rank() OVER w + rank() OVER w + count(*) OVER tw - 1) / 2.0 AS ravg,
       CAST(dense_rank() OVER w AS BIGINT) AS rdense
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity),
       tw AS (PARTITION BY l_returnflag, l_quantity)
"""


def _q117(spark, sf_dir):
    """Integer-index dynamic windows (polars every='1000i';
    operators/dynamic.py _agg_int): pure integer bucket arithmetic, one
    groupBy shuffle — no timestamps involved."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by_dynamic("l_orderkey", every="1000i", group_by=["l_returnflag"])
        .agg(
            col("l_quantity").sum().round(6).alias("sum_qty"),
            col("l_orderkey").count().cast("long").alias("n"),
        )
        .spark
    )


_q117_sql = """
SELECT l_returnflag,
       CAST(floor(l_orderkey / 1000) * 1000 AS BIGINT) AS l_orderkey,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1, 2
"""


def _q118(spark, sf_dir):
    """cum_prod (exact windowed multiplication fold; exprs.py): per-user
    compounding factor — the return-index pattern."""
    ev = _t(spark, sf_dir, "events")
    factor = lit(1.0) + col("value") / lit(1000.0)
    return ev.select(
        col("user_id"), col("event_id"), col("ts"),
        factor.cum_prod(order_by=["ts", "event_id"], partition_by=["user_id"])
        .round(6).alias("cp"),
    ).spark


_q118_sql = """
SELECT user_id, event_id, ts,
       round(product(1.0 + value / 1000.0) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS UNBOUNDED PRECEDING), 6) AS cp
FROM events
"""


def _q119(spark, sf_dir):
    """Text hygiene (llm/text.py clean_text_frame): control-char strip +
    whitespace collapse — pure regexp Column math, map-only."""
    from polars_net_spark.llm import clean_text_frame

    d = _t(spark, sf_dir, "documents")
    return clean_text_frame(d).spark


_q119_sql = """
WITH c AS (SELECT doc_id, text,
                  regexp_replace(trim(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
                                 '\\s+', ' ', 'g') AS ct
           FROM documents)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_before,
       CAST(length(ct) AS BIGINT) AS n_chars_after,
       ct AS clean_text
FROM c
"""


def _q120(spark, sf_dir):
    """Conditional aggregation (polars Expr.filter == SQL FILTER (WHERE)):
    when(pred, x) feeding the aggregate — stays in the partial-agg plan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.group_by("l_returnflag")
        .agg(
            col("l_extendedprice").filter(col("l_quantity") > 30).sum()
            .round(2).alias("rev_big"),
            col("l_orderkey").filter(col("l_discount") > 0.05).count()
            .cast("long").alias("n_disc"),
            col("l_quantity")
            .filter(col("l_discount") > 0.05, col("l_tax") < 0.05)
            .mean().round(6).alias("avg_q"),
            # len() after filter counts SURVIVORS (r4 fix: was unfiltered group size)
            col("l_extendedprice").filter(col("l_quantity") > 30).len()
            .cast("long").alias("n_big"),
        )
        .spark
    )


_q120_sql = """
SELECT l_returnflag,
       round(sum(l_extendedprice) FILTER (WHERE l_quantity > 30), 2) AS rev_big,
       CAST(count(l_orderkey) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_disc,
       round(avg(l_quantity) FILTER (WHERE l_discount > 0.05 AND l_tax < 0.05), 6) AS avg_q,
       CAST(count(*) FILTER (WHERE l_quantity > 30) AS BIGINT) AS n_big
FROM lineitem GROUP BY l_returnflag
"""


def _q121(spark, sf_dir):
    """dt.epoch (5 units) + list n_unique/index_of — map-only built-ins."""
    ev = _t(spark, sf_dir, "events")
    ws = col("props").str.split('"')
    return ev.select(
        col("event_id"),
        col("ts").dt.epoch("us").alias("e_us"),
        col("ts").dt.epoch("ms").alias("e_ms"),
        col("ts").dt.epoch("s").alias("e_s"),
        col("ts").dt.epoch("d").alias("e_d"),
        ws.list.n_unique().cast("long").alias("nu"),
        ws.list.index_of("k").cast("long").alias("ik"),
    ).spark


_q121_sql = """
WITH t AS (SELECT event_id, ts, string_split(props, '"') AS ws FROM events)
SELECT event_id,
       epoch_us(ts) AS e_us,
       CAST(floor(epoch_us(ts) / 1000) AS BIGINT) AS e_ms,
       CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS e_s,
       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS e_d,
       CAST(len(list_distinct(ws)) AS BIGINT) AS nu,
       CAST(list_position(ws, 'k') - 1 AS BIGINT) AS ik
FROM t
"""


def _q122(spark, sf_dir):
    """Frame-level aggregates (polars df.sum()/mean()/min()/max(); frame.py
    _frame_agg): one row, non-numeric columns null under sum, strings
    covered by min/max — all partial-agg."""
    li = _t(spark, sf_dir, "lineitem")
    proj = li.select(
        col("l_quantity"), col("l_extendedprice"), col("l_returnflag")
    )
    s = proj.sum().select(
        col("l_quantity").round(2).alias("q_sum"),
        col("l_extendedprice").round(2).alias("p_sum"),
        col("l_returnflag").alias("f_sum"),
    )
    m = proj.mean().select(
        col("l_quantity").round(6).alias("q_mean"),
        col("l_extendedprice").round(6).alias("p_mean"),
    )
    mn = proj.min().select(col("l_returnflag").alias("f_min"))
    mx = proj.max().select(col("l_returnflag").alias("f_max"))
    out = pls.concat([s, m, mn, mx], how="horizontal")
    return out.spark


_q122_sql = """
SELECT round(sum(l_quantity), 2) AS q_sum,
       round(sum(l_extendedprice), 2) AS p_sum,
       CAST(NULL AS VARCHAR) AS f_sum,
       round(avg(l_quantity), 6) AS q_mean,
       round(avg(l_extendedprice), 6) AS p_mean,
       min(l_returnflag) AS f_min,
       max(l_returnflag) AS f_max
FROM lineitem
"""


def _q123(spark, sf_dir):
    """Corpus vocabulary statistics (llm/retrieval.py
    term_document_frequency): DF / total TF / DF-fraction / smoothed idf per
    term, min_df pruning before the broadcast join."""
    from polars_net_spark.llm import term_document_frequency

    d = _t(spark, sf_dir, "documents")
    return term_document_frequency(d, min_df=3).spark


_q123_sql = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents,
       LATERAL unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  w -> length(w) > 0)) AS t(term)),
per_doc AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
stats AS (SELECT term, count(*) AS df, sum(tf) AS total_tf
          FROM per_doc GROUP BY 1 HAVING count(*) >= 3),
n AS (SELECT count(*) AS nd FROM documents)
SELECT term, CAST(df AS BIGINT) AS df, CAST(total_tf AS BIGINT) AS total_tf,
       round(df / nd, 6) AS df_frac,
       round(ln((1.0 + nd) / (1.0 + df)) + 1.0, 6) AS idf
FROM stats, n
"""


def _q124(spark, sf_dir):
    """Winsorization at exact [5%, 95%] quantiles (frame.py winsorize):
    1-row boundary aggregate broadcast onto the scan — no sort, no window."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.winsorize("l_extendedprice", 0.05, 0.95, out_col="w")
    return out.select(
        col("l_orderkey"), col("l_linenumber"), col("w").round(2).alias("w")
    ).spark


_q124_sql = """
WITH q AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
                  quantile_cont(l_extendedprice, 0.95) AS hi
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(least(greatest(l_extendedprice, lo), hi), 2) AS w
FROM lineitem, q
"""


def _q125(spark, sf_dir):
    """str.contains_any / replace_many (single alternation-regex pass per
    row — one scan regardless of pattern-list size)."""
    d = _t(spark, sf_dir, "documents")
    pats = ["vector", "spill", "shuffle"]
    return d.select(
        col("doc_id"),
        col("text").str.contains_any(pats).alias("hit"),
        col("text").str.replace_many(pats, "<X>").alias("redacted"),
        col("text").str.replace_many(["spill", "vector"], ["S", "V"]).alias("mapped"),
    ).spark


_q125_sql = """
SELECT doc_id,
       regexp_matches(text, 'vector|spill|shuffle') AS hit,
       regexp_replace(text, 'shuffle|vector|spill', '<X>', 'g') AS redacted,
       regexp_replace(regexp_replace(text, 'vector', 'V', 'g'), 'spill', 'S', 'g') AS mapped
FROM documents
"""


def _q126(spark, sf_dir):
    """list set algebra (set_union/intersection/difference -> distinct
    element sets; emitted as sizes + a sorted join for the cross-engine
    hash)."""
    d = _t(spark, sf_dir, "documents")
    ws = col("text").str.to_lowercase().str.split(" ").list.slice(0, 8)
    sw = pls.Expr(F.array(*[F.lit(w) for w in ["the", "a", "of", "and", "to"]]))
    inter = ws.list.set_intersection(sw)
    return d.select(
        col("doc_id"),
        ws.list.set_union(sw).list.len().cast("long").alias("n_union"),
        inter.list.len().cast("long").alias("n_inter"),
        ws.list.set_difference(sw).list.len().cast("long").alias("n_diff"),
        when(inter.list.len() > 0)
        .then(inter.list.sort().list.join(","))
        .otherwise(lit(None))
        .alias("inter_sorted"),
    ).spark


_q126_sql = """
WITH t AS (SELECT doc_id,
                  list_distinct(string_split(lower(text), ' ')[1:8]) AS ws
           FROM documents),
s AS (SELECT doc_id, ws, ['the', 'a', 'of', 'and', 'to'] AS sw FROM t)
SELECT doc_id,
       CAST(len(list_distinct(list_concat(ws, sw))) AS BIGINT) AS n_union,
       CAST(len(list_filter(ws, x -> list_contains(sw, x))) AS BIGINT) AS n_inter,
       CAST(len(list_filter(ws, x -> NOT list_contains(sw, x))) AS BIGINT) AS n_diff,
       CASE WHEN len(list_filter(ws, x -> list_contains(sw, x))) > 0
            THEN array_to_string(list_sort(list_filter(ws, x -> list_contains(sw, x))), ',')
       END AS inter_sorted
FROM s
"""


def _q127(spark, sf_dir):
    """Pipeline-integration gate: quality filter -> exact dedup -> per-source
    cap -> per-source rollup, all one lazy chain (the composed operators are
    individually gated at q54/q29/q68; this checks they compose without
    row-identity drift)."""
    from polars_net_spark.llm import cap_per_key

    d = _t(spark, sf_dir, "documents")
    quality = gopher_quality_frame(d, min_stop_hits=1)
    kept = d.join(
        LazyFrame(quality.spark.filter(F.col("passes")).select("doc_id")),
        on="doc_id", how="semi",
    )
    deduped = dedup_exact(kept)
    capped = cap_per_key(deduped, "source", 10, order_by="n_chars", tie_col="doc_id")
    return (
        capped.group_by("source")
        .agg(
            col("doc_id").count().cast("long").alias("n_docs"),
            col("n_chars").sum().cast("long").alias("total_chars"),
            col("doc_id").min().cast("long").alias("first_doc"),
        )
        .spark
    )


_q127_sql = r"""
WITH w AS (
  SELECT doc_id, text, source, n_chars,
         string_split_regex(trim(text), '\s+') AS ws,
         string_split(text, chr(10)) AS ls
  FROM documents),
m AS (
  SELECT doc_id, source, n_chars, text,
    CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(ws) END AS n_words,
    COALESCE(list_sum(list_transform(ws, x -> len(x))), 0) AS word_chars,
    len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')) AS symbols,
    len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*]'))) AS bullet_lines,
    len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$'))) AS ellipsis_lines,
    len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
    len(ls) AS n_lines,
    len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
        ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM w),
passed AS (
  SELECT doc_id, source, n_chars, text FROM m
  WHERE n_words >= 50 AND n_words <= 100000
    AND (CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0 END) BETWEEN 3.0 AND 10.0
    AND (CASE WHEN n_words > 0 THEN symbols::DOUBLE / n_words ELSE 0 END) <= 0.1
    AND (CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines ELSE 0 END) <= 0.9
    AND (CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines ELSE 0 END) <= 0.3
    AND (CASE WHEN n_words > 0 THEN alpha_words::DOUBLE / n_words ELSE 0 END) >= 0.8
    AND stop_hits >= 1),
dedup AS (
  SELECT p.* FROM passed p
  JOIN (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS k,
               min(doc_id) AS doc_id
        FROM passed GROUP BY 1) keepers
  ON keepers.doc_id = p.doc_id),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
    FROM dedup)
  WHERE rn <= 10)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc
FROM capped GROUP BY source
"""


def _q128(spark, sf_dir):
    """SLIDING dynamic windows (period > every: every row lands in
    period/every buckets; operators/dynamic.py via F.window slide) —
    6h windows advancing every 2h, global count+sum per window."""
    ev = _t(spark, sf_dir, "events")
    out = ev.group_by_dynamic("ts", every="2h", period="6h").agg(
        col("value").count().cast("long").alias("n"),
        col("value").sum().round(6).alias("s"),
    )
    return out.spark


_q128_sql = """
WITH b AS (SELECT unnest(generate_series(
             TIMESTAMP '2023-12-31 20:00:00', TIMESTAMP '2024-01-31 00:00:00',
             INTERVAL 2 HOUR)) AS ws),
j AS (SELECT b.ws, e.value
      FROM b JOIN events e ON e.ts >= b.ws AND e.ts < b.ws + INTERVAL 6 HOUR)
SELECT ws AS ts, CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS s
FROM j GROUP BY 1
"""


def _q129(spark, sf_dir):
    """asof join strategy='nearest' (operators/asof.py: closer of backward /
    forward candidate, tie -> backward) — the one asof strategy with no
    native DuckDB ASOF equivalent; oracle replicates via |dt|-argmin."""
    o = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events").select(
        col("ts"), col("user_id"), col("event_id"), col("value")
    )
    out = o.join_asof(
        ev,
        left_on="o_orderdate",
        right_on="ts",
        by_left=["o_custkey"],
        by_right=["user_id"],
        strategy="nearest",
    ).select(col("o_orderkey"), col("o_custkey"), col("event_id"), col("value"))
    return out.spark


_q129_sql = """
WITH c AS (
  SELECT o.o_orderkey, e.event_id, e.value,
         row_number() OVER (
           PARTITION BY o.o_orderkey
           ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)), e.ts, e.event_id
         ) AS rn
  FROM orders o JOIN events e ON o.o_custkey = e.user_id)
SELECT o.o_orderkey, o.o_custkey, c.event_id, c.value
FROM orders o LEFT JOIN (SELECT * FROM c WHERE rn = 1) c USING (o_orderkey)
"""


def _q130(spark, sf_dir):
    """concat(how='align'): frames full-joined on their common columns
    (polars align concat) — here two per-nation rollups aligned on the
    nation key."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.group_by("c_nationkey").agg(
        col("c_custkey").count().cast("long").alias("n_cust")
    ).rename({"c_nationkey": "nationkey"})
    b = s.group_by("s_nationkey").agg(
        col("s_suppkey").count().cast("long").alias("n_supp")
    ).rename({"s_nationkey": "nationkey"})
    return pls.concat([a, b], how="align").spark


_q130_sql = """
WITH a AS (SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_cust
           FROM customer GROUP BY 1),
b AS (SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY 1)
SELECT coalesce(a.nationkey, b.nationkey) AS nationkey, a.n_cust, b.n_supp
FROM a FULL JOIN b ON a.nationkey = b.nationkey
"""


def _q131(spark, sf_dir):
    """cut with category labels (array-literal lookup on the bucket index —
    still pure codegen, no join)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cut([10.0, 25.0, 40.0],
                              labels=["tiny", "small", "mid", "large"]).alias("band"),
        col("l_quantity").cut([10.0, 25.0, 40.0]).cast("long").alias("band_idx"),
    ).spark


_q131_sql = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity IS NULL THEN NULL
            WHEN l_quantity <= 10 THEN 'tiny'
            WHEN l_quantity <= 25 THEN 'small'
            WHEN l_quantity <= 40 THEN 'mid'
            ELSE 'large' END AS band,
       CASE WHEN l_quantity IS NULL THEN NULL
            WHEN l_quantity <= 10 THEN 0
            WHEN l_quantity <= 25 THEN 1
            WHEN l_quantity <= 40 THEN 2
            ELSE 3 END AS band_idx
FROM lineitem
"""


def _q132(spark, sf_dir):
    """shift with fill_value (polars shift_and_fill): edge rows take the
    fill instead of null — lag/lead defaults, one keyed window."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        col("user_id"), col("event_id"), col("ts"),
        col("value").shift(1, order_by=["ts", "event_id"], partition_by=["user_id"],
                           fill_value=0.0).round(6).alias("prev_v"),
        col("value").shift(-1, order_by=["ts", "event_id"], partition_by=["user_id"],
                           fill_value=-1.0).round(6).alias("next_v"),
    ).spark


_q132_sql = """
SELECT user_id, event_id, ts,
       round(lag(value, 1, 0.0) OVER w, 6) AS prev_v,
       round(lead(value, 1, -1.0) OVER w, 6) AS next_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _q133(spark, sf_dir):
    """interpolate_by: coordinate-aware linear interpolation over the time
    axis (polars 1.x Expr.interpolate_by) — irregular gaps fill
    proportionally to elapsed time, not row count."""
    ev = _t(spark, sf_dir, "events")
    masked = when(col("event_type") != "error").then(col("value")).otherwise(lit(None))
    return ev.with_columns(masked.alias("mv")).select(
        col("user_id"), col("event_id"), col("ts"),
        col("mv").interpolate_by("ts", partition_by=["user_id"]).round(6).alias("iv"),
    ).spark


_q133_sql = """
WITH m AS (SELECT user_id, event_id, ts, epoch_us(ts) AS x,
                  CASE WHEN event_type <> 'error' THEN value END AS mv
           FROM events),
b AS (SELECT *,
        last_value(mv IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN mv IS NOT NULL THEN x END IGNORE NULLS) OVER wp AS px,
        first_value(mv IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN mv IS NOT NULL THEN x END IGNORE NULLS) OVER wn AS nx
      FROM m
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT user_id, event_id, ts,
       round(CASE WHEN mv IS NOT NULL THEN mv
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * (x - px) / (nx - px) END, 6) AS iv
FROM b
"""


def _q134(spark, sf_dir):
    """merge_sorted: two key-sorted frames merged into one key-sorted frame
    (frame.py merge_sorted — unionByName + range-partitioned sort with
    side/order tie-breaks; ties keep left's rows first, polars semantics)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(col("o_orderstatus") == "F").sort("o_orderdate").with_columns(
        lit("F").alias("side")
    )
    b = o.filter(col("o_orderstatus") == "O").sort("o_orderdate").with_columns(
        lit("O").alias("side")
    )
    out = a.merge_sorted(b, "o_orderdate")
    # re-derive a deterministic output: per-date counts by side prove the
    # merge kept every row and the global sort is by date
    return (
        out.group_by("o_orderdate")
        .agg(
            col("o_orderkey").count().cast("long").alias("n"),
            col("side").filter(col("side") == "F").count().cast("long").alias("n_f"),
        )
        .spark
    )


_q134_sql = """
SELECT o_orderdate,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f
FROM orders WHERE o_orderstatus IN ('F', 'O')
GROUP BY o_orderdate
"""


def _q135(spark, sf_dir):
    """Expr.dot (partial-aggregable sum of products) + frame gather_every
    (dense scan-order index from monotonically_increasing_id partition
    arithmetic — no global window — then a codegen'd modulo filter)."""
    li = _t(spark, sf_dir, "lineitem")
    sampled = li.sort("l_orderkey", "l_linenumber").gather_every(7, 3)
    return (
        sampled.group_by("l_returnflag")
        .agg(
            col("l_extendedprice").dot(col("l_discount")).round(4).alias("disc_dot"),
            col("l_quantity").count().cast("long").alias("n"),
        )
        .spark
    )


_q135_sql = """
WITH s AS (SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn
           FROM lineitem)
SELECT l_returnflag,
       round(sum(l_extendedprice * l_discount), 4) AS disc_dot,
       CAST(count(l_quantity) AS BIGINT) AS n
FROM s WHERE rn >= 3 AND (rn - 3) % 7 = 0
GROUP BY l_returnflag
"""


def _q136(spark, sf_dir):
    """Expr.top_k_by / bottom_k_by: per-group values ordered by ANOTHER
    column's largest/smallest k (struct collect + sort_array + slice)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.group_by("o_orderpriority")
        .agg(
            col("o_orderkey").top_k_by("o_totalprice", 3).alias("top_orders"),
            col("o_orderkey").bottom_k_by("o_totalprice", 2).alias("cheap_orders"),
        )
        .with_columns(
            col("top_orders").cast("array<long>").alias("top_orders"),
            col("cheap_orders").cast("array<long>").alias("cheap_orders"),
        )
        .spark
    )


_q136_sql = """
WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey DESC) AS rd,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice ASC, o_orderkey ASC) AS ra
           FROM orders)
SELECT o_orderpriority,
       list(o_orderkey ORDER BY rd) FILTER (WHERE rd <= 3) AS top_orders,
       list(o_orderkey ORDER BY ra) FILTER (WHERE ra <= 2) AS cheap_orders
FROM r GROUP BY o_orderpriority
"""


def _q137(spark, sf_dir):
    """str extras r4: split_exact (n splits -> n+1 struct fields),
    to_titlecase (initcap), reverse, to_integer (validated conv)."""
    c = _t(spark, sf_dir, "customer")
    parts = col("c_name").str.split_exact("#", 1)
    return c.select(
        col("c_custkey"),
        parts.struct.field("field_0").alias("name_head"),
        parts.struct.field("field_1").alias("name_num"),
        parts.struct.field("field_1").str.to_integer().alias("name_int"),
        col("c_mktsegment").str.to_titlecase().alias("seg_tc"),
        col("c_mktsegment").str.reverse().alias("seg_rev"),
    ).spark


_q137_sql = """
SELECT c_custkey,
       string_split(c_name, '#')[1] AS name_head,
       string_split(c_name, '#')[2] AS name_num,
       CAST(string_split(c_name, '#')[2] AS BIGINT) AS name_int,
       -- DuckDB has no initcap-equivalent word semantics; TPC-H segments are
       -- single uppercase words so title-case = upper(first)+lower(rest)
       upper(substr(c_mktsegment, 1, 1)) || lower(substr(c_mktsegment, 2)) AS seg_tc,
       reverse(c_mktsegment) AS seg_rev
FROM customer
"""


def _q138(spark, sf_dir):
    """math extras r4: cot / arcsinh / arccosh / arctanh closed forms,
    round_sig_figs, is_close — all pure codegen, map-only."""
    li = _t(spark, sf_dir, "lineitem")
    x = col("l_discount") * 10  # 0..1 -> 0..10 spread
    return li.select(
        col("l_orderkey"), col("l_linenumber"),
        (x + 0.1).cot().round(6).alias("ct"),
        x.arcsinh().round(6).alias("ash"),
        (x + 1.0).arccosh().round(6).alias("ach"),
        (col("l_discount") * 0.9).arctanh().round(6).alias("ath"),
        col("l_extendedprice").round_sig_figs(3).alias("sf3"),
        col("l_extendedprice").is_close(col("l_extendedprice") + 1e-10).alias("cl"),
    ).spark


_q138_sql = """
SELECT l_orderkey, l_linenumber,
       round(cos(l_discount * 10 + 0.1) / sin(l_discount * 10 + 0.1), 6) AS ct,
       round(ln(l_discount * 10 + sqrt((l_discount*10)*(l_discount*10) + 1)), 6) AS ash,
       round(ln(l_discount * 10 + 1 + sqrt((l_discount*10+1)*(l_discount*10+1) - 1)), 6) AS ach,
       round(0.5 * ln((1 + l_discount*0.9) / (1 - l_discount*0.9)), 6) AS ath,
       CASE WHEN l_extendedprice = 0 THEN 0
            ELSE round(l_extendedprice * power(10, 2 - floor(log10(abs(l_extendedprice)))))
                 / power(10, 2 - floor(log10(abs(l_extendedprice)))) END AS sf3,
       abs(l_extendedprice - (l_extendedprice + 1e-10)) <=
         greatest(1e-9 * greatest(abs(l_extendedprice), abs(l_extendedprice + 1e-10)), 1e-12) AS cl
FROM lineitem
"""


def _q139(spark, sf_dir):
    """list namespace extras r4: last/head/tail/diff/shift/median/std/gather/
    any — pure higher-order-function codegen over a constructed list."""
    li = _t(spark, sf_dir, "lineitem")
    import polars_net_spark as _pl

    arrs = (
        li.group_by("l_orderkey")
        .agg(col("l_quantity").implode().alias("qs"))
        .with_columns(col("qs").list.sort().alias("qs"))
    )
    v = col("qs")
    return arrs.select(
        col("l_orderkey"),
        v.list.last().round(2).alias("last_q"),
        v.list.head(2).alias("head2"),
        v.list.tail(2).alias("tail2"),
        # drop the leading nulls so the cross-engine compare sees pure
        # numeric lists (duckdb NULL-in-list -> NaN breaks the value hash)
        v.list.diff().list.filter(lambda e: e.is_not_null()).alias("dif"),
        v.list.shift(1).list.filter(lambda e: e.is_not_null()).alias("sh"),
        v.list.median().round(6).alias("med"),
        v.list.std().round(6).alias("sd"),
        v.list.gather([0, -1], null_on_oob=True).alias("ends"),
        v.list.eval(lambda e: e > 25.0).list.any().alias("has_big"),
    ).spark


_q139_sql = """
WITH a AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
           FROM lineitem GROUP BY l_orderkey)
SELECT l_orderkey,
       round(qs[-1], 2) AS last_q,
       qs[1:2] AS head2,
       CASE WHEN len(qs) <= 2 THEN qs ELSE qs[-2:] END AS tail2,
       list_transform(generate_series(2, len(qs)), i -> qs[i] - qs[i-1]) AS dif,
       qs[1:len(qs)-1] AS sh,
       round(median(x.q), 6) AS med,
       round(stddev_samp(x.q), 6) AS sd,
       [qs[1], qs[-1]] AS ends,
       len(list_filter(qs, q -> q > 25.0)) > 0 AS has_big
FROM a, LATERAL (SELECT unnest(qs) AS q) AS x
GROUP BY l_orderkey, qs
"""


def _q140(spark, sf_dir):
    """to_physical (schema-driven temporal -> integer physical repr) and
    shrink_dtype (1-row min/max probe -> narrowest int casts)."""
    o = _t(spark, sf_dir, "orders")
    phys = o.select(
        col("o_orderkey"), col("o_orderdate"), col("o_custkey")
    ).to_physical().shrink_dtype()
    return phys.select(
        col("o_orderkey").cast("long").alias("o_orderkey"),
        col("o_orderdate").cast("long").alias("date_days"),  # ts col -> us since epoch
        col("o_custkey").cast("long").alias("prio"),
    ).spark


_q140_sql = """
SELECT o_orderkey,
       epoch_us(o_orderdate) AS date_days,
       CAST(o_custkey AS BIGINT) AS prio
FROM orders
"""


def _q141(spark, sf_dir):
    """URL curation (llm/text.py url_*): canonical URL (fragment/tracking-
    param/port stripping, host lowercasing), host, registrable domain, and
    the md5 dedup key — the C4/RefinedWeb-style canonical-URL dedup prep.
    The corpus has no URL column, so each doc gets a deterministic synthetic
    URL exercising every normalization branch."""
    from polars_net_spark.llm import url_metrics_frame

    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("WWW"), (col("doc_id") % 7).to_column().cast("string"),
        F.lit(".Site"), (col("doc_id") % 13).to_column().cast("string"),
        F.when((col("doc_id") % 3 == 0).to_column(), F.lit(".co.uk")).otherwise(F.lit(".Example.COM")),
    )
    port = F.when((col("doc_id") % 2 == 0).to_column(), F.lit(":443")).otherwise(F.lit(""))
    url = F.concat(
        F.lit("https://"), host, port,
        F.lit("/p/"), col("doc_id").to_column().cast("string"),
        F.lit("/?utm_source=feed&q="), (col("doc_id") % 5).to_column().cast("string"),
        F.lit("&fbclid=xyz#sec"),
    )
    sdf = d._sdf.select(F.col("doc_id"), url.alias("url"))
    return url_metrics_frame(sdf, "url").spark


_q141_sql = """
WITH u AS (
  SELECT doc_id,
         'https://' || 'WWW' || CAST(doc_id % 7 AS VARCHAR) || '.Site' ||
         CAST(doc_id % 13 AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.Example.COM' END ||
         CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
         '/p/' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&q=' ||
         CAST(doc_id % 5 AS VARCHAR) || '&fbclid=xyz#sec' AS url
  FROM documents),
h AS (
  SELECT doc_id, url,
         lower('www' || CAST(doc_id % 7 AS VARCHAR) || '.site' ||
               CAST(doc_id % 13 AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.example.com' END) AS host,
         'https://' || lower('www' || CAST(doc_id % 7 AS VARCHAR) || '.site' ||
               CAST(doc_id % 13 AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.example.com' END) ||
         '/p/' || CAST(doc_id AS VARCHAR) || '/?q=' || CAST(doc_id % 5 AS VARCHAR)
           AS url_canonical
  FROM u)
SELECT doc_id, url_canonical, host,
       CASE WHEN doc_id % 3 = 0
            THEN 'site' || CAST(doc_id % 13 AS VARCHAR) || '.co.uk'
            ELSE 'example.com' END AS domain,
       md5(url_canonical) AS url_key
FROM h
"""


def _q142(spark, sf_dir):
    """dt.add_business_days (closed-form Mon-Fri arithmetic, roll modes) +
    join(nulls_equal=True) (null-safe <=> hash join, polars join_nulls)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").alias("d"),
        # null key every 10th order to exercise the null-safe join
        when(col("o_orderkey") % 10 == 0).then(lit(None)).otherwise(
            col("o_orderkey") % 7
        ).alias("bucket"),
    )
    dims = spark.createDataFrame(
        [(None, "none"), (0, "b0"), (1, "b1"), (2, "b2"), (3, "b3")],
        "bucket long, tag string",
    )
    import polars_net_spark as _pl

    joined = base.join(_pl.LazyFrame(dims), on="bucket", how="left", nulls_equal=True)
    return joined.select(
        col("o_orderkey"),
        col("d").dt.add_business_days(3, roll="forward").cast("str").alias("sla3"),
        col("d").dt.add_business_days(-2, roll="backward").cast("str").alias("back2"),
        col("tag"),
    ).spark


_q142_sql = """
WITH base AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
         CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey % 7 END AS bucket
  FROM orders),
dims(bucket, tag) AS (VALUES (NULL, 'none'), (0, 'b0'), (1, 'b1'), (2, 'b2'), (3, 'b3')),
rolled AS (
  SELECT o_orderkey, bucket,
         CASE WHEN isodow(d) >= 6 THEN d + CAST((8 - isodow(d)) AS INTEGER) ELSE d END AS fwd,
         CASE WHEN isodow(d) >= 6 THEN d - CAST((isodow(d) - 5) AS INTEGER) ELSE d END AS bwd
  FROM base)
SELECT r.o_orderkey,
       CAST(fwd + CAST(3 + CASE WHEN isodow(fwd) - 1 + 3 >= 5 THEN 2 ELSE 0 END AS INTEGER) AS VARCHAR) AS sla3,
       CAST(bwd - CAST(2 + CASE WHEN isodow(bwd) - 1 - 2 < 0 THEN 2 ELSE 0 END AS INTEGER) AS VARCHAR) AS back2,
       dm.tag
FROM rolled r LEFT JOIN dims dm ON r.bucket IS NOT DISTINCT FROM dm.bucket
"""


def _q143(spark, sf_dir):
    """rolling_skew / rolling_kurtosis: moment aggregates INSIDE the window
    frame (one WindowExec, no self-join); oracle recomputes from raw power
    sums over the same frame."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        col("l_orderkey"), col("l_linenumber"),
        # (l_orderkey, l_linenumber) is NOT unique in this corpus: the frame
        # needs a total order or the two engines disagree on tie placement
        col("l_quantity").rolling_skew(
            4, order_by=["l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"],
            partition_by=["l_orderkey"], min_periods=4
        ).round(6).alias("rsk"),
        col("l_quantity").rolling_kurtosis(
            4, order_by=["l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"],
            partition_by=["l_orderkey"], min_periods=4
        ).round(6).alias("rku"),
    ).spark


_q143_sql = """
WITH w AS (
  SELECT l_orderkey, l_linenumber,
         count(l_quantity) OVER f AS n,
         avg(l_quantity) OVER f AS m1,
         avg(l_quantity * l_quantity) OVER f AS p2,
         avg(l_quantity * l_quantity * l_quantity) OVER f AS p3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) OVER f AS p4
  FROM lineitem
  WINDOW f AS (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_extendedprice, l_partkey, l_suppkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
c AS (
  SELECT l_orderkey, l_linenumber, n,
         p2 - m1 * m1 AS m2,
         p3 - 3 * m1 * p2 + 2 * m1 * m1 * m1 AS m3,
         p4 - 4 * m1 * p3 + 6 * m1 * m1 * p2 - 3 * m1 * m1 * m1 * m1 AS m4
  FROM w)
SELECT l_orderkey, l_linenumber,
       CASE WHEN n >= 4 THEN round(m3 / power(m2, 1.5), 6) END AS rsk,
       CASE WHEN n >= 4 THEN round(m4 / (m2 * m2) - 3, 6) END AS rku
FROM c
"""


def _q144(spark, sf_dir):
    """Training-output prep (llm/sampling.py r4): temperature_weights
    (w ∝ n^alpha mixture smoothing) + shuffle_by_hash (deterministic md5
    global order — the reproducible pre-packing shuffle).  The shuffle is
    verified positionally: dense rank in shuffled order must equal the
    oracle's row_number over the same md5 key."""
    from polars_net_spark.llm import temperature_weights, shuffle_by_hash

    d = _t(spark, sf_dir, "documents")
    sizes = {r["source"]: r["n"] for r in
             d._sdf.groupBy("source").agg(F.count("*").alias("n")).collect()}
    w = temperature_weights(sizes, alpha=0.5)
    shuffled = shuffle_by_hash(d, "doc_id", seed="r4")
    pos = shuffled.with_dense_row_index("shuffle_pos")
    out = pos._sdf.select(
        F.col("doc_id"), F.col("source"), F.col("shuffle_pos"),
    )
    wmap = F.create_map(*[F.lit(x) for kv in sorted(w.items()) for x in kv])
    return out.withColumn("mix_weight", F.round(wmap[F.col("source")], 9))


_q144_sql = """
WITH sz AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
tw AS (SELECT source, round(sqrt(n) / sum(sqrt(n)) OVER (), 9) AS mix_weight FROM sz),
sh AS (SELECT doc_id, source,
              row_number() OVER (ORDER BY md5('r4' || CAST(doc_id AS VARCHAR))) - 1
                AS shuffle_pos
       FROM documents)
SELECT sh.doc_id, sh.source, sh.shuffle_pos, tw.mix_weight
FROM sh JOIN tw USING (source)
"""


def _q145(spark, sf_dir):
    """unique(keep='none') (drop every duplicated key entirely — one count
    window, no second scan) + list.to_struct (declared-width list->struct)."""
    li = _t(spark, sf_dir, "lineitem")
    solo = li.select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_quantity")
    ).unique(subset=["l_quantity", "l_partkey"], keep="none")
    arrs = (
        solo.group_by("l_orderkey")
        .agg(col("l_quantity").implode().alias("qs"))
        .with_columns(col("qs").list.sort().alias("qs"))
    )
    s = col("qs").list.to_struct(2, fields=["q0", "q1"])
    return arrs.select(
        col("l_orderkey"),
        s.struct.field("q0").alias("q0"),
        s.struct.field("q1").alias("q1"),
    ).spark


_q145_sql = """
WITH solo AS (
  SELECT l_orderkey, l_quantity
  FROM lineitem QUALIFY count(*) OVER (PARTITION BY l_quantity, l_partkey) = 1),
a AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs FROM solo GROUP BY l_orderkey)
SELECT l_orderkey, qs[1] AS q0, qs[2] AS q1 FROM a
"""


def _q146(spark, sf_dir):
    """Bigram LM quality scoring (llm/quality.py bigram_logprob_frame):
    stupid-backoff bigram mean log10-prob — two keyed count shuffles, both
    models broadcast back over the bigram stream."""
    from polars_net_spark.llm import bigram_logprob_frame

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob_frame(d, vocab_size=5000).spark


_q146_sql = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                             w -> length(w) > 0) AS ws
  FROM documents),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
  FROM t, LATERAL unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2),
words AS (SELECT unnest(ws) AS word FROM t),
n AS (SELECT count(*) AS nn FROM words),
uni AS (SELECT word, count(*) AS uc FROM words GROUP BY word),
bv AS (SELECT w1, w2, count(*) AS bc FROM bg GROUP BY w1, w2
       ORDER BY bc DESC, w1, w2 LIMIT 5000),
scored AS (
  SELECT bg.doc_id,
         CASE WHEN bv.bc IS NOT NULL THEN log10(bv.bc * 1.0 / u1.uc)
              ELSE log10(0.4 * coalesce(u2.uc, 1) * 1.0 / n.nn) END AS lp
  FROM bg
  LEFT JOIN bv ON bg.w1 = bv.w1 AND bg.w2 = bv.w2
  LEFT JOIN uni u1 ON bg.w1 = u1.word
  LEFT JOIN uni u2 ON bg.w2 = u2.word
  CROSS JOIN n),
agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(lp), 6) AS mean_logprob
        FROM scored GROUP BY doc_id)
SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       coalesce(a.mean_logprob, 0.0) AS mean_logprob
FROM t LEFT JOIN agg a USING (doc_id)
"""


def _q147(spark, sf_dir):
    """Deterministic masked-LM prep (llm/chunking.py mask_tokens_frame):
    hash-draw per (doc, position), fixed-span union, zip to corrupted text +
    targets — map-only HOF codegen, zero shuffles.  The oracle replicates
    the draw by comparing the md5 hex prefix LEXICOGRAPHICALLY against the
    threshold's 8-digit hex (13333333) — identical to the numeric compare."""
    from polars_net_spark.llm import mask_tokens_frame

    d = _t(spark, sf_dir, "documents")
    out = mask_tokens_frame(d, mask_rate=0.15, span_len=2, seed="r4")
    return out.select(
        col("doc_id"), col("corrupted"),
        col("targets").list.join(" ").alias("targets"),
        col("n_tokens"), col("n_masked"),
    ).spark


_q147_sql = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                             w -> length(w) > 0) AS ws
  FROM documents),
s AS (
  SELECT doc_id, ws,
         list_transform(generate_series(0, len(ws) - 1),
                        i -> substr(md5('r4' || CAST(doc_id AS VARCHAR) || chr(31)
                                        || CAST(i AS VARCHAR)), 1, 8)
                             < '13333333') AS starts
  FROM t),
m AS (
  SELECT doc_id, ws,
         list_transform(generate_series(1, len(ws)),
                        i -> starts[i] OR (i > 1 AND starts[i-1])) AS mk
  FROM s)
SELECT doc_id,
       array_to_string(list_transform(generate_series(1, len(ws)),
                                      i -> CASE WHEN mk[i] THEN '<MASK>' ELSE ws[i] END),
                       ' ') AS corrupted,
       coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(ws)),
                                                  i -> CASE WHEN mk[i] THEN ws[i] END),
                                   x -> x IS NOT NULL), ' '), '') AS targets,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(mk, x -> x)) AS BIGINT) AS n_masked
FROM m
"""


def _q148(spark, sf_dir):
    """End-to-end corpus-prep pipeline (r4 composition gate): synthetic URL ->
    canonical-URL dedup (keep lowest doc_id per url_key) -> min-length
    quality trim -> deterministic masked-LM corruption -> reproducible md5
    shuffle position.  One lazy chain; every stage is an operator under its
    own gate (q141/q147/q144), this row proves the COMPOSITION."""
    from polars_net_spark.llm import url_metrics_frame, mask_tokens_frame, shuffle_by_hash

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://Site"), (col("doc_id") % 97).to_column().cast("string"),
        F.lit(".Example.com:443/p/"), (col("doc_id") % 97).to_column().cast("string"),
        F.lit("?utm_x=1"),
    )
    withu = d._sdf.select(F.col("doc_id"), F.col("text"), url.alias("url"))
    um = url_metrics_frame(withu, "url")._sdf.select("doc_id", "url_key")
    staged = withu.join(um, "doc_id")
    from pyspark.sql import Window as W
    keep = (
        staged.withColumn(
            "__rn__",
            F.row_number().over(W.partitionBy("url_key").orderBy(F.col("doc_id").asc())),
        )
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "url")
    )
    import polars_net_spark as _pl
    quality = keep.filter(
        F.size(F.filter(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                        lambda w: F.length(w) > 0)) >= 20
    )
    masked = mask_tokens_frame(quality, mask_rate=0.15, span_len=2, seed="r4")
    shuffled = shuffle_by_hash(masked, "doc_id", seed="prep")
    pos = shuffled.with_dense_row_index("shuffle_pos")
    return pos._sdf.select(
        F.col("doc_id"), F.col("n_tokens"), F.col("n_masked"), F.col("shuffle_pos")
    )


_q148_sql = """
WITH u AS (
  SELECT doc_id, text,
         md5('https://site' || CAST(doc_id % 97 AS VARCHAR) || '.example.com/p/'
             || CAST(doc_id % 97 AS VARCHAR)) AS url_key
  FROM documents),
k AS (
  SELECT doc_id, text FROM u
  QUALIFY row_number() OVER (PARTITION BY url_key ORDER BY doc_id) = 1),
t AS (
  SELECT doc_id, list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                             w -> length(w) > 0) AS ws
  FROM k),
q AS (SELECT * FROM t WHERE len(ws) >= 20),
m AS (
  SELECT doc_id, len(ws) AS n_tokens,
         len(list_filter(generate_series(1, len(ws)),
             i -> substr(md5('r4' || CAST(doc_id AS VARCHAR) || chr(31)
                              || CAST(i - 1 AS VARCHAR)), 1, 8) < '13333333'
                  OR (i > 1 AND substr(md5('r4' || CAST(doc_id AS VARCHAR) || chr(31)
                              || CAST(i - 2 AS VARCHAR)), 1, 8) < '13333333')))
           AS n_masked
  FROM q)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_masked AS BIGINT) AS n_masked,
       CAST(row_number() OVER (ORDER BY md5('prep' || CAST(doc_id AS VARCHAR))) - 1
            AS BIGINT) AS shuffle_pos
FROM m
"""


def _q149(spark, sf_dir):
    """Top-level named aggregates (pl.len/pl.sum — polars convenience
    surface) + boolean any/all aggregates incl. Kleene variants."""
    import polars_net_spark as _pl

    li = _t(spark, sf_dir, "lineitem")
    flagged = li.with_columns((col("l_discount") > 0.05).alias("disc"))
    return (
        flagged.group_by("l_returnflag")
        .agg(
            _pl.len(),
            _pl.sum("l_quantity"),
            col("disc").any().alias("any_disc"),
            col("disc").all().alias("all_disc"),
            col("disc").all(ignore_nulls=False).alias("all_k"),
        )
        .with_columns(
            col("len").cast("long").alias("len"),
            col("l_quantity").round(2).alias("l_quantity"),
        )
        .spark
    )


_q149_sql = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS len,
       round(sum(l_quantity), 2) AS l_quantity,
       coalesce(bool_or(l_discount > 0.05), false) AS any_disc,
       coalesce(bool_and(l_discount > 0.05), true) AS all_disc,
       CASE WHEN NOT bool_and(l_discount > 0.05) THEN false
            WHEN count(*) > count(l_discount) THEN NULL
            ELSE true END AS all_k
FROM lineitem GROUP BY l_returnflag
"""


def _q150(spark, sf_dir):
    """SFT chat flattening (llm/chunking.py flatten_chat_frame): JSON chat
    transcripts -> role-tagged training text via from_json + HOF transforms,
    map-only.  The corpus has no chat column, so each doc becomes a 2-turn
    transcript (first 5 words = user, next 5 = assistant) built as REAL JSON
    via to_json, then flattened by the operator under test."""
    from polars_net_spark.llm import flatten_chat_frame

    d = _t(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: F.length(w) > 0)
    u = F.array_join(F.slice(ws, 1, 5), " ")
    a = F.array_join(F.slice(ws, 6, 5), " ")
    msgs = F.to_json(F.array(
        F.struct(F.lit("user").alias("role"), u.alias("content")),
        F.struct(F.lit("assistant").alias("role"), a.alias("content")),
    ))
    sdf = d._sdf.select(F.col("doc_id"), msgs.alias("messages"))
    return flatten_chat_frame(sdf).spark


_q150_sql = """
WITH w AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> length(x) > 0) AS ws
  FROM documents),
t AS (
  SELECT doc_id,
         array_to_string(ws[1:5], ' ') AS u,
         array_to_string(ws[6:10], ' ') AS a
  FROM w)
SELECT doc_id,
       '<|user|>' || chr(10) || u || chr(10) || '<|assistant|>' || chr(10) || a AS text,
       CAST(2 AS BIGINT) AS n_turns,
       CAST(length('<|user|>' || chr(10) || u || chr(10) || '<|assistant|>' || chr(10) || a)
            AS BIGINT) AS n_chars
FROM t
"""


def _stream_stage_dir(sf_dir: str, table: str = "events") -> str:
    """Stage a parquet table into a flat tmp dir for the streaming file
    source (which does not recurse into directory-shaped datasets).  Keyed
    per (sf_dir, table): a shared dir would silently serve the WRONG scale
    factor when gates run at several SFs in one session."""
    import hashlib, shutil, tempfile, os

    tag = hashlib.md5(f"{sf_dir}|{table}".encode()).hexdigest()[:8]
    src_dir = os.path.join(tempfile.gettempdir(), f"stream_src_{table}_{tag}")
    os.makedirs(src_dir, exist_ok=True)
    done = os.path.join(src_dir, "_staged")
    if not os.path.exists(done):
        ev = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isdir(ev):
            for f in os.listdir(ev):
                if f.endswith(".parquet"):
                    shutil.copyfile(os.path.join(ev, f), os.path.join(src_dir, f))
        else:
            shutil.copyfile(ev, os.path.join(src_dir, f"{table}.parquet"))
        open(done, "w").close()
    return src_dir


def _raw_schema(spark, sf_dir: str, table: str) -> StructType:
    """The schema Spark infers for ``<sf_dir>/<table>.parquet``, the
    streaming file sources' declared schema.  Inference is one Spark job,
    so the schema is memoized in ``_T_MEMO`` next to ``_t``'s scans, keyed
    by session: a new session evicts it."""
    key = (_session_key(spark), sf_dir, f"{table}.parquet schema")
    hit = _T_MEMO.get(key)
    if hit is None:
        hit = _T_MEMO[key] = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return hit


def _drain_stream_gate(spark, start, timeout: int = 120) -> None:
    """Run a streaming gate's query: ``start()`` starts it through one of
    ``polars_net_spark.streaming.stream``'s sinks (so through
    ``start_stream``); the gate waits for the end of its availableNow
    trigger, then stops it.

    State-store sizing: Structured Streaming allocates ONE state-store
    instance per shuffle partition per stateful operator, and availableNow
    micro-batch fixed overhead scales with the store count, not the data.
    The gates keep a few hundred state keys, so 8 stores are plenty at gate
    scale (32 → 8 measured ≈11.5 s → ≈7.3 s across the four gates); on a
    production stream you size this UP with key cardinality × throughput.
    The session's shuffle partitions are restored on exit."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = start()
        q.awaitTermination(timeout)
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _memory_stream_gate(spark, sdf, name: str, output_mode: str, timeout: int = 120):
    """Run a streaming gate's query into the memory sink ``name`` and return
    the sink's table.  An append-mode memory sink accumulates across runs in
    one session, so the sink's view is dropped first."""
    from polars_net_spark.streaming import StreamingFrame

    spark.catalog.dropTempView(name)
    _drain_stream_gate(
        spark, lambda: StreamingFrame(sdf).write_memory(name, output_mode), timeout
    )
    return spark.table(name)


def _q151(spark, sf_dir):
    """TRUE Structured Streaming gate: events stream-read (file source) ->
    watermark -> 6h tumbling window per event_type -> availableNow run to a
    memory sink.  With one availableNow batch nothing is late, so the
    result is deterministic and the DuckDB oracle replicates it as a plain
    time-bucket GROUP BY — the gate hash-verifies a real streaming query."""
    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        # watermarks need TIMESTAMP (tz-aware); session tz is UTC so the
        # NTZ wall times map 1:1 and the oracle's epoch() bucketing agrees
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w"), F.col("event_type"))
        .agg(
            F.round(F.sum("value"), 6).alias("sum_v"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return _memory_stream_gate(spark, stream, "q151_win", "complete").select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type", "sum_v", "n",
    )


_q151_sql = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 21600) * 21600), '%Y-%m-%d %H:%M:%S')
         AS win_start,
       event_type,
       round(sum(value), 6) AS sum_v,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


def _q152(spark, sf_dir):
    """Video frame sampling (llm/multimodal.py sample_video_frames): REAL
    concatenated-P6 decode — one row per sampled frame with ts/size/ahash/
    thumb via one-to-many mapInPandas.  Synthetic per-doc videos are built
    by construction ((doc_id % 3)+1 constant-color 4x6 frames), so the
    oracle predicts the structural output closed-form; pixel-level decode
    correctness is pinned by unit tests (bit-exact aHash/thumb)."""
    import numpy as np
    import pandas as pd

    from polars_net_spark.llm.multimodal import sample_video_frames

    # ids 0..49 by construction (documents doc_ids are contiguous from 0 at
    # every SF, so this equals documents.filter(doc_id < 50) without paying
    # a corpus scan that would dominate a constant-work query at high SF)
    ids = spark.range(50).select(F.col("id").alias("doc_id"))

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                n = int(did) % 3 + 1
                buf = b""
                for i in range(n):
                    px = np.full((4, 6, 3), (int(did) * 37 + i * 11) % 256, np.uint8)
                    buf += b"P6\n6 4\n255\n" + px.tobytes()
                rows.append((int(did), buf))
            if rows:
                yield pd.DataFrame(rows, columns=["media_id", "payload"])

    videos = ids.mapInPandas(gen, schema="media_id long, payload binary")
    out = sample_video_frames(videos, every=1, fps=25.0)
    return out._sdf.select("media_id", "frame_idx", "ts_ms", "height", "width")


_q152_sql = """
SELECT doc_id AS media_id, i AS frame_idx,
       CAST(i * 40 AS BIGINT) AS ts_ms,
       CAST(4 AS INT) AS height, CAST(6 AS INT) AS width
FROM documents, LATERAL unnest(generate_series(0, doc_id % 3)) AS t(i)
WHERE doc_id < 50
"""


def _q153(spark, sf_dir):
    """Corpus health report (llm/text.py corpus_stats_frame): per-source doc
    counts, token totals/means, exact p50/p90 token counts, empty/ASCII
    fractions — one scan + one tiny groupBy."""
    from polars_net_spark.llm import corpus_stats_frame

    d = _t(spark, sf_dir, "documents")
    return corpus_stats_frame(d, source_col="source").spark


_q153_sql = """
WITH t AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                         w -> length(w) > 0)) AS nt,
         CASE WHEN len(list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
                                   w -> length(w) > 0)) = 0 THEN 1 ELSE 0 END AS e,
         CASE WHEN regexp_full_match(text, '[\\x00-\\x7F]*') THEN 1 ELSE 0 END AS a
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       round(avg(nt), 6) AS mean_tokens,
       round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 6) AS p90_tokens,
       round(avg(e), 6) AS empty_frac,
       round(avg(a), 6) AS ascii_frac
FROM t GROUP BY source
"""


def _q154(spark, sf_dir):
    """SimHash near-dup pairs (llm/dedup.py simhash_near_dup_pairs): 60-bit
    md5 signatures → 6-band bucket join → exact bit_count(xor) verify.
    max_hamming=5 < bands=6 ⇒ pigeonhole total recall: output is EXACTLY
    {pairs: Hamming ≤ 5}, so the banding strategy is value-invisible and the
    DuckDB all-pairs oracle matches bit-for-bit."""
    from polars_net_spark.llm import simhash_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        d, max_hamming=5, bands=6, bits=60, hash_fn="md5"
    ).spark


_q154_sql = f"""
WITH sigs AS ({_simhash_md5_oracle_sql()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
"""


def _q155(spark, sf_dir):
    """DPO preference-pair prep (llm/preference.py): synthetic prompt groups
    (doc_id % 100), score = n_chars; per group the struct-max/min aggregate
    picks (chosen, rejected) deterministically — one map-side-combining
    shuffle, one row per prompt, no window/sort."""
    from polars_net_spark.llm import preference_pairs

    d = _t(spark, sf_dir, "documents")
    scored = d.spark.select(
        (F.col("doc_id") % 100).alias("prompt_id"),
        F.col("doc_id"),
        F.col("text"),
        F.col("n_chars").alias("score"),
    )
    return preference_pairs(scored, min_margin=1.0).spark


_q155_sql = """
WITH t AS (
  SELECT doc_id % 100 AS prompt_id, doc_id, text, CAST(n_chars AS DOUBLE) AS s
  FROM documents),
hi AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY prompt_id ORDER BY s DESC, doc_id DESC) AS rn
  FROM t) WHERE rn = 1),
lo AS (SELECT * FROM (
  SELECT *, row_number() OVER (PARTITION BY prompt_id ORDER BY s ASC, doc_id ASC) AS rn
  FROM t) WHERE rn = 1)
SELECT hi.prompt_id, hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
       hi.text AS chosen, lo.text AS rejected,
       round(hi.s - lo.s, 6) AS margin
FROM hi JOIN lo ON hi.prompt_id = lo.prompt_id
WHERE hi.doc_id <> lo.doc_id AND hi.s - lo.s >= 1.0
"""


def _q156(spark, sf_dir):
    """Deterministic epoch oversampling (llm/sampling.py oversample_by_weight):
    weight 1 + (doc_id%5)/2 ∈ {1.0,1.5,2.0,2.5,3.0}; each doc appears
    floor(w) times + 1 iff its md5 bucket lands under frac(w).  Map-only —
    sequence+explode, zero shuffles; the copy index rides along for
    downstream interleaving."""
    from polars_net_spark.llm import oversample_by_weight

    d = _t(spark, sf_dir, "documents")
    base = d.spark.select(
        "doc_id", (F.lit(1.0) + (F.col("doc_id") % 5) / 2).alias("w")
    )
    return (
        oversample_by_weight(base, key_col="doc_id", weight="w", salt="ep")
        .spark.select("doc_id", "epoch_idx")
    )


_q156_sql = """
WITH h AS (
  SELECT doc_id, 1.0 + (doc_id % 5) / 2.0 AS w,
         md5('ep' || CAST(doc_id AS VARCHAR)) AS hs
  FROM documents),
b AS (
  SELECT doc_id, w,
    CAST(floor(w) AS INT) +
    CASE WHEN list_reduce(list_transform(generate_series(1, 8),
                  i -> strpos('0123456789abcdef', substr(hs, i, 1)) - 1),
                  (a, x) -> a * 16 + x) % 10000
         < round((w - floor(w)) * 10000) THEN 1 ELSE 0 END AS n
  FROM h)
SELECT doc_id, CAST(i AS INT) AS epoch_idx
FROM b, LATERAL unnest(generate_series(1, n)) AS u(i)
WHERE n >= 1
"""


def _q157(spark, sf_dir):
    """Deterministic contrastive negative sampling (llm/retrieval.py
    negative_sample_pairs): 50 query vectors × 3 draws, each draw an md5
    bucket probe into the 64-bucket corpus + min-md5 pick — one equi-join,
    one map-side min-struct aggregate, zero RNG."""
    from polars_net_spark.llm import negative_sample_pairs

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.spark.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("vec_id").alias("pos_id")
    )
    corpus = emb.spark.select("vec_id")
    return negative_sample_pairs(
        queries, corpus, corpus_id="vec_id", k=3, num_buckets=64, salt="neg"
    ).spark


_q157_sql = """
WITH corpus AS (
  SELECT vec_id AS neg,
         list_reduce(list_transform(generate_series(1, 8),
             i -> strpos('0123456789abcdef', substr(md5('neg' || CAST(vec_id AS VARCHAR)), i, 1)) - 1),
             (a, x) -> a * 16 + x) % 64 AS b
  FROM embeddings),
draws AS (
  SELECT vec_id AS query_id, vec_id AS pos, j,
         list_reduce(list_transform(generate_series(1, 8),
             i -> strpos('0123456789abcdef', substr(md5('neg' || CAST(vec_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), i, 1)) - 1),
             (a, x) -> a * 16 + x) % 64 AS b
  FROM embeddings, LATERAL unnest(generate_series(1, 3)) AS t(j)
  WHERE vec_id < 50),
cand AS (
  SELECT d.query_id, d.j, c.neg,
         md5('neg' || CAST(d.query_id AS VARCHAR) || '#' || CAST(d.j AS VARCHAR) || '#' || CAST(c.neg AS VARCHAR)) AS r
  FROM draws d JOIN corpus c USING (b)
  WHERE c.neg <> d.pos),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id, j ORDER BY r, neg) AS rn
  FROM cand)
SELECT query_id, CAST(j AS INT) AS draw_idx, neg AS neg_id
FROM ranked WHERE rn = 1
"""


def _q158(spark, sf_dir):
    """Length-bucketed batch assignment (llm/chunking.py
    length_bucket_batches): bucket by n_chars edges, 4 hash shards, batches
    of 8 inside each (bucket, shard) in deterministic md5 order — the
    padding-efficient trainer batching step; one (bucket, shard)-keyed
    shuffle, shards bound task size."""
    from polars_net_spark.llm import length_bucket_batches

    d = _t(spark, sf_dir, "documents")
    out = length_bucket_batches(
        d.spark.select("doc_id", "n_chars"),
        token_col="n_chars",
        id_col="doc_id",
        batch_size=8,
        edges=[200, 400, 800],
        num_shards=4,
        salt="lb",
    )
    return out.spark.select(
        "doc_id", "length_bucket", "shard", "batch_idx", "pos_in_batch"
    )


_q158_sql = """
WITH t AS (
  SELECT doc_id,
    (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
   + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
   + CASE WHEN n_chars >= 800 THEN 1 ELSE 0 END) AS length_bucket,
    (list_reduce(list_transform(generate_series(1, 8),
        i -> strpos('0123456789abcdef', substr(md5('lb|shard' || CAST(doc_id AS VARCHAR)), i, 1)) - 1),
        (a, x) -> a * 16 + x) % 10000) % 4 AS shard,
    md5('lb' || CAST(doc_id AS VARCHAR)) AS r
  FROM documents),
o AS (
  SELECT *, row_number() OVER (PARTITION BY length_bucket, shard ORDER BY r, doc_id) - 1 AS rn
  FROM t)
SELECT doc_id, CAST(length_bucket AS INT) AS length_bucket, CAST(shard AS BIGINT) AS shard,
       CAST(rn // 8 AS INT) AS batch_idx, CAST(rn % 8 AS INT) AS pos_in_batch
FROM o
"""


def _q159(spark, sf_dir):
    """STREAM-STREAM interval join gate (second true Structured Streaming
    gate; q151 covers windowed agg): click stream ⋈ purchase stream on
    user_id with purchase within 1h after the click, watermarks on both
    sides, availableNow append to a memory sink.  maxFilesPerTrigger is set
    above the staged file count so all data lands in ONE micro-batch —
    no cross-batch state eviction, so the pair set is deterministic and the
    DuckDB oracle is a plain interval self-join."""
    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 100000)
            .parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("user_id") % 10 == 0)
        )

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    buys = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("bu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("bts"),
            F.col("value"),
        )
        .withWatermark("bts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("cu") == F.col("bu"))
        & (F.col("bts") >= F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = joined.select(
        F.col("cu").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("bts")) - F.unix_micros(F.col("cts"))).alias("lag_us"),
        F.round("value", 6).alias("purchase_value"),
    )
    return _memory_stream_gate(spark, out, "q159_ssjoin", "append", timeout=180)


_q159_sql = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS lag_us,
       round(p.value, 6) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND c.user_id % 10 = 0
"""


def _q160(spark, sf_dir):
    """Order-sensitive aggregation via Expr.sort_by (polars sort_by in agg
    context): first/last value by event time compile to min_by/max_by (true
    aggregates, map-side combining — no window, no group materialization);
    the event-type sequence is a comparator-sorted implode (size-contracted
    like implode itself)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.group_by("user_id")
        .agg(
            col("value").sort_by("ts", "event_id").first().alias("first_value"),
            col("value").sort_by("ts", "event_id").last().alias("last_value"),
            col("event_type")
            .sort_by("ts", "event_id", descending=True)
            .implode()
            .alias("types_desc"),
        )
        .with_columns(col("types_desc").list.join("|").alias("types_desc"))
        .sort("user_id")
        .spark.select(
            "user_id",
            F.round("first_value", 6).alias("first_value"),
            F.round("last_value", 6).alias("last_value"),
            "types_desc",
        )
    )


_q160_sql = """
SELECT user_id,
       round(first(value ORDER BY ts, event_id), 6) AS first_value,
       round(last(value ORDER BY ts, event_id), 6) AS last_value,
       array_to_string(list(event_type ORDER BY ts DESC, event_id DESC), '|') AS types_desc
FROM events GROUP BY user_id ORDER BY user_id
"""


def _q161(spark, sf_dir):
    """Vocabulary build + token-id encoding (llm/vocab.py): top-50 vocab
    (one map-side-combining count + TakeOrdered; rank window only over the
    50-row result), then posexplode → broadcast vocab join → one doc-keyed
    sorted-implode shuffle.  OOV encodes as -1."""
    from polars_net_spark.llm import build_vocab, encode_tokens_frame

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d, vocab_size=50)
    enc = encode_tokens_frame(d, vocab)
    return enc.spark.select(
        "doc_id",
        F.array_join(
            F.transform(F.slice("token_ids", 1, 8), lambda x: x.cast("string")), "|"
        ).alias("head_ids"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_q161_sql = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> length(w) > 0) AS ws
  FROM documents),
counts AS (
  SELECT w AS term, count(*) AS cnt
  FROM toks, LATERAL unnest(ws) AS t(w) GROUP BY w),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term) - 1 AS token_id
  FROM (SELECT * FROM counts ORDER BY cnt DESC, term LIMIT 50)),
posed AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS term
  FROM toks, LATERAL unnest(generate_series(1, len(ws))) AS g(i)),
enc AS (
  SELECT p.doc_id, p.pos, coalesce(v.token_id, -1) AS tid
  FROM posed p LEFT JOIN vocab v USING (term))
SELECT doc_id,
       array_to_string(list(tid ORDER BY pos)[1:8], '|') AS head_ids,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM enc GROUP BY doc_id
"""


def _q162(spark, sf_dir):
    """Sentence segmentation (llm/text.py split_sentences_frame): lookaround-
    free regex runs, map-only posexplode — the doc → sentence row explosion
    of a curation pipeline."""
    from polars_net_spark.llm import split_sentences_frame

    d = _t(spark, sf_dir, "documents")
    return split_sentences_frame(d).spark.select(
        "doc_id", F.col("sent_idx").cast("int").alias("sent_idx"), "sentence"
    )


_q162_sql = """
WITH s AS (
  SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*', 0) AS raw
  FROM documents),
t AS (
  SELECT doc_id, i AS ord0, trim(raw[i]) AS sentence
  FROM s, LATERAL unnest(generate_series(1, len(raw))) AS g(i)),
kept AS (SELECT * FROM t WHERE length(sentence) >= 1)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord0) - 1 AS INT) AS sent_idx,
       sentence
FROM kept
"""


def _q163(spark, sf_dir):
    """Z-order (Morton) layout key (operators/zorder.py): bit-interleaved
    bucket ranks over (l_orderkey, l_partkey) — the multi-dimension scan-
    pruning layout for 100 TB writes.  Pure Column math, map-only with the
    explicit ranges used here."""
    from polars_net_spark.operators.zorder import with_zorder_key

    li = _t(spark, sf_dir, "lineitem")
    out = with_zorder_key(
        li,
        ["l_orderkey", "l_partkey"],
        bits=6,
        ranges={"l_orderkey": (0.0, 61000.0), "l_partkey": (0.0, 21000.0)},
    )
    return out.spark.select("l_orderkey", "l_partkey", "l_linenumber", "zorder_key")


def _zorder_oracle_sql(bits: int = 6) -> str:
    b0 = "least(63, greatest(0, CAST(floor(l_orderkey / 61000.0 * 64) AS BIGINT)))"
    b1 = "least(63, greatest(0, CAST(floor(l_partkey / 21000.0 * 64) AS BIGINT)))"
    terms = []
    for i in range(bits):
        terms.append(f"((b0 // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((b1 // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return f"""
WITH t AS (
  SELECT l_orderkey, l_partkey, l_linenumber, {b0} AS b0, {b1} AS b1
  FROM lineitem)
SELECT l_orderkey, l_partkey, l_linenumber,
       CAST({' + '.join(terms)} AS BIGINT) AS zorder_key
FROM t
"""


_q163_sql = _zorder_oracle_sql()


def _q164(spark, sf_dir):
    """Incremental dedup against a reference corpus (llm/dedup.py
    dedup_against): even docs are the 'new crawl', odd docs the existing
    corpus; new docs with an n-gram Jaccard ≥ 0.8 reference twin drop."""
    from polars_net_spark.llm import dedup_against

    d = _t(spark, sf_dir, "documents")
    # new side thinned to 40% of evens: the gram-postings join cost is
    # sum_g(dfn_g * dfr_g) and this corpus is heavily templated (hot grams)
    new = d.spark.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") % 10 < 4))
    ref = d.spark.filter(F.col("doc_id") % 2 == 1)
    return dedup_against(new, ref, threshold=0.8).spark.select("doc_id", "n_chars")


_q164_sql = """
WITH nw AS (SELECT * FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 < 4),
rf AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
wn AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM nw),
gn AS (SELECT doc_id,
              list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
       FROM wn WHERE len(ws) >= 3),
wr AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM rf),
gr AS (SELECT doc_id,
              list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
       FROM wr WHERE len(ws) >= 3),
en AS (SELECT doc_id, len(grams) AS na, unnest(grams) AS gram FROM gn),
er AS (SELECT doc_id AS rid, len(grams) AS nb, unnest(grams) AS gram FROM gr),
p AS (SELECT en.doc_id, er.rid, en.na, er.nb, count(*) AS shared
      FROM en JOIN er USING (gram) GROUP BY 1, 2, 3, 4),
dups AS (SELECT DISTINCT doc_id FROM p
         WHERE round(shared / (na + nb - shared), 6) >= 0.8)
SELECT doc_id, n_chars FROM nw
WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


def _q165(spark, sf_dir):
    """Per-key OLS trend fit (operators/regression.py fit_linear_by_key):
    value ~ days-since-2024-01-01 per user — five power sums in ONE
    map-side-combining aggregate, closed-form slope/intercept/r2.  x is in
    DAYS, not raw microseconds (power sums square x; docstring contract)."""
    from polars_net_spark.operators.regression import fit_linear_by_key

    ev = _t(spark, sf_dir, "events")
    x_days = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
        - F.lit(1704067200.0)
    ) / F.lit(86400.0)
    prepared = ev.spark.select("user_id", x_days.alias("x"), F.col("value").alias("y"))
    return fit_linear_by_key(prepared, "user_id", "x", "y").spark


_q165_sql = """
WITH t AS (
  SELECT user_id, (epoch(ts) - 1704067200) / 86400.0 AS x, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM t GROUP BY user_id)
SELECT user_id, n,
  CASE WHEN n*sxx - sx*sx > 0
       THEN round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) END AS slope,
  CASE WHEN n*sxx - sx*sx > 0
       THEN round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) END AS intercept,
  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
       THEN round((n*sxy - sx*sy) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS r2
FROM a
"""


def _q166(spark, sf_dir):
    """Key-skew probe (operators/regression.py key_skew_report): heaviest
    event_type keys with corpus fraction — map-side count + TakeOrdered,
    1-row total broadcast."""
    from polars_net_spark.operators.regression import key_skew_report

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, "event_type", top_k=20).spark


_q166_sql = """
WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type),
t AS (SELECT sum(cnt) AS total FROM c)
SELECT event_type, cnt, round(cnt / t.total, 6) AS frac,
       CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS INT) AS rank
FROM c, t
ORDER BY cnt DESC, event_type LIMIT 20
"""


def _q167(spark, sf_dir):
    """Per-key z-score outlier flags (operators/analytics.py
    with_outlier_flags): one grouped aggregate joined back — map-side
    combining, AQE picks the broadcast."""
    from polars_net_spark.operators.analytics import with_outlier_flags

    ev = _t(spark, sf_dir, "events")
    out = with_outlier_flags(
        ev.spark.select("event_id", "event_type", "value"),
        "value", by="event_type", threshold=2.5, score_col="score",
    )
    return out.spark.select("event_id", "event_type", "is_outlier", "score")


_q167_sql = """
WITH s AS (
  SELECT event_type, avg(value) AS m, var_pop(value) AS v
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type,
       CASE WHEN e.value IS NULL THEN NULL
            WHEN sqrt(s.v) > 0 AND abs(e.value - s.m) / sqrt(s.v) > 2.5 THEN true
            ELSE false END AS is_outlier,
       CASE WHEN sqrt(s.v) > 0 THEN round(abs(e.value - s.m) / sqrt(s.v), 6) END AS score
FROM events e JOIN s USING (event_type)
"""


def _q168(spark, sf_dir):
    """Per-user silence gaps > 2 hours (operators/analytics.py find_gaps):
    one lag window keyed on user_id, deterministic (event_id tie-break)."""
    from polars_net_spark.operators.analytics import find_gaps

    ev = _t(spark, sf_dir, "events")
    return find_gaps(
        ev.spark, "ts", by="user_id", min_gap="2 hours", tie_cols=["event_id"]
    ).spark


_q168_sql = """
WITH l AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT user_id, prev AS gap_start, ts AS gap_end,
       round(date_diff('microsecond', prev, ts) / 1000000.0, 6) AS gap_seconds
FROM l WHERE date_diff('microsecond', prev, ts) / 1000000.0 > 7200
"""


def _q169(spark, sf_dir):
    """Weekly cohort-retention triangle (operators/analytics.py
    cohort_retention): first-seen week per user (map-side min) + distinct
    users per (cohort, offset) — two shuffles total."""
    from polars_net_spark.operators.analytics import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev.spark, "user_id", "ts", period="week").spark.select(
        F.col("cohort").cast("string").alias("cohort"),
        F.col("period_offset").cast("int").alias("period_offset"),
        F.col("n_users").cast("long").alias("n_users"),
    )


_q169_sql = """
WITH e AS (
  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS p FROM events),
f AS (SELECT u, min(p) AS cohort FROM e GROUP BY u)
SELECT CAST(cohort AS VARCHAR) AS cohort,
       CAST(date_diff('day', cohort, p) // 7 AS INT) AS period_offset,
       CAST(count(DISTINCT u) AS BIGINT) AS n_users
FROM e JOIN f USING (u)
GROUP BY 1, 2
"""


def _q170(spark, sf_dir):
    """Ordered funnel view -> click -> purchase (operators/analytics.py
    funnel_counts): per-user chained conditional mins over ONE grouped
    collect — single user-keyed shuffle, greedy-earliest semantics."""
    from polars_net_spark.operators.analytics import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(
        ev.spark, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).spark.select(
        "step", F.col("step_idx").cast("int").alias("step_idx"),
        F.col("n_users").cast("long").alias("n_users"),
    )


_q170_sql = """
WITH e AS (
  SELECT user_id AS u, event_type AS s, ts FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
m0 AS (SELECT u, min(ts) AS t0 FROM e WHERE s = 'view' GROUP BY u),
m1 AS (SELECT e.u, min(ts) AS t1 FROM e JOIN m0 ON e.u = m0.u
       WHERE s = 'click' AND ts > t0 GROUP BY e.u),
m2 AS (SELECT e.u, min(ts) AS t2 FROM e JOIN m1 ON e.u = m1.u
       WHERE s = 'purchase' AND ts > t1 GROUP BY e.u)
SELECT 'view' AS step, CAST(1 AS INT) AS step_idx,
       CAST((SELECT count(*) FROM m0) AS BIGINT) AS n_users
UNION ALL
SELECT 'click', CAST(2 AS INT), CAST((SELECT count(*) FROM m1) AS BIGINT)
UNION ALL
SELECT 'purchase', CAST(3 AS INT), CAST((SELECT count(*) FROM m2) AS BIGINT)
"""


def _q171(spark, sf_dir):
    """Blocked Levenshtein record linkage (operators/joins_ext.py
    fuzzy_join): every part name vs its FIRST-char-dropped variant —
    exactly the edit family the two-offset block emission is built for
    (left's offset-2 block == right's offset-1 block), so recall is total
    AND the gate is non-empty: every (name, name[1:]) pair verifies at
    distance 1, plus duplicate-name cross pairs.  Exact edit-distance
    verify inside shared 12-char blocks; never all-pairs."""
    from polars_net_spark.operators.joins_ext import fuzzy_join

    part = _t(spark, sf_dir, "part")
    left = part.spark.select(F.col("p_partkey").alias("lid"), F.col("p_name").alias("name"))
    # right: a deterministic 1-in-50 probe set — part names repeat heavily
    # (~90 distinct over 2k-20k rows), so an unsampled right side yields a
    # quadratic dup-name cross product (measured 21 s at sf0.1); the probe
    # keeps the gate value-rich (hundreds-thousands of verified pairs)
    # while the output stays linear in the corpus
    right = part.spark.filter(F.col("p_partkey") % 50 == 7).select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.expr("substr(p_name, 2)").alias("name"),
    )
    # block_chars=12: part names are 7-12 chars drawn from ~90 word combos,
    # so 4-char prefixes collapse into a few hot blocks (measured 108 s at
    # sf0.1 — sum(df_block^2) is THE fuzzy-join cost driver); 12-char blocks
    # are (nearly) whole names and stay tiny, and the drop-first-char edit
    # is caught by the offset emission by construction
    # pinned to the direct row-level plan (levers OFF) — since r11 the
    # public default is distinct_values=True + length_band=True (the
    # measured scale-safe plan: 1.72x and 1.99x wall on 10x data in two
    # sf0.1 -> sf1 runs); the gate keeps the
    # original plan so its oracle record stays comparable across rounds
    out = fuzzy_join(
        left, right, on="name", max_distance=2, block_chars=12,
        distinct_values=False, length_band=False,
    )
    return out.spark.select(
        "lid", F.col("name").alias("lname"), "rid",
        F.col("name_right").alias("rname"), F.col("edit_distance").cast("int").alias("edit_distance"),
    )


_q171_sql = """
WITH l AS (SELECT p_partkey AS lid, p_name AS lname, lower(trim(p_name)) AS ln FROM part),
r AS (SELECT p_partkey + 1000000 AS rid,
             substr(p_name, 2) AS rname,
             lower(trim(substr(p_name, 2))) AS rn
      FROM part WHERE p_partkey % 50 = 7),
lb AS (SELECT lid, lname, ln, unnest(list_distinct([substr(ln, 1, 12), substr(ln, 2, 12)])) AS blk FROM l),
rb AS (SELECT rid, rname, rn, unnest(list_distinct([substr(rn, 1, 12), substr(rn, 2, 12)])) AS blk FROM r)
SELECT DISTINCT lid, lname, rid, rname,
       CAST(levenshtein(ln, rn) AS INT) AS edit_distance
FROM lb JOIN rb USING (blk)
WHERE levenshtein(ln, rn) <= 2
"""


def _q172(spark, sf_dir):
    """SCD type-2 history apply (operators/merge.py scd2_apply): change
    batch folded into a versioned dimension — changed keys close + re-open,
    equal keys no-op, new keys insert; one full-outer join, 1-2 rows per key
    via conditional array explode."""
    from polars_net_spark.operators.merge import scd2_apply

    cust = _t(spark, sf_dir, "customer").spark
    d0, d2 = F.lit("2020-01-01").cast("date"), F.lit("2024-06-01").cast("date")
    hist = cust.select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
        d0.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("k"),
        F.round(
            F.when(F.col("c_custkey") % 6 == 0, F.col("c_acctbal"))
            .otherwise(F.col("c_acctbal") + 100),
            2,
        ).alias("bal"),
        d2.alias("ts"),
    )
    fresh = cust.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 100000).alias("k"),
        F.round("c_acctbal", 2).alias("bal"),
        d2.alias("ts"),
    )
    out = scd2_apply(hist, changed.unionByName(fresh), "k", "bal", "ts")
    # dates as strings: Spark returns python date objects (object dtype),
    # DuckDB datetime64 — string-typed output hashes identically
    return out.spark.select(
        "k", "bal",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )


_q172_sql = """
WITH h AS (
  SELECT c_custkey AS k, round(c_acctbal, 2) AS bal,
         DATE '2020-01-01' AS vf FROM customer),
u AS (
  SELECT c_custkey AS k,
         round(CASE WHEN c_custkey % 6 = 0 THEN c_acctbal ELSE c_acctbal + 100 END, 2) AS bal
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 100000, round(c_acctbal, 2) FROM customer WHERE c_custkey % 5 = 0),
j AS (
  SELECT coalesce(h.k, u.k) AS k, h.bal AS obal, u.bal AS ubal,
         h.k IS NOT NULL AS has_o, u.k IS NOT NULL AS has_u, h.vf AS vf
  FROM h FULL JOIN u ON h.k = u.k)
SELECT k, obal AS bal, CAST(vf AS VARCHAR) AS valid_from, CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
FROM j WHERE has_o AND (NOT has_u OR obal = ubal)
UNION ALL
SELECT k, obal, CAST(vf AS VARCHAR), '2024-06-01', false
FROM j WHERE has_o AND has_u AND obal <> ubal
UNION ALL
SELECT k, ubal, '2024-06-01', CAST(NULL AS VARCHAR), true
FROM j WHERE has_u AND (NOT has_o OR obal <> ubal)
"""


def _q173(spark, sf_dir):
    """THIRD true Structured Streaming gate: native SESSION WINDOWS
    (F.session_window, 30-min gap) per user under availableNow complete
    mode — the stateful session operator itself, not the batch lag+cumsum
    emulation (q37).  An event at exactly start+gap opens a NEW session
    (half-open windows), which the oracle replicates as an exact microsecond
    gap >= 1800 s (counting second-boundary crossings would open a session
    early on sub-second timestamps)."""
    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 100000)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_v"))
    )
    return _memory_stream_gate(spark, stream, "q173_sessions", "complete").select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "user_id",
        F.col("n").cast("long").alias("n"),
        "sum_v",
    )


_q173_sql = """
WITH l AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS ns
  FROM events),
s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM l)
SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
       CAST(count(*) AS BIGINT) AS n, round(sum(value), 6) AS sum_v
FROM s GROUP BY user_id, sid
"""


def _q174(spark, sf_dir):
    """Fixed-iteration PageRank (operators/graph.py): 3 power-iteration
    rounds over a derived 500-node graph — per round one src-keyed join +
    one dst-keyed map-side-combining aggregate; closed-form, so the oracle
    is 3 chained CTEs."""
    from polars_net_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    edges = li.spark.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    return pagerank(edges, iterations=3).spark


def _pagerank_oracle_sql(iterations: int = 3, d: float = 0.85) -> str:
    rounds = []
    prev = "r0"
    for i in range(1, iterations + 1):
        rounds.append(
            f"c{i} AS (SELECT e.d AS v, sum({prev}.r / deg.deg) AS s "
            f"FROM e JOIN {prev} ON e.s = {prev}.v JOIN deg ON e.s = deg.s GROUP BY e.d),\n"
            f"r{i} AS (SELECT v.v, (1 - {d}) / (SELECT n FROM n) + {d} * coalesce(c{i}.s, 0) AS r "
            f"FROM v LEFT JOIN c{i} ON v.v = c{i}.v)"
        )
        prev = f"r{i}"
    return f"""
WITH e AS (SELECT DISTINCT l_orderkey % 500 AS s, l_partkey % 500 AS d FROM lineitem),
v AS (SELECT DISTINCT v FROM (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
n AS (SELECT count(*) AS n FROM v),
deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
r0 AS (SELECT v.v, 1.0 / (SELECT n FROM n) AS r FROM v),
{', '.join(rounds)}
SELECT v AS id, round(r, 6) AS rank FROM {prev}
"""


_q174_sql = _pagerank_oracle_sql()


def _q175(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (llm/sampling.py
    sample_weighted_hash, Efraimidis–Spirakis with the md5 hash as the RNG):
    top-5 docs per source by u^(1/n_chars) — grouped window with
    WindowGroupLimit map-side pruning, fully deterministic."""
    from polars_net_spark.llm import sample_weighted_hash

    d = _t(spark, sf_dir, "documents")
    out = sample_weighted_hash(
        d.spark.select("doc_id", "source", "n_chars"),
        key_col="doc_id", weight_col="n_chars", k=5, by="source", salt="ws",
    )
    return out.spark.select("doc_id", "source")


_q175_sql = """
WITH h AS (
  SELECT doc_id, source, n_chars,
         (list_reduce(list_transform(generate_series(1, 12),
             i -> strpos('0123456789abcdef', substr(md5('ws' || CAST(doc_id AS VARCHAR)), i, 1)) - 1),
             (a, x) -> a * 16.0 + x) + 0.5) / 281474976710656.0 AS u
  FROM documents WHERE n_chars > 0),
s AS (
  SELECT doc_id, source, pow(u, 1.0 / n_chars) AS score FROM h),
r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
  FROM s)
SELECT doc_id, source FROM r WHERE rn <= 5
"""


def _q176(spark, sf_dir):
    """Pairwise correlation matrix (operators/regression.py corr_matrix):
    6 Pearson pairs over lineitem numerics in ONE scan + one aggregate
    (plan-width cost, not extra passes); long-format output."""
    from polars_net_spark.operators.regression import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    return corr_matrix(
        li.spark, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ).spark


_q176_sql = """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
UNION ALL SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
UNION ALL SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 6) FROM lineitem
UNION ALL SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem
UNION ALL SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax), 6) FROM lineitem
UNION ALL SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 6) FROM lineitem
"""


def _q177(spark, sf_dir):
    """Rolling correlation (Expr.rolling_corr): value vs time over a
    20-row trailing window per user — F.corr INSIDE the window frame, one
    WindowExec, no UDF."""
    ev = _t(spark, sf_dir, "events")
    x = pls.Expr(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6))
    out = ev.with_columns(
        col("value")
        .rolling_corr(x, 20, order_by=[col("ts"), col("event_id")], partition_by=["user_id"])
        .alias("rc")
    )
    return out.spark.select("event_id", F.round("rc", 6).alias("rc"))


_q177_sql = """
SELECT event_id,
       CASE WHEN count(*) OVER w >= 20
            THEN round(corr(value, epoch(ts)) OVER w, 6) END AS rc
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def _daily_series(spark, sf_dir):
    """Shared prep for the time-series stat gates: per-type daily value sums
    with a day index."""
    ev = _t(spark, sf_dir, "events")
    return ev.spark.groupBy(
        F.col("event_type"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))


_DAILY_SQL = """
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2
"""


def _q178(spark, sf_dir):
    """Additive seasonal decomposition (operators/analytics.py
    seasonal_decompose): weekly period over per-type daily sums — centered
    rolling-mean trend (one WindowExec), per-phase seasonal means
    re-centered to zero, residual; statsmodels' classic recipe as pure
    window+aggregate composition."""
    from polars_net_spark.operators.analytics import seasonal_decompose

    s = _daily_series(spark, sf_dir)
    out = seasonal_decompose(s, "v", "d", period=7, by="event_type")
    return out.spark.select("event_type", "d", "v", "trend", "seasonal", "residual")


_q178_sql = f"""
WITH s AS ({_DAILY_SQL}),
t AS (
  SELECT *, CASE WHEN count(*) OVER w = 7 THEN avg(v) OVER w END AS trend
  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
pm AS (SELECT event_type, d % 7 AS ph, avg(v - trend) AS pm
       FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
gm AS (SELECT event_type, avg(pm) AS gm FROM pm GROUP BY 1),
se AS (SELECT pm.event_type, ph, pm - gm AS seas FROM pm JOIN gm USING (event_type))
SELECT t.event_type, t.d, t.v, round(trend, 6) AS trend, round(seas, 6) AS seasonal,
       round(v - trend - seas, 6) AS residual
FROM t JOIN se ON t.event_type = se.event_type AND t.d % 7 = se.ph
"""


def _q179(spark, sf_dir):
    """Autocorrelation function (operators/analytics.py acf): lags 1..3 of
    the per-type daily series — all lag columns from ONE window, pairwise
    corr aggregates, long-format output."""
    from polars_net_spark.operators.analytics import acf

    s = _daily_series(spark, sf_dir)
    return acf(s, "v", "d", lags=3, by="event_type").spark.select(
        "event_type", F.col("lag").cast("int").alias("lag"), "acf"
    )


_q179_sql = f"""
WITH s AS ({_DAILY_SQL}),
l AS (
  SELECT event_type, v,
         lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2, lag(v, 3) OVER w AS l3
  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY d)),
a AS (
  SELECT event_type, round(corr(v, l1), 6) AS a1, round(corr(v, l2), 6) AS a2,
         round(corr(v, l3), 6) AS a3
  FROM l GROUP BY event_type)
SELECT event_type, CAST(1 AS INT) AS lag, a1 AS acf FROM a
UNION ALL SELECT event_type, CAST(2 AS INT), a2 FROM a
UNION ALL SELECT event_type, CAST(3 AS INT), a3 FROM a
"""


def _q180(spark, sf_dir):
    """CUSUM drift screen (operators/analytics.py cusum_flags): per-type
    running sum of (x − mean) with a threshold·std flag — one stats
    aggregate + one cumulative window."""
    from polars_net_spark.operators.analytics import cusum_flags

    s = _daily_series(spark, sf_dir)
    return cusum_flags(s, "v", "d", by="event_type", threshold=3.0).spark.select(
        "event_type", "d", "cusum", "is_drift"
    )


_q180_sql = f"""
WITH s AS ({_DAILY_SQL}),
st AS (SELECT event_type, avg(v) AS m, sqrt(var_pop(v)) AS sd FROM s GROUP BY 1)
SELECT s.event_type, s.d,
       round(sum(s.v - st.m) OVER (PARTITION BY s.event_type ORDER BY s.d
                                   ROWS UNBOUNDED PRECEDING), 6) AS cusum,
       CASE WHEN st.sd > 0
            THEN abs(sum(s.v - st.m) OVER (PARTITION BY s.event_type ORDER BY s.d
                                           ROWS UNBOUNDED PRECEDING)) > 3.0 * st.sd
            ELSE false END AS is_drift
FROM s JOIN st USING (event_type)
"""


def _q181(spark, sf_dir):
    """Per-key trimmed mean (operators/analytics.py trimmed_mean_by_key):
    mean inside the [0.1, 0.9] exact-quantile band per event_type."""
    from polars_net_spark.operators.analytics import trimmed_mean_by_key

    ev = _t(spark, sf_dir, "events")
    return trimmed_mean_by_key(
        ev.spark.select("event_type", "value"), "value", by="event_type", trim=0.1
    ).spark


_q181_sql = """
WITH b AS (
  SELECT event_type, quantile_cont(value, 0.1) AS lo, quantile_cont(value, 0.9) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_type,
       round(avg(CASE WHEN e.value BETWEEN b.lo AND b.hi THEN e.value END), 6) AS trimmed_mean,
       CAST(count(CASE WHEN e.value BETWEEN b.lo AND b.hi THEN 1 END) AS BIGINT) AS n_used
FROM events e JOIN b USING (event_type)
GROUP BY e.event_type
"""


def _q182(spark, sf_dir):
    """Interval-overlap join (operators/joins_ext.py overlap_join): click
    1h-windows × view 30m-windows per user, bucket=1800 s — intervals tile
    to buckets, pairs meet once (first-common-bucket rule), per-task pairs
    bounded by events-per-user-per-bucket."""
    from polars_net_spark.operators.joins_ext import overlap_join

    ev = _t(spark, sf_dir, "events").spark
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        sec.alias("s"), (sec + 3600).alias("e"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        sec.alias("s"), (sec + 1800).alias("e"),
    )
    out = overlap_join(clicks, views, "s", "e", "s", "e", on="user_id", bucket=1800)
    return out.spark.select("user_id", "click_id", "view_id")


_q182_sql = """
WITH c AS (SELECT user_id, event_id AS click_id, epoch(ts) AS s, epoch(ts) + 3600 AS e
           FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, event_id AS view_id, epoch(ts) AS s, epoch(ts) + 1800 AS e
      FROM events WHERE event_type = 'view')
SELECT c.user_id, click_id, view_id
FROM c JOIN v ON c.user_id = v.user_id AND c.s <= v.e AND v.s <= c.e
"""


def _q183(spark, sf_dir):
    """Cross-frame embedding threshold join (llm/similarity.py
    embedding_threshold_join): even vectors × odd vectors at cosine ≥ 0.45 —
    broadcast-right chunked-BLAS path (left never shuffles); the
    both-sides-huge route is the hyperplane-bucketed equi-join (plan-tested
    in unit tests)."""
    from polars_net_spark.llm import embedding_threshold_join

    emb = _t(spark, sf_dir, "embeddings").spark
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_threshold_join(left, right, threshold=0.45).spark


_q183_sql = """
WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 0),
r AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 2 = 1)
SELECT l.vec_id AS vec_id_left, r.vec_id AS vec_id_right,
       round(list_dot_product(l.v, r.v) /
             (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6) AS cosine
FROM l, r
WHERE round(list_dot_product(l.v, r.v) /
            (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 6) >= 0.45
"""


def _q184(spark, sf_dir):
    """Quantile (rank) normalization (operators/analytics.py
    with_rank_normalized): (avg_rank − 0.5)/n per event_type — ties share
    their average rank, one window ordering."""
    from polars_net_spark.operators.analytics import with_rank_normalized

    ev = _t(spark, sf_dir, "events")
    out = with_rank_normalized(
        ev.spark.select("event_id", "event_type", "value"), "value", by="event_type"
    )
    return out.spark.select("event_id", "event_type", "rank_norm")


_q184_sql = """
SELECT event_id, event_type,
       CASE WHEN value IS NOT NULL THEN
         round((avg(rk) OVER (PARTITION BY event_type, value) - 0.5)
               / (count(value) OVER (PARTITION BY event_type)), 6)
       END AS rank_norm
FROM (
  SELECT event_id, event_type, value,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY value ASC NULLS LAST) AS DOUBLE) AS rk
  FROM events)
"""


def _q185(spark, sf_dir):
    """Sparse TF-IDF cosine pairs (llm/retrieval.py tfidf_cosine_pairs):
    bag-of-words sibling of the dense embedding join — smoothed-idf vector
    space restricted to df ≤ 0.2·N (stop-term removal is the semantics AND
    the df² scale guard), postings self-join keyed on term."""
    from polars_net_spark.llm import tfidf_cosine_pairs

    d = _t(spark, sf_dir, "documents")
    sub = d.spark.filter(F.col("doc_id") % 10 == 0)
    return tfidf_cosine_pairs(
        sub, threshold=0.12, max_df_ratio=1.0, ngram=2
    ).spark


_q185_sql = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
wsx AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM docs),
toks AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS term
  FROM wsx, LATERAL unnest(generate_series(1, len(ws) - 1)) AS g(i)
  WHERE len(ws) >= 2),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
n AS (SELECT count(DISTINCT doc_id) AS n FROM docs),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (SELECT doc_id, tf.term, tf * (ln((1.0 + n.n) / (1.0 + dfx.df)) + 1.0) AS w
      FROM tf JOIN dfx USING (term), n),
nr AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
d AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM d JOIN nr na ON d.id_a = na.doc_id JOIN nr nb ON d.id_b = nb.doc_id
WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.12
"""


def _q186(spark, sf_dir):
    """FOURTH true Structured Streaming gate: the gopher quality screen
    (q54's exact operator) applied to a DOCUMENT STREAM — map-only Column
    math, so append mode is deterministic and the batch oracle (q54's SQL)
    hash-verifies the streaming run row-for-row."""
    from polars_net_spark.llm import gopher_quality_frame

    src_dir = _stream_stage_dir(sf_dir, "documents")
    schema = _raw_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 100000)
        .parquet(src_dir)
    )
    scored = gopher_quality_frame(stream, min_stop_hits=1).spark.withColumn(
        "passes", F.col("passes").cast("long")
    )
    return _memory_stream_gate(spark, scored, "q186_stream_quality", "append")


_q186_sql = _q54_sql


def _q208(spark, sf_dir):
    """FIFTH true Structured Streaming gate: content DEDUP ON INGEST — the
    streaming form of dedup_exact.  Documents stream in, each is fingerprinted
    (md5 of lowercased whitespace-collapsed text, llm/text.py
    content_fingerprint) and dropDuplicates keeps state per fingerprint so
    re-crawled bodies never enter the corpus twice.  Emitting the fingerprint
    set (not surviving doc_ids) keeps the gate deterministic — WHICH copy
    survives is arrival order, WHAT content survives is not.  availableNow
    single batch; production runs put an ingest-time watermark on the stream
    and use dropDuplicatesWithinWatermark to bound state."""
    from polars_net_spark.llm import content_fingerprint

    src_dir = _stream_stage_dir(sf_dir, "documents")
    schema = _raw_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 100000)
        .parquet(src_dir)
        .select(content_fingerprint(F.col("text")).alias("fp"))
        .dropDuplicates(["fp"])
    )
    return _memory_stream_gate(spark, stream, "q208_stream_dedup", "append")


_q208_sql = """
SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _q187(spark, sf_dir):
    """Exact DECIMAL money arithmetic (dtype #22, datatypes.rs:77): prices
    cast to DECIMAL(14,2), revenue = price·(1−disc)·(1+tax) in DECIMAL
    lattice arithmetic, grouped exact sums — the floating-point-free
    accounting path (double sums of 6M line items drift; decimals cannot)."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(5,2)")
    tax = F.col("l_tax").cast("decimal(5,2)")
    rev = (price * (F.lit(1).cast("decimal(3,2)") - disc) * (F.lit(1).cast("decimal(3,2)") + tax))
    return (
        li.spark.groupBy("l_returnflag")
        .agg(
            F.sum(price).cast("decimal(24,2)").alias("sum_price"),
            F.sum(rev.cast("decimal(20,6)")).cast("decimal(30,6)").alias("sum_rev"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("sum_price").cast("string").alias("sum_price"),
            F.col("sum_rev").cast("string").alias("sum_rev"),
            F.col("n").cast("long").alias("n"),
        )
    )


_q187_sql = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS VARCHAR) AS sum_price,
       CAST(sum(CAST(
           CAST(l_extendedprice AS DECIMAL(14,2))
         * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(5,2)))
         * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(5,2)))
           AS DECIMAL(20,6))) AS VARCHAR) AS sum_rev,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
"""


def _q188(spark, sf_dir):
    """Event debounce: first event per (user, type) in each 10-minute
    tumbling bucket — dedup noise bursts from telemetry.  Composed from the
    engine's own surface: epoch bucket math + group_by + sort_by().first()
    (min_by aggregates, no window)."""
    ev = _t(spark, sf_dir, "events")
    bucket = pls.Expr(
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(600_000_000)).cast("long")
    )
    out = (
        ev.with_columns(bucket.alias("bkt"))
        .group_by("user_id", "event_type", "bkt")
        .agg(
            col("event_id").sort_by("ts", "event_id").first().alias("first_event"),
            col("value").sort_by("ts", "event_id").first().alias("first_value"),
            col("event_id").len().alias("n_burst"),
        )
    )
    return out.spark.select(
        "user_id", "event_type", F.col("bkt").cast("long").alias("bkt"),
        "first_event", F.round("first_value", 6).alias("first_value"),
        F.col("n_burst").cast("long").alias("n_burst"),
    )


_q188_sql = """
SELECT user_id, event_type,
       CAST(floor(epoch(ts) / 600) AS BIGINT) AS bkt,
       first(event_id ORDER BY ts, event_id) AS first_event,
       round(first(value ORDER BY ts, event_id), 6) AS first_value,
       CAST(count(*) AS BIGINT) AS n_burst
FROM events GROUP BY 1, 2, 3
"""


def _q189(spark, sf_dir):
    """Poisson-bootstrap mean CI (operators/regression.py bootstrap_ci):
    30 deterministic hash-drawn replicates per event_type — each replicate
    is one weighted aggregate (data never resampled/shuffled per replicate),
    zero RNG state."""
    from polars_net_spark.operators.regression import bootstrap_ci

    ev = _t(spark, sf_dir, "events")
    return bootstrap_ci(
        ev.spark.select("event_id", "event_type", "value"),
        "value", by="event_type", n_boot=30, salt="bs", id_col="event_id",
    ).spark


_q189_sql = """
WITH s AS (SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL),
d AS (
  SELECT event_type, value, b,
         CASE WHEN u <= 0.367879 THEN 0 WHEN u <= 0.735759 THEN 1
              WHEN u <= 0.919699 THEN 2 WHEN u <= 0.981012 THEN 3
              WHEN u <= 0.996340 THEN 4 WHEN u <= 0.999406 THEN 5
              ELSE 6 END AS m
  FROM (
    SELECT event_type, value, b,
           (list_reduce(list_transform(generate_series(1, 12),
               i -> strpos('0123456789abcdef',
                           substr(md5('bs' || CAST(event_id AS VARCHAR) || '#' || CAST(b AS VARCHAR)), i, 1)) - 1),
               (a, x) -> a * 16.0 + x) + 0.5) / 281474976710656.0 AS u
    FROM s, LATERAL unnest(generate_series(1, 30)) AS t(b))),
reps AS (SELECT event_type, b, sum(m * value) / sum(m) AS mb FROM d GROUP BY 1, 2),
ci AS (SELECT event_type, quantile_cont(mb, 0.025) AS lo, quantile_cont(mb, 0.975) AS hi
       FROM reps GROUP BY 1),
base AS (SELECT event_type, avg(value) AS mean, count(value) AS n FROM events GROUP BY 1)
SELECT base.event_type, round(mean, 6) AS mean, round(lo, 6) AS ci_lo,
       round(hi, 6) AS ci_hi, CAST(n AS BIGINT) AS n
FROM base JOIN ci USING (event_type)
"""


def _q190(spark, sf_dir):
    """Welch's two-sample t (operators/regression.py welch_ttest): click vs
    purchase event values — one aggregate pass, closed-form t and
    Welch–Satterthwaite df."""
    from polars_net_spark.operators.regression import welch_ttest

    ev = _t(spark, sf_dir, "events")
    return welch_ttest(ev.spark, "event_type", "value", "click", "purchase").spark


_q190_sql = """
WITH a AS (
  SELECT avg(CASE WHEN event_type = 'click' THEN value END) AS ma,
         avg(CASE WHEN event_type = 'purchase' THEN value END) AS mb,
         var_samp(CASE WHEN event_type = 'click' THEN value END) AS va,
         var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS vb,
         CAST(count(CASE WHEN event_type = 'click' THEN value END) AS DOUBLE) AS na,
         CAST(count(CASE WHEN event_type = 'purchase' THEN value END) AS DOUBLE) AS nb
  FROM events WHERE event_type IN ('click', 'purchase'))
SELECT round(ma, 6) AS mean_a, round(mb, 6) AS mean_b, round(ma - mb, 6) AS diff,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t,
       round(pow(va / na + vb / nb, 2) /
             (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)), 6) AS df,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM a
"""


def _q191(spark, sf_dir):
    """Pearson χ² independence (operators/regression.py chi2_independence):
    event_type × user-cohort contingency — margins joined back, no collect."""
    from polars_net_spark.operators.regression import chi2_independence

    ev = _t(spark, sf_dir, "events")
    d = ev.spark.select(
        "event_type", (F.col("user_id") % 3).cast("string").alias("cohort")
    )
    return chi2_independence(d, "event_type", "cohort").spark


_q191_sql = """
WITH cells AS (
  SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS cohort, count(*) AS o
  FROM events GROUP BY 1, 2),
ra AS (SELECT event_type, sum(o) AS ra FROM cells GROUP BY 1),
rb AS (SELECT cohort, sum(o) AS rb FROM cells GROUP BY 1),
n AS (SELECT sum(o) AS n FROM cells),
grid AS (SELECT ra.event_type, rb.cohort, ra, rb FROM ra, rb),
fgrid AS (
  SELECT g.event_type, g.cohort, g.ra, g.rb, coalesce(c.o, 0) AS o
  FROM grid g LEFT JOIN cells c
    ON g.event_type = c.event_type AND g.cohort = c.cohort)
SELECT round(sum((o - ra * rb / n.n) * (o - ra * rb / n.n) / (ra * rb / n.n)), 6) AS chi2,
       CAST((count(DISTINCT fgrid.event_type) - 1) * (count(DISTINCT fgrid.cohort) - 1) AS BIGINT) AS df,
       CAST(max(n.n) AS BIGINT) AS n
FROM fgrid, n
"""


def _q192(spark, sf_dir):
    """Mann–Whitney U with tie correction (operators/regression.py
    mann_whitney_u): click vs purchase values — tie-averaged ranks from one
    global ordering, closed-form z."""
    from polars_net_spark.operators.regression import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    return mann_whitney_u(ev.spark, "event_type", "value", "click", "purchase").spark


_q192_sql = """
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
ranked AS (
  SELECT g, v,
         avg(rn) OVER (PARTITION BY v) AS r,
         count(*) OVER (PARTITION BY v) AS t
  FROM (SELECT g, v, CAST(row_number() OVER (ORDER BY v) AS DOUBLE) AS rn FROM base)),
a AS (
  SELECT sum(CASE WHEN g = 'click' THEN r END) AS ra,
         CAST(count(CASE WHEN g = 'click' THEN 1 END) AS DOUBLE) AS na,
         CAST(count(CASE WHEN g = 'purchase' THEN 1 END) AS DOUBLE) AS nb,
         sum(t * t - 1) AS tt
  FROM ranked)
SELECT round(ra - na * (na + 1) / 2, 6) AS u,
       round((ra - na * (na + 1) / 2 - na * nb / 2)
             / sqrt(na * nb / 12.0 * ((na + nb + 1) - tt / ((na + nb) * (na + nb - 1)))), 6) AS z,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM a
"""


def _eval_scored(spark, sf_dir):
    """Deterministic score/label columns for the classifier-eval gates."""
    d = _t(spark, sf_dir, "documents")
    return d.spark.select(
        ((F.col("n_chars") % 997) / 997.0).alias("score"),
        (F.col("doc_id") % 2).cast("int").alias("label"),
    )


_EVAL_SQL = """
  SELECT (n_chars % 997) / 997.0 AS score, CAST(doc_id % 2 AS INT) AS label
  FROM documents
"""


def _q193(spark, sf_dir):
    """Calibration / reliability table (llm/evaluation.py
    calibration_report): 10 equal-width score bins, mean score vs observed
    positive rate + gap — one map-side aggregate."""
    from polars_net_spark.llm import calibration_report

    return calibration_report(_eval_scored(spark, sf_dir), "score", "label").spark


_q193_sql = f"""
WITH s AS ({_EVAL_SQL})
SELECT CAST(least(9, greatest(0, floor(score * 10))) AS INT) AS bin,
       round(avg(score), 6) AS mean_score,
       round(avg(label), 6) AS pos_rate,
       CAST(count(*) AS BIGINT) AS n,
       round(abs(avg(score) - avg(label)), 6) AS abs_gap
FROM s GROUP BY 1
"""


def _q194(spark, sf_dir):
    """Exact ROC-AUC via the tie-averaged rank statistic (llm/evaluation.py
    roc_auc) — no threshold sweep, one ordering + one aggregate."""
    from polars_net_spark.llm import roc_auc

    return roc_auc(_eval_scored(spark, sf_dir), "score", "label").spark


_q194_sql = f"""
WITH s AS ({_EVAL_SQL}),
ranked AS (
  SELECT label, avg(rn) OVER (PARTITION BY score) AS r
  FROM (SELECT score, label, CAST(row_number() OVER (ORDER BY score) AS DOUBLE) AS rn FROM s)),
a AS (
  SELECT sum(CASE WHEN label = 1 THEN r END) AS rp,
         CAST(count(CASE WHEN label = 1 THEN 1 END) AS DOUBLE) AS np,
         CAST(count(CASE WHEN label = 0 THEN 1 END) AS DOUBLE) AS nn
  FROM ranked)
SELECT round((rp - np * (np + 1) / 2) / (np * nn), 6) AS auc,
       CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
FROM a
"""


def _q195(spark, sf_dir):
    """Thresholded P/R/F1/accuracy (llm/evaluation.py prf1_report): three
    thresholds from ONE scan (fused conditional counts)."""
    from polars_net_spark.llm import prf1_report

    return prf1_report(
        _eval_scored(spark, sf_dir), "score", "label", [0.25, 0.5, 0.75]
    ).spark


_q195_sql = f"""
WITH s AS ({_EVAL_SQL}),
t(threshold) AS (VALUES (0.25), (0.5), (0.75)),
c AS (
  SELECT t.threshold,
         sum(CASE WHEN score >= t.threshold AND label = 1 THEN 1 ELSE 0 END) AS tp,
         sum(CASE WHEN score >= t.threshold AND label = 0 THEN 1 ELSE 0 END) AS fp,
         sum(CASE WHEN score <  t.threshold AND label = 1 THEN 1 ELSE 0 END) AS fn,
         sum(CASE WHEN score <  t.threshold AND label = 0 THEN 1 ELSE 0 END) AS tn
  FROM s, t GROUP BY t.threshold)
SELECT threshold,
       round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) END, 6) AS precision,
       round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) END, 6) AS recall,
       round(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND (tp / CAST(tp + fp AS DOUBLE) + tp / CAST(tp + fn AS DOUBLE)) > 0
             THEN 2 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE))
                  / (tp / CAST(tp + fp AS DOUBLE) + tp / CAST(tp + fn AS DOUBLE)) END, 6) AS f1,
       round((tp + tn) / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn
FROM c
"""


def _q196(spark, sf_dir):
    """Per-key ROC-AUC (llm/evaluation.py roc_auc(by=)): the score ordering
    shards on the key — per-source model quality without a global sort."""
    from polars_net_spark.llm import roc_auc

    d = _t(spark, sf_dir, "documents")
    scored = d.spark.select(
        "source",
        ((F.col("n_chars") % 997) / 997.0).alias("score"),
        (F.col("doc_id") % 2).cast("int").alias("label"),
    )
    return roc_auc(scored, "score", "label", by="source").spark


_q196_sql = """
WITH s AS (
  SELECT source, (n_chars % 997) / 997.0 AS score, CAST(doc_id % 2 AS INT) AS label
  FROM documents),
ranked AS (
  SELECT source, label, avg(rn) OVER (PARTITION BY source, score) AS r
  FROM (SELECT source, score, label,
               CAST(row_number() OVER (PARTITION BY source ORDER BY score) AS DOUBLE) AS rn
        FROM s)),
a AS (
  SELECT source,
         sum(CASE WHEN label = 1 THEN r END) AS rp,
         CAST(count(CASE WHEN label = 1 THEN 1 END) AS DOUBLE) AS np,
         CAST(count(CASE WHEN label = 0 THEN 1 END) AS DOUBLE) AS nn
  FROM ranked GROUP BY source)
SELECT source,
       round(CASE WHEN np > 0 AND nn > 0
                  THEN (rp - np * (np + 1) / 2) / (np * nn) END, 6) AS auc,
       CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
FROM a
"""


def _q197(spark, sf_dir):
    """Asymmetric near-containment pairs (llm/dedup.py containment_pairs):
    |A∩B|/|A| ≥ 0.8 over 3-gram sets — catches excerpt/quote duplication
    symmetric Jaccard misses; exact verification, both directions scored."""
    from polars_net_spark.llm import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(d, threshold=0.8).spark


_q197_sql = """
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS shared
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
sizes AS (SELECT doc_id, len(grams) AS ng FROM g),
scored AS (
  SELECT p.ia AS id_a, p.ib AS id_b, round(shared / sa.ng, 6) AS containment
  FROM p JOIN sizes sa ON p.ia = sa.doc_id
  UNION ALL
  SELECT p.ib, p.ia, round(shared / sb.ng, 6)
  FROM p JOIN sizes sb ON p.ib = sb.doc_id)
SELECT id_a, id_b, containment FROM scored WHERE containment >= 0.8
"""


def _q198(spark, sf_dir):
    """Expected calibration error (llm/evaluation.py
    expected_calibration_error): one-row ECE/MCE over the reliability bins."""
    from polars_net_spark.llm import expected_calibration_error

    return expected_calibration_error(
        _eval_scored(spark, sf_dir), "score", "label"
    ).spark


_q198_sql = f"""
WITH s AS ({_EVAL_SQL}),
b AS (
  SELECT CAST(least(9, greatest(0, floor(score * 10))) AS INT) AS bin,
         avg(score) AS ms, avg(label) AS pr, count(*) AS n
  FROM s GROUP BY 1)
SELECT round(sum(abs(ms - pr) * n) / sum(n), 6) AS ece,
       round(max(abs(ms - pr)), 6) AS mce,
       CAST(sum(n) AS BIGINT) AS n
FROM b
"""


def _q199(spark, sf_dir):
    """NDCG@10 per query (llm/evaluation.py ndcg_at_k): model-vs-ideal
    discounted gains from two windows in one query-keyed shuffle."""
    from polars_net_spark.llm import ndcg_at_k

    ev = _t(spark, sf_dir, "events")
    scored = ev.spark.select(
        (F.col("user_id") % 20).alias("qid"),
        F.col("value").alias("score"),
        (F.col("event_id") % 4).cast("double").alias("rel"),
    )
    return ndcg_at_k(scored, "qid", "score", "rel", k=10).spark


_q199_sql = """
WITH b AS (
  SELECT user_id % 20 AS qid, value AS s, CAST(event_id % 4 AS DOUBLE) AS r
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT qid, r,
         row_number() OVER (PARTITION BY qid ORDER BY s DESC, r DESC) AS pm,
         row_number() OVER (PARTITION BY qid ORDER BY r DESC) AS pi
  FROM b),
a AS (
  SELECT qid,
         sum(CASE WHEN pm <= 10 THEN r / log2(pm + 1) ELSE 0 END) AS dcg,
         sum(CASE WHEN pi <= 10 THEN r / log2(pi + 1) ELSE 0 END) AS idcg
  FROM m GROUP BY qid)
SELECT qid, round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6) AS ndcg FROM a
"""


def _q200(spark, sf_dir):
    """Spearman rank correlation (operators/regression.py spearman_corr):
    tie-averaged ranks + Pearson over the rank vectors (the tie-correct
    definition), value vs time per event_type."""
    from polars_net_spark.operators.regression import spearman_corr

    ev = _t(spark, sf_dir, "events")
    d = ev.spark.select(
        "event_type",
        F.col("value").alias("a"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias("b"),
    )
    return spearman_corr(d, "a", "b", by="event_type").spark


_q200_sql = """
WITH b AS (
  SELECT event_type, value AS a, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS bb
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT event_type,
         avg(rna) OVER (PARTITION BY event_type, a) AS ra,
         avg(rnb) OVER (PARTITION BY event_type, bb) AS rb
  FROM (
    SELECT event_type, a, bb,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY a) AS DOUBLE) AS rna,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY bb) AS DOUBLE) AS rnb
    FROM b))
SELECT event_type, round(corr(ra, rb), 6) AS spearman,
       CAST(count(*) AS BIGINT) AS n
FROM r GROUP BY event_type
"""


def _q201(spark, sf_dir):
    """Average precision / PR-AUC (llm/evaluation.py average_precision):
    cumulative precision at each relevant rank over the model ordering —
    the imbalance-robust companion to q194's ROC-AUC."""
    from polars_net_spark.llm import average_precision

    return average_precision(_eval_scored(spark, sf_dir), "score", "label").spark


_q201_sql = f"""
WITH s AS ({_EVAL_SQL}),
o AS (
  SELECT label,
         CAST(row_number() OVER (ORDER BY score DESC, label DESC) AS DOUBLE) AS k,
         CAST(sum(label) OVER (ORDER BY score DESC, label DESC
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cp
  FROM s),
a AS (
  SELECT sum(CASE WHEN label = 1 THEN cp / k ELSE 0 END) AS ap_sum,
         CAST(sum(label) AS DOUBLE) AS np, count(*) AS n
  FROM o)
SELECT round(CASE WHEN np > 0 THEN ap_sum / np END, 6) AS average_precision,
       CAST(np AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n
FROM a
"""


def _q202(spark, sf_dir):
    """MRR@10 per query (llm/evaluation.py mrr_at_k): reciprocal rank of the
    first relevant result under the optimistic tie convention — one
    query-keyed window + one aggregate, ordering shards on the key."""
    from polars_net_spark.llm import mrr_at_k

    ev = _t(spark, sf_dir, "events")
    scored = ev.spark.select(
        (F.col("user_id") % 20).alias("qid"),
        F.col("value").alias("score"),
        (F.col("event_id") % 4).cast("double").alias("rel"),
    )
    return mrr_at_k(scored, "qid", "score", "rel", k=10, rel_threshold=1.5).spark


_q202_sql = """
WITH b AS (
  SELECT user_id % 20 AS qid, value AS s, CAST(event_id % 4 AS DOUBLE) AS r
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT qid, r,
         row_number() OVER (PARTITION BY qid ORDER BY s DESC, r DESC) AS pos
  FROM b)
SELECT qid,
       round(max(CASE WHEN r > 1.5 AND pos <= 10 THEN 1.0 / pos ELSE 0 END), 6) AS rr
FROM m GROUP BY qid
"""


def _q203(spark, sf_dir):
    """Recall@10 per query (llm/evaluation.py recall_at_k): relevant-in-top-k
    over relevant-overall; the relevance-DESC tiebreak keeps the boundary
    count deterministic."""
    from polars_net_spark.llm import recall_at_k

    ev = _t(spark, sf_dir, "events")
    scored = ev.spark.select(
        (F.col("user_id") % 20).alias("qid"),
        F.col("value").alias("score"),
        (F.col("event_id") % 4).cast("double").alias("rel"),
    )
    return recall_at_k(scored, "qid", "score", "rel", k=10, rel_threshold=1.5).spark


_q203_sql = """
WITH b AS (
  SELECT user_id % 20 AS qid, value AS s, CAST(event_id % 4 AS DOUBLE) AS r
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT qid, r,
         row_number() OVER (PARTITION BY qid ORDER BY s DESC, r DESC) AS pos
  FROM b),
a AS (
  SELECT qid,
         sum(CASE WHEN pos <= 10 AND r > 1.5 THEN 1.0 ELSE 0 END) AS hits,
         sum(CASE WHEN r > 1.5 THEN 1.0 ELSE 0 END) AS n_rel
  FROM m GROUP BY qid)
SELECT qid, round(CASE WHEN n_rel > 0 THEN hits / n_rel END, 6) AS recall,
       CAST(n_rel AS BIGINT) AS n_rel
FROM a
"""


def _q204(spark, sf_dir):
    """Cohen's κ inter-rater agreement (operators/regression.py
    cohens_kappa): two derived binary raters over events — cell counts +
    margin joins, bounded by category cardinality."""
    from polars_net_spark.operators.regression import cohens_kappa

    ev = _t(spark, sf_dir, "events")
    d = ev.spark.select(
        F.when(F.col("value") > 50, "hi").otherwise("lo").alias("ra"),
        F.when(F.col("event_id") % 3 == 0, "hi").otherwise("lo").alias("rb"),
    )
    return cohens_kappa(d, "ra", "rb").spark


_q204_sql = """
WITH b AS (
  SELECT CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS ra,
         CASE WHEN event_id % 3 = 0 THEN 'hi' ELSE 'lo' END AS rb
  FROM events WHERE value IS NOT NULL),
t AS (
  SELECT count(*) AS n,
         sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree
  FROM b),
pe AS (
  SELECT sum(na * nb) / (max(n) * max(n)) AS pe
  FROM (SELECT ra AS c, count(*) AS na FROM b GROUP BY ra) a
  JOIN (SELECT rb AS c, count(*) AS nb FROM b GROUP BY rb) bb USING (c)
  CROSS JOIN t)
SELECT round(CASE WHEN pe < 1.0 THEN (agree * 1.0 / n - pe) / (1.0 - pe) END, 6) AS kappa,
       round(agree * 1.0 / n, 6) AS po,
       round(pe, 6) AS pe,
       CAST(n AS BIGINT) AS n
FROM t CROSS JOIN pe
"""


def _q205(spark, sf_dir):
    """Jensen–Shannon divergence between two corpus halves
    (llm/text.py corpus_divergence): term-count aggregates + one full-outer
    term join + a one-row aggregate — the train/eval drift probe."""
    from polars_net_spark.llm import corpus_divergence

    d = _t(spark, sf_dir, "documents").spark
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    return corpus_divergence(a, b).spark


_q205_sql = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS ws
  FROM documents),
ea AS (SELECT unnest(ws) AS term FROM w WHERE doc_id % 2 = 0),
eb AS (SELECT unnest(ws) AS term FROM w WHERE doc_id % 2 = 1),
ta AS (SELECT term, count(*) AS ca FROM ea GROUP BY term),
tb AS (SELECT term, count(*) AS cb FROM eb GROUP BY term),
j AS (SELECT coalesce(ta.term, tb.term) AS term,
             coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
      FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb,
               sum(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS vocab_a,
               sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS vocab_b,
               sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS vocab_shared
        FROM j)
SELECT round(sum(
         CASE WHEN ca > 0
              THEN 0.5 * (ca * 1.0 / na)
                   * log2((ca * 1.0 / na) / (((ca * 1.0 / na) + (cb * 1.0 / nb)) / 2))
              ELSE 0 END
       + CASE WHEN cb > 0
              THEN 0.5 * (cb * 1.0 / nb)
                   * log2((cb * 1.0 / nb) / (((ca * 1.0 / na) + (cb * 1.0 / nb)) / 2))
              ELSE 0 END), 6) AS js_divergence,
       CAST(max(vocab_a) AS BIGINT) AS vocab_a,
       CAST(max(vocab_b) AS BIGINT) AS vocab_b,
       CAST(max(vocab_shared) AS BIGINT) AS vocab_shared,
       CAST(max(na) AS BIGINT) AS tokens_a,
       CAST(max(nb) AS BIGINT) AS tokens_b
FROM j CROSS JOIN tot
"""


def _q206(spark, sf_dir):
    """Per-document unigram Shannon entropy (llm/quality.py
    word_entropy_frame): zero-shuffle sorted-run-length Column math — the
    prose-vs-boilerplate quality feature at scan speed."""
    from polars_net_spark.llm import word_entropy_frame

    d = _t(spark, sf_dir, "documents")
    return word_entropy_frame(d).spark.select("doc_id", "n_words", "word_entropy")


_q206_sql = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0) AS ws
  FROM documents),
e AS (SELECT doc_id, unnest(ws) AS word FROM w),
c AS (SELECT doc_id, word, count(*) AS cnt FROM e GROUP BY doc_id, word),
ent AS (
  SELECT doc_id, sum(cnt) AS n,
         log2(CAST(sum(cnt) AS DOUBLE))
           - sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))) / sum(cnt) AS h
  FROM c GROUP BY doc_id)
SELECT w.doc_id,
       CAST(coalesce(ent.n, 0) AS BIGINT) AS n_words,
       round(ent.h, 6) + 0.0 AS word_entropy
FROM w LEFT JOIN ent ON w.doc_id = ent.doc_id
"""


def _q207(spark, sf_dir):
    """Equi-width histogram with pinned edges (operators/describe.py
    histogram_frame): one map-side-combining bucket aggregate left-joined to
    a bins-sized edge grid; out-of-range values clamp into the edge bins."""
    from polars_net_spark.operators.describe import histogram_frame

    li = _t(spark, sf_dir, "lineitem")
    return histogram_frame(li, "l_extendedprice", n_bins=20, lo=0.0, hi=100000.0).spark


_q207_sql = """
WITH params AS (SELECT 0.0 AS lo, 100000.0 AS hi, 20 AS nb),
b AS (
  SELECT least(nb - 1, greatest(0, CAST(floor((l_extendedprice - lo) / ((hi - lo) / nb)) AS INT))) AS bin
  FROM lineitem CROSS JOIN params
  WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)),
cnt AS (SELECT bin, count(*) AS count FROM b GROUP BY bin),
grid AS (
  SELECT CAST(g AS INT) AS bin,
         round(lo + g * (hi - lo) / nb, 9) AS bin_lo,
         round(lo + (g + 1) * (hi - lo) / nb, 9) AS bin_hi
  FROM generate_series(0, 19) t(g) CROSS JOIN params)
SELECT grid.bin, bin_lo, bin_hi, coalesce(cnt.count, 0) AS count
FROM grid LEFT JOIN cnt ON grid.bin = cnt.bin
"""


def _q209(spark, sf_dir):
    """Distributed BPE trainer (llm/vocab.py train_bpe): 10 merges learned
    from the documents corpus.  One corpus-wide word-count shuffle total;
    every merge iteration is a vocabulary-sized pair aggregate + 1-row
    argmax + map-only array rewrite.  The oracle replays the exact trainer
    as 10 unrolled DuckDB CTE blocks (list_reduce fold, lexicographic
    tie-break) — full hash verification of an iterative algorithm."""
    from polars_net_spark.llm.vocab import train_bpe

    d = _t(spark, sf_dir, "documents")
    return train_bpe(d, num_merges=10, min_pair_count=2).spark


def _bpe_oracle_chain(num_merges: int, eow: str = "</w>") -> str:
    """Shared WITH-chain for the BPE oracles: wc word counts, v0 char
    symbols, then one (pair-count, argmax, fold-merge) block per merge."""
    blocks = ["""
wc AS (SELECT word, count(*) AS cnt FROM (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                x -> length(x) > 0)) AS word FROM documents) GROUP BY word),
v0 AS (SELECT word, cnt,
  list_append(list_transform(generate_series(1, length(word)), i -> word[i]), '%s') AS sym
  FROM wc)""" % eow]
    for r in range(num_merges):
        blocks.append(f"""
p{r} AS (
  SELECT sym[i] AS l, sym[i+1] AS r, sum(cnt) AS c
  FROM v{r}, unnest(generate_series(1, len(sym)-1)) AS t(i)
  WHERE len(sym) >= 2 GROUP BY 1, 2),
b{r} AS (SELECT l AS bl, r AS br, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1),
v{r + 1} AS (
  SELECT word, cnt,
    list_reduce(list_prepend([]::VARCHAR[], list_transform(sym, x -> [x])),
      (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = bl AND s[1] = br
                       THEN list_append(acc[:-2], bl || br)
                       ELSE list_append(acc, s[1]) END) AS sym
  FROM v{r} CROSS JOIN b{r})""")
    return "WITH " + ",".join(blocks)


_q209_sql = _bpe_oracle_chain(10) + "\n" + "\nUNION ALL\n".join(
    f"SELECT {r} AS rank, bl AS left, br AS right, CAST(c AS BIGINT) AS pair_count FROM b{r}"
    for r in range(10)
) + "\nORDER BY rank"


def _q210(spark, sf_dir):
    """BPE encoding (llm/vocab.py bpe_encode_frame) under the merges q209
    trains: per-doc token counts.  The Python stage (Arrow pandas_udf)
    touches DISTINCT WORDS only; the oracle exploits the classic
    equivalence "min-rank encode == training segmentation" and reads token
    counts straight from the replayed trainer's final vocab — so the
    encoder is hash-verified against an independent construction."""
    from polars_net_spark.llm.vocab import bpe_encode_frame, train_bpe

    d = _t(spark, sf_dir, "documents")
    merges = train_bpe(d, num_merges=10, min_pair_count=2)
    return (
        bpe_encode_frame(d, merges)
        .spark.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    )


_q210_sql = _bpe_oracle_chain(10) + """,
dw AS (SELECT doc_id,
              unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> length(x) > 0)) AS word
       FROM documents)
SELECT doc_id, CAST(sum(len(v10.sym)) AS BIGINT) AS n_tokens
FROM dw JOIN v10 USING (word)
GROUP BY doc_id
"""


def _q211(spark, sf_dir):
    """Product-quantization ADC search (llm/similarity.py pq_encode/pq_topk):
    dim-64 embeddings → 8 codes (16 centroids per subspace), queries carry
    their m·k distance table, scoring is table lookups — the scan never
    touches float vectors.  Codebooks here are the closed-form init
    (subvectors of the 16 lowest-id vectors, pq_init_codebooks) so DuckDB
    replays encode + ADC exactly; Lloyd-refined codebooks (pq_train) are
    the production path, verified by objective-monotonicity tests."""
    from polars_net_spark.llm.similarity import pq_init_codebooks, pq_topk

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_init_codebooks(e, m=8, k=16)
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    return pq_topk(e, q, cb, k=5).spark


_q211_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
ss AS (SELECT unnest(generate_series(0, 7)) AS s),
sd AS (SELECT e.vec_id, ss.s, cb.j,
              list_sum(list_transform(generate_series(1, 8),
                       p -> (e.v[ss.s * 8 + p] - cb.v[ss.s * 8 + p]) ^ 2)) AS d2
       FROM e CROSS JOIN ss CROSS JOIN cb),
codes AS (SELECT vec_id, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM sd)
          WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qt AS (SELECT q.query_id, ss.s, cb.j,
              list_sum(list_transform(generate_series(1, 8),
                       p -> (q.qv[ss.s * 8 + p] - cb.v[ss.s * 8 + p]) ^ 2)) AS qd2
       FROM q CROSS JOIN ss CROSS JOIN cb),
adc AS (SELECT qt.query_id, codes.vec_id AS corpus_id, sum(qt.qd2) AS ad
        FROM codes JOIN qt ON qt.s = codes.s AND qt.j = codes.code
        WHERE codes.vec_id <> qt.query_id
        GROUP BY 1, 2)
SELECT query_id, corpus_id, approx_dist, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, corpus_id, round(ad, 6) AS approx_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY round(ad, 6), corpus_id) AS rank
  FROM adc)
WHERE rank <= 5
"""


def _q212(spark, sf_dir):
    """Canonical-doc selection (llm/dedup.py dedup_keep_best): near-dup
    clusters from the q51 jaccard pair graph, but the survivor is the BEST
    copy (max n_chars, ties lowest id) instead of the arbitrary lowest id —
    the keep policy a real pipeline wants.  Cluster-keyed window, no global
    ordering."""
    from polars_net_spark.llm import dedup_keep_best, ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5)
    out = dedup_keep_best(d, pairs, "n_chars")
    return out.spark.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))


_q212_sql = r"""
WITH RECURSIVE
w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
                                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS grams
      FROM w WHERE len(ws) >= 3),
e AS (SELECT doc_id, len(grams) AS ng, unnest(grams) AS gram FROM g),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ng AS na, b.ng AS nb, count(*) AS shared
      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
pr AS (SELECT id_a, id_b FROM p WHERE round(shared / (na + nb - shared), 6) >= 0.5),
ed AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
reach(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT ed.dst, reach.lbl FROM reach JOIN ed ON ed.src = reach.id
),
cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
ranked AS (
  SELECT d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY cl.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rn
  FROM documents d JOIN cl ON d.doc_id = cl.doc_id)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM ranked WHERE rn = 1
"""


def _q213(spark, sf_dir):
    """SFT tensor prep (llm/chunking.py build_sft_examples): each doc split
    into a 5-word prompt + rest response, encoded under a top-50 vocab into
    ONE token sequence with prompt positions loss-masked to -100 — emitted
    as scalar checksums (response-token-id sum is sensitive to every id and
    every mask position).  One id-keyed shuffle, vocab broadcast."""
    from polars_net_spark.llm import build_sft_examples, build_vocab

    d = _t(spark, sf_dir, "documents")
    vocab = build_vocab(d, vocab_size=50)
    ws = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: F.length(w) > 0)
    split = d._sdf.select(
        "doc_id",
        F.array_join(F.slice(ws, 1, 5), " ").alias("prompt"),
        F.array_join(F.slice(ws, 6, F.greatest(F.size(ws) - 5, F.lit(0))), " ").alias("response"),
    )
    out = build_sft_examples(split, vocab)
    lbl_sum = F.aggregate(
        F.filter("labels", lambda x: x != -100),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.spark.select(
        "doc_id", "n_tokens", "n_prompt_tokens",
        lbl_sum.alias("response_id_sum"),
    )


_q213_sql = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> length(w) > 0) AS ws
  FROM documents),
counts AS (
  SELECT w AS term, count(*) AS cnt
  FROM toks, LATERAL unnest(ws) AS t(w) GROUP BY w),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY cnt DESC, term) - 1 AS token_id
  FROM (SELECT * FROM counts ORDER BY cnt DESC, term LIMIT 50)),
posed AS (
  SELECT doc_id, i - 1 AS pos, len(ws) AS n, least(len(ws), 5) AS np, ws[i] AS term
  FROM toks, LATERAL unnest(generate_series(1, len(ws))) AS g(i)),
enc AS (
  SELECT p.doc_id, p.pos, p.n, p.np, coalesce(v.token_id, -1) AS tid
  FROM posed p LEFT JOIN vocab v USING (term))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(max(np) AS BIGINT) AS n_prompt_tokens,
       CAST(coalesce(sum(CASE WHEN pos >= np THEN tid END), 0) AS BIGINT) AS response_id_sum
FROM enc
GROUP BY doc_id
"""


def _q214(spark, sf_dir):
    """Containment pairs via the DF-ORDERED prefix filter (the templated-
    corpora scale path of llm/dedup.py containment_pairs: rarest-first
    prefixes collapse hot grams from the candidate index entirely).  The
    prefix bound is exact under any canonical order, so this shares q197's
    oracle verbatim — both prefix orders are hash-verified against the same
    unfiltered semantics."""
    from polars_net_spark.llm import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(d, threshold=0.8, prefix_order="df").spark


_q214_sql = _q197_sql  # same exact output contract: the prefix filter is lossless


def _q215(spark, sf_dir):
    """PSI drift report (operators/analytics.py psi_report): reference =
    even events, current = odd events shifted/scaled — the train/serve
    drift probe.  Bin grid from reference min/max, eps-floored shares,
    all bins materialized; output is n_bins rows at any input size."""
    from polars_net_spark.operators.analytics import psi_report

    ev = _t(spark, sf_dir, "events").spark
    ref = ev.filter(F.col("event_id") % 2 == 0).select("value")
    cur = ev.filter(F.col("event_id") % 2 == 1).select(
        (F.col("value") * 1.07 + 3).alias("value")
    )
    return psi_report(ref, cur, "value", n_bins=10).spark


_q215_sql = """
WITH ref AS (SELECT value FROM events WHERE event_id%2=0 AND value IS NOT NULL),
cur AS (SELECT value*1.07+3 AS value FROM events WHERE event_id%2=1 AND value IS NOT NULL),
mm AS (SELECT min(value) AS mn, max(value) AS mx FROM ref),
grid AS (SELECT CAST(g AS INT) AS bin, mn+(mx-mn)*g/10 AS lo, mn+(mx-mn)*(g+1)/10 AS hi
         FROM generate_series(0,9) s(g) CROSS JOIN mm),
rb AS (SELECT least(9, greatest(0, CASE WHEN mx>mn THEN CAST(floor((value-mn)/((mx-mn)/10)) AS INT) ELSE 0 END)) AS bin
       FROM ref CROSS JOIN mm),
cb AS (SELECT least(9, greatest(0, CASE WHEN mx>mn THEN CAST(floor((value-mn)/((mx-mn)/10)) AS INT) ELSE 0 END)) AS bin
       FROM cur CROSS JOIN mm),
rs AS (SELECT bin, count(*)*1.0/(SELECT count(*) FROM rb) AS p_ref FROM rb GROUP BY 1),
cs AS (SELECT bin, count(*)*1.0/(SELECT count(*) FROM cb) AS p_cur FROM cb GROUP BY 1)
SELECT g.bin, round(lo,6) AS lo, round(hi,6) AS hi,
 round(greatest(coalesce(p_ref,0),1e-6),6) AS p_ref,
 round(greatest(coalesce(p_cur,0),1e-6),6) AS p_cur,
 round((greatest(coalesce(p_cur,0),1e-6)-greatest(coalesce(p_ref,0),1e-6))
       * ln(greatest(coalesce(p_cur,0),1e-6)/greatest(coalesce(p_ref,0),1e-6)),6) AS psi_term
FROM grid g LEFT JOIN rs ON g.bin=rs.bin LEFT JOIN cs ON g.bin=cs.bin
"""


def _q216(spark, sf_dir):
    """Proper-scoring losses (llm/evaluation.py classification_loss):
    log-loss + Brier + pos-rate in ONE fused all-reduce aggregate over a
    derived probability/label pair — the probability-value complement to
    the rank (AUC) and threshold (P/R/F1) gates."""
    from polars_net_spark.llm import classification_loss

    ev = _t(spark, sf_dir, "events").spark
    scored = ev.select(
        (F.col("value") / 100).alias("p"),
        F.when(F.col("event_id") % 3 == 0, 1).otherwise(0).alias("y"),
    ).filter((F.col("p") >= 0) & (F.col("p") <= 1))
    return classification_loss(scored, "p", "y").spark


_q216_sql = """
WITH b AS (
 SELECT value/100 AS p, CASE WHEN event_id%3=0 THEN 1 ELSE 0 END AS y
 FROM events WHERE value IS NOT NULL AND value/100 BETWEEN 0 AND 1),
c AS (SELECT least(greatest(p,1e-15),1-1e-15) AS pc, p, CAST(y AS DOUBLE) AS y FROM b)
SELECT round(avg(-(y*ln(pc)+(1-y)*ln(1-pc))),6) AS log_loss,
       round(avg((p-y)*(p-y)),6) AS brier,
       round(avg(y),6) AS pos_rate,
       count(*) AS n
FROM c
"""


def _q217(spark, sf_dir):
    """Fleiss' kappa multi-rater agreement (operators/regression.py
    fleiss_kappa): events bucketed into 97 items, each rating = one row —
    variable raters per item, items with <2 ratings excluded everywhere.
    Cell counts + item aggregate + category marginals, no collect."""
    from polars_net_spark.operators.regression import fleiss_kappa

    ev = _t(spark, sf_dir, "events").spark
    rat = ev.select(
        (F.col("event_id") % 97).alias("item"),
        F.when(F.col("value") > 66, "hi")
        .when(F.col("value") > 33, "mid")
        .otherwise("lo")
        .alias("cat"),
    )
    return fleiss_kappa(rat, "item", "cat").spark


_q217_sql = """
WITH r AS (
 SELECT event_id%97 AS item,
        CASE WHEN value>66 THEN 'hi' WHEN value>33 THEN 'mid' ELSE 'lo' END AS cat
 FROM events WHERE value IS NOT NULL),
cells AS (SELECT item, cat, count(*) AS o FROM r GROUP BY 1,2),
items AS (SELECT item, sum(o) AS ni, sum(o*o) AS sq FROM cells GROUP BY 1 HAVING sum(o)>=2),
pbar AS (SELECT avg((sq-ni)*1.0/(ni*(ni-1))) AS p_bar, count(*) AS n_items, sum(ni) AS n_ratings FROM items),
kept AS (SELECT c.* FROM cells c JOIN items i USING (item)),
pe AS (SELECT sum((nc*1.0/t.n_ratings)*(nc*1.0/t.n_ratings)) AS p_e
       FROM (SELECT cat, sum(o) AS nc FROM kept GROUP BY 1) m CROSS JOIN pbar t)
SELECT round(CASE WHEN p_e<1.0 THEN (p_bar-p_e)/(1.0-p_e) END,6) AS kappa,
       round(p_bar,6) AS p_bar, round(p_e,6) AS p_e,
       CAST(n_items AS BIGINT) AS n_items, CAST(n_ratings AS BIGINT) AS n_ratings
FROM pbar CROSS JOIN pe
"""


def _q218(spark, sf_dir):
    """k-anonymity audit (operators/analytics.py k_anonymity_report) over
    customer quasi-identifiers (nation, market segment): one map-side-
    combining groupBy + one all-reduce — the privacy release gate as a
    1-row answer at any scale."""
    from polars_net_spark.operators.analytics import k_anonymity_report

    c = _t(spark, sf_dir, "customer").spark
    return k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], k=5).spark


_q218_sql = """
WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS sz FROM customer GROUP BY 1,2)
SELECT min(sz) AS min_k, count(*) AS n_groups,
       sum(CASE WHEN sz<5 THEN 1 ELSE 0 END) AS n_violating_groups,
       sum(CASE WHEN sz<5 THEN sz ELSE 0 END) AS n_violating_rows,
       sum(sz) AS n_rows
FROM g
"""


def _q219(spark, sf_dir):
    """Readability scores (llm/text.py readability_frame): Flesch reading
    ease + FK grade from pure Column math (whitespace words, [.!?]+
    sentences, vowel-group syllables) — zero shuffles, zero Python, a
    scan-speed corpus-quality feature."""
    from polars_net_spark.llm import readability_frame

    d = _t(spark, sf_dir, "documents")
    return readability_frame(d, "text", "doc_id").spark


_q219_sql = r"""
WITH w AS (
 SELECT doc_id,
   list_filter(regexp_split_to_array(trim(text), '\s+'), x -> len(x) > 0) AS words,
   greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
 FROM documents),
s AS (
 SELECT doc_id, len(words) AS n_words, n_sentences,
   coalesce(list_sum(list_transform(words, x -> greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))), 0) AS n_syllables
 FROM w)
SELECT doc_id AS id, CAST(n_words AS INT) AS n_words, CAST(n_sentences AS INT) AS n_sentences,
  CAST(n_syllables AS INT) AS n_syllables,
  round(CASE WHEN n_words>0 THEN 206.835 - 1.015*(n_words*1.0/n_sentences) - 84.6*(n_syllables*1.0/n_words) END, 6) AS flesch_reading_ease,
  round(CASE WHEN n_words>0 THEN 0.39*(n_words*1.0/n_sentences) + 11.8*(n_syllables*1.0/n_words) - 15.59 END, 6) AS fk_grade
FROM s
"""


def _q220(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov (operators/regression.py
    ks_test): distribution-shift screen over derived even/odd event groups.
    ECDFs from DISTINCT-value counts + range buckets + driver prefix
    offsets — no single-partition window at any scale."""
    from polars_net_spark.operators.regression import ks_test

    ev = _t(spark, sf_dir, "events").spark
    d = ev.select(
        F.when(F.col("event_id") % 2 == 0, "a").otherwise("b").alias("g"), "value"
    )
    return ks_test(d, "g", "value", "a", "b").spark


_q220_sql = """
WITH b AS (SELECT CASE WHEN event_id%2=0 THEN 'a' ELSE 'b' END AS g, value
           FROM events WHERE value IS NOT NULL),
v AS (SELECT value AS v, sum(CASE WHEN g='a' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN g='b' THEN 1 ELSE 0 END) AS cb FROM b GROUP BY 1),
t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM v),
c AS (SELECT sum(ca) OVER (ORDER BY v) * 1.0 AS cum_a,
             sum(cb) OVER (ORDER BY v) * 1.0 AS cum_b FROM v)
SELECT round(max(abs(cum_a/na - cum_b/nb)),6) AS d,
       round(max(abs(cum_a/na - cum_b/nb)) * sqrt(na*nb/(na+nb)),6) AS z,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
FROM c CROSS JOIN t GROUP BY na, nb
"""


def _q221(spark, sf_dir):
    """Global Gini coefficient (operators/analytics.py gini_coefficient)
    of lineitem extended price — source-concentration as one number.  The
    global sort collapses to DISTINCT-value run-length rank math over range
    buckets (operators/distsort.py); the oracle's row_number window proves
    the closed form equals the per-row rank definition."""
    from polars_net_spark.operators.analytics import gini_coefficient

    li = _t(spark, sf_dir, "lineitem").spark
    return gini_coefficient(li, "l_extendedprice").spark


_q221_sql = """
WITH b AS (SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS i FROM b)
SELECT round(2.0*sum(i*x)/(count(*)*sum(x)) - (count(*)+1.0)/count(*), 6) AS gini,
       count(*) AS n
FROM r
"""


def _q222(spark, sf_dir):
    """Benford first-digit audit (operators/analytics.py benford_report)
    of lineitem extended price: 9-row observed-vs-log10(1+1/d) table with
    chi2 terms, decade picked ULP-robustly (pow-of-10 with a one-step
    correction) so JVM and DuckDB libm agree bit-for-bit."""
    from polars_net_spark.operators.analytics import benford_report

    li = _t(spark, sf_dir, "lineitem").spark
    return benford_report(li, "l_extendedprice").spark


_q222_sql = """
WITH b AS (SELECT abs(l_extendedprice) AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND abs(l_extendedprice) > 0),
p0 AS (SELECT x, pow(10.0, floor(log10(x))) AS p0 FROM b),
p1 AS (SELECT x, CASE WHEN p0 > x THEN p0/10.0 ELSE p0 END AS p1 FROM p0),
pp AS (SELECT x, CASE WHEN p1*10.0 <= x THEN p1*10.0 ELSE p1 END AS p FROM p1),
d AS (SELECT CAST(floor(x/p) AS INT) AS digit FROM pp),
cnt AS (SELECT digit, count(*) AS n_d FROM d GROUP BY 1),
tot AS (SELECT sum(n_d) AS n FROM cnt),
grid AS (SELECT CAST(g AS INT) AS digit FROM generate_series(1,9) s(g))
SELECT grid.digit, CAST(coalesce(n_d,0) AS BIGINT) AS n_d,
  round(coalesce(n_d,0)*1.0/n, 6) AS p_obs,
  round(log10(1.0+1.0/grid.digit), 6) AS p_exp,
  round((coalesce(n_d,0) - n*log10(1.0+1.0/grid.digit))
        *(coalesce(n_d,0) - n*log10(1.0+1.0/grid.digit))
        /(n*log10(1.0+1.0/grid.digit)), 6) AS chi2_term
FROM grid LEFT JOIN cnt ON grid.digit=cnt.digit CROSS JOIN tot
"""


def _q223(spark, sf_dir):
    """SIXTH true Structured Streaming gate: DRIFT MONITORING ON A STREAM.
    A static 10-bin reference histogram (share per equal-width value bin
    over the full corpus) is stream-static equi-JOINED onto the live event
    stream inside the streaming query; a 6h tumbling window then counts per
    (window, bin) — i.e., the per-window PSI inputs are maintained BY the
    stream.  The batch-side select turns the sink into per-window PSI terms
    (p_cur vs the joined p_ref, eps-floored).  availableNow single batch →
    deterministic; the DuckDB oracle replicates it as time-bucket GROUP BYs.
    Production: same query with a watermark + append sink feeding an
    alerting table — drift fires per window, not per batch job."""
    import os

    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")
    ev = spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))
    row = ev.agg(
        F.min(F.col("value").cast("double")).alias("mn"),
        F.max(F.col("value").cast("double")).alias("mx"),
        F.count(F.when(F.col("value").isNotNull(), 1)).alias("n"),
    ).first()
    mn, mx, n_ref = float(row["mn"]), float(row["mx"]), int(row["n"])
    width = (mx - mn) / 10.0

    def bin_of(c):
        raw = (
            F.floor((c.cast("double") - F.lit(mn)) / F.lit(width)).cast("int")
            if width > 0
            else F.lit(0)
        )
        return F.least(F.lit(9), F.greatest(F.lit(0), raw))

    ref = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(bin_of(F.col("value")).alias("bin"))
        .agg((F.count(F.lit(1)) / F.lit(float(n_ref))).alias("p_ref"))
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 100000)
        .parquet(src_dir)
        .filter(F.col("value").isNotNull())
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("bin", bin_of(F.col("value")))
        .join(ref, "bin")  # stream-static equi-join inside the stream
        .groupBy(F.window("ts", "6 hours").alias("w"), F.col("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cur"),
            F.first("p_ref").alias("p_ref"),
        )
    )
    sink = _memory_stream_gate(spark, stream, "q223_stream_drift", "complete")
    from pyspark.sql import Window

    wtot = Window.partitionBy("w")
    eps = F.lit(1e-6)
    p_cur = F.greatest(F.col("n_cur") / F.sum("n_cur").over(wtot), eps)
    p_ref = F.greatest(F.col("p_ref"), eps)
    return sink.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "bin",
        F.col("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


_q223_sql = """
WITH base AS (SELECT value, ts FROM events WHERE value IS NOT NULL),
mm AS (SELECT min(value) AS mn, max(value) AS mx, count(*) AS n FROM base),
rb AS (SELECT least(9, greatest(0, CASE WHEN mx>mn THEN CAST(floor((value-mn)/((mx-mn)/10)) AS INT) ELSE 0 END)) AS bin
       FROM base CROSS JOIN mm),
ref AS (SELECT bin, count(*)*1.0/(SELECT n FROM mm) AS p_ref FROM rb GROUP BY 1),
cur AS (SELECT to_timestamp(floor(epoch(ts)/21600)*21600) AS w,
               least(9, greatest(0, CASE WHEN mx>mn THEN CAST(floor((value-mn)/((mx-mn)/10)) AS INT) ELSE 0 END)) AS bin,
               count(*) AS n_cur
        FROM base CROSS JOIN mm GROUP BY 1, 2),
tot AS (SELECT w, sum(n_cur) AS nw FROM cur GROUP BY 1)
SELECT strftime(cur.w, '%Y-%m-%d %H:%M:%S') AS win_start,
       cur.bin,
       CAST(n_cur AS BIGINT) AS n_cur,
       round(greatest(p_ref, 1e-6), 6) AS p_ref,
       round(greatest(n_cur*1.0/nw, 1e-6), 6) AS p_cur,
       round((greatest(n_cur*1.0/nw,1e-6) - greatest(p_ref,1e-6))
             * ln(greatest(n_cur*1.0/nw,1e-6)/greatest(p_ref,1e-6)), 6) AS psi_term
FROM cur JOIN ref ON cur.bin = ref.bin JOIN tot ON cur.w = tot.w
"""


def _q224(spark, sf_dir):
    """Per-key feature scaling (operators/analytics.py with_scaled): z-score
    of quantity and price within each return flag — ONE fused stats
    aggregate for all columns, one keyed join back.  The model-input prep
    step beside to_dummies/winsorize/rank_normalize."""
    from polars_net_spark.operators.analytics import with_scaled

    li = _t(spark, sf_dir, "lineitem").spark
    out = with_scaled(
        li, ["l_quantity", "l_extendedprice"], method="zscore",
        by="l_returnflag", round_to=6,
    )
    return out.spark.select(
        "l_orderkey", "l_returnflag",
        F.col("l_quantity_scaled").alias("qty_z"),
        F.col("l_extendedprice_scaled").alias("price_z"),
    )


_q224_sql = """
WITH s AS (
  SELECT l_returnflag,
         avg(l_quantity) AS mq, stddev_pop(l_quantity) AS sq,
         avg(l_extendedprice) AS mp, stddev_pop(l_extendedprice) AS sp
  FROM lineitem GROUP BY 1)
SELECT l_orderkey, l.l_returnflag,
  round(CASE WHEN sq > 0 THEN (l_quantity - mq) / sq END, 6) AS qty_z,
  round(CASE WHEN sp > 0 THEN (l_extendedprice - mp) / sp END, 6) AS price_z
FROM lineitem l JOIN s ON l.l_returnflag = s.l_returnflag
"""


def _q225(spark, sf_dir):
    """l-diversity audit (operators/analytics.py l_diversity_report): the
    k-anonymity companion — distinct sensitive values (account-balance
    band) per quasi-identifier class, as one row.  Two map-side-combining
    aggregates + an all-reduce."""
    from polars_net_spark.operators.analytics import l_diversity_report

    c = _t(spark, sf_dir, "customer").spark
    d = c.select(
        "c_nationkey", "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("hi")
        .alias("bal_band"),
    )
    return l_diversity_report(d, ["c_nationkey", "c_mktsegment"], "bal_band", l=3).spark


_q225_sql = """
WITH d AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'neg'
              WHEN c_acctbal < 5000 THEN 'mid' ELSE 'hi' END AS bal_band
  FROM customer),
cells AS (SELECT c_nationkey, c_mktsegment, bal_band, count(*) AS n
          FROM d GROUP BY 1, 2, 3),
g AS (SELECT c_nationkey, c_mktsegment, count(*) AS nl, sum(n) AS sz
      FROM cells GROUP BY 1, 2)
SELECT min(nl) AS min_l, count(*) AS n_groups,
       sum(CASE WHEN nl < 3 THEN 1 ELSE 0 END) AS n_violating_groups,
       sum(sz) AS n_rows
FROM g
"""


def _q226(spark, sf_dir):
    """Reciprocal Rank Fusion (llm/retrieval.py rrf_fuse): two synthetic
    rankers' top-10 lists per source (length-ranked and hash-ranked) fused
    by Σ 1/(60+rank) — the zero-tuning hybrid-retrieval combiner.  One
    (query, doc) aggregate + a query-keyed rank window."""
    from pyspark.sql import Window

    from polars_net_spark.llm.retrieval import rrf_fuse

    d = _t(spark, sf_dir, "documents").spark
    w1 = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    w2 = Window.partitionBy("source").orderBy(
        (F.col("doc_id") % 7).asc(), F.col("doc_id").asc()
    )
    r1 = d.select(
        F.col("source").alias("query_id"), F.col("doc_id"),
        F.lit("len").alias("ranker"), F.row_number().over(w1).alias("rank"),
    ).filter(F.col("rank") <= 10)
    r2 = d.select(
        F.col("source").alias("query_id"), F.col("doc_id"),
        F.lit("hash").alias("ranker"), F.row_number().over(w2).alias("rank"),
    ).filter(F.col("rank") <= 10)
    return rrf_fuse(r1.unionByName(r2), top_n=10).spark


_q226_sql = """
WITH r1 AS (
  SELECT source AS query_id, doc_id, 'len' AS ranker,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents),
r2 AS (
  SELECT source AS query_id, doc_id, 'hash' AS ranker,
         row_number() OVER (PARTITION BY source ORDER BY doc_id % 7 ASC, doc_id ASC) AS rank
  FROM documents),
lists AS (SELECT * FROM r1 WHERE rank <= 10 UNION ALL SELECT * FROM r2 WHERE rank <= 10),
fused AS (
  SELECT query_id AS query, doc_id AS doc, sum(1.0/(60.0 + rank)) AS s
  FROM lists GROUP BY 1, 2),
ranked AS (
  SELECT query, doc, round(s, 6) AS rrf_score,
         row_number() OVER (PARTITION BY query ORDER BY s DESC, doc ASC) AS fused_rank
  FROM fused)
SELECT * FROM ranked WHERE fused_rank <= 10
"""


def _q227(spark, sf_dir):
    """Two-proportion z-test (operators/regression.py prop_ztest): A/B
    conversion comparison over derived even/odd event arms — one fused
    conditional-count aggregate, 1-row answer at any scale."""
    from polars_net_spark.operators.regression import prop_ztest

    ev = _t(spark, sf_dir, "events").spark
    d = ev.select(
        F.when(F.col("event_id") % 2 == 0, "a").otherwise("b").alias("arm"),
        (F.col("value") > 50).cast("int").alias("converted"),
    )
    return prop_ztest(d, "arm", "converted", "a", "b").spark


_q227_sql = """
WITH b AS (
  SELECT CASE WHEN event_id%2=0 THEN 'a' ELSE 'b' END AS arm,
         CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS y
  FROM events WHERE value IS NOT NULL),
t AS (
  SELECT sum(CASE WHEN arm='a' THEN y END) AS sa,
         count(CASE WHEN arm='a' THEN 1 END) * 1.0 AS na,
         sum(CASE WHEN arm='b' THEN y END) AS sb,
         count(CASE WHEN arm='b' THEN 1 END) * 1.0 AS nb
  FROM b)
SELECT round(CASE WHEN (sa+sb)/(na+nb) > 0 AND (sa+sb)/(na+nb) < 1
             THEN (sa/na - sb/nb)
                  / sqrt((sa+sb)/(na+nb) * (1.0-(sa+sb)/(na+nb)) * (1.0/na + 1.0/nb)) END, 6) AS z,
       round(sa/na, 6) AS p_a,
       round(sb/nb, 6) AS p_b,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b
FROM t
"""


def _q228(spark, sf_dir):
    """Kaplan–Meier survival curve (operators/analytics.py survival_curve),
    GLOBAL path: time = whole-unit value bucket, event = 3 of 4 subjects
    (rest censored).  Both running sums (at-risk and Σ ln(1−d/n)) ride
    range buckets + driver prefix offsets — no single-partition window."""
    from polars_net_spark.operators.analytics import survival_curve

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(F.col("value").isNotNull()).select(
        F.floor(F.col("value")).cast("double").alias("t_obs"),
        (F.col("event_id") % 4 != 0).cast("int").alias("event"),
    )
    return survival_curve(d, "t_obs", "event").spark


_q228_sql = """
WITH b AS (
  SELECT floor(value) AS t, CASE WHEN event_id%4<>0 THEN 1 ELSE 0 END AS ev
  FROM events WHERE value IS NOT NULL),
g AS (SELECT t, sum(ev) AS d, sum(1-ev) AS c FROM b GROUP BY 1),
r AS (SELECT t, d, c,
        (SELECT sum(d+c) FROM g) - coalesce(sum(d+c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g),
s AS (SELECT t, d, c, n_risk,
        CASE WHEN d > 0 AND 1.0 - d*1.0/n_risk > 0 THEN ln(1.0 - d*1.0/n_risk) ELSE 0.0 END AS lg,
        CASE WHEN d > 0 AND 1.0 - d*1.0/n_risk <= 0 THEN 1 ELSE 0 END AS zf
      FROM r)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
  round(CASE WHEN sum(zf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
        THEN 0.0 ELSE exp(sum(lg) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END, 6) AS survival
FROM s
"""


def _q229(spark, sf_dir):
    """Time-weighted average per user (operators/analytics.py
    time_weighted_average, trapezoid): the honest mean for irregularly
    sampled signals — one lag window sharded on the user key + one
    aggregate."""
    from polars_net_spark.operators.analytics import time_weighted_average

    ev = _t(spark, sf_dir, "events").spark
    out = time_weighted_average(ev, "ts", "value", by="user_id").spark
    return out.select(
        "user_id", "twa",
        F.date_format("t_min", "yyyy-MM-dd HH:mm:ss").alias("t0"),
        F.date_format("t_max", "yyyy-MM-dd HH:mm:ss").alias("t1"),
        "n",
    )


_q229_sql = """
WITH b AS (
  SELECT user_id, epoch(ts) AS t, value AS v FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL),
l AS (SELECT user_id, t, v,
        lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt,
        lag(v) OVER (PARTITION BY user_id ORDER BY t) AS pv
      FROM b),
a AS (SELECT user_id,
        sum((t - pt) * (pv + v) / 2.0) AS area,
        min(t) AS t0, max(t) AS t1, count(*) AS n, avg(v) AS vbar
      FROM l GROUP BY 1)
SELECT user_id,
  round(CASE WHEN t1 > t0 THEN area / (t1 - t0) ELSE vbar END, 6) AS twa,
  strftime(to_timestamp(t0), '%Y-%m-%d %H:%M:%S') AS t0,
  strftime(to_timestamp(t1), '%Y-%m-%d %H:%M:%S') AS t1,
  CAST(n AS BIGINT) AS n
FROM a
"""


def _q230(spark, sf_dir):
    """Decile lift / cumulative gains (llm/evaluation.py lift_table):
    exact-quantile score deciles (1-row broadcast edges, parity-proven
    interpolation), per-decile lift vs base rate, cumulative gain walking
    down from the top — the targeting readout beside AUC."""
    from polars_net_spark.llm import lift_table

    ev = _t(spark, sf_dir, "events").spark
    d = ev.select(
        (F.col("value") / 100).alias("score"),
        F.when(F.col("event_id") % 3 == 0, 1).otherwise(0).alias("y"),
    ).filter(F.col("score").isNotNull())
    return lift_table(d, "score", "y", n_bins=10).spark


_q230_sql = """
WITH b AS (
  SELECT value/100 AS s, CASE WHEN event_id%3=0 THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL),
e AS (SELECT quantile_cont(s, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS edges FROM b),
binned AS (
  SELECT 10 - len(list_filter(edges, x -> s >= x)) AS decile, y
  FROM b CROSS JOIN e),
cnt AS (SELECT decile, count(*) AS n, sum(y) AS n_pos FROM binned GROUP BY 1),
tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM cnt),
grid AS (SELECT CAST(g AS INT) AS decile FROM generate_series(1,10) s(g)),
filled AS (
  SELECT grid.decile, coalesce(n,0) AS n, coalesce(n_pos,0) AS n_pos, tn, tp
  FROM grid LEFT JOIN cnt ON grid.decile = cnt.decile CROSS JOIN tot)
SELECT decile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
  round(CASE WHEN n > 0 THEN n_pos*1.0/n END, 6) AS pos_rate,
  round(CASE WHEN tp > 0 AND n > 0 THEN (n_pos*1.0/n)/(tp*1.0/tn) END, 6) AS lift,
  round(CASE WHEN tp > 0 THEN sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*1.0/tp END, 6) AS cum_gain,
  round(CASE WHEN tp > 0 THEN (sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*1.0
        / sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))/(tp*1.0/tn) END, 6) AS cum_lift
FROM filled
"""


def _q231(spark, sf_dir):
    """PMI collocation mining (llm/retrieval.py pmi_collocations): adjacent
    bigrams built map-side per document (slice+zip_with, no positional
    self-join); min_count prunes the pair tail before the unigram joins;
    shared-token-total NPMI normalization."""
    from polars_net_spark.llm import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5).spark


_q231_sql = """
WITH w AS (
  SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> length(t) > 0) AS ws
  FROM documents),
uni AS (
  SELECT t.term AS term, count(*) AS c
  FROM w, LATERAL unnest(ws) AS t(term) GROUP BY 1),
nt AS (SELECT sum(c) AS n FROM uni),
bg AS (
  SELECT ws[r.i] AS a, ws[r.i + 1] AS b
  FROM w, LATERAL unnest(range(1, len(ws))) AS r(i)
  WHERE len(ws) >= 2),
pc AS (SELECT a, b, count(*) AS pair_count FROM bg GROUP BY 1, 2
       HAVING count(*) >= 5)
SELECT pc.a, pc.b, CAST(pair_count AS BIGINT) AS pair_count,
  round(ln((pair_count * 1.0 / n) / ((ca.c * 1.0 / n) * (cb.c * 1.0 / n))), 6) AS pmi,
  round(ln((pair_count * 1.0 / n) / ((ca.c * 1.0 / n) * (cb.c * 1.0 / n)))
        / -ln(pair_count * 1.0 / n), 6) AS npmi
FROM pc JOIN uni ca ON pc.a = ca.term JOIN uni cb ON pc.b = cb.term, nt
"""


def _q232(spark, sf_dir):
    """Smoothed mean target encoding (operators/analytics.py target_encode):
    per order priority, shrinkage-blended mean order value — one category-
    keyed aggregate + 1-row prior broadcast."""
    from polars_net_spark.operators.analytics import target_encode

    o = _t(spark, sf_dir, "orders").spark
    return target_encode(o, "o_orderpriority", "o_totalprice", smoothing=25.0).spark


_q232_sql = """
WITH b AS (
  SELECT o_orderpriority AS c, o_totalprice AS y FROM orders
  WHERE o_totalprice IS NOT NULL),
p AS (SELECT avg(y) AS prior FROM b),
g AS (SELECT c, count(*) AS n, sum(y) AS s FROM b GROUP BY 1)
SELECT c AS o_orderpriority, CAST(n AS BIGINT) AS n,
  round(s / n, 6) AS target_mean,
  round((s + 25.0 * prior) / (n + 25.0), 6) AS encoding
FROM g, p
"""


def _q233(spark, sf_dir):
    """Hashing-trick featurizer (llm/vocab.py feature_hash_frame): md5
    bucket + signed collision cancellation, entirely map-side array math —
    the plan has ZERO Exchange (audited).  Gate stringifies the sparse
    arrays for the hash compare."""
    from polars_net_spark.llm import feature_hash_frame

    d = _t(spark, sf_dir, "documents").spark
    out = feature_hash_frame(d, n_features=64, seed="fh").spark
    return out.select(
        "doc_id",
        F.array_join(F.transform("indices", lambda i: i.cast("string")), ",").alias("indices"),
        F.array_join(
            F.transform("values", lambda v: v.cast("long").cast("string")), ","
        ).alias("vals"),
    )


_q233_sql = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> length(t) > 0) AS ws
  FROM documents),
h AS (
  SELECT doc_id,
    list_transform(ws, w -> CAST(
      list_reduce(list_transform(generate_series(1, 8),
                  i -> strpos('0123456789abcdef', substr(md5('fh' || w), i, 1)) - 1),
                  (a, x) -> a * 16 + x) % 64 AS INTEGER)) AS bs,
    list_transform(ws, w -> CASE
      WHEN (strpos('0123456789abcdef', substr(md5('fh' || w), 9, 1)) - 1) % 2 = 1
      THEN -1 ELSE 1 END) AS ss
  FROM d),
v AS (
  SELECT doc_id, bs, ss, list_sort(list_distinct(bs)) AS ib FROM h),
vv AS (
  SELECT doc_id, ib,
    list_transform(ib, b -> list_sum(list_transform(generate_series(1, len(bs)),
                   j -> CASE WHEN bs[j] = b THEN ss[j] ELSE 0 END))) AS vs
  FROM v),
k AS (
  SELECT doc_id, ib, vs,
    list_filter(generate_series(1, len(ib)), j -> vs[j] <> 0) AS keep
  FROM vv)
SELECT doc_id,
  array_to_string(list_transform(keep, j -> CAST(ib[j] AS VARCHAR)), ',') AS indices,
  array_to_string(list_transform(keep, j -> CAST(CAST(vs[j] AS BIGINT) AS VARCHAR)), ',') AS vals
FROM k
"""


def _q234(spark, sf_dir):
    """Declarative data-quality audit (operators/validate.py
    validate_frame): five rules — uniqueness, null screen, range, set
    membership, regex — compiled into ONE fused all-reduce (the distinct
    count rides the same aggregate chain), one audit row per rule."""
    from polars_net_spark.operators.validate import validate_frame

    o = _t(spark, sf_dir, "orders").spark
    rules = [
        {"col": "o_orderkey", "check": "unique"},
        {"col": "o_custkey", "check": "not_null"},
        {"col": "o_totalprice", "check": "min", "value": 0.0},
        {"col": "o_orderstatus", "check": "in_set", "values": ["O", "F", "P"]},
        {"col": "o_orderpriority", "check": "regex", "pattern": "^[1-5]-",
         "max_violation_rate": 0.5},
    ]
    return validate_frame(o, rules).spark


_q234_sql = """
WITH s AS (
  SELECT count(*) AS n,
    count(o_orderkey) - count(DISTINCT o_orderkey) AS v0,
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,
    sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0.0 THEN 1 ELSE 0 END) AS v2,
    sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS v3,
    sum(CASE WHEN o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS v4
  FROM orders),
r AS (
  SELECT 'unique' AS rule, 'o_orderkey' AS "column", v0 AS nv, 0.0 AS thr FROM s
  UNION ALL SELECT 'not_null', 'o_custkey', v1, 0.0 FROM s
  UNION ALL SELECT 'min 0.0', 'o_totalprice', v2, 0.0 FROM s
  UNION ALL SELECT 'in_set', 'o_orderstatus', v3, 0.0 FROM s
  UNION ALL SELECT 'regex', 'o_orderpriority', v4, 0.5 FROM s)
SELECT rule, "column", CAST(n AS BIGINT) AS n_rows, CAST(nv AS BIGINT) AS n_violations,
  round(nv * 1.0 / n, 6) AS violation_rate, (nv * 1.0 / n) <= thr AS passed
FROM r, s
"""



def _q235(spark, sf_dir):
    """IVF-PQ composite ANN (llm/similarity.py ivfpq_index/ivfpq_topk —
    the FAISS layout): coarse inverted lists bound WHICH vectors a query
    scores (nprobe/nlist of the corpus), residual PQ/ADC bounds WHAT
    scoring costs (m table lookups, the scan never touches floats).  Index
    build is plan-audited zero-Exchange; search is one broadcast equi-join
    on centroid_id.  Closed-form init centroids + codebooks keep the whole
    path DuckDB-replicable; production refines both with k-means (pinned
    by the Lloyd monotonicity tests)."""
    from polars_net_spark.llm.similarity import ivfpq_topk, pq_init_codebooks

    e = _t(spark, sf_dir, "embeddings")
    cb = pq_init_codebooks(e, m=8, k=16)
    # codebooks[s][j] is subvector s of the j-th lowest-id vector, so the
    # init centroids (the 8 lowest-id vectors) are their concatenations —
    # one TakeOrdered scan instead of two.
    cents = [[x for s in range(8) for x in cb[s][i]] for i in range(8)]
    q = LazyFrame(e._sdf.filter(F.col("vec_id") < 10))
    return ivfpq_topk(e, q, cb, k=5, nlist=8, nprobe=3, centroids=cents).spark


_q235_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, v
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
ss AS (SELECT unnest(generate_series(0, 7)) AS s),
cd AS (SELECT e.vec_id, cent.cid,
              list_sum(list_transform(generate_series(1, 64),
                       p -> (e.v[p] - cent.cv[p]) ^ 2)) AS d2
       FROM e CROSS JOIN cent),
asg AS (SELECT vec_id, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM cd) WHERE rn = 1),
res AS (SELECT e.vec_id, asg.cid,
               list_transform(generate_series(1, 64), p -> e.v[p] - cent.cv[p]) AS rv
        FROM e JOIN asg USING (vec_id) JOIN cent ON asg.cid = cent.cid),
sd AS (SELECT res.vec_id, res.cid, ss.s, cb.j,
              list_sum(list_transform(generate_series(1, 8),
                       p -> (res.rv[ss.s * 8 + p] - cb.v[ss.s * 8 + p]) ^ 2)) AS d2
       FROM res CROSS JOIN ss CROSS JOIN cb),
codes AS (SELECT vec_id, cid, s, j AS code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
            FROM sd) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
qd AS (SELECT q.query_id, cent.cid,
              list_sum(list_transform(generate_series(1, 64),
                       p -> (q.qv[p] - cent.cv[p]) ^ 2)) AS d2
       FROM q CROSS JOIN cent),
qprob AS (SELECT query_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2, cid) AS rn
            FROM qd) WHERE rn <= 3),
qres AS (SELECT q.query_id, qprob.cid,
                list_transform(generate_series(1, 64), p -> q.qv[p] - cent.cv[p]) AS qr
         FROM q JOIN qprob USING (query_id) JOIN cent ON qprob.cid = cent.cid),
qt AS (SELECT qres.query_id, qres.cid, ss.s, cb.j,
              list_sum(list_transform(generate_series(1, 8),
                       p -> (qres.qr[ss.s * 8 + p] - cb.v[ss.s * 8 + p]) ^ 2)) AS qd2
       FROM qres CROSS JOIN ss CROSS JOIN cb),
adc AS (SELECT qt.query_id, codes.vec_id AS corpus_id, sum(qt.qd2) AS ad
        FROM codes JOIN qt ON qt.cid = codes.cid AND qt.s = codes.s AND qt.j = codes.code
        WHERE codes.vec_id <> qt.query_id
        GROUP BY 1, 2)
SELECT query_id, corpus_id, approx_dist, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, corpus_id, round(ad, 6) AS approx_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY round(ad, 6), corpus_id) AS rank
  FROM adc)
WHERE rank <= 5
"""



def _q236(spark, sf_dir):
    """Embedding-space drift (llm/similarity.py embedding_drift_report):
    centroid cosine/shift + single-pass dispersion (E||x||^2 - ||c||^2)
    between two corpus halves — each side ONE fused all-reduce with dim
    per-position averages, the vector complement of psi_report/
    corpus_divergence."""
    from polars_net_spark.llm.similarity import embedding_drift_report

    e = _t(spark, sf_dir, "embeddings").spark
    ref = e.filter(F.col("vec_id") % 2 == 0)
    cur = e.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift_report(ref, cur, dim=64).spark


_q236_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
r AS (SELECT v FROM e WHERE vec_id % 2 = 0),
c AS (SELECT v FROM e WHERE vec_id % 2 = 1),
rs AS (SELECT count(*) AS n_ref,
              avg(sqrt(list_sum(list_transform(v, x -> x * x)))) AS norm_mean_ref,
              avg(list_sum(list_transform(v, x -> x * x))) AS sq_ref
       FROM r),
cs AS (SELECT count(*) AS n_cur,
              avg(sqrt(list_sum(list_transform(v, x -> x * x)))) AS norm_mean_cur,
              avg(list_sum(list_transform(v, x -> x * x))) AS sq_cur
       FROM c),
rcent AS (SELECT list(a ORDER BY p) AS cr FROM (
            SELECT t.p AS p, avg(v[t.p]) AS a
            FROM r, unnest(generate_series(1, 64)) AS t(p) GROUP BY 1)),
ccent AS (SELECT list(a ORDER BY p) AS cc FROM (
            SELECT t.p AS p, avg(v[t.p]) AS a
            FROM c, unnest(generate_series(1, 64)) AS t(p) GROUP BY 1)),
m AS (SELECT n_ref, n_cur, norm_mean_ref, norm_mean_cur, sq_ref, sq_cur, cr, cc,
             list_sum(list_transform(generate_series(1, 64), p -> cr[p] * cc[p])) AS dot,
             sqrt(list_sum(list_transform(cr, x -> x * x))) AS nr,
             sqrt(list_sum(list_transform(cc, x -> x * x))) AS nc,
             list_sum(list_transform(cr, x -> x * x)) AS rr,
             list_sum(list_transform(cc, x -> x * x)) AS ncc,
             sqrt(list_sum(list_transform(generate_series(1, 64),
                  p -> (cr[p] - cc[p]) * (cr[p] - cc[p])))) AS shift
      FROM rs, cs, rcent, ccent)
SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
  round(norm_mean_ref, 6) AS norm_mean_ref,
  round(norm_mean_cur, 6) AS norm_mean_cur,
  round(CASE WHEN nr > 0 AND nc > 0 THEN dot / (nr * nc) END, 6) AS centroid_cosine,
  round(shift, 6) AS centroid_shift_l2,
  round(sq_ref - rr, 6) AS msd_ref,
  round(sq_cur - ncc, 6) AS msd_cur
FROM m
"""



def _q237(spark, sf_dir):
    """First-order Markov transition matrix (operators/analytics.py
    markov_transitions): P(next event_type | event_type) per user sequence —
    one lag window sharded on the user key, pair counts + state-cardinality
    normalization join."""
    from polars_net_spark.operators.analytics import markov_transitions

    ev = _t(spark, sf_dir, "events").spark
    return markov_transitions(ev, "event_type", "ts", by="user_id",
                              tie_cols=["event_id"]).spark


_q237_sql = """
WITH l AS (
  SELECT event_type AS t,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS f
  FROM events),
p AS (SELECT f, t, count(*) AS n FROM l
      WHERE f IS NOT NULL AND t IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT f, sum(n) AS tt FROM p GROUP BY 1)
SELECT p.f AS from_state, p.t AS to_state, CAST(n AS BIGINT) AS n,
       round(n * 1.0 / tt, 6) AS p
FROM p JOIN tot ON p.f = tot.f
"""


def _q238(spark, sf_dir):
    """Split-conformal calibration + held-out coverage (llm/evaluation.py
    conformal_threshold/conformal_coverage): q-hat = the ceil((n+1)(1-a))-th
    smallest calibration score, fetched as the (n-k+1)-th LARGEST via
    TakeOrderedAndProject (no global sort); coverage is one fused
    all-reduce with q-hat as a 1-row broadcast."""
    from polars_net_spark.llm.evaluation import conformal_threshold, conformal_coverage

    ev = _t(spark, sf_dir, "events").spark
    cal = ev.filter((F.col("event_id") % 2 == 0) & F.col("value").isNotNull())
    test = ev.filter((F.col("event_id") % 2 == 1) & F.col("value").isNotNull())
    th = conformal_threshold(cal, "value", alpha=0.1)
    cov = conformal_coverage(test, "value", th)
    return th.spark.crossJoin(cov.spark)


def _q239(spark, sf_dir):
    """Gap-based sessionization (operators/analytics.py sessionize /
    session_summary): a new session opens after >2h of user silence; the
    lag-flag and running-sum windows share ONE user-keyed Exchange, and the
    summary aggregate reuses that co-location."""
    from polars_net_spark.operators.analytics import session_summary

    ev = _t(spark, sf_dir, "events").spark
    return session_summary(
        ev, "ts", by="user_id", gap="2 hours", tie_cols=["event_id"]
    ).spark


_q239_sql = """
WITH l AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 7200000000::BIGINT
              THEN 1 ELSE 0 END AS nf
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM l)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6)
         AS duration_seconds
FROM s GROUP BY user_id, sid
"""


def _q240(spark, sf_dir):
    """Pairwise association rules (operators/basket.py association_rules):
    brand co-purchase over orders — exact Apriori item prune, ONE basket
    shuffle, map-side i<j pair fan-out from the sorted item array (no
    positional self-join), bounded-broadcast count attachments."""
    from polars_net_spark.operators.basket import association_rules

    li = _t(spark, sf_dir, "lineitem").spark
    pt = _t(spark, sf_dir, "part").spark
    bi = li.join(pt, li.l_partkey == pt.p_partkey).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return association_rules(bi, "basket", "item", min_support=0.01).spark


_q240_sql = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
            FROM lineitem JOIN part ON l_partkey = p_partkey),
nb AS (SELECT count(DISTINCT b) AS n FROM bi),
ic AS (SELECT i, count(*) AS ni FROM bi GROUP BY 1),
freq AS (SELECT i, ni FROM ic, nb WHERE ni * 1.0 / n >= 0.01),
pe AS (SELECT x.b AS b, x.i AS a, y.i AS c
       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
       WHERE x.i IN (SELECT i FROM freq) AND y.i IN (SELECT i FROM freq)),
pc AS (SELECT a, c, count(*) AS np FROM pe GROUP BY 1, 2),
pf AS (SELECT a, c, np FROM pc, nb WHERE np * 1.0 / n >= 0.01),
d AS (SELECT a AS ante, c AS cons, np FROM pf
      UNION ALL SELECT c, a, np FROM pf)
SELECT d.ante AS antecedent, d.cons AS consequent,
       CAST(np AS BIGINT) AS n_pair,
       round(np * 1.0 / nb.n, 6) AS support,
       round(np * 1.0 / fa.ni, 6) AS confidence,
       round(np * 1.0 * nb.n / (fa.ni * fc.ni), 6) AS lift
FROM d
JOIN freq fa ON d.ante = fa.i
JOIN freq fc ON d.cons = fc.i
CROSS JOIN nb
"""


def _q241(spark, sf_dir):
    """CUPED variance reduction (operators/regression.py cuped_report):
    pooled theta = cov(X,Y)/var(X) from ONE fused global all-reduce, group
    stats for the adjusted metric from per-group moment sums (no second
    pass), 1-row theta broadcast.  Metric scaled 1e-5 so 6-decimal rounding
    sits far above double-summation noise."""
    from polars_net_spark.operators.regression import cuped_report

    li = _t(spark, sf_dir, "lineitem").spark
    staged = li.select(
        (F.col("l_extendedprice") * 1e-5).alias("y"),
        F.col("l_quantity").alias("x"),
        F.col("l_returnflag").alias("g"),
    )
    return cuped_report(staged, "y", "x", "g").spark


_q241_sql = """
WITH b AS (SELECT l_returnflag AS g, l_extendedprice * 1e-5 AS y,
                  l_quantity::DOUBLE AS x
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             AND l_returnflag IS NOT NULL),
gl AS (SELECT (sum(x * y) - sum(x) * sum(y) / count(*))
              / (sum(x * x) - sum(x) * sum(x) / count(*)) AS theta,
              avg(x) AS mx
       FROM b),
p AS (SELECT g, count(*) AS n, avg(y) AS my, avg(x) AS mxg,
             var_samp(y) AS vy, var_samp(x) AS vx, covar_samp(x, y) AS cxy
      FROM b GROUP BY 1)
SELECT g AS "group", CAST(n AS BIGINT) AS n, round(theta, 6) AS theta,
       round(my, 6) AS mean_raw,
       round(my - theta * (mxg - mx), 6) AS mean_adj,
       round(vy, 6) AS var_raw,
       round(vy - 2 * theta * cxy + theta * theta * vx, 6) AS var_adj,
       round(1 - (vy - 2 * theta * cxy + theta * theta * vx) / vy, 6)
         AS var_reduction
FROM p, gl
"""


def _q242(spark, sf_dir):
    """Exact triangle counting (operators/graph.py triangle_count) on the
    domestic co-supply graph (suppliers sharing an order AND a nation):
    degree-ordered orientation bounds the wedge self-join at Sigma outdeg^2 =
    O(m^1.5) — no hub blowup; per-node credit is the clustering-coefficient
    numerator."""
    from polars_net_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").spark
    su = _t(spark, sf_dir, "supplier").spark
    sn = su.select("s_suppkey", "s_nationkey")
    x = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    y = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    edges = (
        x.join(y, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .join(sn.select(F.col("s_suppkey").alias("s1"), F.col("s_nationkey").alias("n1")), "s1")
        .join(sn.select(F.col("s_suppkey").alias("s2"), F.col("s_nationkey").alias("n2")), "s2")
        .filter(F.col("n1") == F.col("n2"))
        .select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
    )
    return triangle_count(edges, per_node=True).spark


_q242_sql = """
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x
  JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  JOIN supplier sa ON sa.s_suppkey = x.l_suppkey
  JOIN supplier sb ON sb.s_suppkey = y.l_suppkey
  WHERE sa.s_nationkey = sb.s_nationkey),
t AS (
  SELECT e1.a AS u, e1.b AS v, e2.b AS w
  FROM e e1
  JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
c AS (SELECT u AS node FROM t UNION ALL SELECT v FROM t
      UNION ALL SELECT w FROM t),
nodes AS (SELECT a AS node FROM e UNION SELECT b AS node FROM e)
SELECT nodes.node AS node,
       CAST(count(c.node) AS BIGINT) AS n_triangles
FROM nodes LEFT JOIN c ON nodes.node = c.node
GROUP BY 1
"""


def _q243(spark, sf_dir):
    """Per-row ROUGE-1 (llm/evaluation.py rouge_n_frame): clipped unigram
    overlap between each document's 200-char prefix (the 'summary') and its
    full text — ZERO-shuffle: both gram multisets merge into one sorted
    struct array per row and a single run-length fold flushes
    min(cand_run, ref_run) at gram boundaries."""
    from polars_net_spark.llm.evaluation import rouge_n_frame

    d = _t(spark, sf_dir, "documents").spark
    pairs = d.select(
        "doc_id",
        F.substring("text", 1, 200).alias("cand"),
        F.col("text").alias("ref"),
    )
    return rouge_n_frame(pairs, "cand", "ref", n=1).spark.select(
        "doc_id", "n_cand", "n_ref", "n_overlap", "rouge_p", "rouge_r", "rouge_f1"
    )


_q243_sql = """
WITH d AS (SELECT doc_id, substr(text, 1, 200) AS cand, text AS ref
           FROM documents),
w AS (SELECT doc_id,
             list_filter(string_split_regex(lower(trim(coalesce(cand, ''))),
                         '\\s+'), x -> len(x) > 0) AS wc,
             list_filter(string_split_regex(lower(trim(coalesce(ref, ''))),
                         '\\s+'), x -> len(x) > 0) AS wr
      FROM d),
cc AS (SELECT doc_id, g, count(*) AS nc FROM
        (SELECT doc_id, unnest(wc) AS g FROM w) GROUP BY 1, 2),
rc AS (SELECT doc_id, g, count(*) AS nr FROM
        (SELECT doc_id, unnest(wr) AS g FROM w) GROUP BY 1, 2),
ov AS (SELECT w.doc_id,
              coalesce(sum(least(coalesce(cc.nc, 0), coalesce(rc.nr, 0))), 0)
                AS n_overlap
       FROM w
       LEFT JOIN cc ON cc.doc_id = w.doc_id
       LEFT JOIN rc ON rc.doc_id = cc.doc_id AND rc.g = cc.g
       GROUP BY 1),
m AS (SELECT w.doc_id, len(wc) AS n_cand, len(wr) AS n_ref, ov.n_overlap,
             CASE WHEN len(wc) > 0 THEN ov.n_overlap * 1.0 / len(wc) END AS p,
             CASE WHEN len(wr) > 0 THEN ov.n_overlap * 1.0 / len(wr) END AS r
      FROM w JOIN ov ON ov.doc_id = w.doc_id)
SELECT doc_id, CAST(n_cand AS BIGINT) AS n_cand, CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       round(p, 6) AS rouge_p, round(r, 6) AS rouge_r,
       CASE WHEN p IS NOT NULL AND r IS NOT NULL THEN
         CASE WHEN p + r > 0 THEN round(2 * p * r / (p + r), 6) ELSE 0.0 END
       END AS rouge_f1
FROM m
"""


def _q244(spark, sf_dir):
    """Character-level edit metrics (llm/evaluation.py edit_distance_report):
    Levenshtein / CER / normalized similarity between neighboring documents'
    80-char prefixes — pure map-side JVM levenshtein after one id-shifted
    equi-join."""
    from polars_net_spark.llm.evaluation import edit_distance_report

    d = _t(spark, sf_dir, "documents").spark
    a = d.select(F.col("doc_id"), F.lower(F.substring("text", 1, 80)).alias("cand"))
    b = d.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.lower(F.substring("text", 1, 80)).alias("ref"),
    )
    pairs = a.join(b, "doc_id")
    return edit_distance_report(pairs, "cand", "ref").spark.select(
        "doc_id", "edit_distance", "cer", "similarity", "exact_match"
    )


_q244_sql = """
WITH a AS (SELECT doc_id, lower(substr(text, 1, 80)) AS cand FROM documents),
b AS (SELECT doc_id - 1 AS doc_id, lower(substr(text, 1, 80)) AS ref
      FROM documents),
p AS (SELECT a.doc_id, coalesce(cand, '') AS c, coalesce(ref, '') AS r
      FROM a JOIN b ON a.doc_id = b.doc_id),
m AS (SELECT doc_id, c, r, levenshtein(c, r) AS d FROM p)
SELECT doc_id, CAST(d AS BIGINT) AS edit_distance,
       round(CASE WHEN len(r) > 0 THEN d * 1.0 / len(r) END, 6) AS cer,
       round(CASE WHEN greatest(len(c), len(r)) > 0
                  THEN 1.0 - d * 1.0 / greatest(len(c), len(r))
                  ELSE 1.0 END, 6) AS similarity,
       d = 0 AS exact_match
FROM m
"""


def _q245(spark, sf_dir):
    """Sample-ratio-mismatch check (operators/regression.py srm_check): χ²
    goodness-of-fit of observed event_type assignment counts against a
    designed 50/30/20 split — one count aggregate LEFT-joined onto the
    literal expected grid; types outside the design are excluded."""
    from polars_net_spark.operators.regression import srm_check

    ev = _t(spark, sf_dir, "events").spark
    return srm_check(
        ev, "event_type", {"view": 0.5, "click": 0.3, "purchase": 0.2}
    ).spark


_q245_sql = """
WITH grid AS (SELECT * FROM (VALUES ('click', 0.3), ('purchase', 0.2),
                                    ('view', 0.5)) AS t(g, share)),
obs AS (SELECT event_type AS g, count(*) AS o FROM events
        WHERE event_type IN ('view', 'click', 'purchase') GROUP BY 1),
j AS (SELECT grid.g, grid.share / (SELECT sum(share) FROM grid) AS share,
             coalesce(obs.o, 0) AS o
      FROM grid LEFT JOIN obs ON grid.g = obs.g),
n AS (SELECT sum(o) AS n FROM j)
SELECT CAST(n.n AS BIGINT) AS n,
       round(sum((o - share * n.n) * (o - share * n.n) / (share * n.n)), 6)
         AS chi2,
       CAST(count(*) - 1 AS BIGINT) AS df,
       round(max(abs(o * 1.0 / n.n - share)), 6) AS max_abs_diff
FROM j, n GROUP BY n.n
"""


def _q246(spark, sf_dir):
    """Squared Mahalanobis outlier score (operators/regression.py
    with_mahalanobis) over (quantity, scaled price): ONE fused all-reduce
    fits means + covariances, a driver-side numpy inverse of the bounded
    d×d matrix, and serving is pure map-side quadratic-form Column math."""
    from polars_net_spark.operators.regression import with_mahalanobis

    li = _t(spark, sf_dir, "lineitem").spark
    staged = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") * 1e-5).alias("y"),
    )
    return with_mahalanobis(staged, ["x", "y"]).spark.select(
        "l_orderkey", "l_linenumber", "mahalanobis_sq"
    )


_q246_sql = """
WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity::DOUBLE AS x,
                  l_extendedprice * 1e-5 AS y
           FROM lineitem),
s AS (SELECT avg(x) AS mx, avg(y) AS my, var_samp(x) AS vx, var_samp(y) AS vy,
             covar_samp(x, y) AS cxy
      FROM b WHERE x IS NOT NULL AND y IS NOT NULL)
SELECT l_orderkey, l_linenumber,
       round((vy * (x - mx) * (x - mx) - 2 * cxy * (x - mx) * (y - my)
              + vx * (y - my) * (y - my)) / (vx * vy - cxy * cxy), 6)
         AS mahalanobis_sq
FROM b, s
"""


def _q247(spark, sf_dir):
    """Multi-touch attribution (operators/analytics.py attribution_frame):
    each purchase claims the touches since the user's previous purchase
    within a 2h lookback; first/last/linear credit per channel — ONE
    user-keyed reverse-running-count window assigns touches to conversions
    (no touch×conversion join)."""
    from polars_net_spark.operators.analytics import attribution_frame

    ev = _t(spark, sf_dir, "events").spark
    return attribution_frame(
        ev, "ts", "user_id", "event_type", "purchase",
        touch_types=["view", "click", "signup"], lookback="2 hours",
        tie_cols=["event_id"],
    ).spark


_q247_sql = """
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM events),
s2 AS (SELECT *, max(CASE WHEN event_type = 'purchase' THEN ts END)
                   OVER (PARTITION BY user_id, seg) AS conv_ts
       FROM s WHERE seg > 0),
t AS (SELECT * FROM s2
      WHERE event_type IN ('view', 'click', 'signup')
        AND ts < conv_ts
        AND epoch_us(ts) >= epoch_us(conv_ts) - 7200000000::BIGINT),
r AS (SELECT *,
        row_number() OVER (PARTITION BY user_id, seg
                           ORDER BY ts, event_id) AS ra,
        row_number() OVER (PARTITION BY user_id, seg
                           ORDER BY ts DESC, event_id DESC) AS rd,
        count(*) OVER (PARTITION BY user_id, seg) AS n
      FROM t)
SELECT event_type AS channel,
       round(sum(CASE WHEN ra = 1 THEN 1.0 ELSE 0.0 END), 6) AS first_touch,
       round(sum(CASE WHEN rd = 1 THEN 1.0 ELSE 0.0 END), 6) AS last_touch,
       round(sum(1.0 / n), 6) AS linear
FROM r GROUP BY 1
"""


def _q248(spark, sf_dir):
    """RAKE keyphrase extraction (llm/retrieval.py rake_keywords): maximal
    non-stopword runs score Σ degree/freq of member words; boundary
    splitting is RE2-compatible regex Column math (replayed verbatim by the
    oracle), stats are (doc, word)-keyed map-side-combining aggregates,
    ranking cuts on the ROUNDED score for cross-engine determinism."""
    from polars_net_spark.llm.retrieval import rake_keywords

    d = _t(spark, sf_dir, "documents").spark
    return rake_keywords(d, "text", "doc_id", top_k=3, max_words=4).spark


_q248_sql = (
    """
WITH d AS (SELECT doc_id, ' ' || lower(coalesce(text, '')) || ' ' AS t
           FROM documents),
p1 AS (SELECT doc_id, regexp_replace(t, '[^a-z0-9\\s]+', ' | ', 'g') AS t FROM d),
p2 AS (SELECT doc_id, regexp_replace(t, '\\s+', ' ', 'g') AS t FROM p1),
p3 AS (SELECT doc_id, regexp_replace(t, ' (?:__ALT__)(?: (?:__ALT__))* ',
                                     ' | ', 'g') AS t FROM p2),
ph AS (SELECT doc_id, phrase, len(string_split(phrase, ' ')) AS n_words FROM
        (SELECT doc_id, trim(u.s) AS phrase
         FROM p3, unnest(string_split(t, '|')) AS u(s))
       WHERE len(phrase) > 0),
phf AS (SELECT * FROM ph WHERE n_words BETWEEN 1 AND 4),
wd AS (SELECT doc_id, n_words, u.w AS word
       FROM phf, unnest(string_split(phrase, ' ')) AS u(w)),
ws AS (SELECT doc_id, word, count(*) AS freq, sum(n_words) AS deg
       FROM wd GROUP BY 1, 2),
pw AS (SELECT doc_id, phrase, n_words, u.w AS word
       FROM phf, unnest(string_split(phrase, ' ')) AS u(w)),
sc AS (SELECT pw.doc_id, pw.phrase, pw.n_words,
              sum(ws.deg * 1.0 / ws.freq) AS s,
              count(*) * 1.0 / pw.n_words AS occ
       FROM pw JOIN ws ON ws.doc_id = pw.doc_id AND ws.word = pw.word
       GROUP BY 1, 2, 3),
rr AS (SELECT doc_id, phrase, n_words, round(s / occ, 6) AS score FROM sc),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, phrase) AS rank
       FROM rr)
SELECT doc_id, phrase, CAST(n_words AS BIGINT) AS n_words, score,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 3
"""
).replace(
    "__ALT__",
    "|".join(sorted(
        "a an and are as at be but by for from has have he her his i in is it "
        "its of on or she that the their them they this to was we were which "
        "will with you your not no so if then than too very can could would".split()
    )),
)


def _q249(spark, sf_dir):
    """Deequ-style column profiling (operators/describe.py profile_frame):
    row/null/exact-distinct counts + modal value per column — ONE map-side
    melt, then two map-side-combining aggregates ((column, value) counts,
    column rollup via min(struct(-count, value))) — hot columns never pool
    raw rows."""
    from polars_net_spark.operators.describe import profile_frame

    li = _t(spark, sf_dir, "lineitem")
    return profile_frame(
        li, ["l_returnflag", "l_linestatus", "l_suppkey", "l_orderkey"]
    ).spark


_q249_sql = """
WITH p AS (
  SELECT 'l_returnflag' AS col, l_returnflag::VARCHAR AS v FROM lineitem
  UNION ALL
  SELECT 'l_linestatus', l_linestatus::VARCHAR FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey::VARCHAR FROM lineitem
  UNION ALL
  SELECT 'l_orderkey', l_orderkey::VARCHAR FROM lineitem),
base AS (SELECT col, count(*) AS n,
                sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS n_null
         FROM p GROUP BY 1),
vc AS (SELECT col, v, count(*) AS cnt FROM p WHERE v IS NOT NULL
       GROUP BY 1, 2),
roll AS (SELECT col, count(*) AS n_distinct FROM vc GROUP BY 1),
top AS (SELECT col, v AS top_value, cnt AS top_count FROM (
          SELECT *, row_number() OVER (PARTITION BY col
                                       ORDER BY cnt DESC, v) AS rn
          FROM vc) WHERE rn = 1)
SELECT base.col AS "column", CAST(n AS BIGINT) AS n,
       CAST(n_null AS BIGINT) AS n_null,
       CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct,
       top_value, CAST(top_count AS BIGINT) AS top_count
FROM base LEFT JOIN roll ON base.col = roll.col
LEFT JOIN top ON base.col = top.col
"""


def _q250(spark, sf_dir):
    """Exact GLOBAL weighted quantiles (operators/describe.py
    weighted_quantile): quantity-weighted price percentiles — distinct
    values collapse map-side, then the distsort range-bucket +
    driver-prefix-offset machinery keeps every window task at ~1/nbuckets
    of the distinct values (no single-partition window at any scale)."""
    from polars_net_spark.operators.describe import weighted_quantile

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantile(
        li, "l_extendedprice", "l_quantity", [0.25, 0.5, 0.9]
    ).spark


_q250_sql = """
WITH b AS (SELECT l_extendedprice::DOUBLE AS v, l_quantity::DOUBLE AS w
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
             AND l_quantity > 0),
d AS (SELECT v, sum(w) AS w FROM b GROUP BY 1),
c AS (SELECT v, sum(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
      FROM d),
t AS (SELECT sum(w) AS tw FROM d)
SELECT round(q, 6) AS q,
       round(min(CASE WHEN cw >= q * tw - 1e-12 THEN v END), 6) AS value
FROM c, t, (VALUES (0.25), (0.5), (0.9)) AS qs(q)
GROUP BY q
"""


def _q251(spark, sf_dir):
    """Synchronous label propagation (operators/graph.py
    label_propagation): 3 deterministic rounds (most-frequent neighbor
    label, ties to the smallest) on the domestic co-supply graph — per
    round one adjacency⋈labels equi-join + one (v, label) count + argmax
    via min(struct(-count, label)), all map-side combining; the oracle
    replays the rounds as unrolled CTEs."""
    from polars_net_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").spark
    su = _t(spark, sf_dir, "supplier").spark
    sn = su.select("s_suppkey", "s_nationkey")
    x = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s1"))
    y = li.select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s2"))
    edges = (
        x.join(y, "ok")
        .filter(F.col("s1") < F.col("s2"))
        .join(sn.select(F.col("s_suppkey").alias("s1"), F.col("s_nationkey").alias("n1")), "s1")
        .join(sn.select(F.col("s_suppkey").alias("s2"), F.col("s_nationkey").alias("n2")), "s2")
        .filter(F.col("n1") == F.col("n2"))
        .select(F.col("s1").alias("src"), F.col("s2").alias("dst"))
    )
    return label_propagation(edges, iterations=3).spark


_q251_sql = """
WITH e AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x
  JOIN lineitem y ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  JOIN supplier sa ON sa.s_suppkey = x.l_suppkey
  JOIN supplier sb ON sb.s_suppkey = y.l_suppkey
  WHERE sa.s_nationkey = sb.s_nationkey),
adj AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e),
l0 AS (SELECT DISTINCT v, v AS lab FROM adj),
c1 AS (SELECT adj.v, l0.lab, count(*) AS c
       FROM adj JOIN l0 ON adj.n = l0.v GROUP BY 1, 2),
l1 AS (SELECT v, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                                           ORDER BY c DESC, lab) AS rn
         FROM c1) WHERE rn = 1),
c2 AS (SELECT adj.v, l1.lab, count(*) AS c
       FROM adj JOIN l1 ON adj.n = l1.v GROUP BY 1, 2),
l2 AS (SELECT v, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                                           ORDER BY c DESC, lab) AS rn
         FROM c2) WHERE rn = 1),
c3 AS (SELECT adj.v, l2.lab, count(*) AS c
       FROM adj JOIN l2 ON adj.n = l2.v GROUP BY 1, 2),
l3 AS (SELECT v, lab FROM (
         SELECT v, lab, row_number() OVER (PARTITION BY v
                                           ORDER BY c DESC, lab) AS rn
         FROM c3) WHERE rn = 1)
SELECT v AS id, lab AS label FROM l3
"""


def _q252(spark, sf_dir):
    """Holt linear smoothing per user series (operators/ewm.py
    holt_forecast): level/trend recurrence folded over ONE ts-sorted array
    per key (whole-row Column math, no Python); dyadic α=0.5 β=0.25 keep
    the fold bit-identical to the oracle's list_reduce replay."""
    from polars_net_spark.operators.ewm import holt_forecast

    ev = _t(spark, sf_dir, "events").spark
    return holt_forecast(
        ev, "value", "ts", by="user_id", alpha=0.5, beta=0.25, horizon=2
    ).spark


_q252_sql = """
-- state travels as a 2-element LIST [l, b]: DuckDB 1.0 list_reduce with a
-- STRUCT accumulator rebinds earlier fields mid-lambda (acc.l resolves to
-- the new l inside the b expression); the list form keeps acc immutable.
WITH s AS (SELECT user_id, list(value ORDER BY ts, value) AS xs
           FROM events WHERE value IS NOT NULL GROUP BY 1),
f AS (SELECT user_id, len(xs) AS n,
             CASE WHEN len(xs) >= 2 THEN
               list_reduce(
                 list_prepend(
                   [xs[1], xs[2] - xs[1]],
                   list_transform(xs[3:], x -> [x, 0.0])),
                 (acc, e) -> [
                   0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                   0.25 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                     + 0.75 * acc[2]])
             END AS st
      FROM s)
SELECT user_id, CAST(n AS BIGINT) AS n,
       round(st[1], 6) AS level, round(st[2], 6) AS trend,
       round(st[1] + 2.0 * st[2], 6) AS forecast
FROM f
"""


def _q253(spark, sf_dir):
    """Arbitrary GROUPING SETS (frame.py LazyFrame.grouping_sets — the
    general form of cube/rollup): one Expand + one aggregate, cost
    |sets| × input map-side, never |all subsets|."""
    li = _t(spark, sf_dir, "lineitem")
    out = li.grouping_sets(
        [["l_returnflag", "l_linestatus"], ["l_linestatus"], []]
    ).agg(
        col("l_quantity").sum().round(2).alias("sum_qty"),
        col("l_orderkey").len().cast("long").alias("n"),
    )
    return out.spark


_q253_sql = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


def _q254(spark, sf_dir):
    """RFM segmentation (operators/analytics.py rfm_frame): recency/
    frequency/monetary per user with exact-quantile band scores — one
    user-keyed aggregate, one fused 1-row edge aggregate broadcast back,
    pure Column scoring; monetary rounds BEFORE banding so summation-order
    ulps can't flip a band."""
    from polars_net_spark.operators.analytics import rfm_frame

    ev = _t(spark, sf_dir, "events").spark
    return rfm_frame(ev, "user_id", "ts", "value", n_bins=5).spark


_q254_sql = """
WITH u AS (SELECT user_id, max(ts::DATE) AS last_d,
                  count(*) AS frequency, round(sum(value), 6) AS monetary
           FROM events GROUP BY 1),
a AS (SELECT max(last_d) AS anchor FROM u),
r AS (SELECT user_id, date_diff('day', last_d, anchor) AS rec,
             frequency, monetary
      FROM u, a),
e AS (SELECT quantile_cont(rec::DOUBLE, [0.2, 0.4, 0.6, 0.8]) AS re,
             quantile_cont(frequency::DOUBLE, [0.2, 0.4, 0.6, 0.8]) AS fe,
             quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS me
      FROM r),
s AS (SELECT user_id, rec, frequency, monetary,
             5 - len(list_filter(re, x -> x < rec)) AS rs,
             len(list_filter(fe, x -> x < frequency)) + 1 AS fs,
             CASE WHEN monetary IS NOT NULL
                  THEN len(list_filter(me, x -> x < monetary)) + 1 END AS ms
      FROM r, e)
SELECT user_id, CAST(rec AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency, monetary,
       CAST(rs AS INT) AS r_score, CAST(fs AS INT) AS f_score,
       CAST(ms AS INT) AS m_score,
       CASE WHEN monetary IS NOT NULL
            THEN rs::VARCHAR || fs::VARCHAR || ms::VARCHAR END AS rfm
FROM s
"""


def _q255(spark, sf_dir):
    """WOE / Information Value per category (operators/regression.py
    woe_iv_report): event = high-value event (value > 50); one
    category-keyed map-side aggregate + a 1-row totals broadcast, 0.5
    additive smoothing keeps empty cells finite."""
    from polars_net_spark.operators.regression import woe_iv_report

    ev = _t(spark, sf_dir, "events").spark
    staged = ev.filter(F.col("value").isNotNull()).select(
        "event_type", (F.col("value") > 50).cast("int").alias("label")
    )
    return woe_iv_report(staged, "event_type", "label").spark


_q255_sql = """
WITH b AS (SELECT event_type AS c, CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
cells AS (SELECT c, count(*) AS n, sum(y) AS e FROM b GROUP BY 1),
tot AS (SELECT sum(e) AS te, sum(n - e) AS tn FROM cells)
SELECT c AS category, CAST(n AS BIGINT) AS n, CAST(e AS BIGINT) AS n_event,
       round(ln(((e + 0.5) / (te + 0.5)) / ((n - e + 0.5) / (tn + 0.5))), 6)
         AS woe,
       round((((e + 0.5) / (te + 0.5)) - ((n - e + 0.5) / (tn + 0.5)))
             * ln(((e + 0.5) / (te + 0.5)) / ((n - e + 0.5) / (tn + 0.5))), 6)
         AS iv
FROM cells, tot
"""


def _q256(spark, sf_dir):
    """ABC / Pareto concentration (operators/analytics.py abc_analysis):
    parts ranked by revenue, cumulative share classes at 80/95% — the
    ranked cumulative runs over KEYS via distsort range buckets + driver
    prefix offsets, no single-partition window however many keys."""
    from polars_net_spark.operators.analytics import abc_analysis

    li = _t(spark, sf_dir, "lineitem").spark
    return abc_analysis(li, "l_partkey", "l_extendedprice").spark


_q256_sql = """
WITH k AS (SELECT l_partkey AS key, round(sum(l_extendedprice), 6) AS value
           FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
t AS (SELECT sum(value) AS g FROM k),
c AS (SELECT key, value,
             row_number() OVER (ORDER BY value DESC, key) AS rank,
             sum(value) OVER (ORDER BY value DESC, key
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM k)
SELECT key AS l_partkey, value, CAST(rank AS BIGINT) AS rank,
       round(cum / g, 6) AS cum_share,
       CASE WHEN (cum - value) / g < 0.8 - 1e-12 THEN 'A'
            WHEN (cum - value) / g < 0.95 - 1e-12 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c, t
"""


def _q257(spark, sf_dir):
    """2-D Pareto frontier (operators/analytics.py pareto_front): the
    users no one beats on BOTH activity and spend — distinct-x collapse +
    range-bucketed prefix-MAX sweep (the distsort trick with max), then a
    semi-join recovers frontier rows.  Monetary rounds before the skyline
    so summation ulps can't flip a dominance test."""
    from polars_net_spark.operators.analytics import pareto_front

    ev = _t(spark, sf_dir, "events").spark
    u = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_events"),
            F.round(F.sum("value"), 6).alias("spend"),
        )
    )
    return pareto_front(u, "n_events", "spend").spark


_q257_sql = """
WITH u AS (SELECT user_id, count(*)::DOUBLE AS n_events,
                  round(sum(value), 6) AS spend
           FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT * FROM u a
WHERE NOT EXISTS (
  SELECT 1 FROM u d
  WHERE d.n_events >= a.n_events AND d.spend >= a.spend
    AND (d.n_events > a.n_events OR d.spend > a.spend))
"""


def _q258(spark, sf_dir):
    """Dataset regression diff (operators/validate.py frame_diff): two
    deterministic 'versions' of orders — keyed FULL OUTER join + ONE fused
    all-reduce counting added/removed/changed/unchanged and per-column
    change counts (null-safe compares)."""
    from polars_net_spark.operators.validate import frame_diff

    o = _t(spark, sf_dir, "orders").spark
    left = o.filter(F.col("o_orderkey") % 3 != 0)
    right = o.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return frame_diff(
        left, right, "o_orderkey", compare_cols=["o_totalprice", "o_orderstatus"]
    ).spark


_q258_sql = """
WITH l AS (SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
           FROM orders WHERE o_orderkey % 3 != 0),
r AS (SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS p,
             o_orderstatus AS s
      FROM orders WHERE o_orderkey % 5 != 0),
j AS (SELECT l.k AS lk, r.k AS rk,
             l.p AS lp, r.p AS rp, l.s AS ls, r.s AS rs
      FROM l FULL OUTER JOIN r ON l.k = r.k),
w AS (SELECT
        sum(CASE WHEN lk IS NULL THEN 1 ELSE 0 END) AS added,
        sum(CASE WHEN rk IS NULL THEN 1 ELSE 0 END) AS removed,
        sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                  AND (lp IS DISTINCT FROM rp OR ls IS DISTINCT FROM rs)
             THEN 1 ELSE 0 END) AS changed,
        sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                  AND lp IS NOT DISTINCT FROM rp AND ls IS NOT DISTINCT FROM rs
             THEN 1 ELSE 0 END) AS unchanged,
        sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                  AND lp IS DISTINCT FROM rp THEN 1 ELSE 0 END) AS c_p,
        sum(CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                  AND ls IS DISTINCT FROM rs THEN 1 ELSE 0 END) AS c_s
      FROM j)
SELECT 'added' AS metric, CAST(added AS BIGINT) AS n FROM w
UNION ALL SELECT 'removed', CAST(removed AS BIGINT) FROM w
UNION ALL SELECT 'changed', CAST(changed AS BIGINT) FROM w
UNION ALL SELECT 'unchanged', CAST(unchanged AS BIGINT) FROM w
UNION ALL SELECT 'col:o_totalprice', CAST(c_p AS BIGINT) FROM w
UNION ALL SELECT 'col:o_orderstatus', CAST(c_s AS BIGINT) FROM w
"""


def _q259(spark, sf_dir):
    """Multi-label eval (llm/evaluation.py multilabel_report): per-user
    event-type sets from even vs odd event ids — pure map-side set math
    into ONE fused all-reduce (subset accuracy, mean Jaccard, micro
    P/R/F1)."""
    from polars_net_spark.llm.evaluation import multilabel_report

    ev = _t(spark, sf_dir, "events").spark
    p = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("pred"))
    )
    t = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("labels"))
    )
    pairs = p.join(t, "user_id", "full_outer")
    return multilabel_report(pairs, "pred", "labels").spark


_q259_sql = """
WITH p AS (SELECT user_id, list(DISTINCT event_type) AS pr FROM events
           WHERE event_id % 2 = 0 GROUP BY 1),
t AS (SELECT user_id, list(DISTINCT event_type) AS tr FROM events
      WHERE event_id % 2 = 1 GROUP BY 1),
j AS (SELECT coalesce(pr, CAST([] AS VARCHAR[])) AS pr,
             coalesce(tr, CAST([] AS VARCHAR[])) AS tr
      FROM p FULL OUTER JOIN t ON p.user_id = t.user_id),
m AS (SELECT len(list_intersect(pr, tr)) AS i,
             len(list_distinct(pr || tr)) AS u,
             len(pr) AS np, len(tr) AS nt
      FROM j),
agg AS (SELECT count(*) AS n,
               avg(CASE WHEN i = u THEN 1.0 ELSE 0.0 END) AS sa,
               avg(CASE WHEN u > 0 THEN i * 1.0 / u ELSE 1.0 END) AS mj,
               sum(i) AS si, sum(np) AS sp, sum(nt) AS st
        FROM m),
pr AS (SELECT n, sa, mj,
              CASE WHEN sp > 0 THEN si * 1.0 / sp END AS p,
              CASE WHEN st > 0 THEN si * 1.0 / st END AS r
       FROM agg)
SELECT CAST(n AS BIGINT) AS n, round(sa, 6) AS subset_accuracy,
       round(mj, 6) AS mean_jaccard, round(p, 6) AS micro_p,
       round(r, 6) AS micro_r,
       CASE WHEN p IS NOT NULL AND r IS NOT NULL THEN
         CASE WHEN p + r > 0 THEN round(2 * p * r / (p + r), 6) ELSE 0.0 END
       END AS micro_f1
FROM pr
"""


def _q260(spark, sf_dir):
    """Difference-in-differences (operators/regression.py did_report):
    open-vs-finished lineitems before/after a cutover date — the four
    cells' n/mean/var are conditional aggregates in ONE fused all-reduce
    (no pivot, no join); metric scaled 1e-5 for 6-decimal hash stability."""
    from polars_net_spark.operators.regression import did_report

    li = _t(spark, sf_dir, "lineitem").spark
    staged = li.select(
        F.col("l_linestatus").alias("g"),
        (F.col("l_shipdate") >= F.lit("1995-06-17").cast("date"))
        .cast("int")
        .alias("p"),
        (F.col("l_extendedprice") * 1e-5).alias("y"),
    )
    return did_report(staged, "g", "p", "y", treat_value="O", post_value=1).spark


_q260_sql = """
WITH b AS (SELECT CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS t,
                  CASE WHEN l_shipdate >= DATE '1995-06-17' THEN 1 ELSE 0 END
                    AS p,
                  l_extendedprice * 1e-5 AS y
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_linestatus IS NOT NULL
             AND l_shipdate IS NOT NULL),
w AS (SELECT count(*) AS n,
        count(CASE WHEN t = 0 AND p = 0 THEN y END) AS n_c_pre,
        avg(CASE WHEN t = 0 AND p = 0 THEN y END) AS m_c_pre,
        var_samp(CASE WHEN t = 0 AND p = 0 THEN y END) AS v_c_pre,
        count(CASE WHEN t = 0 AND p = 1 THEN y END) AS n_c_post,
        avg(CASE WHEN t = 0 AND p = 1 THEN y END) AS m_c_post,
        var_samp(CASE WHEN t = 0 AND p = 1 THEN y END) AS v_c_post,
        count(CASE WHEN t = 1 AND p = 0 THEN y END) AS n_t_pre,
        avg(CASE WHEN t = 1 AND p = 0 THEN y END) AS m_t_pre,
        var_samp(CASE WHEN t = 1 AND p = 0 THEN y END) AS v_t_pre,
        count(CASE WHEN t = 1 AND p = 1 THEN y END) AS n_t_post,
        avg(CASE WHEN t = 1 AND p = 1 THEN y END) AS m_t_post,
        var_samp(CASE WHEN t = 1 AND p = 1 THEN y END) AS v_t_post
      FROM b),
d AS (SELECT n, m_c_pre, m_c_post, m_t_pre, m_t_post,
             (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
             sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                  + v_c_post / n_c_post + v_c_pre / n_c_pre) AS se
      FROM w)
SELECT CAST(n AS BIGINT) AS n,
       round(m_c_pre, 6) AS mean_c_pre, round(m_c_post, 6) AS mean_c_post,
       round(m_t_pre, 6) AS mean_t_pre, round(m_t_post, 6) AS mean_t_post,
       round(did, 6) AS did, round(se, 6) AS se,
       round(CASE WHEN se > 0 THEN did / se END, 6) AS z
FROM d
"""


def _q261(spark, sf_dir):
    """Benjamini–Hochberg FDR adjustment (operators/regression.py
    bh_adjust): the suffix-min over the ascending-p ranking runs as a
    DESCENDING-p running min on distsort range buckets with driver
    PREFIX-MIN offsets — no single-partition window however many tests."""
    from polars_net_spark.operators.regression import bh_adjust

    ev = _t(spark, sf_dir, "events").spark
    tests = ev.select(
        "user_id", (((F.col("user_id") * 37) % 997 + 1) / 998.0).alias("p")
    ).distinct()
    return bh_adjust(tests, "p", id_cols="user_id").spark


_q261_sql = """
WITH b AS (SELECT DISTINCT user_id, ((user_id * 37 % 997) + 1) / 998.0 AS p
           FROM events),
m AS (SELECT count(*) AS m FROM b),
r AS (SELECT user_id, p,
             row_number() OVER (ORDER BY p, user_id) AS rk
      FROM b),
raw AS (SELECT user_id, p, p * m.m / rk AS raw FROM r, m)
SELECT user_id, p,
       round(least(1.0, min(raw) OVER (ORDER BY p, user_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)), 6)
         AS p_adj
FROM raw
"""


def _q262(spark, sf_dir):
    """Funnel step timing (operators/analytics.py funnel_timing): seconds
    between adjacent funnel steps under the greedy-earliest walk — one
    user-keyed grouped collect + conditional-min chain + ONE step-pair
    aggregate with exact percentiles."""
    from polars_net_spark.operators.analytics import funnel_timing

    ev = _t(spark, sf_dir, "events").spark
    return funnel_timing(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).spark


_q262_sql = """
WITH ev AS (SELECT user_id AS u, event_type AS s, ts AS t FROM events
            WHERE event_type IN ('view', 'click', 'purchase')),
r0 AS (SELECT u, min(CASE WHEN s = 'view' THEN t END) AS t0
       FROM ev GROUP BY 1),
r1 AS (SELECT ev.u, min(t) AS t1 FROM ev JOIN r0 ON ev.u = r0.u
       WHERE s = 'click' AND t0 IS NOT NULL AND t > t0 GROUP BY 1),
r2 AS (SELECT ev.u, min(t) AS t2 FROM ev JOIN r1 ON ev.u = r1.u
       WHERE s = 'purchase' AND t > t1 GROUP BY 1),
d AS (
  SELECT 'view' AS step_from, 'click' AS step_to,
         epoch_us(t1) / 1000000.0 - epoch_us(t0) / 1000000.0 AS delay
  FROM r0 JOIN r1 ON r0.u = r1.u
  UNION ALL
  SELECT 'click', 'purchase',
         epoch_us(t2) / 1000000.0 - epoch_us(t1) / 1000000.0
  FROM r1 JOIN r2 ON r1.u = r2.u)
SELECT step_from, step_to, CAST(count(*) AS BIGINT) AS n_users,
       round(avg(delay), 6) AS avg_seconds,
       round(quantile_cont(delay, 0.5), 6) AS median_seconds,
       round(quantile_cont(delay, 0.9), 6) AS p90_seconds
FROM d GROUP BY 1, 2
"""


def _q263(spark, sf_dir):
    """MMR diversified re-ranking (llm/similarity.py mmr_rerank): per query
    greedily pick k=3 of 20 candidates maximizing λ·rel −
    (1−λ)·max_cos_to_selected — bounded rounds of query-keyed equi-joins +
    map-side argmax; scores round before each argmax so the greedy choice
    is cross-engine deterministic.  The oracle replays all three rounds as
    unrolled CTEs."""
    from polars_net_spark.llm.similarity import _dot_expr, mmr_rerank

    e = _t(spark, sf_dir, "embeddings").spark
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = e.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 23)).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cv")
    )
    qn = F.sqrt(_dot_expr(F.col("qv"), F.col("qv")))
    cn = F.sqrt(_dot_expr(F.col("cv"), F.col("cv")))
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "doc_id",
        F.round(_dot_expr(F.col("qv"), F.col("cv")) / (qn * cn), 6).alias("rel"),
        F.col("cv").alias("embedding"),
    )
    return mmr_rerank(pairs, k=3, lam=0.7).spark


_q263_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
c AS (SELECT vec_id AS did, v AS cv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
      FROM e WHERE vec_id >= 3 AND vec_id < 23),
cand AS (SELECT qid, did, cv, cn,
           round(list_sum(list_transform(generate_series(1, 64),
                          p -> qv[p] * cv[p]))
                 / (sqrt(list_sum(list_transform(qv, x -> x * x))) * cn), 6)
             AS rel
         FROM q, c),
p1 AS (SELECT qid, did, rel, cv, cn,
              round(0.7 * rel, 6) + 0.0 AS sc,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY round(0.7 * rel, 6) + 0.0 DESC, did)
                AS rn
       FROM cand),
s1 AS (SELECT qid, did, rel, cv, cn, sc FROM p1 WHERE rn = 1),
c2 AS (SELECT cand.qid, cand.did, cand.rel, cand.cv, cand.cn,
              list_sum(list_transform(generate_series(1, 64),
                       p -> cand.cv[p] * s1.cv[p])) / (cand.cn * s1.cn) AS sim1
       FROM cand JOIN s1 ON cand.qid = s1.qid AND cand.did <> s1.did),
p2 AS (SELECT qid, did, rel, cv, cn, sim1,
              round(0.7 * rel - (1.0 - 0.7) * sim1, 6) + 0.0 AS sc,
              row_number() OVER (PARTITION BY qid
                ORDER BY round(0.7 * rel - (1.0 - 0.7) * sim1, 6) + 0.0 DESC,
                         did) AS rn
       FROM c2),
s2 AS (SELECT qid, did, rel, cv, cn, sc FROM p2 WHERE rn = 1),
c3 AS (SELECT c2.qid, c2.did, c2.rel, c2.sim1,
              list_sum(list_transform(generate_series(1, 64),
                       p -> c2.cv[p] * s2.cv[p])) / (c2.cn * s2.cn) AS sim2
       FROM c2 JOIN s2 ON c2.qid = s2.qid AND c2.did <> s2.did),
p3 AS (SELECT qid, did,
              round(0.7 * rel - (1.0 - 0.7) * greatest(sim1, sim2), 6) + 0.0
                AS sc,
              row_number() OVER (PARTITION BY qid
                ORDER BY round(0.7 * rel - (1.0 - 0.7) * greatest(sim1, sim2),
                               6) + 0.0 DESC, did) AS rn
       FROM c3),
s3 AS (SELECT qid, did, sc FROM p3 WHERE rn = 1)
SELECT qid AS query_id, did AS doc_id, 1 AS rank, sc AS mmr_score FROM s1
UNION ALL SELECT qid, did, 2, sc FROM s2
UNION ALL SELECT qid, did, 3, sc FROM s3
"""


def _q264(spark, sf_dir):
    """Cohort LTV triangle (operators/analytics.py cohort_value): value
    sums + running cumulative per (first-seen cohort, week offset) — the
    cumulative window runs over the tiny triangle, never user-sized
    partitions."""
    from polars_net_spark.operators.analytics import cohort_value

    ev = _t(spark, sf_dir, "events").spark
    out = cohort_value(ev, "user_id", "ts", "value", period="week").spark
    return out.select(
        F.col("cohort").cast("string").alias("cohort"),
        "period_offset", "n_active", "value", "cum_value",
    )


_q264_sql = """
WITH ev AS (SELECT user_id AS u, date_trunc('week', ts)::DATE AS p,
                   coalesce(value, 0.0) AS v
            FROM events),
f AS (SELECT u, min(p) AS cohort FROM ev GROUP BY 1),
a AS (SELECT ev.u, f.cohort,
             CAST(date_diff('day', f.cohort, ev.p) / 7 AS INT)
               AS period_offset,
             ev.v
      FROM ev JOIN f ON ev.u = f.u),
tri AS (SELECT cohort, period_offset,
               CAST(count(DISTINCT u) AS BIGINT) AS n_active,
               round(sum(v), 6) AS value
        FROM a GROUP BY 1, 2)
SELECT CAST(cohort AS VARCHAR) AS cohort, period_offset, n_active, value,
       round(sum(value) OVER (PARTITION BY cohort ORDER BY period_offset
                              ROWS UNBOUNDED PRECEDING), 6) AS cum_value
FROM tri
"""


def _q265(spark, sf_dir):
    """Delta-method ratio test (operators/regression.py ratio_ttest):
    per-user CTR = clicks/views with the user as the analysis unit — the
    correct SE when events cluster within users; ONE fused conditional-
    aggregate all-reduce."""
    from polars_net_spark.operators.regression import ratio_ttest

    ev = _t(spark, sf_dir, "events").spark
    u = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "click").cast("double")).alias("clicks"),
        F.sum((F.col("event_type") == "view").cast("double")).alias("views"),
    ).withColumn("grp", (F.col("user_id") % 2).cast("int"))
    return ratio_ttest(u, "clicks", "views", "grp", treat_value=1).spark


_q265_sql = """
WITH u AS (SELECT user_id,
                  sum(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END)
                    AS x,
                  sum(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END)
                    AS y,
                  CAST(user_id % 2 AS INT) AS g
           FROM events GROUP BY user_id),
w AS (SELECT
        count(CASE WHEN g = 0 THEN 1 END) AS n_c,
        avg(CASE WHEN g = 0 THEN x END) AS mx_c,
        avg(CASE WHEN g = 0 THEN y END) AS my_c,
        var_samp(CASE WHEN g = 0 THEN x END) AS vx_c,
        var_samp(CASE WHEN g = 0 THEN y END) AS vy_c,
        covar_samp(CASE WHEN g = 0 THEN x END,
                   CASE WHEN g = 0 THEN y END) AS cxy_c,
        count(CASE WHEN g = 1 THEN 1 END) AS n_t,
        avg(CASE WHEN g = 1 THEN x END) AS mx_t,
        avg(CASE WHEN g = 1 THEN y END) AS my_t,
        var_samp(CASE WHEN g = 1 THEN x END) AS vx_t,
        var_samp(CASE WHEN g = 1 THEN y END) AS vy_t,
        covar_samp(CASE WHEN g = 1 THEN x END,
                   CASE WHEN g = 1 THEN y END) AS cxy_t
      FROM u),
d AS (SELECT n_c, n_t,
             mx_c / my_c AS rc, mx_t / my_t AS rt,
             (vx_c - 2 * (mx_c / my_c) * cxy_c
              + (mx_c / my_c) * (mx_c / my_c) * vy_c) / (n_c * my_c * my_c)
               AS varc,
             (vx_t - 2 * (mx_t / my_t) * cxy_t
              + (mx_t / my_t) * (mx_t / my_t) * vy_t) / (n_t * my_t * my_t)
               AS vart
      FROM w)
SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
       round(rc, 6) AS ratio_c, round(rt, 6) AS ratio_t,
       round(sqrt(varc), 6) AS se_c, round(sqrt(vart), 6) AS se_t,
       round(rt - rc, 6) AS diff,
       round(sqrt(vart + varc), 6) AS se_diff,
       round(CASE WHEN sqrt(vart + varc) > 0
                  THEN (rt - rc) / sqrt(vart + varc) END, 6) AS z
FROM d
"""


def _q266(spark, sf_dir):
    """Market-concentration scalars (operators/analytics.py
    concentration_report): HHI / normalized HHI / share entropy /
    top-1 & top-5 revenue share over parts — one key aggregate, one fused
    share all-reduce, TakeOrderedAndProject head."""
    from polars_net_spark.operators.analytics import concentration_report

    li = _t(spark, sf_dir, "lineitem").spark
    return concentration_report(li, "l_partkey", "l_extendedprice", top_k=5).spark


_q266_sql = """
WITH k AS (SELECT l_partkey AS k, sum(l_extendedprice) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1 HAVING sum(l_extendedprice) > 0),
t AS (SELECT sum(v) AS t FROM k),
s AS (SELECT v / t.t AS s FROM k, t),
sc AS (SELECT count(*) AS n, sum(s * s) AS hhi,
              -sum(s * log2(s)) AS ent
       FROM s),
tp AS (SELECT max(s) AS t1, sum(s) AS tk FROM
        (SELECT s FROM s ORDER BY s DESC LIMIT 5))
SELECT CAST(n AS BIGINT) AS n_keys, round(hhi, 6) AS hhi,
       round(CASE WHEN n > 1 THEN (hhi - 1.0 / n) / (1.0 - 1.0 / n)
                  ELSE 1.0 END, 6) AS hhi_normalized,
       round(ent, 6) + 0.0 AS entropy_bits,
       round(t1, 6) AS top1_share, round(tk, 6) AS top5_share
FROM sc, tp
"""


def _q267(spark, sf_dir):
    """SEVENTH true Structured Streaming gate: CDC-style streaming UPSERT
    (streaming/stream.py streaming_upsert_sink) — events stream in across
    multiple micro-batches and a foreachBatch sink materializes the per-user
    LATEST row (max (ts, event_id) winner).  The converged table is
    batching-independent by construction (per-key max is associative), so
    the gate is deterministic however the file source slices batches —
    the property a CDC pipeline needs under replay."""
    import os
    import tempfile

    from polars_net_spark.streaming.stream import (
        read_upsert_target,
        streaming_upsert_sink,
        upsert_snapshot_schema,
    )

    ev_path = os.path.join(sf_dir, "events.parquet")
    import hashlib

    tag = hashlib.md5(f"{sf_dir}|events4".encode()).hexdigest()[:8]
    src_dir = os.path.join(tempfile.gettempdir(), f"stream_src_events4_{tag}")
    schema = _raw_schema(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        (
            spark.read.schema(schema).parquet(ev_path).repartition(4)
            .write.mode("overwrite").parquet(src_dir)
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    target = tempfile.mkdtemp(prefix="q267_upsert_")
    ckpt = tempfile.mkdtemp(prefix="q267_ckpt_")
    _drain_stream_gate(
        spark,
        lambda: streaming_upsert_sink(
            stream, target, keys="user_id", order_by="ts",
            tie_cols=["event_id"], checkpoint=ckpt,
        ),
        timeout=180,
    )
    out = read_upsert_target(
        spark, target, upsert_snapshot_schema(stream, "user_id")
    ).spark
    return out.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


_q267_sql = """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_type, value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def _q268(spark, sf_dir):
    """Forecast accuracy metrics (operators/regression.py
    forecast_accuracy): MAE/RMSE/MAPE/sMAPE/bias of the naive
    lag-1 forecast per user — ONE fused map-side-combining aggregate per
    key, no window beyond the user-sharded lag."""
    from polars_net_spark.operators.regression import forecast_accuracy
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").spark
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    staged = ev.filter(F.col("value").isNotNull()).select(
        "user_id",
        F.col("value").alias("actual"),
        F.lag("value").over(w).alias("pred"),
    )
    return forecast_accuracy(staged, "actual", "pred", by="user_id").spark


_q268_sql = """
WITH s AS (SELECT user_id, value AS a,
                  lag(value) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS p
           FROM events WHERE value IS NOT NULL),
b AS (SELECT user_id, a, p FROM s WHERE p IS NOT NULL)
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       round(avg(abs(p - a)), 6) AS mae,
       round(sqrt(avg((p - a) * (p - a))), 6) AS rmse,
       round(avg(CASE WHEN a != 0 THEN abs(p - a) / abs(a) END), 6) AS mape,
       CAST(count(CASE WHEN a != 0 THEN 1 END) AS BIGINT) AS n_mape,
       round(avg(CASE WHEN abs(a) + abs(p) > 0
                      THEN 2.0 * abs(p - a) / (abs(a) + abs(p))
                      ELSE 0.0 END), 6) AS smape,
       round(avg(p - a), 6) AS bias
FROM b GROUP BY user_id
"""


def _q269(spark, sf_dir):
    """Referential-integrity audit (operators/validate.py
    fk_integrity_report): orders→(thinned) customers — orphan keys/rows,
    null keys, unused parents; two anti-joins on distinct keys + count
    aggregates, all map-side combining."""
    from polars_net_spark.operators.validate import fk_integrity_report

    o = _t(spark, sf_dir, "orders").spark
    c = _t(spark, sf_dir, "customer").spark.filter(F.col("c_custkey") % 50 != 0)
    return fk_integrity_report(o, c, "o_custkey", "c_custkey").spark


_q269_sql = """
WITH p AS (SELECT DISTINCT c_custkey AS k FROM customer
           WHERE c_custkey % 50 != 0),
ck AS (SELECT o_custkey AS k, count(*) AS rows_ FROM orders
       WHERE o_custkey IS NOT NULL GROUP BY 1),
orph AS (SELECT ck.k, rows_ FROM ck LEFT JOIN p ON ck.k = p.k
         WHERE p.k IS NULL),
unused AS (SELECT p.k FROM p LEFT JOIN ck ON p.k = ck.k WHERE ck.k IS NULL)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IS NULL) AS n_child_null_key,
       (SELECT CAST(count(*) AS BIGINT) FROM orph) AS n_orphans,
       (SELECT CAST(coalesce(sum(rows_), 0) AS BIGINT) FROM orph)
         AS orphan_row_count,
       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_parent_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM unused) AS n_parent_unused
"""


def _q270(spark, sf_dir):
    """Theil–Sen robust trend per user (operators/regression.py
    theil_sen_by_key): median of pairwise slopes over a thinned per-user
    series (event_id % 8 — the O(n²) pair array is the documented
    per-series size contract), value ~ days-since-2024-01-01."""
    from polars_net_spark.operators.regression import theil_sen_by_key

    ev = _t(spark, sf_dir, "events").spark.filter(F.col("event_id") % 8 == 0)
    x_days = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000.0)
        - F.lit(1704067200.0)
    ) / F.lit(86400.0)
    staged = ev.filter(F.col("value").isNotNull()).select(
        "user_id", x_days.alias("x"), F.col("value").alias("y")
    )
    return theil_sen_by_key(staged, "x", "y", by="user_id").spark


_q270_sql = """
WITH b AS (SELECT user_id,
                  (epoch_us(ts) / 1000000.0 - 1704067200.0) / 86400.0 AS x,
                  value AS y
           FROM events
           WHERE value IS NOT NULL AND event_id % 8 = 0),
g AS (SELECT user_id,
             list(struct_pack(x := x, y := y) ORDER BY x, y) AS pts
      FROM b GROUP BY 1),
s AS (SELECT user_id, len(pts) AS n, pts,
             list_sort(list_filter(flatten(list_transform(
               generate_series(1, greatest(len(pts) - 1, 1)),
               i -> list_transform(pts[i+1:],
                 q -> CASE WHEN q.x != pts[i].x
                           THEN (q.y - pts[i].y) / (q.x - pts[i].x) END))),
               v -> v IS NOT NULL)) AS sl
      FROM g),
m AS (SELECT user_id, n, pts,
             CASE WHEN n >= 2 AND len(sl) > 0 THEN
               CASE WHEN len(sl) % 2 = 1
                    THEN sl[CAST((len(sl) + 1) / 2 AS INT)]
                    ELSE (sl[CAST(len(sl) / 2 AS INT)]
                          + sl[CAST(len(sl) / 2 AS INT) + 1]) / 2.0 END
             END AS slope
      FROM s),
r AS (SELECT user_id, n, slope,
             list_sort(list_transform(pts, p -> p.y - slope * p.x)) AS res
      FROM m)
SELECT user_id, CAST(n AS BIGINT) AS n, round(slope, 6) AS slope,
       round(CASE WHEN slope IS NOT NULL THEN
         CASE WHEN len(res) % 2 = 1
              THEN res[CAST((len(res) + 1) / 2 AS INT)]
              ELSE (res[CAST(len(res) / 2 AS INT)]
                    + res[CAST(len(res) / 2 AS INT) + 1]) / 2.0 END
       END, 6) AS intercept
FROM r
"""


def _q271(spark, sf_dir):
    """Period-over-period report (operators/analytics.py
    period_over_period): weekly revenue vs previous week — the lag window
    runs over the one-row-per-bucket period table (never data-sized)."""
    from polars_net_spark.operators.analytics import period_over_period

    ev = _t(spark, sf_dir, "events").spark
    out = period_over_period(ev, "ts", "value", every="week").spark
    return out.select(
        F.col("period").cast("string").alias("period"),
        "value", "prev_value", "change", "pct_change",
    )


_q271_sql = """
WITH p AS (SELECT date_trunc('week', ts)::DATE AS period,
                  round(sum(coalesce(value, 0.0)), 6) AS value
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
l AS (SELECT period, value,
             lag(value) OVER (ORDER BY period) AS prev_value
      FROM p)
SELECT CAST(period AS VARCHAR) AS period, value, prev_value,
       round(value - prev_value, 6) AS change,
       round(CASE WHEN prev_value IS NOT NULL AND prev_value != 0
                  THEN (value - prev_value) / abs(prev_value) END, 6)
         AS pct_change
FROM l
"""


def _q272(spark, sf_dir):
    """Frequent consecutive event trigrams (operators/analytics.py
    frequent_sequences): the order-3 generalization of markov bigrams —
    one lag-chain window sharded on the user key + one map-side count."""
    from polars_net_spark.operators.analytics import frequent_sequences

    ev = _t(spark, sf_dir, "events").spark
    return frequent_sequences(
        ev, "event_type", "ts", by="user_id", length=3, min_count=5,
        tie_cols=["event_id"],
    ).spark


_q272_sql = """
WITH l AS (
  SELECT lag(event_type, 2) OVER w AS step_1,
         lag(event_type, 1) OVER w AS step_2,
         event_type AS step_3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT step_1, step_2, step_3, CAST(count(*) AS BIGINT) AS n
FROM l
WHERE step_1 IS NOT NULL AND step_2 IS NOT NULL AND step_3 IS NOT NULL
GROUP BY 1, 2, 3
HAVING count(*) >= 5
"""


def _q273(spark, sf_dir):
    """IPF raking (operators/regression.py ipf_weights): calibrate the
    (event_type × user-segment) contingency to target marginals — one
    data-sized cell aggregate, then bounded-cardinality rounds (two
    marginal sums + broadcast joins each), lineage checkpoint-truncated;
    the oracle unrolls the 3 rounds as CTEs."""
    from polars_net_spark.operators.regression import ipf_weights

    ev = _t(spark, sf_dir, "events").spark.withColumn(
        "segment", (F.col("user_id") % 3).cast("string")
    )
    return ipf_weights(
        ev, "event_type", "segment",
        {"view": 0.2, "click": 0.2, "purchase": 0.2, "signup": 0.2, "error": 0.2},
        {"0": 0.4, "1": 0.35, "2": 0.25},
        iterations=3,
    ).spark


_q273_sql = """
WITH cells AS (SELECT event_type AS r, CAST(user_id % 3 AS VARCHAR) AS c,
                      count(*) AS n
               FROM events
               WHERE event_type IS NOT NULL AND user_id IS NOT NULL
               GROUP BY 1, 2),
rt AS (SELECT * FROM (VALUES ('click', 0.2), ('error', 0.2),
                             ('purchase', 0.2), ('signup', 0.2),
                             ('view', 0.2)) AS t(r, tr)),
ct AS (SELECT * FROM (VALUES ('0', 0.4), ('1', 0.35), ('2', 0.25))
        AS t(c, tc)),
base AS (SELECT cells.r, cells.c, n, tr, tc
         FROM cells JOIN rt ON cells.r = rt.r JOIN ct ON cells.c = ct.c),
nt AS (SELECT sum(n) AS total FROM base),
m0 AS (SELECT r, c, n, tr, tc, n / nt.total AS m FROM base, nt),
r1 AS (SELECT m0.*, m * tr / sum(m) OVER (PARTITION BY r) AS m1 FROM m0),
c1 AS (SELECT r1.*, m1 * tc / sum(m1) OVER (PARTITION BY c) AS m2 FROM r1),
r2 AS (SELECT c1.*, m2 * tr / sum(m2) OVER (PARTITION BY r) AS m3 FROM c1),
c2 AS (SELECT r2.*, m3 * tc / sum(m3) OVER (PARTITION BY c) AS m4 FROM r2),
r3 AS (SELECT c2.*, m4 * tr / sum(m4) OVER (PARTITION BY r) AS m5 FROM c2),
c3 AS (SELECT r3.*, m5 * tc / sum(m5) OVER (PARTITION BY c) AS m6 FROM r3)
SELECT r AS event_type, c AS segment, CAST(n AS BIGINT) AS n,
       round(m6 / (n / nt.total), 6) AS weight,
       round(m6, 6) AS mass
FROM c3, nt
"""


def _q274(spark, sf_dir):
    """Kendall τ-b (operators/regression.py kendall_tau): quantity vs
    line-number concordance — exact via the bounded joint contingency
    (|cells|² self-join, the chi2-margins size contract), tie-corrected
    denominators."""
    from polars_net_spark.operators.regression import kendall_tau

    li = _t(spark, sf_dir, "lineitem").spark
    return kendall_tau(li, "l_quantity", "l_linenumber").spark


_q274_sql = """
WITH b AS (SELECT l_quantity::DOUBLE AS x, l_linenumber::DOUBLE AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL),
cells AS (SELECT x, y, count(*) AS n FROM b GROUP BY 1, 2),
cd AS (SELECT
         coalesce(sum(CASE WHEN bb.y > aa.y THEN aa.n * bb.n END), 0) AS c,
         coalesce(sum(CASE WHEN bb.y < aa.y THEN aa.n * bb.n END), 0) AS d
       FROM cells aa JOIN cells bb ON bb.x > aa.x),
m AS (SELECT sum(n) AS nn FROM cells),
t1 AS (SELECT sum(t * (t - 1) / 2) AS n1 FROM
        (SELECT sum(n) AS t FROM cells GROUP BY x)),
t2 AS (SELECT sum(t * (t - 1) / 2) AS n2 FROM
        (SELECT sum(n) AS t FROM cells GROUP BY y))
SELECT round(CASE WHEN sqrt((nn * (nn - 1) / 2 - n1)
                            * (nn * (nn - 1) / 2 - n2)) > 0
                  THEN (c - d) / sqrt((nn * (nn - 1) / 2 - n1)
                                      * (nn * (nn - 1) / 2 - n2)) END, 6)
         AS tau_b,
       CAST(nn AS BIGINT) AS n,
       CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant
FROM cd, m, t1, t2
"""


def _q275(spark, sf_dir):
    """Cramér's V effect size (operators/regression.py cramers_v) for
    event_type × user-segment association — chi2_independence's bounded
    margins-grid plan plus one cardinality broadcast."""
    from polars_net_spark.operators.regression import cramers_v

    ev = _t(spark, sf_dir, "events").spark.withColumn(
        "segment", (F.col("user_id") % 3).cast("string")
    )
    return cramers_v(ev, "event_type", "segment").spark


_q275_sql = """
WITH b AS (SELECT event_type AS a, CAST(user_id % 3 AS VARCHAR) AS c
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT a, c, count(*) AS o FROM b GROUP BY 1, 2),
ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
rb AS (SELECT c, sum(o) AS rb FROM cells GROUP BY 1),
nt AS (SELECT sum(o) AS n FROM cells),
grid AS (SELECT ra.a, rb.c, ra.ra, rb.rb FROM ra, rb),
full_ AS (SELECT grid.a, grid.c, coalesce(cells.o, 0) AS o, ra, rb, nt.n
          FROM grid LEFT JOIN cells ON grid.a = cells.a AND grid.c = cells.c,
               nt),
st AS (SELECT sum((o - ra * rb / n) * (o - ra * rb / n) / (ra * rb / n))
                AS chi2,
              count(DISTINCT a) AS r, count(DISTINCT c) AS cc,
              max(n) AS n
       FROM full_)
SELECT round(sqrt(chi2 / (n * least(r - 1, cc - 1))), 6) AS v,
       round(chi2, 6) AS chi2,
       CAST((r - 1) * (cc - 1) AS BIGINT) AS df,
       CAST(n AS BIGINT) AS n
FROM st
"""


def _q276(spark, sf_dir):
    """2×2 odds ratio / relative risk (operators/regression.py
    odds_ratio): high-value exposure vs purchase outcome per event — ONE
    fused conditional-count all-reduce, Woolf SE."""
    from polars_net_spark.operators.regression import odds_ratio

    ev = _t(spark, sf_dir, "events").spark.filter(F.col("value").isNotNull())
    staged = ev.select(
        (F.col("value") > 50).cast("int").alias("exposed"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
    )
    return odds_ratio(staged, "exposed", "converted").spark


_q276_sql = """
WITH b AS (SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS e,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
           FROM events WHERE value IS NOT NULL),
w AS (SELECT sum(e * o) AS a, sum(e * (1 - o)) AS b2,
             sum((1 - e) * o) AS c, sum((1 - e) * (1 - o)) AS d
      FROM b)
SELECT CAST(a AS BIGINT) AS a, CAST(b2 AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       round(CASE WHEN a > 0 AND b2 > 0 AND c > 0 AND d > 0
                  THEN (a * d) * 1.0 / (b2 * c) END, 6) AS odds_ratio_,
       round(CASE WHEN a + b2 > 0 AND c + d > 0 AND c > 0
                  THEN (a * 1.0 / (a + b2)) / (c * 1.0 / (c + d)) END, 6)
         AS relative_risk,
       round(CASE WHEN a > 0 AND b2 > 0 AND c > 0 AND d > 0
                  THEN sqrt(1.0 / a + 1.0 / b2 + 1.0 / c + 1.0 / d) END, 6)
         AS log_or_se,
       round(CASE WHEN a > 0 AND b2 > 0 AND c > 0 AND d > 0
                  THEN ln((a * d) * 1.0 / (b2 * c))
                       / sqrt(1.0 / a + 1.0 / b2 + 1.0 / c + 1.0 / d) END, 6)
         AS z
FROM w
"""


def _q277(spark, sf_dir):
    """McNemar paired-binary test (operators/regression.py mcnemar_test):
    per user, 'active early' vs 'active late' in the observation window —
    only discordant users carry signal; ONE fused all-reduce."""
    from polars_net_spark.operators.regression import mcnemar_test

    ev = _t(spark, sf_dir, "events").spark
    u = ev.groupBy("user_id").agg(
        F.max((F.dayofmonth("ts") <= 10).cast("int")).alias("early"),
        F.max((F.dayofmonth("ts") >= 20).cast("int")).alias("late"),
    )
    return mcnemar_test(u, "early", "late").spark


_q277_sql = """
WITH u AS (SELECT user_id,
                  max(CASE WHEN extract(day FROM ts) <= 10 THEN 1 ELSE 0 END)
                    AS early,
                  max(CASE WHEN extract(day FROM ts) >= 20 THEN 1 ELSE 0 END)
                    AS late
           FROM events GROUP BY 1),
w AS (SELECT count(*) AS n,
             sum((1 - early) * late) AS n01,
             sum(early * (1 - late)) AS n10
      FROM u)
SELECT CAST(n AS BIGINT) AS n, CAST(n01 AS BIGINT) AS n01,
       CAST(n10 AS BIGINT) AS n10,
       round(CASE WHEN n01 + n10 > 0 THEN
         greatest(abs(n10 - n01) - 1.0, 0.0)
         * greatest(abs(n10 - n01) - 1.0, 0.0) / (n01 + n10) END, 6) AS chi2
FROM w
"""


def _q278(spark, sf_dir):
    """Cohen's d / Hedges' g (operators/regression.py cohens_d): the
    standardized open-vs-finished price effect — ONE fused conditional
    all-reduce; metric scaled 1e-5 for 6-decimal hash stability."""
    from polars_net_spark.operators.regression import cohens_d

    li = _t(spark, sf_dir, "lineitem").spark
    staged = li.select(
        F.col("l_linestatus").alias("g"),
        (F.col("l_extendedprice") * 1e-5).alias("y"),
    )
    return cohens_d(staged, "y", "g", "O").spark


_q278_sql = """
WITH b AS (SELECT CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS g,
                  l_extendedprice * 1e-5 AS y
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_linestatus IS NOT NULL),
w AS (SELECT count(CASE WHEN g = 0 THEN 1 END) AS n_c,
             count(CASE WHEN g = 1 THEN 1 END) AS n_t,
             avg(CASE WHEN g = 0 THEN y END) AS m_c,
             avg(CASE WHEN g = 1 THEN y END) AS m_t,
             var_samp(CASE WHEN g = 0 THEN y END) AS v_c,
             var_samp(CASE WHEN g = 1 THEN y END) AS v_t
      FROM b),
d AS (SELECT n_c, n_t, m_c, m_t,
             sqrt(((n_c - 1) * v_c + (n_t - 1) * v_t) / (n_c + n_t - 2))
               AS pooled
      FROM w)
SELECT CAST(n_c AS BIGINT) AS n_c, CAST(n_t AS BIGINT) AS n_t,
       round(m_c, 6) AS mean_c, round(m_t, 6) AS mean_t,
       round(pooled, 6) AS pooled_sd,
       round(CASE WHEN pooled > 0 THEN (m_t - m_c) / pooled END, 6) AS d,
       round(CASE WHEN pooled > 0 THEN (m_t - m_c) / pooled
                  * (1.0 - 3.0 / (4.0 * (n_c + n_t) - 9.0)) END, 6) AS g
FROM d
"""


def _q279(spark, sf_dir):
    """Murphy decomposition of the Brier score (llm/evaluation.py
    brier_decomposition): BS = reliability − resolution + uncertainty
    over 10 score bins — ONE binned aggregate, the overall rate recovered
    algebraically (variance decomposition), no self-join."""
    from polars_net_spark.llm.evaluation import brier_decomposition

    return brier_decomposition(_eval_scored(spark, sf_dir), "score", "label").spark


_q279_sql = f"""
WITH s AS ({_EVAL_SQL}),
bins AS (SELECT CAST(least(9, greatest(0, floor(score * 10))) AS INT) AS b,
                count(*) AS n, avg(score) AS sb, avg(label) AS ob
         FROM s GROUP BY 1),
w AS (SELECT sum(n) AS N, sum(n * ob) AS so, sum(n * ob * ob) AS soo,
             sum(n * (sb - ob) * (sb - ob)) AS sd2
      FROM bins)
SELECT CAST(N AS BIGINT) AS n,
       round(sd2 / N - (soo / N - (so / N) * (so / N))
             + (so / N) * (1.0 - so / N), 6) AS brier,
       round(sd2 / N, 6) AS reliability,
       round(soo / N - (so / N) * (so / N), 6) AS resolution,
       round((so / N) * (1.0 - so / N), 6) AS uncertainty
FROM w
"""


def _q280(spark, sf_dir):
    """Lorenz curve points (operators/analytics.py lorenz_curve) for part
    revenue inequality — distinct-value collapse + distsort prefix sums,
    each decile point one bounded argmax (the curve behind
    gini_coefficient)."""
    from polars_net_spark.operators.analytics import lorenz_curve

    li = _t(spark, sf_dir, "lineitem").spark
    return lorenz_curve(li, "l_extendedprice", n_points=10).spark


_q280_sql = """
WITH b AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
d AS (SELECT v, count(*) AS c, sum(v) AS s FROM b GROUP BY 1),
cum AS (SELECT v,
               sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cr,
               sum(s) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cv
        FROM d),
t AS (SELECT sum(c) AS nt, sum(s) AS st FROM d),
pts AS (SELECT k / 10.0 AS p FROM unnest(generate_series(1, 10)) AS u(k))
SELECT round(p, 6) AS p,
       round(max(cv) / t.st, 6) AS cum_value_share
FROM cum, t, pts
WHERE cr <= p * t.nt + 1e-9
GROUP BY p, t.st
"""


_q238_sql = """
WITH cal AS (SELECT value AS s FROM events
             WHERE event_id % 2 = 0 AND value IS NOT NULL),
tst AS (SELECT value AS s FROM events
        WHERE event_id % 2 = 1 AND value IS NOT NULL),
nn AS (SELECT count(*) AS n, CAST(ceil((count(*) + 1) * 0.9) AS BIGINT) AS k
       FROM cal),
q AS (SELECT round(s, 6) AS qhat FROM cal, nn
      ORDER BY s LIMIT 1 OFFSET (SELECT k - 1 FROM nn)),
cov AS (SELECT count(*) AS n_test,
               sum(CASE WHEN tst.s <= q.qhat THEN 1 ELSE 0 END) AS n_covered
        FROM tst, q)
SELECT CAST(n AS BIGINT) AS n, k, qhat,
       CAST(n_test AS BIGINT) AS n_test, CAST(n_covered AS BIGINT) AS n_covered,
       round(n_covered * 1.0 / n_test, 6) AS coverage
FROM nn, q, cov
"""


# ---------------------------------------------------------------------------




# ---------------------------------------------------------------------------
# round 7: deterministic sketches, survival testing, corpus power law,
# snapshot drift, forecasting, preference fitting


def _q281(spark, sf_dir):
    """KMV bottom-k cardinality (operators/sketches.py kmv_distinct): the
    DETERMINISTIC distinct-count sketch — md5 hashes, per-batch k-min via
    Arrow-batched mapInPandas (raw values never shuffle), bounded
    TakeOrdered merge, (k-1)/u_k estimator.  Unlike HLL binaries this
    replays bit-for-bit on any engine — hence a full hash oracle."""
    from polars_net_spark.operators.sketches import kmv_distinct

    li = _t(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_partkey", k=256).spark


_q281_sql = """
WITH h AS (SELECT DISTINCT md5('kmv|' || CAST(l_partkey AS VARCHAR)) AS hs
           FROM lineitem WHERE l_partkey IS NOT NULL),
k AS (SELECT hs FROM h ORDER BY hs LIMIT 256),
s AS (SELECT count(*) AS n, max(hs) AS hk FROM k),
u AS (SELECT n, list_reduce(list_transform(generate_series(1, 13),
           i -> strpos('0123456789abcdef', substr(hk, i, 1)) - 1),
           (a, x) -> a * 16 + x) / power(16, 13) AS uk FROM s)
SELECT CAST(n AS BIGINT) AS n_min_hashes,
       CAST(round(CASE WHEN n < 256 THEN n ELSE 255 / uk END) AS BIGINT)
         AS approx_distinct
FROM u
"""


def _q282(spark, sf_dir):
    """Per-key KMV (kmv_distinct by=): one map-side-combining
    slice(array_sort(collect_set)) aggregate per return flag — the
    grouped-cardinality shape that replaces per-group count_distinct
    re-shuffles at 100 TB."""
    from polars_net_spark.operators.sketches import kmv_distinct

    li = _t(spark, sf_dir, "lineitem")
    return kmv_distinct(li, "l_partkey", k=128, by="l_returnflag").spark


_q282_sql = """
WITH h AS (SELECT DISTINCT l_returnflag AS g,
                  md5('kmv|' || CAST(l_partkey AS VARCHAR)) AS hs
           FROM lineitem WHERE l_partkey IS NOT NULL),
r AS (SELECT g, hs, row_number() OVER (PARTITION BY g ORDER BY hs) AS rn FROM h),
k AS (SELECT g, count(*) AS n, max(hs) AS hk FROM r WHERE rn <= 128 GROUP BY g),
u AS (SELECT g, n, list_reduce(list_transform(generate_series(1, 13),
           i -> strpos('0123456789abcdef', substr(hk, i, 1)) - 1),
           (a, x) -> a * 16 + x) / power(16, 13) AS uk FROM k)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_min_hashes,
       CAST(round(CASE WHEN n < 128 THEN n ELSE 127 / uk END) AS BIGINT)
         AS approx_distinct
FROM u
"""


def _q283(spark, sf_dir):
    """Count-min point-frequency estimates (operators/sketches.py
    cms_build + cms_query): the sketch table is depth x width rows no
    matter the corpus size, md5-seeded so the estimate is a deterministic
    function of the data — the bounded-memory frequency primitive."""
    from polars_net_spark.operators.sketches import cms_build, cms_query

    li = _t(spark, sf_dir, "lineitem")
    sk = cms_build(li, "l_suppkey", depth=3, width=512)
    q = spark.range(1, 11).selectExpr("id as l_suppkey")
    return cms_query(sk, q, "l_suppkey", depth=3, width=512).spark


_q283_sql = """
WITH rs AS (SELECT unnest(generate_series(0, 2)) AS r),
sk AS (
  SELECT r, bucket, count(*) AS cnt FROM (
    SELECT rs.r,
           list_reduce(list_transform(generate_series(1, 13),
                i -> strpos('0123456789abcdef',
                     substr(md5('cms' || CAST(rs.r AS VARCHAR) || '|' ||
                                CAST(l_suppkey AS VARCHAR)), i, 1)) - 1),
                (a, x) -> a * 16 + x) % 512 AS bucket
    FROM lineitem, rs WHERE l_suppkey IS NOT NULL)
  GROUP BY 1, 2),
q AS (SELECT unnest(generate_series(1, 10)) AS value),
probe AS (
  SELECT q.value, rs.r,
         list_reduce(list_transform(generate_series(1, 13),
              i -> strpos('0123456789abcdef',
                   substr(md5('cms' || CAST(rs.r AS VARCHAR) || '|' ||
                              CAST(q.value AS VARCHAR)), i, 1)) - 1),
              (a, x) -> a * 16 + x) % 512 AS bucket
  FROM q, rs)
SELECT value, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_count
FROM probe LEFT JOIN sk USING (r, bucket)
GROUP BY value
"""


def _q284(spark, sf_dir):
    """Robust outlier screen (operators/analytics.py mad_outliers):
    modified z = 0.6745(x - median)/MAD per event type, flagged > 3.5 --
    the data-quality gate that outliers cannot drag (unlike mean/sigma)."""
    from polars_net_spark.operators.analytics import mad_outliers

    ev = _t(spark, sf_dir, "events")
    out = mad_outliers(ev.spark, "value", by="event_type")
    return (
        out.spark.filter(F.col("is_outlier"))
        .select("event_id", "event_type", "robust_z")
    )


_q284_sql = """
WITH med AS (SELECT event_type, median(value) AS m FROM events
             WHERE value IS NOT NULL GROUP BY 1),
mad AS (SELECT e.event_type, median(abs(e.value - med.m)) AS s
        FROM events e JOIN med USING (event_type)
        WHERE e.value IS NOT NULL GROUP BY 1),
z AS (SELECT e.event_id, e.event_type,
             CASE WHEN mad.s > 0
                  THEN 0.6745::DOUBLE * (e.value - med.m) / mad.s END AS rz
      FROM events e JOIN med USING (event_type) JOIN mad USING (event_type))
SELECT event_id, event_type, round(rz, 6) AS robust_z
FROM z WHERE abs(rz) > 3.5
"""


def _q285(spark, sf_dir):
    """Two-sample log-rank test (operators/analytics.py log_rank_test):
    urgent-priority vs other orders' time-to-finalization with
    open orders right-censored; at-risk running sums ride distsort
    prefix offsets (survival_curve's global shape), one 1-row reduce."""
    from polars_net_spark.operators.analytics import log_rank_test

    o = _t(spark, sf_dir, "orders").spark
    d = o.select(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")).alias("t"),
        (F.col("o_orderstatus") == "F").cast("int").alias("e"),
        F.when(F.col("o_orderpriority").startswith("1"), "urgent")
        .otherwise("other")
        .alias("g"),
    )
    return log_rank_test(d, "t", "e", "g").spark


_q285_sql = """
WITH s AS (SELECT date_diff('day', DATE '1992-01-01', o_orderdate::DATE) AS t,
                  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e,
                  CASE WHEN o_orderpriority LIKE '1%' THEN 'urgent'
                       ELSE 'other' END AS g
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL),
cells AS (SELECT t,
                 sum(CASE WHEN g = 'other' THEN e ELSE 0 END) AS d1,
                 sum(e) AS d,
                 sum(CASE WHEN g = 'other' THEN 1 ELSE 0 END) AS m1,
                 count(*) AS m
          FROM s GROUP BY 1),
tot AS (SELECT sum(m1) AS n1tot, sum(m) AS ntot FROM cells),
ar AS (SELECT t, d1, d,
              (n1tot - coalesce(sum(m1) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::DOUBLE AS n1r,
              (ntot - coalesce(sum(m) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::DOUBLE AS nr
       FROM cells, tot),
terms AS (SELECT d1, d * n1r / nr AS e1t,
                 CASE WHEN nr > 1
                      THEN d * (n1r / nr) * (1 - n1r / nr) * (nr - d) / (nr - 1)
                      ELSE 0 END AS vt
          FROM ar WHERE d > 0),
agg AS (SELECT sum(d1) AS o1, sum(e1t) AS e1, sum(vt) AS v FROM terms)
SELECT (SELECT CAST(ntot AS BIGINT) FROM tot) AS n,
       'other' AS group_one,
       CAST(o1 AS BIGINT) AS o1,
       round(e1, 6) AS e1,
       round(v, 6) AS var,
       round(CASE WHEN v > 0 THEN (o1 - e1) * (o1 - e1) / v END, 6) AS chi2
FROM agg
"""


def _q286(spark, sf_dir):
    """Zipf's-law fit of the document corpus (llm/text.py zipf_fit):
    global vocabulary ranks via distsort buckets + prefix offsets, one
    fused OLS reduce -- corpus-health probe (slope ~ -1 for natural
    language; boilerplate flattens it)."""
    from polars_net_spark.llm.text import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, "text").spark


_q286_sql = """
WITH toks AS (
  SELECT t.term FROM documents,
       LATERAL unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                  w -> length(w) > 0)) AS t(term)),
c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
r AS (SELECT ln(row_number() OVER (ORDER BY cnt DESC, term ASC)) AS x,
             ln(cnt) AS y
      FROM c),
a AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
             covar_pop(x, y) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy
      FROM r)
SELECT CAST(n AS BIGINT) AS n_terms,
       round(cxy / vx, 6) AS slope,
       round(my - (cxy / vx) * mx, 6) AS intercept,
       round(cxy * cxy / (vx * vy), 6) AS r2
FROM a
"""


def _q287(spark, sf_dir):
    """Snapshot profile drift (operators/describe.py profile_diff):
    even vs odd document halves compared column-by-column (null-rate
    delta, cardinality ratio, mode change) -- the pipeline-break monitor
    beside psi_report's distribution drift."""
    from polars_net_spark.operators.describe import profile_diff

    d = _t(spark, sf_dir, "documents").spark
    ref = d.filter(F.col("doc_id") % 2 == 0)
    cur = d.filter(F.col("doc_id") % 2 == 1)
    return profile_diff(ref, cur, cols=["lang", "source", "n_chars"]).spark


_q287_sql = """
WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
cur AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
mr AS (SELECT 'lang' AS col, CAST(lang AS VARCHAR) AS value FROM ref
       UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM ref
       UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM ref),
mc AS (SELECT 'lang' AS col, CAST(lang AS VARCHAR) AS value FROM cur
       UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM cur
       UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM cur),
br AS (SELECT col, count(*) AS n,
              sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nn
       FROM mr GROUP BY 1),
bc AS (SELECT col, count(*) AS n,
              sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nn
       FROM mc GROUP BY 1),
vr AS (SELECT col, value, count(*) AS c FROM mr WHERE value IS NOT NULL GROUP BY 1, 2),
vc AS (SELECT col, value, count(*) AS c FROM mc WHERE value IS NOT NULL GROUP BY 1, 2),
rr AS (SELECT col, count(*) AS nd FROM vr GROUP BY 1),
rc AS (SELECT col, count(*) AS nd FROM vc GROUP BY 1),
tr AS (SELECT col, value FROM (
         SELECT col, value,
                row_number() OVER (PARTITION BY col ORDER BY c DESC, value ASC) AS rn
         FROM vr) WHERE rn = 1),
tc AS (SELECT col, value FROM (
         SELECT col, value,
                row_number() OVER (PARTITION BY col ORDER BY c DESC, value ASC) AS rn
         FROM vc) WHERE rn = 1)
SELECT br.col AS "column",
       CAST(br.n AS BIGINT) AS n_ref, CAST(bc.n AS BIGINT) AS n_cur,
       round(br.nn::DOUBLE / br.n, 6) AS null_rate_ref,
       round(bc.nn::DOUBLE / bc.n, 6) AS null_rate_cur,
       round(bc.nn::DOUBLE / bc.n - br.nn::DOUBLE / br.n, 6) AS null_rate_delta,
       CAST(rr.nd AS BIGINT) AS n_distinct_ref,
       CAST(rc.nd AS BIGINT) AS n_distinct_cur,
       round(CASE WHEN rr.nd > 0 THEN rc.nd::DOUBLE / rr.nd END, 6) AS distinct_ratio,
       tr.value AS top_value_ref, tc.value AS top_value_cur,
       coalesce(tr.value <> tc.value,
                tr.value IS NOT NULL OR tc.value IS NOT NULL) AS top_changed
FROM br JOIN bc USING (col)
LEFT JOIN rr USING (col) LEFT JOIN rc USING (col)
LEFT JOIN tr USING (col) LEFT JOIN tc USING (col)
"""


def _q288(spark, sf_dir):
    """Holt linear-trend forecast per event-type series (operators/
    analytics.py holt_forecast): the smoothing recurrence folds as one
    codegen array expression over each gathered series -- per-key memory
    contract, zero Python."""
    from polars_net_spark.operators.analytics import holt_forecast

    ev = _t(spark, sf_dir, "events")
    return holt_forecast(
        ev.spark, "value", "event_id", by="event_type",
        alpha=0.3, beta=0.1, horizon=7,
    ).spark


_q288_sql = f"""
WITH s AS (SELECT event_type, list(value ORDER BY event_id) AS xs
           FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
           GROUP BY 1),
f AS (SELECT event_type, len(xs) AS n,
             list_reduce(
               list_prepend([xs[1], xs[2] - xs[1]],
                            list_transform(xs[2:], x -> [x, 0.0::DOUBLE])),
               (acc, e) -> [
                 {0.3!r}::DOUBLE * e[1] + {0.7!r}::DOUBLE * (acc[1] + acc[2]),
                 {0.1!r}::DOUBLE * (({0.3!r}::DOUBLE * e[1]
                     + {0.7!r}::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + {0.9!r}::DOUBLE * acc[2]]) AS lb
      FROM s)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(lb[1], 6) AS level, round(lb[2], 6) AS trend,
       round(lb[1] + 7.0::DOUBLE * lb[2], 6) AS forecast
FROM f
"""


def _q289(spark, sf_dir):
    """Bradley-Terry brand preference strengths (llm/preference.py
    bradley_terry): each order's first two line items stage a pairwise
    'which brand won the bigger line' comparison; 6 MM rounds of
    item-keyed joins fit the strengths (pagerank-shaped, deterministic
    by fixed iteration count -- the oracle replays the rounds
    unrolled)."""
    from pyspark.sql import Window as W

    from polars_net_spark.llm.preference import bradley_terry

    li = _t(spark, sf_dir, "lineitem").spark
    pt = _t(spark, sf_dir, "part").spark
    st = (
        li.join(pt, li["l_partkey"] == pt["p_partkey"])
        .select(
            F.col("l_orderkey").alias("o"), F.col("l_linenumber").alias("ln"),
            F.col("p_brand").alias("brand"), F.col("l_extendedprice").alias("price"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("o").orderBy("ln", "brand", "price")
            ),
        )
        .filter(F.col("rn") <= 2)
    )
    pair = st.groupBy("o").agg(
        F.max(F.when(F.col("rn") == 1, F.struct("brand", "price"))).alias("r1"),
        F.max(F.when(F.col("rn") == 2, F.struct("brand", "price"))).alias("r2"),
    ).filter(
        F.col("r2").isNotNull()
        & (F.col("r1.brand") != F.col("r2.brand"))
        & (F.col("r1.price") != F.col("r2.price"))
    )
    pf = pair.select(
        F.when(F.col("r1.price") > F.col("r2.price"), F.col("r1.brand"))
        .otherwise(F.col("r2.brand")).alias("chosen"),
        F.when(F.col("r1.price") > F.col("r2.price"), F.col("r2.brand"))
        .otherwise(F.col("r1.brand")).alias("rejected"),
    )
    return bradley_terry(pf, iterations=6).spark


def _bt_oracle_sql(iterations: int = 6) -> str:
    rounds = []
    for r in range(1, iterations + 1):
        prev = "p0" if r == 1 else f"p{r - 1}"
        rounds.append(f"""
d{r} AS MATERIALIZED (SELECT item, sum(t) AS dn FROM (
   SELECT e.a AS item, e.n / (pa.p + pb.p) AS t
   FROM edges e JOIN {prev} pa ON e.a = pa.item JOIN {prev} pb ON e.b = pb.item
   UNION ALL
   SELECT e.b, e.n / (pa.p + pb.p)
   FROM edges e JOIN {prev} pa ON e.a = pa.item JOIN {prev} pb ON e.b = pb.item
 ) GROUP BY 1),
p{r} AS MATERIALIZED (SELECT items.item, items.wins::DOUBLE / d{r}.dn AS p
         FROM items JOIN d{r} USING (item))""")
    return f"""
WITH st AS (SELECT l_orderkey AS o, p_brand AS brand, l_extendedprice AS price,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber, p_brand,
                                               l_extendedprice) AS rn
            FROM lineitem JOIN part ON l_partkey = p_partkey),
pair AS (SELECT o,
          max(CASE WHEN rn = 1 THEN brand END) AS b1,
          max(CASE WHEN rn = 1 THEN price END) AS p1,
          max(CASE WHEN rn = 2 THEN brand END) AS b2,
          max(CASE WHEN rn = 2 THEN price END) AS p2
         FROM st WHERE rn <= 2 GROUP BY o),
pf AS (SELECT CASE WHEN p1 > p2 THEN b1 ELSE b2 END AS w,
              CASE WHEN p1 > p2 THEN b2 ELSE b1 END AS l
       FROM pair WHERE b2 IS NOT NULL AND b1 <> b2 AND p1 <> p2),
edges AS MATERIALIZED (SELECT least(w, l) AS a, greatest(w, l) AS b, count(*) AS n,
                 sum(CASE WHEN w = least(w, l) THEN 1 ELSE 0 END) AS wa
          FROM pf GROUP BY 1, 2),
items AS MATERIALIZED (SELECT item, sum(n) AS nc, sum(wins) AS wins FROM (
            SELECT a AS item, n, wa AS wins FROM edges
            UNION ALL SELECT b, n, n - wa FROM edges)
          GROUP BY 1),
p0 AS MATERIALIZED (SELECT item, 1.0::DOUBLE AS p FROM items),{",".join(rounds)},
tot AS (SELECT sum(p) AS tp FROM p{iterations})
SELECT items.item, CAST(items.nc AS BIGINT) AS n_comparisons,
       CAST(items.wins AS BIGINT) AS wins,
       round(CASE WHEN tot.tp > 0 THEN pn.p / tot.tp ELSE 0 END, 6) AS score
FROM items JOIN p{iterations} pn USING (item), tot
"""


_q289_sql = _bt_oracle_sql(6)




def _q290(spark, sf_dir):
    """One-way ANOVA F-test (operators/regression.py anova_oneway): does
    mean event value differ across the 5 event types?  ONE group-keyed
    map-side-combining aggregate + a bounded k-row reduce."""
    from polars_net_spark.operators.regression import anova_oneway

    ev = _t(spark, sf_dir, "events")
    return anova_oneway(ev.spark, "event_type", "value").spark


_q290_sql = """
WITH g AS (SELECT event_type,
                  count(*) AS ng, avg(value) AS mg,
                  var_pop(value) * count(*) AS ssw_g
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL
           GROUP BY 1),
red AS (SELECT count(*) AS k, sum(ng) AS n, sum(ng * mg) AS sw,
               sum(ng * mg * mg) AS sww, sum(ssw_g) AS ssw
        FROM g),
c AS (SELECT k, n, ssw, sww - n * (sw / n) * (sw / n) AS ssb FROM red)
SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       round(CASE WHEN k > 1 AND n > k AND ssw > 0
                  THEN (ssb / (k - 1)) / (ssw / (n - k)) END, 6) AS f_stat,
       CAST(k - 1 AS BIGINT) AS df1, CAST(n - k AS BIGINT) AS df2,
       round(CASE WHEN ssb + ssw > 0 THEN ssb / (ssb + ssw) END, 6) AS eta_sq
FROM c
"""


def _q291(spark, sf_dir):
    """Information-gain feature screen (operators/regression.py
    info_gain_report): which of line status / quantity decile carries
    information about the return flag?  One melt + map-side-combining
    counts + bounded rollups (profile_frame's shuffle shape) — the label
    leakage hunt at feature-screen scale."""
    from polars_net_spark.operators.regression import info_gain_report

    li = _t(spark, sf_dir, "lineitem").spark
    staged = li.select(
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.floor(F.col("l_quantity") / 10).cast("int").alias("qbucket"),
    )
    return info_gain_report(staged, ["l_linestatus", "qbucket"], "l_returnflag").spark


_q291_sql = """
WITH base AS (SELECT CAST(l_returnflag AS VARCHAR) AS y,
                     coalesce(CAST(l_linestatus AS VARCHAR), '__null__') AS f1,
                     coalesce(CAST(CAST(floor(l_quantity / 10) AS INT) AS VARCHAR),
                              '__null__') AS f2
              FROM lineitem WHERE l_returnflag IS NOT NULL),
melted AS (SELECT 'l_linestatus' AS feature, f1 AS value, y FROM base
           UNION ALL SELECT 'qbucket', f2, y FROM base),
cell AS (SELECT feature, value, y, count(*) AS c FROM melted GROUP BY 1, 2, 3),
vtot AS (SELECT feature, value, sum(c) AS cv FROM cell GROUP BY 1, 2),
hv AS (SELECT cell.feature, cell.value,
              -sum((c::DOUBLE / cv) * ln(c::DOUBLE / cv)) AS hv,
              max(cv) AS cv
       FROM cell JOIN vtot USING (feature, value) GROUP BY 1, 2),
ftot AS (SELECT feature, sum(cv) AS cf FROM vtot GROUP BY 1),
pf AS (SELECT hv.feature, max(cf) AS n,
              sum(cv * hv.hv) / max(cf) AS h_cond,
              -sum((cv::DOUBLE / cf) * ln(cv::DOUBLE / cf)) AS h_feat
       FROM hv JOIN ftot USING (feature) GROUP BY 1),
ytot AS (SELECT y, count(*) AS c FROM base GROUP BY 1),
hy AS (SELECT -sum((c::DOUBLE / tc) * ln(c::DOUBLE / tc)) AS h_label
       FROM ytot, (SELECT sum(c) AS tc FROM ytot))
SELECT feature, CAST(n AS BIGINT) AS n,
       round(h_label, 6) AS h_label,
       round(h_cond, 6) AS h_cond,
       round(h_label - h_cond, 6) AS info_gain,
       round(CASE WHEN h_feat > 0 THEN (h_label - h_cond) / h_feat END, 6)
         AS gain_ratio
FROM pf, hy
"""


def _q292(spark, sf_dir):
    """Degree summary + assortativity (operators/graph.py degree_report)
    of the supplier-part bipartite graph: one degree aggregate + two
    node-keyed joins + one fused corr reduce — the structural health
    check beside triangle_count.  Node ids disambiguate NUMERICALLY —
    suppliers as +suppkey, parts as −(partkey+1) (both key spaces start
    at 0, so the shift keeps them disjoint) — the dedupe/join keys stay
    bigint (string-concat keys measured ~25% slower end-to-end)."""
    from polars_net_spark.operators.graph import degree_report

    li = _t(spark, sf_dir, "lineitem").spark
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (-(F.col("l_partkey") + 1)).alias("dst"),
    )
    return degree_report(edges).spark


_q292_sql = """
WITH canon AS (SELECT DISTINCT
                 least(l_suppkey, -(l_partkey + 1)) AS a,
                 greatest(l_suppkey, -(l_partkey + 1)) AS b
               FROM lineitem
               WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
deg AS (SELECT v, count(*) AS deg FROM (
          SELECT a AS v FROM canon UNION ALL SELECT b FROM canon)
        GROUP BY 1),
ends AS (SELECT a AS u, b AS w FROM canon UNION ALL SELECT b, a FROM canon),
j AS (SELECT du.deg AS du, dw.deg AS dw
      FROM ends JOIN deg du ON ends.u = du.v JOIN deg dw ON ends.w = dw.v),
r AS (SELECT corr(du::DOUBLE, dw::DOUBLE) AS r FROM j),
ds AS (SELECT count(*) AS n_nodes, sum(deg) / 2 AS n_edges,
              avg(deg) AS mean_degree, max(deg) AS max_degree
       FROM deg)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
       round(mean_degree, 6) AS mean_degree,
       CAST(max_degree AS BIGINT) AS max_degree,
       round(r.r, 6) AS assortativity
FROM ds, r
"""


def _q293(spark, sf_dir):
    """Always-valid mSPRT (operators/regression.py msprt_report): peek at
    the running event-value mean against mu0=45 at every observation
    without inflating type-I error; the running S_k cumulants ride
    distsort prefix offsets, the max_k reduce is one 1-row aggregate,
    and the likelihood ratio stays in LOG space."""
    from polars_net_spark.operators.regression import msprt_report

    ev = _t(spark, sf_dir, "events")
    return msprt_report(ev.spark, "value", "event_id", mu0=45.0, tau=1.0).spark


_q293_sql = """
WITH base AS (SELECT event_id AS o, value - 45.0::DOUBLE AS d
              FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
stats AS (SELECT count(*) AS n, var_samp(d) AS s2 FROM base),
run AS (SELECT o,
               sum(d) OVER (ORDER BY o ROWS UNBOUNDED PRECEDING) AS s_k,
               count(*) OVER (ORDER BY o ROWS UNBOUNDED PRECEDING) AS k
        FROM base),
lam AS (SELECT s_k, k,
               0.5::DOUBLE * ln(s2 / (s2 + k * 1.0::DOUBLE))
               + 1.0::DOUBLE * s_k * s_k
                 / (2.0::DOUBLE * s2 * (s2 + k * 1.0::DOUBLE)) AS ll
        FROM run, stats),
red AS (SELECT max(ll) AS llm,
               max_by(s_k, k) AS s_n
        FROM lam)
SELECT (SELECT CAST(n AS BIGINT) FROM stats) AS n,
       round(s_n, 6) AS s_n,
       round((SELECT sqrt(s2) FROM stats), 6) AS sigma,
       round(llm, 6) AS log_lambda_max,
       round(least(1.0::DOUBLE, exp(-llm)), 6) AS always_valid_p,
       least(1.0::DOUBLE, exp(-llm)) < 0.05::DOUBLE AS reject
FROM red
"""




def _q294(spark, sf_dir):
    """EIGHTH true Structured Streaming gate — ARBITRARY STATEFUL
    processing (streaming/stream.py apply_in_pandas_with_state /
    applyInPandasWithState): a per-user GroupState carries running
    (count, sum) across micro-batches and each batch emits the user's
    cumulative totals so far.  The CONVERGED value per user (the emission
    with the largest count) is batching-independent by construction —
    however the file source slices batches, the final state equals the
    batch aggregate, which is exactly what the DuckDB oracle computes.
    This is the custom-stateful-operator class the reference cannot
    express and Spark's GroupState is built for."""
    import hashlib
    import os
    import tempfile

    from polars_net_spark.streaming.stream import StreamingFrame

    ev_path = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(f"{sf_dir}|events5".encode()).hexdigest()[:8]
    src_dir = os.path.join(tempfile.gettempdir(), f"stream_src_events5_{tag}")
    schema = _raw_schema(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        (
            spark.read.schema(schema).parquet(ev_path).repartition(4)
            .write.mode("overwrite").parquet(src_dir)
        )

    def _fn(key, pdfs, state):
        import pandas as pd

        (user,) = key
        cnt, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            tot += float(pdf["value"].fillna(0.0).sum())
        state.update((int(cnt), float(tot)))
        yield pd.DataFrame(
            {"user_id": [int(user)], "n": [int(cnt)], "total": [float(tot)]}
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("user_id", "value")
    )
    out_dir = tempfile.mkdtemp(prefix="q294_out_")
    ckpt = tempfile.mkdtemp(prefix="q294_ckpt_")
    out_schema = "user_id long, n long, total double"
    emitted = StreamingFrame(stream).apply_in_pandas_with_state(
        _fn,
        out_schema,
        "cnt long, tot double",
        group_by=["user_id"],
        output_mode="append",
    )
    _drain_stream_gate(spark, lambda: emitted.write_parquet(out_dir, ckpt), timeout=180)
    res = spark.read.schema(out_schema).parquet(out_dir)
    final = res.groupBy("user_id").agg(
        F.max_by(F.struct("n", "total"), "n").alias("s")
    )
    return final.select(
        "user_id",
        F.col("s.n").alias("n_events"),
        F.round(F.col("s.total"), 6).alias("total_value"),
    )


_q294_sql = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(coalesce(value, 0.0)), 6) AS total_value
FROM events
GROUP BY user_id
"""




def _q295(spark, sf_dir):
    """Incremental rollup maintenance (operators/merge.py build_rollup +
    merge_rollup): the even-event half builds a partial-aggregate state
    table, the odd half folds in WITHOUT rescanning the first half, and
    the merged state must equal the full recompute — the associativity
    contract that makes daily 100 TB rollups one-aggregate-per-day
    instead of a history rescan.  The oracle IS the full recompute."""
    from polars_net_spark.operators.merge import build_rollup, merge_rollup

    ev = _t(spark, sf_dir, "events").spark
    state = build_rollup(ev.filter(F.col("event_id") % 2 == 0), "event_type", ["value"])
    merged = merge_rollup(state, ev.filter(F.col("event_id") % 2 == 1), "event_type", ["value"])
    m = merged.spark
    return m.select(
        "event_type",
        F.col("n").alias("n"),
        F.round("value_sum", 6).alias("value_sum"),
        F.col("value_min"),
        F.col("value_max"),
        F.round(F.col("value_sum") / F.col("value_n"), 6).alias("value_mean"),
    )


_q295_sql = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS value_sum,
       min(value) AS value_min,
       max(value) AS value_max,
       round(sum(value) / count(value), 6) AS value_mean
FROM events
GROUP BY event_type
"""




def _q296(spark, sf_dir):
    """Seeded Laplace-mechanism noisy counts (operators/analytics.py
    dp_count_report): the DP publishable-histogram primitive with
    md5-seeded inverse-CDF draws (deterministic for replay — the
    docstring spells out why a real release must swap the seed for
    entropy).  One map-side-combining count + map-only noise math."""
    from polars_net_spark.operators.analytics import dp_count_report

    ev = _t(spark, sf_dir, "events")
    return dp_count_report(ev.spark, "event_type", epsilon=0.5).spark


_q296_sql = """
WITH counts AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
u AS (SELECT event_type, n,
             list_reduce(list_transform(generate_series(1, 13),
                  i -> strpos('0123456789abcdef',
                       substr(md5('dp' || '|' || CAST(event_type AS VARCHAR)), i, 1)) - 1),
                  (a, x) -> a * 16 + x) / power(16, 13) AS u
      FROM counts),
lap AS (SELECT event_type, n,
               -(1.0::DOUBLE / 0.5::DOUBLE)
               * CASE WHEN u - 0.5::DOUBLE > 0 THEN 1.0::DOUBLE
                      WHEN u - 0.5::DOUBLE < 0 THEN -1.0::DOUBLE
                      ELSE 0.0::DOUBLE END
               * ln(1.0::DOUBLE - 2.0::DOUBLE * abs(u - 0.5::DOUBLE)) AS noise
        FROM u)
SELECT event_type, CAST(n AS BIGINT) AS n,
       greatest(0.0::DOUBLE, round(n + noise, 6)) AS noisy_n
FROM lap
"""


def _q297(spark, sf_dir):
    """Rare-level collapsing (operators/analytics.py
    collapse_rare_levels): languages under a 13% corpus share fold into
    __other__ before encoding — survivor set bounded by 1/min_share, so
    the rejoin broadcasts at any corpus size."""
    from polars_net_spark.operators.analytics import collapse_rare_levels

    d = _t(spark, sf_dir, "documents").spark.select("doc_id", "lang")
    out = collapse_rare_levels(d, "lang", min_share=0.13)
    return out.spark.select("doc_id", F.col("lang").alias("lang_collapsed"))


_q297_sql = """
WITH counts AS (SELECT lang AS lv, count(*) AS c FROM documents
                WHERE lang IS NOT NULL GROUP BY 1),
tot AS (SELECT sum(c) AS t FROM counts),
keep AS (SELECT lv FROM counts, tot WHERE c::DOUBLE / t >= 0.13::DOUBLE)
SELECT doc_id,
       CASE WHEN lang IS NULL THEN NULL
            WHEN lang IN (SELECT lv FROM keep) THEN lang
            ELSE '__other__' END AS lang_collapsed
FROM documents
"""




def _q298(spark, sf_dir):
    """Row-level snapshot diff (operators/validate.py snapshot_rows_diff):
    the actual added/removed/changed rows between two table versions with
    per-row changed-column lists — frame_diff's counts, opened up for the
    CDC debugging session.  Unchanged mass excluded by construction."""
    from polars_net_spark.operators.validate import snapshot_rows_diff

    d = _t(spark, sf_dir, "documents").spark
    ref = d.select("doc_id", "lang", "source")
    cur = (
        d.filter(F.col("doc_id") % 7 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.lit("xx")).otherwise(F.col("lang")).alias("lang"),
            "source",
        )
    )
    out = snapshot_rows_diff(ref, cur, "doc_id").spark
    return out.select(
        "doc_id", "status", F.array_join("changed_cols", ",").alias("changed_cols")
    )


_q298_sql = """
WITH ref AS (SELECT doc_id, lang, source FROM documents),
cur AS (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS lang,
               source
        FROM documents WHERE doc_id % 7 <> 0),
j AS (SELECT coalesce(ref.doc_id, cur.doc_id) AS doc_id,
             ref.doc_id IS NOT NULL AS inl, cur.doc_id IS NOT NULL AS inr,
             ref.lang AS ll, cur.lang AS rl, ref.source AS ls, cur.source AS rs
      FROM ref FULL OUTER JOIN cur ON ref.doc_id = cur.doc_id),
st AS (SELECT doc_id, inl, inr,
              CASE WHEN NOT inl AND inr THEN 'added'
                   WHEN inl AND NOT inr THEN 'removed'
                   WHEN (ll IS DISTINCT FROM rl) OR (ls IS DISTINCT FROM rs)
                        THEN 'changed'
                   ELSE 'unchanged' END AS status,
              CASE WHEN inl AND inr THEN
                array_to_string(list_filter([
                  CASE WHEN ll IS DISTINCT FROM rl THEN 'lang' END,
                  CASE WHEN ls IS DISTINCT FROM rs THEN 'source' END], x -> x IS NOT NULL), ',')
              ELSE '' END AS changed_cols
       FROM j)
SELECT doc_id, status, changed_cols FROM st WHERE status <> 'unchanged'
"""


def _q299(spark, sf_dir):
    """Exact-duplicate cluster diagnostics (llm/dedup.py
    dedup_cluster_stats): content-fingerprint sizes + one bounded
    reduce — the is-dedup-worth-running probe (dup rate, max cluster,
    top-heavy share)."""
    from polars_net_spark.llm.dedup import dedup_cluster_stats

    d = _t(spark, sf_dir, "documents")
    return dedup_cluster_stats(d).spark


_q299_sql = """
WITH sizes AS (SELECT md5(CAST(text AS VARCHAR)) AS fp, count(*) AS sz
               FROM documents WHERE text IS NOT NULL GROUP BY 1)
SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(sz - 1) AS BIGINT) AS n_dup_docs,
       round(sum(sz - 1)::DOUBLE / sum(sz), 6) AS dup_rate,
       CAST(max(sz) AS BIGINT) AS max_cluster,
       round(CASE WHEN sum(sz - 1) > 0
                  THEN (max(sz) - 1)::DOUBLE / sum(sz - 1)
                  ELSE 0.0 END, 6) AS top_cluster_dup_share
FROM sizes
"""


def _q300(spark, sf_dir):
    """Neyman-optimal stratified allocation (llm/sampling.py
    neyman_allocation): event-type strata sized n_h ∝ N_h·σ_h for a
    500-row eval draw — the variance-minimizing sampling design, with
    min-2 floors, population caps, and largest-remainder rounding so the
    budget lands exactly."""
    from polars_net_spark.llm.sampling import neyman_allocation

    ev = _t(spark, sf_dir, "events")
    return neyman_allocation(ev.spark, "event_type", "value", total_n=500).spark


_q300_sql = """
WITH stats AS (SELECT event_type AS stratum, count(*) AS n_pop,
                      coalesce(stddev_samp(value), 0.0) AS sigma
               FROM events
               WHERE event_type IS NOT NULL AND value IS NOT NULL
               GROUP BY 1),
fl AS (SELECT stratum, n_pop, sigma,
              least(2, n_pop) AS floor_n, n_pop * sigma AS w
       FROM stats),
tot AS (SELECT sum(floor_n) AS fsum, sum(w) AS wtot FROM fl),
sh AS (SELECT stratum, n_pop, sigma, floor_n,
              (500 - tot.fsum) * w / tot.wtot AS share
       FROM fl, tot),
base AS (SELECT *, CAST(floor(share) AS BIGINT) AS base_n,
                share - floor(share) AS frac
         FROM sh),
lft AS (SELECT 500 - sum(floor_n) - sum(base_n) AS leftover FROM base),
rk AS (SELECT *, row_number() OVER (ORDER BY frac DESC, CAST(stratum AS VARCHAR)) AS rn
       FROM base)
SELECT stratum, CAST(n_pop AS BIGINT) AS n_pop,
       round(sigma, 6) AS sigma,
       CAST(floor_n + base_n
            + CASE WHEN rn <= (SELECT leftover FROM lft) THEN 1 ELSE 0 END
            AS BIGINT) AS n_alloc
FROM rk
"""




def _q301(spark, sf_dir):
    """NINTH Structured Streaming gate — SLIDING windows: 6-hour windows
    every 3 hours (each event lands in exactly two overlapping windows),
    per event type, availableNow to a memory sink.  Completes the window
    palette beside tumbling (q151) and session (q173) windows; the DuckDB
    oracle expands each row into its two slide buckets."""
    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "6 hours", "3 hours").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.round(F.sum("value"), 6).alias("sum_v"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return _memory_stream_gate(spark, stream, "q301_slide", "complete").select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type", "sum_v", "n",
    )


_q301_sql = """
WITH expanded AS (
  SELECT event_type, value,
         to_timestamp((floor(epoch(ts) / 10800) - k) * 10800) AS win_start,
         ts
  FROM events, (SELECT unnest(generate_series(0, 1)) AS k)
  WHERE epoch(ts) < (floor(epoch(ts) / 10800) - k) * 10800 + 21600
    AND epoch(ts) >= (floor(epoch(ts) / 10800) - k) * 10800)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type,
       round(sum(value), 6) AS sum_v,
       CAST(count(*) AS BIGINT) AS n
FROM expanded GROUP BY 1, 2
"""




def _q302(spark, sf_dir):
    """Distribution-free median CI (operators/regression.py median_ci):
    order-statistic interval for the median line price — exact ranks
    resolve through distsort prefix offsets, no single-partition sort."""
    from polars_net_spark.operators.regression import median_ci

    li = _t(spark, sf_dir, "lineitem")
    return median_ci(li.spark, "l_extendedprice").spark


_q302_sql = """
WITH base AS (SELECT l_extendedprice::DOUBLE AS x FROM lineitem
              WHERE l_extendedprice IS NOT NULL),
nn AS (SELECT count(*) AS n FROM base),
rk AS (SELECT greatest(1, CAST(floor((n - 1.96::DOUBLE * sqrt(n)) / 2) AS BIGINT)) AS lo_r,
              least(n, CAST(ceil((n + 1.96::DOUBLE * sqrt(n)) / 2) AS BIGINT) + 1) AS hi_r
       FROM nn),
ordered AS (SELECT x, row_number() OVER (ORDER BY x) AS r FROM base),
b AS (SELECT min(CASE WHEN r = rk.lo_r THEN x END) AS lo,
             min(CASE WHEN r = rk.hi_r THEN x END) AS hi
      FROM ordered, rk),
m AS (SELECT median(x) AS mv FROM base)
SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n,
       round(m.mv, 6) AS median,
       round(b.lo, 6) AS ci_lo,
       round(b.hi, 6) AS ci_hi,
       1.96::DOUBLE AS z
FROM b, m
"""




def _q303(spark, sf_dir):
    """Cochran-Armitage trend test (operators/regression.py
    cochran_armitage): does the finalization rate trend with the numeric
    order-priority tier?  One score-keyed aggregate + bounded reduce —
    the dose-response screen beside chi2 (unordered) and prop_ztest
    (two arms)."""
    from polars_net_spark.operators.regression import cochran_armitage

    o = _t(spark, sf_dir, "orders").spark
    d = o.select(
        F.substring(F.col("o_orderpriority"), 1, 1).cast("double").alias("tier"),
        (F.col("o_orderstatus") == "F").cast("int").alias("final"),
    )
    return cochran_armitage(d, "tier", "final").spark


_q303_sql = """
WITH base AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS DOUBLE) AS s,
                     CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
              FROM orders
              WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
g AS (SELECT s, count(*) AS ni, sum(y) AS ri FROM base
      WHERE s IS NOT NULL GROUP BY 1),
red AS (SELECT sum(ni) AS n, count(*) AS k, sum(ri) AS r,
               sum(s * ri) AS sr, sum(s * ni) AS sn, sum(s * s * ni) AS ssn
        FROM g),
c AS (SELECT n, k, r / n AS pbar,
             sr - (r / n) * sn AS t,
             (r / n) * (1 - r / n) * (ssn - sn * sn / n) AS var_t
      FROM red)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       round(pbar, 6) AS pbar, round(t, 6) AS t_stat,
       round(var_t, 6) AS var_t,
       round(CASE WHEN var_t > 0 THEN t / sqrt(var_t) END, 6) AS z
FROM c
"""


# ---------------------------------------------------------------------------
# round-8: model-evaluation family (operators/mleval.py) + weighted
# quantiles / Theil / RMST (operators/analytics.py)


def _q304(spark, sf_dir):
    """ROC AUC via the Mann-Whitney rank statistic (operators/mleval.py
    auc_report): is `value` predictive of the error event type?  Distinct
    scores + distsort prefix ranks + one fused reduce — no data-sized
    window, exact tie handling (average ranks)."""
    from polars_net_spark.operators.mleval import auc_report

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select("value", (F.col("event_type") == "error").cast("int").alias("y"))
    return auc_report(lab, "value", "y").spark


_q304_sql = """
WITH s AS (SELECT value AS sc, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
g AS (SELECT sc, count(*) AS c, sum(y) AS cp FROM s GROUP BY 1),
cum AS (SELECT sc, c, cp,
          coalesce(sum(c) OVER (ORDER BY sc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
        FROM g),
red AS (SELECT sum(cp * (c_lt + (c + 1) / 2.0)) AS rps, sum(cp) AS npos, sum(c) AS n FROM cum),
a AS (SELECT CASE WHEN npos > 0 AND n - npos > 0
             THEN (rps - npos * (npos + 1) / 2.0) / (npos * (n - npos)) END AS auc,
             npos, n - npos AS nneg FROM red)
SELECT round(auc, 6) AS auc, round(2 * auc - 1, 6) AS gini,
       CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg
FROM a
"""


def _q305(spark, sf_dir):
    """Reliability-diagram bins (operators/mleval.py reliability_bins):
    pseudo-probability p = min(value/50, 1) vs the error label over 10
    equal-width bins — map-only bin math + one aggregate."""
    from polars_net_spark.operators.mleval import reliability_bins

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select(
        F.least(F.col("value") / F.lit(50.0), F.lit(1.0)).alias("p"),
        (F.col("event_type") == "error").cast("int").alias("y"),
    )
    return reliability_bins(lab, "p", "y", n_bins=10).spark


_q305_sql = """
WITH s AS (SELECT least(greatest(least(value / 50.0, 1.0), 0.0), 1.0) AS p,
                  CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
b AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y FROM s),
g AS (SELECT bin, count(*) AS n, sum(p) AS sp, sum(y) AS sy FROM b GROUP BY 1)
SELECT bin, round(bin / 10.0, 6) AS p_lo, round((bin + 1) / 10.0, 6) AS p_hi,
       CAST(n AS BIGINT) AS n,
       round(sp / n, 6) AS mean_pred, round(sy / n, 6) AS frac_pos,
       round((sy - sp) / n, 6) AS gap
FROM g ORDER BY bin
"""


def _q306(spark, sf_dir):
    """One-row calibration summary (operators/mleval.py
    calibration_report): Brier + ECE + MCE + Hosmer-Lemeshow over the
    q305 bins — two bounded aggregates."""
    from polars_net_spark.operators.mleval import calibration_report

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select(
        F.least(F.col("value") / F.lit(50.0), F.lit(1.0)).alias("p"),
        (F.col("event_type") == "error").cast("int").alias("y"),
    )
    return calibration_report(lab, "p", "y", n_bins=10).spark


_q306_sql = """
WITH s AS (SELECT least(greatest(least(value / 50.0, 1.0), 0.0), 1.0) AS p,
                  CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
b AS (SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin, p, y, (p - y) * (p - y) AS sq FROM s),
g AS (SELECT bin, count(*) AS n, sum(p) AS sp, sum(y) AS sy, sum(sq) AS ssq FROM b GROUP BY 1),
t AS (SELECT sum(n) AS n, sum(ssq) / sum(n) AS brier,
             sum(abs(sy - sp)) / sum(n) AS ece,
             max(abs(sy - sp) / n) AS mce,
             sum(CASE WHEN sp / n > 0 AND sp / n < 1
                 THEN (sy - sp) * (sy - sp) / (n * (sp / n) * (1 - sp / n)) END) AS hl,
             count(CASE WHEN sp / n > 0 AND sp / n < 1 THEN 1 END) - 2 AS hl_df
      FROM g)
SELECT CAST(n AS BIGINT) AS n, round(brier, 6) AS brier, round(ece, 6) AS ece,
       round(mce, 6) AS mce, round(hl, 6) AS hl_chi2, CAST(hl_df AS BIGINT) AS hl_df
FROM t
"""


def _q307(spark, sf_dir):
    """Cumulative gains / lift deciles (operators/mleval.py gains_chart):
    events ranked by value desc (event_id tie-break), exact rank slices
    floor((rank-1)*10/n) — distsort desc buckets + prefix offsets, then
    two bounded k-row reduces."""
    from polars_net_spark.operators.mleval import gains_chart

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select(
        "value", (F.col("event_type") == "error").cast("int").alias("y"), "event_id"
    )
    return gains_chart(lab, "value", "y", "event_id", n_buckets=10).spark


_q307_sql = """
WITH s AS (SELECT value AS sc, event_id,
                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
r AS (SELECT y, row_number() OVER (ORDER BY sc DESC, event_id) AS rk,
             count(*) OVER () AS n
      FROM s),
g AS (SELECT CAST(floor((rk - 1) * 10 / n) AS INT) AS bucket,
             count(*) AS n, sum(y) AS n_pos
      FROM r GROUP BY 1),
c AS (SELECT bucket, n, n_pos,
             sum(n_pos) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(n_pos) OVER () AS tot_pos, sum(n) OVER () AS tot_n
      FROM g)
SELECT bucket, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       round(n_pos * 1.0 / n, 6) AS pos_rate,
       round(CASE WHEN tot_pos > 0 THEN cum_pos * 1.0 / tot_pos END, 6) AS cum_pos_share,
       round(CASE WHEN tot_pos > 0 THEN (n_pos * 1.0 / n) / (tot_pos * 1.0 / tot_n) END, 6) AS lift
FROM c ORDER BY bucket
"""


def _q308(spark, sf_dir):
    """Theil T inequality index (operators/analytics.py theil_index) of
    extended price: ONE fused aggregate via T = Σ(x·ln x)/Σx − ln μ —
    the decomposable companion to the q144 Gini."""
    from polars_net_spark.operators.analytics import theil_index

    li = _t(spark, sf_dir, "lineitem").spark
    return theil_index(li, "l_extendedprice").spark


_q308_sql = """
WITH s AS (SELECT l_extendedprice AS x FROM lineitem),
t AS (SELECT count(CASE WHEN x > 0 THEN 1 END) AS n,
             count(*) - count(CASE WHEN x > 0 THEN 1 END) AS n_excluded,
             sum(CASE WHEN x > 0 THEN x END) AS sx,
             sum(CASE WHEN x > 0 THEN x * ln(x) END) AS sxl
      FROM s)
SELECT CAST(n AS BIGINT) AS n, CAST(n_excluded AS BIGINT) AS n_excluded,
       round(sx / n, 6) AS mean, round(sxl / sx - ln(sx / n), 6) AS theil
FROM t
"""


def _q309(spark, sf_dir):
    """Exact weighted quantiles (operators/analytics.py
    weighted_quantiles): price quantiles weighted by quantity — distinct
    values + distsort prefix weights + ONE fused conditional reduce
    against literal q·W thresholds (no per-q join)."""
    from polars_net_spark.operators.analytics import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem").spark
    return weighted_quantiles(
        li, "l_extendedprice", "l_quantity", (0.25, 0.5, 0.75, 0.9)
    ).spark


_q309_sql = """
WITH s AS (SELECT l_extendedprice AS v, l_quantity AS w FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity > 0),
g AS (SELECT v, sum(w) AS w FROM s GROUP BY 1),
c AS (SELECT v, sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(w) OVER () AS tw
      FROM g),
q AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
SELECT q.q AS q,
       round((SELECT min(v) FROM c WHERE cw >= q.q * (SELECT max(tw) FROM c)), 6) AS value,
       round((SELECT max(tw) FROM c), 6) AS total_weight
FROM q ORDER BY q
"""


def _q310(spark, sf_dir):
    """Restricted mean survival time (operators/analytics.py rmst): area
    under the q228 Kaplan-Meier curve to tau=60 — the lag over the curve
    rides halo buckets (1-row predecessor halo), no single-partition
    window."""
    from polars_net_spark.operators.analytics import rmst

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(F.col("value").isNotNull()).select(
        F.floor(F.col("value")).cast("double").alias("t_obs"),
        (F.col("event_id") % 4 != 0).cast("int").alias("event"),
    )
    return rmst(d, "t_obs", "event", tau=60.0).spark


_q310_sql = """
WITH b AS (
  SELECT floor(value) AS t, CASE WHEN event_id%4<>0 THEN 1 ELSE 0 END AS ev
  FROM events WHERE value IS NOT NULL),
g AS (SELECT t, sum(ev) AS d, sum(1-ev) AS c FROM b GROUP BY 1),
r AS (SELECT t, d, c,
        (SELECT sum(d+c) FROM g) - coalesce(sum(d+c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g),
s AS (SELECT t, d, c, n_risk,
        CASE WHEN d > 0 AND 1.0 - d*1.0/n_risk > 0 THEN ln(1.0 - d*1.0/n_risk) ELSE 0.0 END AS lg,
        CASE WHEN d > 0 AND 1.0 - d*1.0/n_risk <= 0 THEN 1 ELSE 0 END AS zf
      FROM r),
k AS (SELECT t,
        round(CASE WHEN sum(zf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
              THEN 0.0 ELSE exp(sum(lg) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END, 6) AS sv
      FROM s),
seg AS (SELECT t, sv,
          coalesce(lag(t) OVER (ORDER BY t), 0.0) AS pt,
          coalesce(lag(sv) OVER (ORDER BY t), 1.0) AS ps
        FROM k),
agg AS (SELECT sum(ps * (least(t, 60.0) - least(pt, 60.0))) AS area,
               count(*) AS n_times,
               max_by(sv, t) AS last_sv, max(t) AS last_t
        FROM seg)
SELECT 60.0 AS tau, CAST(n_times AS BIGINT) AS n_times,
       round(area + last_sv * greatest(0.0, 60.0 - least(last_t, 60.0)), 6) AS rmst
FROM agg
"""


def _q311(spark, sf_dir):
    """Per-segment ROC AUC (operators/mleval.py group_auc): does value
    predict the md5-free deterministic label within each event type?
    Mann-Whitney ranks sharded on the segment key — keyed windows, no
    global stage."""
    from polars_net_spark.operators.mleval import group_auc

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select(
        "value", (F.col("event_id") % 3 == 0).cast("int").alias("y"), "event_type"
    )
    return group_auc(lab, "value", "y", by="event_type").spark


_q311_sql = """
WITH s AS (SELECT event_type AS g, value AS sc,
                  CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
           FROM events
           WHERE value IS NOT NULL AND event_type IS NOT NULL),
gr AS (SELECT g, sc, count(*) AS c, sum(y) AS cp FROM s GROUP BY 1, 2),
cum AS (SELECT g, sc, c, cp,
          coalesce(sum(c) OVER (PARTITION BY g ORDER BY sc
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
        FROM gr),
red AS (SELECT g, sum(cp * (c_lt + (c + 1) / 2.0)) AS rps,
               sum(cp) AS npos, sum(c) AS n
        FROM cum GROUP BY 1)
SELECT g AS event_type,
       round(CASE WHEN npos > 0 AND n - npos > 0
             THEN (rps - npos * (npos + 1) / 2.0) / (npos * (n - npos)) END, 6) AS auc,
       CAST(npos AS BIGINT) AS n_pos, CAST(n - npos AS BIGINT) AS n_neg
FROM red
"""


def _q312(spark, sf_dir):
    """Average precision / PR-AUC by the step rule (operators/mleval.py
    average_precision): AP = mean of P@k at the positive ranks, event_id
    tie-break — global ranks AND the cumulative positive count both ride
    the same distsort prefix chain."""
    from polars_net_spark.operators.mleval import average_precision

    ev = _t(spark, sf_dir, "events").spark
    lab = ev.select(
        "value", (F.col("event_type") == "error").cast("int").alias("y"), "event_id"
    )
    return average_precision(lab, "value", "y", "event_id").spark


_q312_sql = """
WITH s AS (SELECT value AS sc, event_id,
                  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
r AS (SELECT y,
             row_number() OVER (ORDER BY sc DESC, event_id) AS rk,
             sum(y) OVER (ORDER BY sc DESC, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
      FROM s),
red AS (SELECT sum(CASE WHEN y = 1 THEN cp * 1.0 / rk END) AS apsum,
               sum(y) AS npos, count(*) AS n FROM r)
SELECT round(CASE WHEN npos > 0 THEN apsum / npos END, 6) AS ap,
       CAST(npos AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n
FROM red
"""


def _q313(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (llm/text.py heaps_law): V(T) ≈
    k·T^β via first-occurrence doc ids (the cumulative-distinct trick: one
    min-aggregate per word) + two fused grid reduces + a driver OLS over
    the 8-point grid."""
    from polars_net_spark.llm.text import heaps_law

    d = _t(spark, sf_dir, "documents")
    return heaps_law(d, "text", "doc_id", n_points=8).spark


_q313_sql = """
WITH docs AS (SELECT doc_id, lower(trim(text)) AS tx FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL),
toks AS (SELECT doc_id,
                len(list_filter(string_split_regex(tx, '\\s+'), x -> length(x) > 0)) AS ntok
         FROM docs),
dw AS (SELECT doc_id, unnest(list_filter(string_split_regex(tx, '\\s+'), x -> length(x) > 0)) AS word
       FROM docs),
firsts AS (SELECT word, min(doc_id) AS fid FROM dw GROUP BY 1),
mm AS (SELECT CAST(min(doc_id) AS DOUBLE) AS lo, CAST(max(doc_id) AS DOUBLE) AS hi FROM toks),
grid AS (SELECT lo + (hi - lo) * (k + 1) / 8.0 AS thr
         FROM mm, (SELECT unnest(range(8)) AS k)),
pts AS (SELECT thr,
               (SELECT count(*) FROM firsts WHERE fid <= thr) AS v,
               (SELECT sum(ntok) FROM toks WHERE doc_id <= thr) AS tt
        FROM grid),
ok AS (SELECT ln(tt) AS x, ln(v) AS y, v, tt FROM pts WHERE tt > 0 AND v > 0),
fit AS (SELECT count(*) AS m,
               avg(x) AS mx, avg(y) AS my,
               sum((x - (SELECT avg(x) FROM ok)) * (x - (SELECT avg(x) FROM ok))) AS sxx,
               sum((x - (SELECT avg(x) FROM ok)) * (y - (SELECT avg(y) FROM ok))) AS sxy,
               sum((y - (SELECT avg(y) FROM ok)) * (y - (SELECT avg(y) FROM ok))) AS syy,
               max_by(v, tt) AS vf, max(tt) AS tf
        FROM ok)
SELECT CAST(m AS INT) AS n_points,
       round(exp(my - (CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0 END) * mx), 6) AS heaps_k,
       round(CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0 END, 6) AS heaps_beta,
       round(CASE WHEN sxx > 0 AND syy > 0 THEN (sxy * sxy) / (sxx * syy) ELSE 1.0 END, 6) AS r2,
       CAST(vf AS BIGINT) AS vocab_final, CAST(tf AS BIGINT) AS tokens_final
FROM fit
"""


def _q314(spark, sf_dir):
    """Inter-arrival burstiness per event type (operators/analytics.py
    interarrival_report): gap CV + Goh-Barabási burstiness — one keyed lag
    window + one reduce (organic streams sit near B=0/Poisson)."""
    from polars_net_spark.operators.analytics import interarrival_report

    ev = _t(spark, sf_dir, "events").spark
    return interarrival_report(ev, "ts", by="event_type").spark


_q314_sql = """
WITH s AS (SELECT event_type AS g, epoch(ts) AS t FROM events WHERE ts IS NOT NULL),
l AS (SELECT g, t, t - lag(t) OVER (PARTITION BY g ORDER BY t) AS gap FROM s),
a AS (SELECT g, count(*) AS n_events, count(gap) AS n_gaps,
             avg(gap) AS mu, stddev_samp(gap) AS sd,
             min(gap) AS mn, max(gap) AS mx
      FROM l GROUP BY 1)
SELECT g AS event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       round(mu, 6) AS mean_gap_s, round(sd, 6) AS std_gap_s,
       round(CASE WHEN mu > 0 THEN sd / mu END, 6) AS cv,
       round(CASE WHEN sd + mu > 0 THEN (sd - mu) / (sd + mu) END, 6) AS burstiness,
       round(mn, 6) AS min_gap_s, round(mx, 6) AS max_gap_s
FROM a
"""


def _q315(spark, sf_dir):
    """Krippendorff's alpha, nominal (operators/regression.py
    krippendorff_alpha): ~20 'ratings' per synthetic unit — the
    any-raters/missing-data agreement coefficient beside Cohen (q204) and
    Fleiss (q217).  Unit-keyed aggregates + bounded driver combine."""
    from polars_net_spark.operators.regression import krippendorff_alpha

    ev = _t(spark, sf_dir, "events").spark
    d = ev.select((F.col("event_id") % 500).alias("unit"), "event_type")
    return krippendorff_alpha(d, "unit", "event_type").spark


_q315_sql = """
WITH b AS (SELECT event_id % 500 AS u, event_type AS v FROM events
           WHERE event_type IS NOT NULL),
cnt AS (SELECT u, v, count(*) AS n FROM b GROUP BY 1, 2),
units AS (SELECT u, sum(n) AS m, sum(n * n) AS ss FROM cnt GROUP BY 1 HAVING sum(n) >= 2),
ur AS (SELECT sum((m * m - ss) * 1.0 / (m - 1)) AS od, sum(m) AS n,
              count(*) AS n_units FROM units),
marg AS (SELECT c.v, sum(c.n) AS nc FROM cnt c JOIN units USING (u) GROUP BY 1),
vr AS (SELECT sum(nc * nc) AS ss, count(*) AS k FROM marg),
f AS (SELECT od / n AS d_o,
             (n * n - vr.ss) / (n * (n - 1.0)) AS d_e,
             n, n_units, vr.k AS k
      FROM ur, vr)
SELECT round(CASE WHEN d_e > 0 THEN 1.0 - d_o / d_e END, 6) AS alpha,
       round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
       CAST(n AS BIGINT) AS n_pairable, CAST(n_units AS BIGINT) AS n_units,
       CAST(k AS BIGINT) AS n_values
FROM f
"""


def _q316(spark, sf_dir):
    """Exact 1-D Wasserstein distance between click and error value
    distributions (operators/analytics.py wasserstein_1d): merged distinct
    support + one prefix pass (two named sums share the exchange) + a
    successor halo for segment widths — the drift measure in value units."""
    from polars_net_spark.operators.analytics import wasserstein_1d

    ev = _t(spark, sf_dir, "events").spark
    return wasserstein_1d(ev, "value", "event_type", "click", "error").spark


_q316_sql = """
WITH s AS (SELECT value AS v, event_type AS g FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
d AS (SELECT v, sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS cb
      FROM s GROUP BY 1),
c AS (SELECT v,
             sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
             sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
             lead(v) OVER (ORDER BY v) AS nv,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
      FROM d)
SELECT round(sum(CASE WHEN nv IS NOT NULL
                 THEN abs(cca * 1.0 / na - ccb * 1.0 / nb) * (nv - v) END), 6) AS w1,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
FROM c
"""


def _q317(spark, sf_dir):
    """Categorical diversity panel (operators/analytics.py
    diversity_report) of the document source mix: Shannon/Simpson/
    effective-k/Good-Turing singleton share in one value-count pass."""
    from polars_net_spark.operators.analytics import diversity_report

    d = _t(spark, sf_dir, "documents").spark
    return diversity_report(d, "source").spark


_q317_sql = """
WITH c AS (SELECT source AS v, count(*) AS c FROM documents
           WHERE source IS NOT NULL GROUP BY 1),
nn AS (SELECT count(*) AS n_null FROM documents WHERE source IS NULL),
r AS (SELECT sum(c) AS n, count(*) AS k, sum(c * ln(c)) AS clc,
             sum(c * c) AS c2, count(CASE WHEN c = 1 THEN 1 END) AS f1
      FROM c)
SELECT CAST(n AS BIGINT) AS n, CAST((SELECT n_null FROM nn) AS BIGINT) AS n_null,
       CAST(k AS BIGINT) AS k,
       round(ln(n) - clc / n, 6) AS entropy,
       round(CASE WHEN k > 1 THEN (ln(n) - clc / n) / ln(k) ELSE 0.0 END, 6) AS entropy_norm,
       round(c2 * 1.0 / (n * n), 6) AS simpson,
       round(exp(ln(n) - clc / n), 6) AS eff_k,
       round(f1 * 1.0 / n, 6) AS singleton_share
FROM r
"""


def _q318(spark, sf_dir):
    """Bigram coverage of the odd-doc_id half of the corpus by the even
    half (llm/text.py ngram_coverage): the decontamination QA view —
    distinct-gram inventories + one gram-keyed left join + a fused
    reduce, never all-pairs."""
    from polars_net_spark.llm.text import ngram_coverage

    d = _t(spark, sf_dir, "documents").spark
    return ngram_coverage(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1), n=2
    ).spark


_q318_sql = """
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              w -> length(w) > 0) AS ws
           FROM documents WHERE text IS NOT NULL),
trg AS (SELECT DISTINCT ws[i] || ' ' || ws[i+1] AS g
        FROM t, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
        WHERE doc_id % 2 = 0 AND len(ws) >= 2),
teg AS (SELECT ws[i] || ' ' || ws[i+1] AS g, count(*) AS c
        FROM t, LATERAL unnest(generate_series(1, len(ws) - 1)) AS u(i)
        WHERE doc_id % 2 = 1 AND len(ws) >= 2
        GROUP BY 1),
j AS (SELECT teg.g, teg.c, trg.g IS NOT NULL AS hit
      FROM teg LEFT JOIN trg ON teg.g = trg.g)
SELECT CAST(count(*) AS BIGINT) AS n_test_types,
       CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_covered_types,
       round(count(CASE WHEN hit THEN 1 END) * 1.0 / count(*), 6) AS type_coverage,
       CAST(sum(c) AS BIGINT) AS n_test_tokens,
       round(sum(CASE WHEN hit THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS token_coverage
FROM j
"""


def _q319(spark, sf_dir):
    """Nelson-Aalen cumulative hazard + Fleming-Harrington survival
    (operators/analytics.py nelson_aalen) on the q228 subject table —
    the cumulative d/n ride distsort prefix offsets over distinct times."""
    from polars_net_spark.operators.analytics import nelson_aalen

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(F.col("value").isNotNull()).select(
        F.floor(F.col("value")).cast("double").alias("t_obs"),
        (F.col("event_id") % 4 != 0).cast("int").alias("event"),
    )
    return nelson_aalen(d, "t_obs", "event").spark


_q319_sql = """
WITH b AS (
  SELECT floor(value) AS t, CASE WHEN event_id%4<>0 THEN 1 ELSE 0 END AS ev
  FROM events WHERE value IS NOT NULL),
g AS (SELECT t, sum(ev) AS d, sum(1-ev) AS c FROM b GROUP BY 1),
r AS (SELECT t, d, c,
        (SELECT sum(d+c) FROM g) - coalesce(sum(d+c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      FROM g),
h AS (SELECT t, n_risk, d,
        sum(d * 1.0 / n_risk) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
      FROM r)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
       round(ch, 6) AS cum_hazard, round(exp(-ch), 6) AS s_fleming
FROM h
"""


def _q320(spark, sf_dir):
    """Exact-duplicate pressure per source (operators/analytics.py
    dup_rate_by_key) on a corpus with REAL duplicates (every 10th doc
    re-appended): normalized-text hash counts keyed on (source, hash),
    text never shuffles."""
    from polars_net_spark.operators.analytics import dup_rate_by_key

    d = _t(spark, sf_dir, "documents").spark
    with_dups = d.unionByName(d.filter(F.col("doc_id") % 10 == 0))
    return dup_rate_by_key(with_dups, "text", "source").spark


_q320_sql = """
WITH ext AS (SELECT source, text FROM documents
             UNION ALL SELECT source, text FROM documents WHERE doc_id % 10 = 0),
b AS (SELECT source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
      FROM ext WHERE text IS NOT NULL AND source IS NOT NULL),
cnt AS (SELECT source, nt, count(*) AS c FROM b GROUP BY 1, 2)
SELECT source, CAST(sum(c) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_rows,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup_row_share,
       round((sum(c) - count(*)) * 1.0 / sum(c), 6) AS surplus_share
FROM cnt GROUP BY 1
"""


def _q321(spark, sf_dir):
    """Mann-Kendall trend test (operators/regression.py mann_kendall) on
    the daily event-value series: S over time-ordered sign pairs via the
    bounded distinct-cell grid (same contract as q274 kendall_tau), FULL
    tie-corrected variance, continuity-corrected z.  The significance
    companion to theil_sen_by_key."""
    from polars_net_spark.operators.regression import mann_kendall

    ev = _t(spark, sf_dir, "events").spark
    daily = (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("2020-01-01").cast("date"))
            .cast("double")
            .alias("t")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    return mann_kendall(daily, "t", "v").spark


_q321_sql = """
WITH s AS (SELECT CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS DOUBLE) AS t,
                  round(sum(value), 6) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
n_ AS (SELECT count(*) AS n FROM s),
sp AS (SELECT coalesce(sum(CASE WHEN b.v > a.v THEN 1.0 WHEN b.v < a.v THEN -1.0 ELSE 0.0 END), 0.0) AS s
       FROM s a JOIN s b ON b.t > a.t),
tt AS (SELECT coalesce(sum(c*(c-1.0)*(2*c+5.0)),0) AS a, coalesce(sum(c*(c-1.0)*(c-2.0)),0) AS b,
              coalesce(sum(c*(c-1.0)),0) AS c2
       FROM (SELECT count(*) AS c FROM s GROUP BY t)),
tv AS (SELECT coalesce(sum(c*(c-1.0)*(2*c+5.0)),0) AS a, coalesce(sum(c*(c-1.0)*(c-2.0)),0) AS b,
              coalesce(sum(c*(c-1.0)),0) AS c2
       FROM (SELECT count(*) AS c FROM s GROUP BY v)),
v_ AS (SELECT (n*(n-1.0)*(2*n+5.0) - tt.a - tv.a)/18.0
              + CASE WHEN n > 2 THEN tt.b*tv.b/(9.0*n*(n-1.0)*(n-2.0)) ELSE 0 END
              + tt.c2*tv.c2/(2.0*n*(n-1.0)) AS var_s, n, s
       FROM n_, sp, tt, tv),
z_ AS (SELECT s, var_s, n,
              CASE WHEN var_s <= 0 THEN 0.0
                   WHEN s > 0 THEN (s-1.0)/sqrt(var_s)
                   WHEN s < 0 THEN (s+1.0)/sqrt(var_s) ELSE 0.0 END AS z
       FROM v_)
SELECT round(s, 6) AS s, round(var_s, 6) AS var_s, round(z, 6) AS z,
       CAST(n AS BIGINT) AS n,
       CASE WHEN z > 1.96 THEN 'increasing' WHEN z < -1.96 THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM z_
"""


def _q322(spark, sf_dir):
    """IPW / doubly-robust ATE (operators/regression.py ipw_ate) with a
    deterministic propensity from user_id and outcome-model columns:
    Horvitz-Thompson + Hajek + linearized SE + AIPW in ONE fused
    all-reduce (treatedxcontrol cross-moments vanish since t(1-t)=0)."""
    from polars_net_spark.operators.regression import ipw_ate

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("value").alias("y"),
        F.when(F.col("event_id") % 3 == 0, 1.0).otherwise(0.0).alias("t"),
        (0.2 + 0.6 * (F.col("user_id") % 10) / 9.0).alias("p"),
        (1.0 + (F.col("user_id") % 5)).cast("double").alias("m1"),
        ((F.col("user_id") % 5) * 0.5).cast("double").alias("m0"),
    )
    return ipw_ate(d, "y", "t", "p", mu1_col="m1", mu0_col="m0").spark


_q322_sql = """
WITH b AS (SELECT value AS y,
                  CASE WHEN event_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS t,
                  0.2 + 0.6 * (user_id % 10) / 9.0 AS p,
                  1.0 + (user_id % 5) AS m1,
                  (user_id % 5) * 0.5 AS m0
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
r AS (SELECT count(*) * 1.0 AS n, sum(t) AS nt,
             sum(t*y/p) AS s1y, sum(t/p) AS s1,
             sum((1-t)*y/(1-p)) AS s0y, sum((1-t)/(1-p)) AS s0,
             sum(pow(t*y/p, 2)) AS s1y2, sum(pow(t/p, 2)*y) AS s1y1,
             sum(pow(t/p, 2)) AS s12,
             sum(pow((1-t)*y/(1-p), 2)) AS s0y2,
             sum(pow((1-t)/(1-p), 2)*y) AS s0y1,
             sum(pow((1-t)/(1-p), 2)) AS s02,
             sum(m1 - m0 + t*(y-m1)/p - (1-t)*(y-m0)/(1-p)) AS sp,
             sum(pow(m1 - m0 + t*(y-m1)/p - (1-t)*(y-m0)/(1-p), 2)) AS sp2
      FROM b),
k AS (SELECT n, nt, s1y/s1 AS r1, s0y/s0 AS r0, s1y, s0y,
             sqrt((s1y2 - 2*(s1y/s1)*s1y1 + pow(s1y/s1,2)*s12) / pow(s1/n, 2)
                + (s0y2 - 2*(s0y/s0)*s0y1 + pow(s0y/s0,2)*s02) / pow(s0/n, 2)) / n AS se,
             sp/n AS mp, sqrt((sp2/n - pow(sp/n, 2)) / n) AS se_a
      FROM r)
SELECT CAST(n AS BIGINT) AS n, CAST(nt AS BIGINT) AS n_treat,
       round(s1y/n - s0y/n, 6) AS ate_ht,
       round(r1 - r0, 6) AS ate_hajek,
       round(se, 6) AS se_hajek,
       round((r1 - r0) / se, 6) AS z,
       round(mp, 6) AS ate_aipw,
       round(se_a, 6) AS se_aipw
FROM k
"""


def _q323(spark, sf_dir):
    """Pre-experiment power panel (operators/regression.py
    power_mde_report): per-event-type minimum detectable effect at
    alpha=0.05 / power=0.8 / 30% treatment share — normal quantiles
    computed driver-side (math.erf bisection) and planted as literals;
    ONE map-side-combining aggregate."""
    from polars_net_spark.operators.regression import power_mde_report

    ev = _t(spark, sf_dir, "events").spark
    return power_mde_report(
        ev, "value", by="event_type", alpha=0.05, power=0.8, treat_share=0.3
    ).spark


_q323_sql = """
-- z_{0.975} + z_{0.8} = 1.9599639845400536 + 0.8416212335729141
WITH g AS (SELECT event_type, count(*) * 1.0 AS n, avg(value) AS mean,
                  stddev_samp(value) AS sd
           FROM events WHERE value IS NOT NULL GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n, round(mean, 6) AS mean,
       round(sd, 6) AS sd,
       round(2.801585218112968 * sd * sqrt(1.0/(n*0.3) + 1.0/(n*0.7)), 6) AS mde_abs,
       round(CASE WHEN abs(mean) > 0
             THEN 2.801585218112968 * sd * sqrt(1.0/(n*0.3) + 1.0/(n*0.7)) / abs(mean)
             END, 6) AS mde_rel
FROM g
"""


def _q324(spark, sf_dir):
    """Delete-one-user jackknife CI for click-value-per-event
    (operators/regression.py jackknife_ratio_ci): per-cluster sums ->
    driver totals -> leave-one-out deviations as Column math -> one
    reduce; the cluster-robust companion to q... ratio_ttest's delta
    method."""
    from polars_net_spark.operators.regression import jackknife_ratio_ci

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("user_id").alias("u"),
        F.when(F.col("event_type") == "click", F.col("value"))
        .otherwise(0.0)
        .alias("num"),
        F.lit(1.0).alias("den"),
    )
    return jackknife_ratio_ci(d, "num", "den", "u").spark


_q324_sql = """
WITH b AS (SELECT user_id AS u,
                  CASE WHEN event_type = 'click' THEN value ELSE 0.0 END AS num,
                  1.0 AS den
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
per AS (SELECT u, sum(num) AS n_, sum(den) AS d_ FROM b GROUP BY 1),
tot AS (SELECT sum(n_) AS tn, sum(d_) AS td, count(*) * 1.0 AS g FROM per),
loo AS (SELECT (tot.tn - n_) / (tot.td - d_) AS r FROM per, tot),
red AS (SELECT sum(r) AS sr, sum(r * r) AS sr2 FROM loo),
fin AS (SELECT tn/td AS ratio, g,
               sqrt(greatest((g-1.0)/g * (sr2 - sr*sr/g), 0.0)) AS se
        FROM tot, red)
SELECT round(ratio, 6) AS ratio, CAST(g AS BIGINT) AS n_clusters,
       round(se, 6) AS jk_se,
       round(ratio - 1.96 * se, 6) AS ci_lo,
       round(ratio + 1.96 * se, 6) AS ci_hi,
       1.96 AS z
FROM fin
"""


def _q325(spark, sf_dir):
    """Leakage-safe split (llm/splits.py split_leakage_safe) on a corpus
    with injected exact duplicates (every 7th doc re-appears under a new
    id): the split hashes the normalized-text md5 GROUP key, so copies
    can never straddle train/test.  Gate returns per-(split, is-dup-copy)
    row/group counts PLUS the invariant max-splits-per-group — map-only,
    zero shuffle until the audit aggregate."""
    from polars_net_spark.llm.splits import split_leakage_safe

    d = _t(spark, sf_dir, "documents").spark
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.unionByName(dups)
    out = split_leakage_safe(
        corpus, weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="r8"
    ).spark
    per_group = out.groupBy("split_group").agg(
        F.count_distinct("split").alias("k"),
        F.count(F.lit(1)).alias("rows"),
        F.min("split").alias("split"),
    )
    return per_group.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("rows").cast("long").alias("n_rows"),
        F.max("k").cast("long").alias("max_splits_per_group"),
    )


_q325_sql = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
g AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS gk
  FROM corpus),
b AS (
  SELECT doc_id, gk,
    list_reduce(list_transform(generate_series(1, 8),
                i -> strpos('0123456789abcdef', substr(md5('r8' || gk), i, 1)) - 1),
                (a, x) -> a * 16 + x) % 10000 AS bs
  FROM g),
s AS (
  SELECT doc_id, gk,
    CASE WHEN bs < 8000 THEN 'train' WHEN bs < 9000 THEN 'val' ELSE 'test' END AS split
  FROM b),
pg AS (SELECT gk, count(DISTINCT split) AS k, count(*) AS rows_,
              min(split) AS split
       FROM s GROUP BY 1)
SELECT split, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(rows_) AS BIGINT) AS n_rows,
       CAST(max(k) AS BIGINT) AS max_splits_per_group
FROM pg GROUP BY 1
"""


def _q326(spark, sf_dir):
    """C4-style boilerplate stripping (llm/dedup.py strip_boilerplate_lines)
    on a corpus where every 3rd doc carries an injected footer line: the
    footer saturates >5% document frequency and is dropped from EVERY doc
    (dedup_lines q73 keeps first occurrences; this removes all).  Content-
    keyed equi-shuffles only; per-segment totals broadcast."""
    from polars_net_spark.llm.dedup import strip_boilerplate_lines

    d = _t(spark, sf_dir, "documents").spark
    with_footer = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit("\n(c) 2026 example corp\nall rights reserved")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return strip_boilerplate_lines(
        with_footer, max_df_share=0.05, min_df=2
    ).spark


_q326_sql = """
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN coalesce(text, '') || chr(10) || '(c) 2026 example corp'
                   || chr(10) || 'all rights reserved'
              ELSE text END AS text
  FROM documents),
base AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS ls FROM corpus),
lines AS (
  SELECT doc_id, i AS pos, ls[i] AS line, lower(trim(ls[i])) AS k
  FROM base, LATERAL unnest(generate_series(1, len(ls))) AS u(i)),
df AS (SELECT k, count(DISTINCT doc_id) AS df FROM lines GROUP BY 1),
nd AS (SELECT count(*) * 1.0 AS ndocs FROM corpus),
bad AS (SELECT k FROM df, nd
        WHERE length(k) > 0 AND df >= 2 AND df > ndocs * 0.05),
kept AS (
  SELECT l.doc_id,
         string_agg(l.line, chr(10) ORDER BY l.pos) AS text,
         count(*) AS n_kept
  FROM lines l LEFT JOIN bad USING (k)
  WHERE bad.k IS NULL
  GROUP BY 1)
SELECT b.doc_id,
       coalesce(kept.text, '') AS text,
       CAST(len(b.ls) AS BIGINT) AS n_lines,
       CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept
FROM base b LEFT JOIN kept ON b.doc_id = kept.doc_id
"""


def _q327(spark, sf_dir):
    """Tokenizer-fertility panel per source (llm/text.py fertility_report):
    GPT-style pre-split token counts (letter runs | digits | punctuation —
    RE2-replayable, unlike bpe_ish lookarounds) over whitespace words; ONE
    map-side-combining aggregate, the context-window budgeting view."""
    from polars_net_spark.llm.text import fertility_report

    d = _t(spark, sf_dir, "documents").spark
    return fertility_report(d, by="source").spark


_q327_sql = """
WITH b AS (
  SELECT source,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         w -> length(w) > 0)) AS w,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS t,
         length(text) AS c
  FROM documents WHERE text IS NOT NULL)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       round(CASE WHEN sum(w) > 0 THEN sum(t) * 1.0 / sum(w) END, 6) AS fertility,
       round(CASE WHEN sum(t) > 0 THEN sum(c) * 1.0 / sum(t) END, 6) AS chars_per_token
FROM b GROUP BY 1
"""


def _q328(spark, sf_dir):
    """TENTH streaming gate — stream-STATIC enrichment join, the one
    production join shape the streaming suite lacked (q159 covers
    stream-stream): events stream-read -> broadcast-joined to the static
    nation dim on a derived key -> per-nation revenue aggregate, complete
    mode under availableNow.  The static side needs no state store or
    watermark — it is a map-side hash join on every micro-batch."""
    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation").spark.select(
        F.col("n_nationkey"), F.col("n_name")
    )
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .withColumn("nk", (F.col("user_id") % 25).cast("long"))
        .join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum("value"), 6).alias("sum_v"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return _memory_stream_gate(spark, stream, "q328_enrich", "complete")


_q328_sql = """
SELECT n.n_name, round(sum(e.value), 6) AS sum_v,
       CAST(count(*) AS BIGINT) AS n
FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
WHERE e.user_id IS NOT NULL AND e.value IS NOT NULL
GROUP BY 1
"""


def _q329(spark, sf_dir):
    """k-core decomposition (operators/graph.py k_core): peel vertices with
    degree < 25 to the fixpoint on the lineitem order-part graph.  Peeling
    is monotone, so the unrolled-10-round oracle equals the fixpoint (the
    pagerank/LPA unroll convention extended: post-convergence rounds are
    no-ops); the operator itself iterates with early-stop + checkpoint
    truncation and raises rather than returning a truncated core."""
    from polars_net_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem").spark
    e = li.select(
        (F.col("l_orderkey") % 3000).alias("src"),
        (F.col("l_partkey") % 3000).alias("dst"),
    )
    return k_core(e, 25).spark


def _kcore_oracle_sql(k: int = 25, rounds: int = 10) -> str:
    # MATERIALIZED stops DuckDB's CTE inlining: each round references the
    # previous one three times, so inlined plans (and their parquet file
    # handles) grow 3^rounds without it
    parts = [
        "e0 AS MATERIALIZED (SELECT DISTINCT "
        "least(l_orderkey % 3000, l_partkey % 3000) AS a, "
        "greatest(l_orderkey % 3000, l_partkey % 3000) AS b "
        "FROM lineitem WHERE l_orderkey % 3000 <> l_partkey % 3000)"
    ]
    for i in range(rounds):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT v, count(*) AS c FROM "
            f"(SELECT a AS v FROM e{i} UNION ALL SELECT b FROM e{i}) GROUP BY 1)"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT a, b FROM e{i} "
            f"WHERE a NOT IN (SELECT v FROM d{i} WHERE c < {k}) "
            f"AND b NOT IN (SELECT v FROM d{i} WHERE c < {k}))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT v AS id, CAST(count(*) AS BIGINT) AS degree FROM "
        f"(SELECT a AS v FROM e{rounds} UNION ALL SELECT b FROM e{rounds}) "
        "GROUP BY 1"
    )


_q329_sql = _kcore_oracle_sql()


def _q330(spark, sf_dir):
    """Harrell's c-index (operators/analytics.py c_index) on the q228/q319
    subject table with an integer risk score: bounded (t, d, s) cell grid
    + t-ordered self-join, the kendall_tau contract — completes the
    survival family (KM q228, Nelson-Aalen q319, log-rank q285)."""
    from polars_net_spark.operators.analytics import c_index

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(F.col("value").isNotNull() & F.col("user_id").isNotNull()).select(
        F.floor(F.col("value")).cast("double").alias("t_obs"),
        (F.col("event_id") % 4 != 0).cast("int").alias("event"),
        (F.col("user_id") % 7).cast("double").alias("risk"),
    )
    return c_index(d, "t_obs", "event", "risk").spark


_q330_sql = """
WITH b AS (SELECT floor(value) AS t,
                  CASE WHEN event_id % 4 <> 0 THEN 1 ELSE 0 END AS d,
                  CAST(user_id % 7 AS DOUBLE) AS s
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
cells AS MATERIALIZED (SELECT t, d, s, count(*) AS n FROM b GROUP BY 1, 2, 3),
p AS (SELECT coalesce(sum(a.n * c.n), 0) AS np,
             coalesce(sum(CASE WHEN a.s > c.s THEN a.n * c.n END), 0) AS conc,
             coalesce(sum(CASE WHEN a.s = c.s THEN a.n * c.n END), 0) AS tied
      FROM cells a JOIN cells c ON c.t > a.t
      WHERE a.d = 1),
nn AS (SELECT sum(n) AS n FROM cells)
SELECT round(CASE WHEN np > 0 THEN (conc + 0.5 * tied) / np END, 6) AS c_index,
       CAST(np AS BIGINT) AS n_pairs, CAST(conc AS BIGINT) AS concordant,
       CAST(tied AS BIGINT) AS tied, CAST((SELECT n FROM nn) AS BIGINT) AS n
FROM p
"""


def _q331(spark, sf_dir):
    """Q-Q drift table (operators/analytics.py quantile_compare): click vs
    error value distributions at 5 quantiles — distinct-level counts +
    ONE shared distsort prefix pass + a literal prob-grid fan-out; the
    'where do they diverge' companion to q316's total (W1) and q... KS's
    worst point."""
    from polars_net_spark.operators.analytics import quantile_compare

    ev = _t(spark, sf_dir, "events").spark
    return quantile_compare(ev, "value", "event_type", "click", "error").spark


_q331_sql = """
WITH s AS (SELECT value AS v, event_type AS g FROM events
           WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
d AS (SELECT v, sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS cb
      FROM s GROUP BY 1),
c AS (SELECT v,
             sum(ca) OVER (ORDER BY v) AS cna, sum(cb) OVER (ORDER BY v) AS cnb,
             sum(ca) OVER () AS na, sum(cb) OVER () AS nb
      FROM d),
grid AS (SELECT c.*, p FROM c, (VALUES (0.1), (0.25), (0.5), (0.75), (0.9)) AS pr(p))
SELECT round(p, 6) AS p,
       round(min(CASE WHEN cna >= ceil(p * na) THEN v END), 6) AS q_a,
       round(min(CASE WHEN cnb >= ceil(p * nb) THEN v END), 6) AS q_b,
       round(min(CASE WHEN cnb >= ceil(p * nb) THEN v END)
             - min(CASE WHEN cna >= ceil(p * na) THEN v END), 6) AS gap
FROM grid GROUP BY p
"""


def _q332(spark, sf_dir):
    """Embedding covariance matrix (llm/similarity.py embedding_covariance,
    the PCA/whitening input that also powers embedding_pca's driver eigh):
    Arrow-batched partial sufficient stats (n, Σx, vec(ΣxxT) per batch via
    numpy BLAS) -> in-plan index-keyed reduce -> cov = E[xy] − E[x]E[y].
    The corpus never explodes d² element rows; upper triangle out."""
    from polars_net_spark.llm.similarity import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings").spark
    return embedding_covariance(emb).spark


_q332_sql = """
WITH x AS (SELECT vec_id, embedding AS e FROM embeddings
           WHERE embedding IS NOT NULL),
c AS MATERIALIZED (
  SELECT vec_id, i, CAST(e[i] AS DOUBLE) AS v
  FROM x, LATERAL unnest(generate_series(1, len(e))) AS u(i))
SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j,
       round(covar_pop(a.v, b.v), 6) AS cov
FROM c a JOIN c b USING (vec_id)
WHERE a.i <= b.i
GROUP BY 1, 2
"""


def _q333(spark, sf_dir):
    """Qini uplift-evaluation table (operators/mleval.py qini_curve):
    distsort descending ranks -> exact rank slices -> cumulative
    incremental-outcome vs control-scaled counterfactual.  The uplift
    counterpart of q307 gains_chart."""
    from polars_net_spark.operators.mleval import qini_curve

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(F.col("user_id").isNotNull()).select(
        ((F.col("user_id") % 97) / 97.0).alias("s"),
        F.col("event_id").alias("id"),
        (F.col("event_id") % 2).cast("double").alias("t"),
        F.when(F.col("event_type") == "click", 1.0).otherwise(0.0).alias("y"),
    )
    return qini_curve(d, "s", "t", "y", "id", n_buckets=5).spark


_q333_sql = """
WITH b AS (SELECT (user_id % 97) / 97.0 AS s, event_id AS id,
                  CAST(event_id % 2 AS DOUBLE) AS t,
                  CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
           FROM events WHERE user_id IS NOT NULL),
r AS (SELECT *, row_number() OVER (ORDER BY s DESC, id) AS rk,
             count(*) OVER () AS n
      FROM b),
per AS (SELECT CAST(floor((rk - 1) * 5.0 / n) AS INT) AS bucket,
               sum(t) AS nt, sum(1 - t) AS nc,
               sum(t * y) AS yt, sum((1 - t) * y) AS yc
        FROM r GROUP BY 1),
c AS (SELECT bucket, nt, nc, yt, yc,
             sum(nt) OVER (ORDER BY bucket) AS cnt,
             sum(nc) OVER (ORDER BY bucket) AS cnc,
             sum(yt) OVER (ORDER BY bucket) AS cyt,
             sum(yc) OVER (ORDER BY bucket) AS cyc
      FROM per)
SELECT bucket, CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_ctrl,
       round(yt, 6) AS y_treat, round(yc, 6) AS y_ctrl,
       round(CASE WHEN cnc > 0 THEN cyt - cyc * cnt / cnc END, 6) AS qini,
       round(CASE WHEN cnt > 0 AND cnc > 0 THEN cyt / cnt - cyc / cnc END, 6)
         AS cum_uplift
FROM c
"""


def _huber_oracle_sql(delta: float = 5000.0, iterations: int = 5) -> str:
    parts = [
        "b AS (SELECT CAST(l_quantity AS DOUBLE) AS x, "
        "CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem "
        "WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)"
    ]
    prev = None
    for i in range(iterations):
        if prev is None:
            w = "1.0"
            src = "b"
        else:
            w = (
                f"CASE WHEN abs(y - {prev}.aa - {prev}.bb * x) <= {delta} "
                f"THEN 1.0 ELSE {delta} / abs(y - {prev}.aa - {prev}.bb * x) END"
            )
            src = f"b, {prev}"
        parts.append(
            f"m{i} AS (SELECT count(*) AS n, sum({w}) AS sw, sum(({w}) * x) AS swx, "
            f"sum(({w}) * y) AS swy, sum(({w}) * x * x) AS swxx, "
            f"sum(({w}) * x * y) AS swxy FROM {src})"
        )
        parts.append(
            f"c{i} AS (SELECT n, (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS bb, "
            f"(swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx) / sw AS aa "
            f"FROM m{i})"
        )
        prev = f"c{i}"
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT round(bb, 6) AS slope, round(aa, 6) AS intercept, "
        f"CAST(n AS BIGINT) AS n, {iterations} AS iterations, "
        f"CAST({delta} AS DOUBLE) AS delta FROM {prev}"
    )


def _q334(spark, sf_dir):
    """Huber-loss robust fit of extendedprice ~ quantity
    (operators/regression.py huber_fit): 5 IRLS rounds, each ONE fused
    weighted-moment all-reduce with the previous coefficients as plan
    literals — the unrolled-rounds oracle convention (pagerank/k-core)."""
    from polars_net_spark.operators.regression import huber_fit

    li = _t(spark, sf_dir, "lineitem").spark
    return huber_fit(
        li, "l_quantity", "l_extendedprice", delta=5000.0, iterations=5
    ).spark


_q334_sql = _huber_oracle_sql()


def _q335(spark, sf_dir):
    """Two-sample Poisson rate test (operators/regression.py
    poisson_rate_test): synthetic per-event counts and exposures, click vs
    error arms — ONE fused conditional all-reduce, Wald z + log-scale
    rate-ratio CI; the count counterpart of prop_ztest."""
    from polars_net_spark.operators.regression import poisson_rate_test

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isin(["click", "error"])
    ).select(
        "event_type",
        (F.col("event_id") % 5).cast("double").alias("c"),
        (1.0 + (F.col("user_id") % 3)).cast("double").alias("e"),
    )
    return poisson_rate_test(d, "c", "e", "event_type", "click", "error").spark


_q335_sql = """
WITH b AS (SELECT event_type AS g, CAST(event_id % 5 AS DOUBLE) AS c,
                  1.0 + (user_id % 3) AS e
           FROM events
           WHERE user_id IS NOT NULL AND event_type IN ('click', 'error')),
r AS (SELECT sum(CASE WHEN g = 'click' THEN c ELSE 0 END) AS ca,
             sum(CASE WHEN g = 'click' THEN e ELSE 0 END) AS ea,
             sum(CASE WHEN g = 'error' THEN c ELSE 0 END) AS cb,
             sum(CASE WHEN g = 'error' THEN e ELSE 0 END) AS eb,
             count(CASE WHEN g = 'click' THEN 1 END) AS na,
             count(CASE WHEN g = 'error' THEN 1 END) AS nb
      FROM b)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ca / ea, 6) AS rate_a, round(cb / eb, 6) AS rate_b,
       round(ca / ea - cb / eb, 6) AS diff,
       round((ca / ea - cb / eb) / sqrt(ca / (ea * ea) + cb / (eb * eb)), 6)
         AS z_stat,
       round(ca * eb / (ea * cb), 6) AS ratio,
       round(exp(ln(ca * eb / (ea * cb)) - 1.96 * sqrt(1.0 / ca + 1.0 / cb)), 6)
         AS ratio_lo,
       round(exp(ln(ca * eb / (ea * cb)) + 1.96 * sqrt(1.0 / ca + 1.0 / cb)), 6)
         AS ratio_hi
FROM r
"""


def _q336(spark, sf_dir):
    """HTML markup stripping (llm/text.py strip_markup_frame) on a corpus
    with injected tags/script/comment/entities on every 2nd doc — the
    C4-style web-crawl pre-step; RE2-safe regex chain, map-only, the
    DuckDB oracle replays every pattern verbatim."""
    from polars_net_spark.llm.text import strip_markup_frame

    d = _t(spark, sf_dir, "documents").spark
    marked = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("<p class=x>"), F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p><script>var x=1;</script><!-- c -->&amp; done"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return strip_markup_frame(marked).spark.select(
        "doc_id", "clean_text", "n_tags"
    )


_q336_sql = r"""
WITH c AS (SELECT doc_id,
  CASE WHEN doc_id % 2 = 0
       THEN '<p class=x>' || coalesce(text, '')
            || '</p><script>var x=1;</script><!-- c -->&amp; done'
       ELSE text END AS text
  FROM documents),
b AS (SELECT doc_id, coalesce(text, '') AS t FROM c),
s AS (SELECT doc_id,
  len(regexp_extract_all(t, '<[^>]*>')) AS n_tags,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(t, '(?is)<script[^>]*>.*?(</script>|$)', ' ', 'g'),
        '(?is)<style[^>]*>.*?(</style>|$)', ' ', 'g'),
      '(?s)<!--.*?(-->|$)', ' ', 'g'),
    '<[^>]*>', ' ', 'g') AS x
  FROM b)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      x, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
    '\s+', ' ', 'g')) AS clean_text,
  CAST(n_tags AS BIGINT) AS n_tags
FROM s
"""


def _q337(spark, sf_dir):
    """Unicode-script composition (llm/text.py script_detect_frame) on a
    corpus where every 5th doc gains Cyrillic/CJK/digits — per-script
    character shares + deterministic dominant (share desc, name asc);
    one RE2-replayable regexp count per script, zero shuffle."""
    from polars_net_spark.llm.text import script_detect_frame

    d = _t(spark, sf_dir, "documents").spark
    marked = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")),
                     F.lit(" Привет мир 你好世界 12345")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return script_detect_frame(marked).spark


_q337_sql = """
WITH c AS (SELECT doc_id,
  CASE WHEN doc_id % 5 = 0
       THEN coalesce(text, '') || ' Привет мир 你好世界 12345'
       ELSE text END AS text
  FROM documents),
b AS (SELECT doc_id, coalesce(text, '') AS t FROM c),
k AS (SELECT doc_id, length(t) AS n_chars,
  len(regexp_extract_all(t, '[A-Za-zÀ-ÖØ-öø-ÿĀ-ſ]')) AS c_latin,
  len(regexp_extract_all(t, '[Ѐ-ӿ]')) AS c_cyrillic,
  len(regexp_extract_all(t, '[Ͱ-Ͽ]')) AS c_greek,
  len(regexp_extract_all(t, '[؀-ۿ]')) AS c_arabic,
  len(regexp_extract_all(t, '[֐-׿]')) AS c_hebrew,
  len(regexp_extract_all(t, '[ऀ-ॿ]')) AS c_devanagari,
  len(regexp_extract_all(t, '[一-鿿぀-ゟ゠-ヿ가-힯]')) AS c_cjk,
  len(regexp_extract_all(t, '[0-9]')) AS c_digit
  FROM b),
sh AS (SELECT doc_id, n_chars,
  c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew + c_devanagari
    + c_cjk + c_digit AS tot,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_latin * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_latin,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_cyrillic * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_cyrillic,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_greek * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_greek,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_arabic * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_arabic,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_hebrew * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_hebrew,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_devanagari * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_devanagari,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_cjk * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_cjk,
  CASE WHEN c_latin + c_cyrillic + c_greek + c_arabic + c_hebrew
            + c_devanagari + c_cjk + c_digit > 0
       THEN round(c_digit * 1.0 / (c_latin + c_cyrillic + c_greek + c_arabic
            + c_hebrew + c_devanagari + c_cjk + c_digit), 6) ELSE 0.0 END AS share_digit
  FROM k)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
  share_latin, share_cyrillic, share_greek, share_arabic, share_hebrew,
  share_devanagari, share_cjk, share_digit,
  CASE WHEN tot = 0 THEN 'unknown'
       WHEN share_arabic = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'arabic'
       WHEN share_cjk = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'cjk'
       WHEN share_cyrillic = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'cyrillic'
       WHEN share_devanagari = greatest(share_latin, share_cyrillic,
            share_greek, share_arabic, share_hebrew, share_devanagari,
            share_cjk, share_digit) THEN 'devanagari'
       WHEN share_digit = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'digit'
       WHEN share_greek = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'greek'
       WHEN share_hebrew = greatest(share_latin, share_cyrillic, share_greek,
            share_arabic, share_hebrew, share_devanagari, share_cjk,
            share_digit) THEN 'hebrew'
       ELSE 'latin' END AS dominant
FROM sh
"""


def _q338(spark, sf_dir):
    """Two-way fixed-effects (within) estimator (operators/regression.py
    fe_regression) on a synthetic user x period panel from events: unit
    and time means join back on their own keys, grand mean folds in as
    plan literals, ONE fused moment all-reduce; FE degrees of freedom
    n - N_u - (N_t - 1) - 1.  This panel is UNBALANCED, so the estimate
    is the documented single-sweep double-demeaning approximation (the
    operator warns; exact on balanced panels) — the oracle replays the
    same definition.  The did_report generalization."""
    from polars_net_spark.operators.regression import fe_regression

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        (F.col("user_id") % 50).alias("u"),
        (F.col("event_id") % 12).alias("t"),
        (F.col("event_id") % 7).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return fe_regression(d, "y", "x", "u", "t").spark


_q338_sql = """
WITH b AS (SELECT user_id % 50 AS u, event_id % 12 AS t,
                  CAST(event_id % 7 AS DOUBLE) AS x, value AS y
           FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
g AS (SELECT count(*) * 1.0 AS n, avg(y) AS gy, avg(x) AS gx,
             count(DISTINCT u) AS nu, count(DISTINCT t) AS nt FROM b),
um AS (SELECT u, avg(y) AS uy, avg(x) AS ux FROM b GROUP BY 1),
tm AS (SELECT t, avg(y) AS ty, avg(x) AS tx FROM b GROUP BY 1),
m AS (SELECT sum((x - ux - tx + gx) * (y - uy - ty + gy)) AS sxy,
             sum(pow(x - ux - tx + gx, 2)) AS sxx,
             sum(pow(y - uy - ty + gy, 2)) AS syy
      FROM b JOIN um USING (u) JOIN tm USING (t), g),
k AS (SELECT sxy / sxx AS beta,
             sqrt(greatest(syy - sxy * sxy / sxx, 0)
                  / (n - nu - (nt - 1) - 1) / sxx) AS se,
             n, nu, nt
      FROM m, g)
SELECT round(beta, 6) AS beta, round(se, 6) AS se,
       round(beta / se, 6) AS t_stat, CAST(n AS BIGINT) AS n,
       CAST(nu AS BIGINT) AS n_units, CAST(nt AS BIGINT) AS n_times
FROM k
"""


def _q339(spark, sf_dir):
    """Best mean-shift changepoint (operators/regression.py
    best_changepoint) on the daily event-value series: the binary-
    segmentation split from prefix (count, sum, sum-of-squares) on ONE
    distsort pass + a 1-row struct argmax — the locator beside q180's
    CUSUM detector."""
    from polars_net_spark.operators.regression import best_changepoint

    ev = _t(spark, sf_dir, "events").spark
    daily = (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("2020-01-01").cast("date"))
            .cast("double")
            .alias("t")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    # round_to=2: sse_drop is ~1e6 at sf0.1 — 6dp would demand 13
    # significant digits of cross-engine agreement from
    # differently-ordered float sums (observed flaking at the boundary)
    return best_changepoint(daily, "t", "v", round_to=2).spark


_q339_sql = """
WITH s AS (SELECT CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE)) AS DOUBLE) AS t,
                  round(sum(value), 6) AS v
           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1),
tot AS (SELECT count(*) * 1.0 AS n, sum(v) AS sv, sum(v * v) AS sq FROM s),
c AS (SELECT t, v,
             row_number() OVER (ORDER BY t) AS cc,
             sum(v) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             sum(v * v) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
      FROM s),
cand AS (SELECT t, cc, cs,
                round((sq - sv * sv / n)
                      - (cq - cs * cs / cc)
                      - ((sq - cq) - (sv - cs) * (sv - cs) / (n - cc)), 9) AS gain,
                n, sv
         FROM c, tot
         WHERE cc >= 2 AND cc <= n - 2),
best AS (SELECT * FROM cand ORDER BY gain DESC, t ASC, cc ASC LIMIT 1)
SELECT round(t, 2) AS split_at, CAST(cc AS BIGINT) AS n_left,
       CAST(n - cc AS BIGINT) AS n_right,
       round(cs / cc, 2) AS mean_left,
       round((sv - cs) / (n - cc), 2) AS mean_right,
       round(gain, 2) AS sse_drop
FROM best
"""




# ---------------------------------------------------------------------------
# round 9: statistics family — survival regression, spread/normality/shape
# tests, rank changepoint, decision stump


def _q340(spark, sf_dir):
    """Cox proportional-hazards fit (operators/regression.py cox_ph,
    Breslow ties, 4 unrolled Newton rounds from beta=0) on a synthetic
    events-derived survival frame where longer durations track the
    covariate: risk-set sums are suffix sums over per-time aggregates on
    one distsort prefix pass per round; 2 scalars cross the wire per
    round.  Oracle replays the identical rounds via scalar-subquery CTEs
    (the huber/k-core unroll convention)."""
    from polars_net_spark.operators.regression import cox_ph

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        ((F.col("event_id") % 40) + 1 + 3 * (F.col("user_id") % 5))
        .cast("double").alias("t"),
        F.when(F.col("event_id") % 4 == 0, 0).otherwise(1).alias("e"),
        (F.col("user_id") % 5).cast("double").alias("x"),
    )
    return cox_ph(d, "t", "e", "x").spark


def _cox_round_sql(i: int, prev_beta: str) -> str:
    return f"""
p{i} AS (SELECT t, sum(c*exp(x*{prev_beta})) AS a0,
                sum(c*x*exp(x*{prev_beta})) AS a1,
                sum(c*x*x*exp(x*{prev_beta})) AS a2,
                sum(d) AS dd, sum(d*x) AS sx
         FROM cells GROUP BY 1),
s{i} AS (SELECT *, sum(a0) OVER w AS t0, sum(a1) OVER w AS t1,
                sum(a2) OVER w AS t2
         FROM p{i}
         WINDOW w AS (ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
r{i} AS (SELECT sum(sx - dd*t1/t0) AS u,
                sum(dd*(t2/t0 - (t1/t0)*(t1/t0))) AS i FROM s{i})"""


_q340_sql = (
    """
WITH b AS (SELECT CAST(event_id % 40 + 1 + 3*(user_id % 5) AS DOUBLE) AS t,
                  CASE WHEN event_id % 4 = 0 THEN 0.0 ELSE 1.0 END AS e,
                  CAST(user_id % 5 AS DOUBLE) AS x
           FROM events WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT t, x, count(*)*1.0 AS c, sum(e) AS d FROM b GROUP BY 1, 2),
meta AS (SELECT sum(c) AS n, sum(d) AS nd FROM cells),"""
    + _cox_round_sql(0, "0.0")
    + ",\nk1 AS (SELECT 0.0 + u/i AS beta FROM r0),"
    + _cox_round_sql(1, "(SELECT beta FROM k1)")
    + ",\nk2 AS (SELECT (SELECT beta FROM k1) + u/i AS beta FROM r1),"
    + _cox_round_sql(2, "(SELECT beta FROM k2)")
    + ",\nk3 AS (SELECT (SELECT beta FROM k2) + u/i AS beta FROM r2),"
    + _cox_round_sql(3, "(SELECT beta FROM k3)")
    + ",\nk4 AS (SELECT (SELECT beta FROM k3) + u/i AS beta FROM r3),"
    + _cox_round_sql(4, "(SELECT beta FROM k4)")
    + """
SELECT round((SELECT beta FROM k4), 6) AS beta,
       round(exp((SELECT beta FROM k4)), 6) AS hazard_ratio,
       round(1.0/sqrt(i), 6) AS se,
       round((SELECT beta FROM k4)/(1.0/sqrt(i)), 6) AS z,
       CAST((SELECT n FROM meta) AS BIGINT) AS n,
       CAST((SELECT nd FROM meta) AS BIGINT) AS n_events,
       CAST(4 AS INT) AS rounds
FROM r4
"""
)


def _q341(spark, sf_dir):
    """Brown-Forsythe variance-homogeneity test (operators/regression.py
    levene_test) of order totals across order statuses: exact group
    medians (Catalyst percentile) joined back on the tiny group key,
    then one fused |x - median| moment reduce."""
    from polars_net_spark.operators.regression import levene_test

    o = _t(spark, sf_dir, "orders").spark
    return levene_test(o, "o_totalprice", "o_orderstatus").spark


_q341_sql = """
WITH base AS (SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v
              FROM orders
              WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL),
med AS (SELECT g, median(v) AS m FROM base GROUP BY 1),
z AS (SELECT base.g, abs(v - m) AS z FROM base JOIN med USING (g)),
pg AS (SELECT g, count(*)*1.0 AS n, sum(z) AS sz, sum(z*z) AS szz
       FROM z GROUP BY 1),
tot AS (SELECT sum(n) AS nt, sum(sz) AS szt, count(*)*1.0 AS k FROM pg),
parts AS (SELECT sum(n * pow(sz/n - szt/nt, 2)) AS ssb,
                 sum(szz - sz*sz/n) AS ssw
          FROM pg, tot)
SELECT round((ssb/(k-1))/(ssw/(nt-k)), 6) AS f_stat,
       CAST(k-1 AS BIGINT) AS df1, CAST(nt-k AS BIGINT) AS df2,
       CAST(nt AS BIGINT) AS n, CAST(k AS BIGINT) AS n_groups
FROM parts, tot
"""


def _q342(spark, sf_dir):
    """Jarque-Bera normality screen (operators/regression.py jarque_bera)
    on the event value column: one fused raw-power-sum all-reduce, exact
    closed-form chi2(2) p = exp(-JB/2)."""
    from polars_net_spark.operators.regression import jarque_bera

    ev = _t(spark, sf_dir, "events").spark
    return jarque_bera(ev, "value").spark


_q342_sql = """
WITH b AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(v) AS s1, sum(v*v) AS s2,
             sum(v*v*v) AS s3, sum(v*v*v*v) AS s4 FROM b),
c AS (SELECT n, s1/n AS mu,
             s2/n - (s1/n)*(s1/n) AS m2,
             s3/n - 3*(s1/n)*s2/n + 2*pow(s1/n, 3) AS m3,
             s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n - 3*pow(s1/n, 4) AS m4
      FROM m),
g AS (SELECT n, m3/pow(m2, 1.5) AS g1, m4/(m2*m2) - 3.0 AS g2 FROM c),
j AS (SELECT n, g1, g2, n/6.0*(g1*g1 + g2*g2/4.0) AS jb FROM g)
SELECT CAST(n AS BIGINT) AS n, round(g1, 6) AS skewness,
       round(g2, 6) AS kurtosis, round(jb, 6) AS jb_stat,
       round(exp(-jb/2.0), 6) AS p_value
FROM j
"""


def _q343(spark, sf_dir):
    """Exact two-sample 1-D energy distance (operators/regression.py
    energy_distance) between even/odd user event values: rows collapse
    to distinct-value cells with per-group counts, prefix (count, sum)
    rides distsort buckets + driver offsets, pair-sums from one fused
    reduce — no self-join."""
    from polars_net_spark.operators.regression import energy_distance

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("g"),
        F.col("value").alias("v"),
    )
    return energy_distance(d, "v", "g", "a", "b").spark


_q343_sql = """
WITH base AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
                     CAST(value AS DOUBLE) AS v
              FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
cells AS (SELECT v, sum(CASE WHEN g = 'a' THEN 1.0 ELSE 0.0 END) AS ca,
                 sum(CASE WHEN g = 'b' THEN 1.0 ELSE 0.0 END) AS cb
          FROM base GROUP BY 1),
pre AS (SELECT v, ca, cb,
               coalesce(sum(ca) OVER w, 0) AS pca,
               coalesce(sum(cb) OVER w, 0) AS pcb,
               coalesce(sum(ca*v) OVER w, 0) AS psa,
               coalesce(sum(cb*v) OVER w, 0) AS psb
        FROM cells
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)),
red AS (SELECT sum(cb*(pca*v - psa) + ca*(pcb*v - psb)) AS cross_,
               sum(ca*(pca*v - psa)) AS wa,
               sum(cb*(pcb*v - psb)) AS wb
        FROM pre),
tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cells),
e AS (SELECT cross_/(na*nb) AS ec, 2.0*wa/(na*na) AS ewa,
             2.0*wb/(nb*nb) AS ewb, na, nb FROM red, tot)
SELECT round(sqrt(greatest(2.0*ec - ewa - ewb, 0)), 6) AS energy_dist,
       round(ec, 6) AS e_cross, round(ewa, 6) AS e_within_a,
       round(ewb, 6) AS e_within_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM e
"""


def _q344(spark, sf_dir):
    """Pettitt rank changepoint (operators/regression.py pettitt_test) on
    the daily event-value series: average-tie ranks from one distsort
    pass over distinct-value cells, the U scan from a second keyed on
    time, closed-form approximation p — the rank-robust locator beside
    q339's mean/SSE scan."""
    from polars_net_spark.operators.regression import pettitt_test

    ev = _t(spark, sf_dir, "events").spark
    daily = (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("2020-01-01").cast("date"))
            .cast("double")
            .alias("t")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    return pettitt_test(daily, "t", "v").spark


_q344_sql = """
WITH s0 AS (SELECT CAST(date_diff('day', DATE '2020-01-01', CAST(ts AS DATE))
                       AS DOUBLE) AS t,
                   round(sum(value), 6) AS v
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            GROUP BY 1),
s AS (SELECT t, avg(v) AS v FROM s0 GROUP BY 1),
vc AS (SELECT v, count(*)*1.0 AS c FROM s GROUP BY 1),
vr AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                 PRECEDING AND 1 PRECEDING), 0) + (c + 1.0)/2.0 AS r
       FROM vc),
n AS (SELECT count(*)*1.0 AS n FROM s),
seq AS (SELECT t, r,
               count(*) OVER w AS i,
               sum(r) OVER w AS cr
        FROM s JOIN vr USING (v)
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)),
u AS (SELECT t, 2.0*cr - i*(n + 1.0) AS u, i, n
      FROM seq, n WHERE i <= n - 1),
best AS (SELECT * FROM u ORDER BY abs(u) DESC, t ASC LIMIT 1)
SELECT round(t, 6) AS split_at, round(u, 6) AS u_stat,
       round(abs(u), 6) AS k_stat, CAST(n AS BIGINT) AS n,
       round(least(1.0, 2.0*exp(-6.0*u*u/(pow(n, 3) + n*n))), 6) AS p_value
FROM best
"""


def _q345(spark, sf_dir):
    """Best gini decision-stump threshold (operators/regression.py
    best_split) of return-flag=R on quantity: prefix (count, positives)
    over distinct-quantity cells on one distsort pass + a 1-row struct
    argmax — info_gain_report's numeric companion."""
    from polars_net_spark.operators.regression import best_split

    li = _t(spark, sf_dir, "lineitem").spark
    d = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return best_split(d, "x", "y").spark


_q345_sql = """
WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
cells AS (SELECT x, count(*)*1.0 AS c, sum(y) AS p FROM b GROUP BY 1),
tot AS (SELECT sum(c) AS n, sum(p) AS np FROM cells),
pre AS (SELECT x, sum(c) OVER w AS cc, sum(p) OVER w AS cp
        FROM cells
        WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)),
cand AS (SELECT x, cc, cp,
                round((1.0 - pow(np/n, 2) - pow((n-np)/n, 2))
                      - cc/n*(1.0 - pow(cp/cc, 2) - pow((cc-cp)/cc, 2))
                      - (n-cc)/n*(1.0 - pow((np-cp)/(n-cc), 2)
                                  - pow(((n-cc)-(np-cp))/(n-cc), 2)),
                      9) AS drop_,
                n, np
         FROM pre, tot WHERE cc >= 1 AND cc <= n - 1),
best AS (SELECT * FROM cand ORDER BY drop_ DESC, x ASC LIMIT 1)
SELECT round(x, 6) AS threshold, round(drop_, 6) AS gini_drop,
       round(1.0 - pow(np/n, 2) - pow((n-np)/n, 2), 6) AS parent_gini,
       CAST(cc AS BIGINT) AS n_left, CAST(n - cc AS BIGINT) AS n_right,
       round(cp/cc, 6) AS pos_rate_left,
       round((np-cp)/(n-cc), 6) AS pos_rate_right
FROM best
"""




def _q346(spark, sf_dir):
    """Thresholded confusion/MCC operating-point report
    (operators/mleval.py confusion_report) on a deterministic
    events-derived score/label pair: ONE fused conditional all-reduce of
    the four cells, driver-assembled metrics — the operating-point
    companion to q304's threshold-free AUC."""
    from polars_net_spark.operators.mleval import confusion_report

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        ((F.col("event_id") % 100) / 100.0).alias("p"),
        ((F.col("event_id") % 100) + (F.col("user_id") % 21) >= 60)
        .cast("int").alias("y"),
    )
    return confusion_report(d, "p", "y", threshold=0.5).spark


_q346_sql = """
WITH b AS (SELECT (event_id % 100)/100.0 AS p,
                  CASE WHEN (event_id % 100) + (user_id % 21) >= 60
                       THEN 1 ELSE 0 END AS y
           FROM events
           WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT count(*) FILTER (WHERE p >= 0.5 AND y = 1)*1.0 AS tp,
             count(*) FILTER (WHERE p >= 0.5 AND y = 0)*1.0 AS fp,
             count(*) FILTER (WHERE p < 0.5 AND y = 0)*1.0 AS tn,
             count(*) FILTER (WHERE p < 0.5 AND y = 1)*1.0 AS fn
      FROM b),
m AS (SELECT tp, fp, tn, fn, tp+fp+tn+fn AS n,
             CASE WHEN tp+fp > 0 THEN tp/(tp+fp) END AS prec,
             CASE WHEN tp+fn > 0 THEN tp/(tp+fn) END AS rec,
             CASE WHEN tn+fp > 0 THEN tn/(tn+fp) END AS spec
      FROM c)
SELECT 0.5 AS threshold, CAST(n AS BIGINT) AS n,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       round((tp+tn)/n, 6) AS accuracy, round(prec, 6) AS precision,
       round(rec, 6) AS recall, round(spec, 6) AS specificity,
       round(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                       AND prec+rec > 0
                  THEN 2*prec*rec/(prec+rec) END, 6) AS f1,
       round(CASE WHEN rec IS NOT NULL AND spec IS NOT NULL
                  THEN (rec+spec)/2 END, 6) AS balanced_accuracy,
       round(CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) > 0
                  THEN (tp*tn - fp*fn)
                       / sqrt((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END, 6) AS mcc
FROM m
"""


def _q347(spark, sf_dir):
    """Gumbel EV-I block-maxima fit (operators/analytics.py gumbel_fit)
    over daily event-value maxima: method-of-moments from ONE fused
    (n, mean, sample-std) reduce, 1-in-T return levels on a literal
    period grid — the tail capacity-planning companion to q280's Lorenz
    concentration view."""
    from polars_net_spark.operators.analytics import gumbel_fit

    ev = _t(spark, sf_dir, "events").spark
    daily = (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.max("value").alias("v"))
    )
    return gumbel_fit(daily, "v").spark


_q347_sql = """
WITH daily AS (SELECT CAST(ts AS DATE) AS d, max(value) AS v
               FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
               GROUP BY 1),
m AS (SELECT count(*)*1.0 AS n, avg(v) AS mean, stddev(v) AS s FROM daily),
p AS (SELECT n, s*sqrt(6)/pi() AS beta,
             mean - 0.57721566490153286*(s*sqrt(6)/pi()) AS mu FROM m),
per AS (SELECT * FROM (VALUES (10), (100), (1000)) AS t(rp))
SELECT CAST(rp AS BIGINT) AS return_period,
       round(mu - beta*ln(-ln(1.0 - 1.0/rp)), 6) AS return_level,
       round(mu, 6) AS gumbel_mu, round(beta, 6) AS gumbel_beta,
       CAST(n AS BIGINT) AS n
FROM per, p
ORDER BY rp
"""


def _q348(spark, sf_dir):
    """KMV bottom-k set similarity (operators/sketches.py kmv_jaccard)
    between the part inventories of the two line statuses: both
    signatures from ONE fused conditional collect_set aggregate, every
    set op after that is 1-row array math; md5 bottom-k is
    deterministic, so the oracle replays the sketch itself."""
    from polars_net_spark.operators.sketches import kmv_jaccard

    li = _t(spark, sf_dir, "lineitem").spark
    return kmv_jaccard(li, "l_partkey", "l_linestatus", "O", "F", k=256).spark


_q348_sql = """
WITH base AS (SELECT l_linestatus AS g,
                     md5('kmv|' || CAST(l_partkey AS VARCHAR)) AS h
              FROM lineitem
              WHERE l_partkey IS NOT NULL AND l_linestatus IN ('O', 'F')),
sa AS (SELECT DISTINCT h FROM base WHERE g = 'O' ORDER BY h LIMIT 256),
sb AS (SELECT DISTINCT h FROM base WHERE g = 'F' ORDER BY h LIMIT 256),
un AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) AS t
       ORDER BY h LIMIT 256),
stats AS (SELECT (SELECT count(*) FROM un) AS nu,
                 (SELECT count(*) FROM un
                  WHERE h IN (SELECT h FROM sa)
                    AND h IN (SELECT h FROM sb)) AS ni,
                 (SELECT max(h) FROM un) AS hu,
                 (SELECT count(*) FROM sa) AS na,
                 (SELECT max(h) FROM sa) AS ha,
                 (SELECT count(*) FROM sb) AS nb,
                 (SELECT max(h) FROM sb) AS hb),
conv AS (SELECT nu, ni, na, nb,
  list_reduce(list_transform(generate_series(1, 13),
      i -> strpos('0123456789abcdef', substr(hu, i, 1)) - 1),
      (a, x) -> a*16 + x)/power(16, 13) AS uu,
  list_reduce(list_transform(generate_series(1, 13),
      i -> strpos('0123456789abcdef', substr(ha, i, 1)) - 1),
      (a, x) -> a*16 + x)/power(16, 13) AS ua,
  list_reduce(list_transform(generate_series(1, 13),
      i -> strpos('0123456789abcdef', substr(hb, i, 1)) - 1),
      (a, x) -> a*16 + x)/power(16, 13) AS ub
  FROM stats),
est AS (SELECT ni*1.0/nu AS jac, nu,
               CASE WHEN na < 256 THEN na*1.0 ELSE 255/ua END AS da,
               CASE WHEN nb < 256 THEN nb*1.0 ELSE 255/ub END AS db,
               CASE WHEN nu < 256 THEN nu*1.0 ELSE 255/uu END AS ue
        FROM conv)
SELECT CAST(256 AS BIGINT) AS k, round(jac, 6) AS jaccard_est,
       CAST(nu AS BIGINT) AS n_union_minhashes,
       CAST(round(da) AS BIGINT) AS distinct_a_est,
       CAST(round(db) AS BIGINT) AS distinct_b_est,
       CAST(round(ue) AS BIGINT) AS union_est,
       CAST(round(jac*ue) AS BIGINT) AS intersect_est
FROM est
"""


def _q349(spark, sf_dir):
    """Connected components with min-id labels (operators/graph.py
    connected_components) on an events-derived island graph (edges only
    within 20-vertex residue islands), reported as component sizes.  The
    canonical edge list is under the bound, so the components come from
    union-find in driver memory (above it, a min-label loop with path
    halving).  The oracle unrolls 6 MATERIALIZED rounds of plain min-label
    propagation past the fixpoint (extra rounds are no-ops — the k_core
    convention); both reach the same min-id labels."""
    from polars_net_spark.operators.graph import connected_components

    ev = _t(spark, sf_dir, "events").spark
    s = F.col("user_id") % 1000
    d = F.floor(s / 20) * 20 + (s + F.col("event_id")) % 20
    edges = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    ).select(s.alias("src"), d.cast("long").alias("dst"))
    cc = connected_components(edges).spark
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    )


_q349_sql = """
WITH raw AS (SELECT user_id % 1000 AS s,
                    CAST(floor((user_id % 1000)/20)*20
                         + (user_id % 1000 + event_id) % 20 AS BIGINT) AS d
             FROM events
             WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM raw WHERE s <> d),
v AS (SELECT a AS v FROM e UNION SELECT b AS v FROM e),
l0 AS MATERIALIZED (SELECT v, v AS c FROM v),
l1 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l0
    UNION ALL SELECT e.b AS v, l0.c AS c FROM l0 JOIN e ON l0.v = e.a
    UNION ALL SELECT e.a AS v, l0.c AS c FROM l0 JOIN e ON l0.v = e.b
  ) AS t GROUP BY v),
l2 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l1
    UNION ALL SELECT e.b AS v, l1.c AS c FROM l1 JOIN e ON l1.v = e.a
    UNION ALL SELECT e.a AS v, l1.c AS c FROM l1 JOIN e ON l1.v = e.b
  ) AS t GROUP BY v),
l3 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l2
    UNION ALL SELECT e.b AS v, l2.c AS c FROM l2 JOIN e ON l2.v = e.a
    UNION ALL SELECT e.a AS v, l2.c AS c FROM l2 JOIN e ON l2.v = e.b
  ) AS t GROUP BY v),
l4 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l3
    UNION ALL SELECT e.b AS v, l3.c AS c FROM l3 JOIN e ON l3.v = e.a
    UNION ALL SELECT e.a AS v, l3.c AS c FROM l3 JOIN e ON l3.v = e.b
  ) AS t GROUP BY v),
l5 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l4
    UNION ALL SELECT e.b AS v, l4.c AS c FROM l4 JOIN e ON l4.v = e.a
    UNION ALL SELECT e.a AS v, l4.c AS c FROM l4 JOIN e ON l4.v = e.b
  ) AS t GROUP BY v),
l6 AS MATERIALIZED (SELECT v, min(c) AS c FROM (
    SELECT v, c FROM l5
    UNION ALL SELECT e.b AS v, l5.c AS c FROM l5 JOIN e ON l5.v = e.a
    UNION ALL SELECT e.a AS v, l5.c AS c FROM l5 JOIN e ON l5.v = e.b
  ) AS t GROUP BY v)
SELECT c AS component, CAST(count(*) AS BIGINT) AS n_vertices
FROM l6 GROUP BY 1
"""




def _q350(spark, sf_dir):
    """Corpus BLEU-4 (llm/evaluation.py bleu_corpus) of a truncated
    hypothesis corpus (each doc minus its last 2 words) against the
    original documents: per-doc clipped matches for all four orders via
    the row-local sorted run-length fold (zero Exchange before the single
    1-row reduce), brevity penalty from corpus totals — unsmoothed
    Papineni pooling, no per-row Python."""
    from polars_net_spark.llm.evaluation import bleu_corpus

    d = _t(spark, sf_dir, "documents").spark
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    pairs = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_join(
            F.slice(ws, 1, F.greatest(F.size(ws) - 2, F.lit(0))), " "
        ).alias("hyp"),
        F.col("text").alias("ref"),
    )
    return bleu_corpus(pairs, "hyp", "ref", "doc_id").spark


_q350_sql = """
WITH p0 AS (SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> length(w) > 0) AS wr
  FROM documents WHERE text IS NOT NULL),
docs2 AS (SELECT doc_id,
    list_slice(wr, 1, greatest(len(wr) - 2, 0)) AS wh, wr
  FROM p0),
hg AS (SELECT n, doc_id, g, count(*) AS c FROM (
      SELECT 1 AS n, doc_id, wh[i] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wh))) AS u(i)
      UNION ALL SELECT 2 AS n, doc_id, wh[i] || ' ' || wh[i+1] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wh) - 1)) AS u(i)
      UNION ALL SELECT 3 AS n, doc_id, wh[i] || ' ' || wh[i+1] || ' ' || wh[i+2] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wh) - 2)) AS u(i)
      UNION ALL SELECT 4 AS n, doc_id, wh[i] || ' ' || wh[i+1] || ' ' || wh[i+2] || ' ' || wh[i+3] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wh) - 3)) AS u(i)
  ) AS t GROUP BY 1, 2, 3),
rg AS (SELECT n, doc_id, g, count(*) AS c FROM (
      SELECT 1 AS n, doc_id, wr[i] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wr))) AS u(i)
      UNION ALL SELECT 2 AS n, doc_id, wr[i] || ' ' || wr[i+1] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wr) - 1)) AS u(i)
      UNION ALL SELECT 3 AS n, doc_id, wr[i] || ' ' || wr[i+1] || ' ' || wr[i+2] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wr) - 2)) AS u(i)
      UNION ALL SELECT 4 AS n, doc_id, wr[i] || ' ' || wr[i+1] || ' ' || wr[i+2] || ' ' || wr[i+3] AS g
      FROM docs2, LATERAL unnest(generate_series(1, len(wr) - 3)) AS u(i)
  ) AS t GROUP BY 1, 2, 3),
cl AS (SELECT hg.n, sum(least(hg.c, coalesce(rg.c, 0))) AS m, sum(hg.c) AS h
       FROM hg LEFT JOIN rg
         ON hg.n = rg.n AND hg.doc_id = rg.doc_id AND hg.g = rg.g
       GROUP BY 1),
lens AS (SELECT sum(len(wh)) AS hl, sum(len(wr)) AS rl, count(*) AS nd
         FROM docs2),
p AS (SELECT max(CASE WHEN n = 1 THEN m*1.0/h END) AS p1,
             max(CASE WHEN n = 2 THEN m*1.0/h END) AS p2,
             max(CASE WHEN n = 3 THEN m*1.0/h END) AS p3,
             max(CASE WHEN n = 4 THEN m*1.0/h END) AS p4
      FROM cl)
SELECT round(CASE WHEN p1 > 0 AND p2 > 0 AND p3 > 0 AND p4 > 0
             THEN least(1.0, exp(1.0 - rl*1.0/hl))
                  * exp((ln(p1)+ln(p2)+ln(p3)+ln(p4))/4.0)
             ELSE 0.0 END, 6) AS bleu,
       round(least(1.0, exp(1.0 - rl*1.0/hl)), 6) AS brevity_penalty,
       round(p1, 6) AS p1, round(p2, 6) AS p2,
       round(p3, 6) AS p3, round(p4, 6) AS p4,
       CAST(hl AS BIGINT) AS hyp_len, CAST(rl AS BIGINT) AS ref_len,
       CAST(nd AS BIGINT) AS n_docs
FROM p, lens
"""


def _q351(spark, sf_dir):
    """Corpus ROUGE-2 (llm/evaluation.py rouge_n) of the same truncated
    hypothesis corpus against the originals: per-doc clipped overlap and
    both totals are row-local (sorted run-length fold + gram-array sizes),
    so micro (pooled) and macro (per-doc mean) recall ride ONE fused
    1-row all-reduce."""
    from polars_net_spark.llm.evaluation import rouge_n

    d = _t(spark, sf_dir, "documents").spark
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    pairs = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_join(
            F.slice(ws, 1, F.greatest(F.size(ws) - 2, F.lit(0))), " "
        ).alias("hyp"),
        F.col("text").alias("ref"),
    )
    return rouge_n(pairs, "hyp", "ref", "doc_id", n=2).spark


_q351_sql = """
WITH p0 AS (SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> length(w) > 0) AS wr
  FROM documents WHERE text IS NOT NULL),
docs2 AS (SELECT doc_id,
    list_slice(wr, 1, greatest(len(wr) - 2, 0)) AS wh, wr
  FROM p0),
hg AS (SELECT doc_id, wh[i] || ' ' || wh[i+1] AS g, count(*) AS c
       FROM docs2, LATERAL unnest(generate_series(1, len(wh) - 1)) AS u(i)
       GROUP BY 1, 2),
rg AS (SELECT doc_id, wr[i] || ' ' || wr[i+1] AS g, count(*) AS c
       FROM docs2, LATERAL unnest(generate_series(1, len(wr) - 1)) AS u(i)
       GROUP BY 1, 2),
cell AS (SELECT coalesce(hg.doc_id, rg.doc_id) AS doc_id,
                coalesce(hg.c, 0) AS h, coalesce(rg.c, 0) AS r
         FROM hg FULL JOIN rg
           ON hg.doc_id = rg.doc_id AND hg.g = rg.g),
per_doc AS (SELECT doc_id, sum(least(h, r)) AS m, sum(r) AS rt,
                   sum(h) AS ht
            FROM cell GROUP BY 1),
red AS (SELECT (SELECT count(*) FROM docs2) AS nd,
               sum(m) AS m, sum(rt) AS rt, sum(ht) AS ht,
               avg(CASE WHEN rt > 0 THEN m*1.0/rt END) AS macro_r
        FROM per_doc)
SELECT CAST(2 AS INT) AS n, CAST(nd AS BIGINT) AS n_docs,
       round(m*1.0/rt, 6) AS micro_recall,
       round(macro_r, 6) AS macro_recall,
       round(CASE WHEN ht > 0 THEN m*1.0/ht END, 6) AS micro_precision,
       round(CASE WHEN ht > 0 AND m*1.0/ht + m*1.0/rt > 0
                  THEN 2*(m*1.0/ht)*(m*1.0/rt)/((m*1.0/ht) + (m*1.0/rt))
             END, 6) AS micro_f1
FROM red
"""




def _q352(spark, sf_dir):
    """Two-sample Cramér–von Mises criterion (operators/regression.py
    cramer_von_mises) comparing urgent vs low-priority order totals:
    mid-rank pooled positions from distinct-value cells on ONE distsort
    prefix pass, each tie block closed by the consecutive-integer
    sum-of-squares identity — the whole-CDF companion to q194-family KS."""
    from polars_net_spark.operators.regression import cramer_von_mises

    o = _t(spark, sf_dir, "orders").spark
    return cramer_von_mises(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW"
    ).spark


_q352_sql = """
WITH base AS (SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IN ('1-URGENT', '5-LOW')),
cells AS (SELECT v,
                 sum(CASE WHEN g = '1-URGENT' THEN 1.0 ELSE 0 END) AS ca,
                 sum(CASE WHEN g = '5-LOW' THEN 1.0 ELSE 0 END) AS cb
          FROM base GROUP BY 1),
pre AS (SELECT v, ca, cb,
               coalesce(sum(ca) OVER w, 0) AS ta,
               coalesce(sum(cb) OVER w, 0) AS tb
        FROM cells
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)),
t2 AS (SELECT ca, cb, ta, tb,
              ta + tb + (ca + cb + 1.0)/2.0 AS rbar FROM pre),
t3 AS (SELECT
    ca*rbar*rbar - 2.0*rbar*(ca*ta + ca*(ca + 1.0)/2.0)
      + ((ta+ca)*(ta+ca+1.0)*(2.0*(ta+ca)+1.0)/6.0
         - ta*(ta+1.0)*(2.0*ta+1.0)/6.0) AS ua,
    cb*rbar*rbar - 2.0*rbar*(cb*tb + cb*(cb + 1.0)/2.0)
      + ((tb+cb)*(tb+cb+1.0)*(2.0*(tb+cb)+1.0)/6.0
         - tb*(tb+1.0)*(2.0*tb+1.0)/6.0) AS ub
  FROM t2),
tot AS (SELECT sum(ca) AS n, sum(cb) AS m FROM cells),
red AS (SELECT sum(ua) AS ua, sum(ub) AS ub FROM t3)
SELECT round((n*ua + m*ub)/(n*m*(n+m)) - (4.0*n*m - 1.0)/(6.0*(n+m)), 6)
         AS t_stat,
       round(n*ua + m*ub, 6) AS u_stat,
       CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b
FROM red, tot
"""


def _q353(spark, sf_dir):
    """Deterministic randomization test (operators/regression.py
    permutation_test): is the click-vs-view event-value gap explainable
    by chance?  64 md5-coin reassignment replicates ride ONE fused
    all-reduce (128 conditional sums, no row explosion); the oracle
    replays every coin."""
    from polars_net_spark.operators.regression import permutation_test

    ev = _t(spark, sf_dir, "events").spark
    return permutation_test(
        ev, "value", "event_type", "event_id", "click", "view"
    ).spark


_q353_sql = """
WITH base AS (SELECT CAST(event_id AS VARCHAR) AS event_id,
                     CAST(value AS DOUBLE) AS v,
                     event_type = 'click' AS isa
              FROM events
              WHERE value IS NOT NULL AND event_id IS NOT NULL
                AND event_type IN ('click', 'view')),
agg AS (SELECT
  sum(CASE WHEN isa THEN v END) AS sa,
  count(CASE WHEN isa THEN 1 END) AS na,
  sum(CASE WHEN NOT isa THEN v END) AS sb,
  count(CASE WHEN NOT isa THEN 1 END) AS nb,
  sum(CASE WHEN substr(md5('perm|0|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s0,
  count(CASE WHEN substr(md5('perm|0|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c0,
  sum(CASE WHEN substr(md5('perm|1|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s1,
  count(CASE WHEN substr(md5('perm|1|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c1,
  sum(CASE WHEN substr(md5('perm|2|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s2,
  count(CASE WHEN substr(md5('perm|2|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c2,
  sum(CASE WHEN substr(md5('perm|3|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s3,
  count(CASE WHEN substr(md5('perm|3|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c3,
  sum(CASE WHEN substr(md5('perm|4|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s4,
  count(CASE WHEN substr(md5('perm|4|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c4,
  sum(CASE WHEN substr(md5('perm|5|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s5,
  count(CASE WHEN substr(md5('perm|5|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c5,
  sum(CASE WHEN substr(md5('perm|6|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s6,
  count(CASE WHEN substr(md5('perm|6|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c6,
  sum(CASE WHEN substr(md5('perm|7|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s7,
  count(CASE WHEN substr(md5('perm|7|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c7,
  sum(CASE WHEN substr(md5('perm|8|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s8,
  count(CASE WHEN substr(md5('perm|8|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c8,
  sum(CASE WHEN substr(md5('perm|9|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s9,
  count(CASE WHEN substr(md5('perm|9|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c9,
  sum(CASE WHEN substr(md5('perm|10|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s10,
  count(CASE WHEN substr(md5('perm|10|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c10,
  sum(CASE WHEN substr(md5('perm|11|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s11,
  count(CASE WHEN substr(md5('perm|11|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c11,
  sum(CASE WHEN substr(md5('perm|12|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s12,
  count(CASE WHEN substr(md5('perm|12|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c12,
  sum(CASE WHEN substr(md5('perm|13|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s13,
  count(CASE WHEN substr(md5('perm|13|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c13,
  sum(CASE WHEN substr(md5('perm|14|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s14,
  count(CASE WHEN substr(md5('perm|14|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c14,
  sum(CASE WHEN substr(md5('perm|15|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s15,
  count(CASE WHEN substr(md5('perm|15|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c15,
  sum(CASE WHEN substr(md5('perm|16|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s16,
  count(CASE WHEN substr(md5('perm|16|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c16,
  sum(CASE WHEN substr(md5('perm|17|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s17,
  count(CASE WHEN substr(md5('perm|17|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c17,
  sum(CASE WHEN substr(md5('perm|18|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s18,
  count(CASE WHEN substr(md5('perm|18|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c18,
  sum(CASE WHEN substr(md5('perm|19|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s19,
  count(CASE WHEN substr(md5('perm|19|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c19,
  sum(CASE WHEN substr(md5('perm|20|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s20,
  count(CASE WHEN substr(md5('perm|20|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c20,
  sum(CASE WHEN substr(md5('perm|21|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s21,
  count(CASE WHEN substr(md5('perm|21|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c21,
  sum(CASE WHEN substr(md5('perm|22|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s22,
  count(CASE WHEN substr(md5('perm|22|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c22,
  sum(CASE WHEN substr(md5('perm|23|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s23,
  count(CASE WHEN substr(md5('perm|23|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c23,
  sum(CASE WHEN substr(md5('perm|24|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s24,
  count(CASE WHEN substr(md5('perm|24|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c24,
  sum(CASE WHEN substr(md5('perm|25|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s25,
  count(CASE WHEN substr(md5('perm|25|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c25,
  sum(CASE WHEN substr(md5('perm|26|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s26,
  count(CASE WHEN substr(md5('perm|26|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c26,
  sum(CASE WHEN substr(md5('perm|27|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s27,
  count(CASE WHEN substr(md5('perm|27|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c27,
  sum(CASE WHEN substr(md5('perm|28|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s28,
  count(CASE WHEN substr(md5('perm|28|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c28,
  sum(CASE WHEN substr(md5('perm|29|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s29,
  count(CASE WHEN substr(md5('perm|29|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c29,
  sum(CASE WHEN substr(md5('perm|30|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s30,
  count(CASE WHEN substr(md5('perm|30|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c30,
  sum(CASE WHEN substr(md5('perm|31|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s31,
  count(CASE WHEN substr(md5('perm|31|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c31,
  sum(CASE WHEN substr(md5('perm|32|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s32,
  count(CASE WHEN substr(md5('perm|32|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c32,
  sum(CASE WHEN substr(md5('perm|33|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s33,
  count(CASE WHEN substr(md5('perm|33|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c33,
  sum(CASE WHEN substr(md5('perm|34|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s34,
  count(CASE WHEN substr(md5('perm|34|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c34,
  sum(CASE WHEN substr(md5('perm|35|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s35,
  count(CASE WHEN substr(md5('perm|35|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c35,
  sum(CASE WHEN substr(md5('perm|36|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s36,
  count(CASE WHEN substr(md5('perm|36|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c36,
  sum(CASE WHEN substr(md5('perm|37|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s37,
  count(CASE WHEN substr(md5('perm|37|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c37,
  sum(CASE WHEN substr(md5('perm|38|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s38,
  count(CASE WHEN substr(md5('perm|38|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c38,
  sum(CASE WHEN substr(md5('perm|39|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s39,
  count(CASE WHEN substr(md5('perm|39|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c39,
  sum(CASE WHEN substr(md5('perm|40|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s40,
  count(CASE WHEN substr(md5('perm|40|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c40,
  sum(CASE WHEN substr(md5('perm|41|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s41,
  count(CASE WHEN substr(md5('perm|41|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c41,
  sum(CASE WHEN substr(md5('perm|42|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s42,
  count(CASE WHEN substr(md5('perm|42|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c42,
  sum(CASE WHEN substr(md5('perm|43|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s43,
  count(CASE WHEN substr(md5('perm|43|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c43,
  sum(CASE WHEN substr(md5('perm|44|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s44,
  count(CASE WHEN substr(md5('perm|44|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c44,
  sum(CASE WHEN substr(md5('perm|45|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s45,
  count(CASE WHEN substr(md5('perm|45|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c45,
  sum(CASE WHEN substr(md5('perm|46|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s46,
  count(CASE WHEN substr(md5('perm|46|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c46,
  sum(CASE WHEN substr(md5('perm|47|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s47,
  count(CASE WHEN substr(md5('perm|47|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c47,
  sum(CASE WHEN substr(md5('perm|48|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s48,
  count(CASE WHEN substr(md5('perm|48|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c48,
  sum(CASE WHEN substr(md5('perm|49|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s49,
  count(CASE WHEN substr(md5('perm|49|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c49,
  sum(CASE WHEN substr(md5('perm|50|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s50,
  count(CASE WHEN substr(md5('perm|50|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c50,
  sum(CASE WHEN substr(md5('perm|51|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s51,
  count(CASE WHEN substr(md5('perm|51|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c51,
  sum(CASE WHEN substr(md5('perm|52|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s52,
  count(CASE WHEN substr(md5('perm|52|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c52,
  sum(CASE WHEN substr(md5('perm|53|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s53,
  count(CASE WHEN substr(md5('perm|53|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c53,
  sum(CASE WHEN substr(md5('perm|54|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s54,
  count(CASE WHEN substr(md5('perm|54|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c54,
  sum(CASE WHEN substr(md5('perm|55|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s55,
  count(CASE WHEN substr(md5('perm|55|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c55,
  sum(CASE WHEN substr(md5('perm|56|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s56,
  count(CASE WHEN substr(md5('perm|56|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c56,
  sum(CASE WHEN substr(md5('perm|57|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s57,
  count(CASE WHEN substr(md5('perm|57|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c57,
  sum(CASE WHEN substr(md5('perm|58|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s58,
  count(CASE WHEN substr(md5('perm|58|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c58,
  sum(CASE WHEN substr(md5('perm|59|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s59,
  count(CASE WHEN substr(md5('perm|59|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c59,
  sum(CASE WHEN substr(md5('perm|60|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s60,
  count(CASE WHEN substr(md5('perm|60|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c60,
  sum(CASE WHEN substr(md5('perm|61|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s61,
  count(CASE WHEN substr(md5('perm|61|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c61,
  sum(CASE WHEN substr(md5('perm|62|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s62,
  count(CASE WHEN substr(md5('perm|62|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c62,
  sum(CASE WHEN substr(md5('perm|63|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN v END) AS s63,
  count(CASE WHEN substr(md5('perm|63|' || CAST(event_id AS VARCHAR)), 32, 1) IN ('0','2','4','6','8','a','c','e') THEN 1 END) AS c63,
  sum(v) AS st, count(*) AS ct
  FROM base),
diffs AS (SELECT sa, na, sb, nb, st, ct,
  sa/na - sb/nb AS obs,
  CASE WHEN c0 > 0 AND c0 < ct THEN abs(s0/c0 - (st - s0)/(ct - c0)) END AS d0,
  CASE WHEN c1 > 0 AND c1 < ct THEN abs(s1/c1 - (st - s1)/(ct - c1)) END AS d1,
  CASE WHEN c2 > 0 AND c2 < ct THEN abs(s2/c2 - (st - s2)/(ct - c2)) END AS d2,
  CASE WHEN c3 > 0 AND c3 < ct THEN abs(s3/c3 - (st - s3)/(ct - c3)) END AS d3,
  CASE WHEN c4 > 0 AND c4 < ct THEN abs(s4/c4 - (st - s4)/(ct - c4)) END AS d4,
  CASE WHEN c5 > 0 AND c5 < ct THEN abs(s5/c5 - (st - s5)/(ct - c5)) END AS d5,
  CASE WHEN c6 > 0 AND c6 < ct THEN abs(s6/c6 - (st - s6)/(ct - c6)) END AS d6,
  CASE WHEN c7 > 0 AND c7 < ct THEN abs(s7/c7 - (st - s7)/(ct - c7)) END AS d7,
  CASE WHEN c8 > 0 AND c8 < ct THEN abs(s8/c8 - (st - s8)/(ct - c8)) END AS d8,
  CASE WHEN c9 > 0 AND c9 < ct THEN abs(s9/c9 - (st - s9)/(ct - c9)) END AS d9,
  CASE WHEN c10 > 0 AND c10 < ct THEN abs(s10/c10 - (st - s10)/(ct - c10)) END AS d10,
  CASE WHEN c11 > 0 AND c11 < ct THEN abs(s11/c11 - (st - s11)/(ct - c11)) END AS d11,
  CASE WHEN c12 > 0 AND c12 < ct THEN abs(s12/c12 - (st - s12)/(ct - c12)) END AS d12,
  CASE WHEN c13 > 0 AND c13 < ct THEN abs(s13/c13 - (st - s13)/(ct - c13)) END AS d13,
  CASE WHEN c14 > 0 AND c14 < ct THEN abs(s14/c14 - (st - s14)/(ct - c14)) END AS d14,
  CASE WHEN c15 > 0 AND c15 < ct THEN abs(s15/c15 - (st - s15)/(ct - c15)) END AS d15,
  CASE WHEN c16 > 0 AND c16 < ct THEN abs(s16/c16 - (st - s16)/(ct - c16)) END AS d16,
  CASE WHEN c17 > 0 AND c17 < ct THEN abs(s17/c17 - (st - s17)/(ct - c17)) END AS d17,
  CASE WHEN c18 > 0 AND c18 < ct THEN abs(s18/c18 - (st - s18)/(ct - c18)) END AS d18,
  CASE WHEN c19 > 0 AND c19 < ct THEN abs(s19/c19 - (st - s19)/(ct - c19)) END AS d19,
  CASE WHEN c20 > 0 AND c20 < ct THEN abs(s20/c20 - (st - s20)/(ct - c20)) END AS d20,
  CASE WHEN c21 > 0 AND c21 < ct THEN abs(s21/c21 - (st - s21)/(ct - c21)) END AS d21,
  CASE WHEN c22 > 0 AND c22 < ct THEN abs(s22/c22 - (st - s22)/(ct - c22)) END AS d22,
  CASE WHEN c23 > 0 AND c23 < ct THEN abs(s23/c23 - (st - s23)/(ct - c23)) END AS d23,
  CASE WHEN c24 > 0 AND c24 < ct THEN abs(s24/c24 - (st - s24)/(ct - c24)) END AS d24,
  CASE WHEN c25 > 0 AND c25 < ct THEN abs(s25/c25 - (st - s25)/(ct - c25)) END AS d25,
  CASE WHEN c26 > 0 AND c26 < ct THEN abs(s26/c26 - (st - s26)/(ct - c26)) END AS d26,
  CASE WHEN c27 > 0 AND c27 < ct THEN abs(s27/c27 - (st - s27)/(ct - c27)) END AS d27,
  CASE WHEN c28 > 0 AND c28 < ct THEN abs(s28/c28 - (st - s28)/(ct - c28)) END AS d28,
  CASE WHEN c29 > 0 AND c29 < ct THEN abs(s29/c29 - (st - s29)/(ct - c29)) END AS d29,
  CASE WHEN c30 > 0 AND c30 < ct THEN abs(s30/c30 - (st - s30)/(ct - c30)) END AS d30,
  CASE WHEN c31 > 0 AND c31 < ct THEN abs(s31/c31 - (st - s31)/(ct - c31)) END AS d31,
  CASE WHEN c32 > 0 AND c32 < ct THEN abs(s32/c32 - (st - s32)/(ct - c32)) END AS d32,
  CASE WHEN c33 > 0 AND c33 < ct THEN abs(s33/c33 - (st - s33)/(ct - c33)) END AS d33,
  CASE WHEN c34 > 0 AND c34 < ct THEN abs(s34/c34 - (st - s34)/(ct - c34)) END AS d34,
  CASE WHEN c35 > 0 AND c35 < ct THEN abs(s35/c35 - (st - s35)/(ct - c35)) END AS d35,
  CASE WHEN c36 > 0 AND c36 < ct THEN abs(s36/c36 - (st - s36)/(ct - c36)) END AS d36,
  CASE WHEN c37 > 0 AND c37 < ct THEN abs(s37/c37 - (st - s37)/(ct - c37)) END AS d37,
  CASE WHEN c38 > 0 AND c38 < ct THEN abs(s38/c38 - (st - s38)/(ct - c38)) END AS d38,
  CASE WHEN c39 > 0 AND c39 < ct THEN abs(s39/c39 - (st - s39)/(ct - c39)) END AS d39,
  CASE WHEN c40 > 0 AND c40 < ct THEN abs(s40/c40 - (st - s40)/(ct - c40)) END AS d40,
  CASE WHEN c41 > 0 AND c41 < ct THEN abs(s41/c41 - (st - s41)/(ct - c41)) END AS d41,
  CASE WHEN c42 > 0 AND c42 < ct THEN abs(s42/c42 - (st - s42)/(ct - c42)) END AS d42,
  CASE WHEN c43 > 0 AND c43 < ct THEN abs(s43/c43 - (st - s43)/(ct - c43)) END AS d43,
  CASE WHEN c44 > 0 AND c44 < ct THEN abs(s44/c44 - (st - s44)/(ct - c44)) END AS d44,
  CASE WHEN c45 > 0 AND c45 < ct THEN abs(s45/c45 - (st - s45)/(ct - c45)) END AS d45,
  CASE WHEN c46 > 0 AND c46 < ct THEN abs(s46/c46 - (st - s46)/(ct - c46)) END AS d46,
  CASE WHEN c47 > 0 AND c47 < ct THEN abs(s47/c47 - (st - s47)/(ct - c47)) END AS d47,
  CASE WHEN c48 > 0 AND c48 < ct THEN abs(s48/c48 - (st - s48)/(ct - c48)) END AS d48,
  CASE WHEN c49 > 0 AND c49 < ct THEN abs(s49/c49 - (st - s49)/(ct - c49)) END AS d49,
  CASE WHEN c50 > 0 AND c50 < ct THEN abs(s50/c50 - (st - s50)/(ct - c50)) END AS d50,
  CASE WHEN c51 > 0 AND c51 < ct THEN abs(s51/c51 - (st - s51)/(ct - c51)) END AS d51,
  CASE WHEN c52 > 0 AND c52 < ct THEN abs(s52/c52 - (st - s52)/(ct - c52)) END AS d52,
  CASE WHEN c53 > 0 AND c53 < ct THEN abs(s53/c53 - (st - s53)/(ct - c53)) END AS d53,
  CASE WHEN c54 > 0 AND c54 < ct THEN abs(s54/c54 - (st - s54)/(ct - c54)) END AS d54,
  CASE WHEN c55 > 0 AND c55 < ct THEN abs(s55/c55 - (st - s55)/(ct - c55)) END AS d55,
  CASE WHEN c56 > 0 AND c56 < ct THEN abs(s56/c56 - (st - s56)/(ct - c56)) END AS d56,
  CASE WHEN c57 > 0 AND c57 < ct THEN abs(s57/c57 - (st - s57)/(ct - c57)) END AS d57,
  CASE WHEN c58 > 0 AND c58 < ct THEN abs(s58/c58 - (st - s58)/(ct - c58)) END AS d58,
  CASE WHEN c59 > 0 AND c59 < ct THEN abs(s59/c59 - (st - s59)/(ct - c59)) END AS d59,
  CASE WHEN c60 > 0 AND c60 < ct THEN abs(s60/c60 - (st - s60)/(ct - c60)) END AS d60,
  CASE WHEN c61 > 0 AND c61 < ct THEN abs(s61/c61 - (st - s61)/(ct - c61)) END AS d61,
  CASE WHEN c62 > 0 AND c62 < ct THEN abs(s62/c62 - (st - s62)/(ct - c62)) END AS d62,
  CASE WHEN c63 > 0 AND c63 < ct THEN abs(s63/c63 - (st - s63)/(ct - c63)) END AS d63
  FROM agg),
score AS (SELECT obs, na, nb, sa, sb,
  (CASE WHEN d0 IS NOT NULL AND d0 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d1 IS NOT NULL AND d1 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d2 IS NOT NULL AND d2 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d3 IS NOT NULL AND d3 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d4 IS NOT NULL AND d4 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d5 IS NOT NULL AND d5 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d6 IS NOT NULL AND d6 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d7 IS NOT NULL AND d7 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d8 IS NOT NULL AND d8 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d9 IS NOT NULL AND d9 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d10 IS NOT NULL AND d10 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d11 IS NOT NULL AND d11 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d12 IS NOT NULL AND d12 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d13 IS NOT NULL AND d13 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d14 IS NOT NULL AND d14 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d15 IS NOT NULL AND d15 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d16 IS NOT NULL AND d16 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d17 IS NOT NULL AND d17 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d18 IS NOT NULL AND d18 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d19 IS NOT NULL AND d19 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d20 IS NOT NULL AND d20 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d21 IS NOT NULL AND d21 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d22 IS NOT NULL AND d22 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d23 IS NOT NULL AND d23 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d24 IS NOT NULL AND d24 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d25 IS NOT NULL AND d25 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d26 IS NOT NULL AND d26 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d27 IS NOT NULL AND d27 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d28 IS NOT NULL AND d28 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d29 IS NOT NULL AND d29 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d30 IS NOT NULL AND d30 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d31 IS NOT NULL AND d31 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d32 IS NOT NULL AND d32 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d33 IS NOT NULL AND d33 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d34 IS NOT NULL AND d34 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d35 IS NOT NULL AND d35 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d36 IS NOT NULL AND d36 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d37 IS NOT NULL AND d37 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d38 IS NOT NULL AND d38 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d39 IS NOT NULL AND d39 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d40 IS NOT NULL AND d40 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d41 IS NOT NULL AND d41 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d42 IS NOT NULL AND d42 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d43 IS NOT NULL AND d43 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d44 IS NOT NULL AND d44 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d45 IS NOT NULL AND d45 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d46 IS NOT NULL AND d46 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d47 IS NOT NULL AND d47 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d48 IS NOT NULL AND d48 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d49 IS NOT NULL AND d49 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d50 IS NOT NULL AND d50 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d51 IS NOT NULL AND d51 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d52 IS NOT NULL AND d52 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d53 IS NOT NULL AND d53 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d54 IS NOT NULL AND d54 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d55 IS NOT NULL AND d55 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d56 IS NOT NULL AND d56 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d57 IS NOT NULL AND d57 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d58 IS NOT NULL AND d58 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d59 IS NOT NULL AND d59 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d60 IS NOT NULL AND d60 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d61 IS NOT NULL AND d61 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d62 IS NOT NULL AND d62 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) + (CASE WHEN d63 IS NOT NULL AND d63 >= abs(obs) - 1e-12 THEN 1 ELSE 0 END) AS hits,
  (CASE WHEN d0 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d3 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d4 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d5 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d6 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d7 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d8 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d9 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d10 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d11 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d12 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d13 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d14 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d15 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d16 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d17 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d18 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d19 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d20 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d21 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d22 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d23 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d24 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d25 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d26 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d27 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d28 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d29 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d30 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d31 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d32 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d33 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d34 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d35 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d36 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d37 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d38 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d39 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d40 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d41 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d42 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d43 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d44 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d45 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d46 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d47 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d48 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d49 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d50 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d51 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d52 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d53 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d54 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d55 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d56 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d57 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d58 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d59 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d60 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d61 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d62 IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d63 IS NOT NULL THEN 1 ELSE 0 END) AS used
  FROM diffs)
SELECT round(obs, 6) AS obs_diff,
       round((1.0 + hits)/(used + 1.0), 6) AS p_value,
       CAST(64 AS INT) AS n_perms, CAST(used AS INT) AS n_used,
       round(sa/na, 6) AS mean_a, round(sb/nb, 6) AS mean_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM score
"""


def _q354(spark, sf_dir):
    """Euclidean Lloyd k-means fit + quality report (llm/similarity.py
    kmeans_report, k=4, 3 rounds) over the embeddings corpus: assignment
    is a pure Column argmin against centroid literals (zero shuffle of
    the corpus), recentering ONE (cid, dim)-wise avg aggregate;
    centroids round to 6dp per round so the oracle replays the fit
    bit-for-bit (the huber/cox unroll convention, extended to vectors)."""
    from polars_net_spark.llm.similarity import kmeans_report

    emb = _t(spark, sf_dir, "embeddings").spark
    return kmeans_report(emb, k=4, iters=3).spark


_q354_sql = """
WITH raw AS (SELECT vec_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings WHERE embedding IS NOT NULL),
pts AS (SELECT vec_id, v FROM raw),
init AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v
         FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT 4) AS t),
c0 AS (SELECT cid, list_transform(v, x -> round(x, 6)) AS c FROM init),
d0 AS (SELECT e.vec_id, e.v, c.cid,
               list_distance(e.v, c.c) AS dd
        FROM pts e CROSS JOIN c0 c),
a0 AS (SELECT vec_id, v, cid FROM d0
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dd, cid) = 1),
m0 AS (SELECT cid, u.i AS dim, round(avg(v[u.i]), 6) AS mv
        FROM a0, LATERAL unnest(generate_series(1, 64)) AS u(i)
        GROUP BY 1, 2),
n0 AS (SELECT cid, list(mv ORDER BY dim) AS c FROM m0 GROUP BY 1),
c1 AS (SELECT p.cid, coalesce(n.c, p.c) AS c
           FROM c0 p LEFT JOIN n0 n ON p.cid = n.cid),
d1 AS (SELECT e.vec_id, e.v, c.cid,
               list_distance(e.v, c.c) AS dd
        FROM pts e CROSS JOIN c1 c),
a1 AS (SELECT vec_id, v, cid FROM d1
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dd, cid) = 1),
m1 AS (SELECT cid, u.i AS dim, round(avg(v[u.i]), 6) AS mv
        FROM a1, LATERAL unnest(generate_series(1, 64)) AS u(i)
        GROUP BY 1, 2),
n1 AS (SELECT cid, list(mv ORDER BY dim) AS c FROM m1 GROUP BY 1),
c2 AS (SELECT p.cid, coalesce(n.c, p.c) AS c
           FROM c1 p LEFT JOIN n1 n ON p.cid = n.cid),
d2 AS (SELECT e.vec_id, e.v, c.cid,
               list_distance(e.v, c.c) AS dd
        FROM pts e CROSS JOIN c2 c),
a2 AS (SELECT vec_id, v, cid FROM d2
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dd, cid) = 1),
m2 AS (SELECT cid, u.i AS dim, round(avg(v[u.i]), 6) AS mv
        FROM a2, LATERAL unnest(generate_series(1, 64)) AS u(i)
        GROUP BY 1, 2),
n2 AS (SELECT cid, list(mv ORDER BY dim) AS c FROM m2 GROUP BY 1),
c3 AS (SELECT p.cid, coalesce(n.c, p.c) AS c
           FROM c2 p LEFT JOIN n2 n ON p.cid = n.cid),
df AS (SELECT e.vec_id, c.cid, list_distance(e.v, c.c) AS dd
       FROM pts e CROSS JOIN c3 c),
fin AS (SELECT vec_id, cid, dd*dd AS d2 FROM df
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dd, cid) = 1),
norms AS (SELECT cid, sqrt(list_sum(list_transform(c, x -> x*x))) AS nrm
          FROM c3)
SELECT CAST(f.cid AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(f.d2), 6) AS inertia,
       round(max(norms.nrm), 6) AS centroid_norm
FROM fin f JOIN norms ON f.cid = norms.cid
GROUP BY 1
"""




def _q355(spark, sf_dir):
    """DAU/MAU stickiness per calendar month (operators/analytics.py
    stickiness_report) over events: one exact (month, day, user)
    dedup feeds both the avg-DAU and the MAU aggregate — the product-
    analytics habit ratio."""
    from polars_net_spark.operators.analytics import stickiness_report

    ev = _t(spark, sf_dir, "events").spark
    out = stickiness_report(ev, "ts", "user_id").spark
    # month as timestamp for the oracle compare (date vs datetime64 dtype)
    return out.withColumn("month", F.col("month").cast("timestamp"))


_q355_sql = """
WITH base AS (SELECT DISTINCT date_trunc('month', ts) AS m,
                              CAST(ts AS DATE) AS d, user_id AS u
              FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
dau AS (SELECT m, d, count(DISTINCT u)*1.0 AS dau FROM base GROUP BY 1, 2),
pm AS (SELECT m, count(*) AS nd, avg(dau) AS avg_dau FROM dau GROUP BY 1),
mau AS (SELECT m, count(DISTINCT u) AS mau FROM base GROUP BY 1)
SELECT pm.m AS month, CAST(nd AS BIGINT) AS n_days_active,
       round(avg_dau, 6) AS avg_dau, CAST(mau.mau AS BIGINT) AS mau,
       round(avg_dau/mau.mau, 6) AS stickiness
FROM pm JOIN mau ON pm.m = mau.m
ORDER BY 1
"""


def _q356(spark, sf_dir):
    """Power-user activity curve (operators/analytics.py
    power_user_curve) over events: (user, day) dedup -> per-user
    active-day count -> histogram; the share window runs over the
    BOUNDED histogram only."""
    from polars_net_spark.operators.analytics import power_user_curve

    ev = _t(spark, sf_dir, "events").spark
    return power_user_curve(ev, "ts", "user_id").spark


_q356_sql = """
WITH per_user AS (SELECT user_id, count(DISTINCT CAST(ts AS DATE)) AS k
                  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                  GROUP BY 1),
hist AS (SELECT k, count(*)*1.0 AS n FROM per_user GROUP BY 1),
tot AS (SELECT sum(n) AS t FROM hist)
SELECT CAST(k AS BIGINT) AS active_days, CAST(n AS BIGINT) AS n_users,
       round(n/t, 6) AS share
FROM hist, tot
ORDER BY 1
"""


def _q357(spark, sf_dir):
    """Corpus chrF (llm/evaluation.py chrf_corpus, orders 1-6, beta=2) of
    the truncated-hypothesis corpus against the originals: per-doc clipped
    matches via the packed-long sorted run-length fold (zero Exchange
    before the single 1-row reduce), whitespace-stripped per the sacreBLEU
    convention — the morphology-robust companion to q350's word BLEU."""
    from polars_net_spark.llm.evaluation import chrf_corpus

    d = _t(spark, sf_dir, "documents").spark
    ws = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda w: F.length(w) > 0,
    )
    # full-length corpus: the r9 240-char cap is gone — the packed-long
    # run-length fold (llm/evaluation.py _clip_long) made the operator
    # cheap enough to gate uncapped
    pairs = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.array_join(
            F.slice(ws, 1, F.greatest(F.size(ws) - 2, F.lit(0))), " "
        ).alias("hyp"),
        F.lower(F.col("text")).alias("ref"),
    )
    return chrf_corpus(pairs, "hyp", "ref", "doc_id").spark


_q357_sql = """
WITH p0 AS (SELECT doc_id,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                w -> length(w) > 0) AS wr,
    lower(text) AS ref
  FROM documents WHERE text IS NOT NULL),
pairs AS (SELECT doc_id,
    array_to_string(list_slice(wr, 1, greatest(len(wr) - 2, 0)), ' ') AS hyp,
    ref
  FROM p0),
stripped AS (SELECT doc_id,
    regexp_replace(hyp, '\\s+', '', 'g') AS h,
    regexp_replace(ref, '\\s+', '', 'g') AS r
  FROM pairs),
hg AS (SELECT n, doc_id, g, count(*) AS c FROM (
      SELECT 1 AS n, doc_id, substr(h, i, 1) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 1 + 1)) AS u(i)
      UNION ALL SELECT 2 AS n, doc_id, substr(h, i, 2) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 2 + 1)) AS u(i)
      UNION ALL SELECT 3 AS n, doc_id, substr(h, i, 3) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 3 + 1)) AS u(i)
      UNION ALL SELECT 4 AS n, doc_id, substr(h, i, 4) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 4 + 1)) AS u(i)
      UNION ALL SELECT 5 AS n, doc_id, substr(h, i, 5) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 5 + 1)) AS u(i)
      UNION ALL SELECT 6 AS n, doc_id, substr(h, i, 6) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(h) - 6 + 1)) AS u(i)
  ) AS t GROUP BY 1, 2, 3),
rg AS (SELECT n, doc_id, g, count(*) AS c FROM (
      SELECT 1 AS n, doc_id, substr(r, i, 1) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 1 + 1)) AS u(i)
      UNION ALL SELECT 2 AS n, doc_id, substr(r, i, 2) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 2 + 1)) AS u(i)
      UNION ALL SELECT 3 AS n, doc_id, substr(r, i, 3) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 3 + 1)) AS u(i)
      UNION ALL SELECT 4 AS n, doc_id, substr(r, i, 4) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 4 + 1)) AS u(i)
      UNION ALL SELECT 5 AS n, doc_id, substr(r, i, 5) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 5 + 1)) AS u(i)
      UNION ALL SELECT 6 AS n, doc_id, substr(r, i, 6) AS g
      FROM stripped, LATERAL unnest(generate_series(1, length(r) - 6 + 1)) AS u(i)
  ) AS t GROUP BY 1, 2, 3),
per_n AS (SELECT coalesce(hg.n, rg.n) AS n,
                 sum(least(coalesce(hg.c, 0), coalesce(rg.c, 0))) AS m,
                 sum(coalesce(hg.c, 0)) AS h,
                 sum(coalesce(rg.c, 0)) AS r
          FROM hg FULL JOIN rg
            ON hg.n = rg.n AND hg.doc_id = rg.doc_id AND hg.g = rg.g
          GROUP BY 1),
means AS (SELECT avg(CASE WHEN h > 0 THEN m*1.0/h END) AS pm,
                 avg(CASE WHEN r > 0 THEN m*1.0/r END) AS rm
          FROM per_n),
nd AS (SELECT count(*) AS n_docs FROM pairs)
SELECT round(CASE WHEN 4*pm + rm > 0 THEN 5*pm*rm/(4*pm + rm)
             ELSE 0.0 END, 6) AS chrf,
       round(pm, 6) AS prec_mean, round(rm, 6) AS rec_mean,
       CAST(n_docs AS BIGINT) AS n_docs
FROM means, nd
"""




def _q358(spark, sf_dir):
    """Multi-source BFS hop distances (operators/graph.py bfs_distances,
    sources {0, 100}) on the q349 island graph: monotone min-distance
    propagation, per round one union + min aggregate over vertex-keyed
    equi-joins; the oracle unrolls 6 MATERIALIZED rounds past the
    fixpoint."""
    from polars_net_spark.operators.graph import bfs_distances

    ev = _t(spark, sf_dir, "events").spark
    s = F.col("user_id") % 1000
    d = F.floor(s / 20) * 20 + (s + F.col("event_id")) % 20
    edges = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
    ).select(s.alias("src"), d.cast("long").alias("dst"))
    return bfs_distances(edges, [0, 100]).spark


_q358_sql = """
WITH raw AS (SELECT user_id % 1000 AS s,
                    CAST(floor((user_id % 1000)/20)*20
                         + (user_id % 1000 + event_id) % 20 AS BIGINT) AS d
             FROM events
             WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
e AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
      FROM raw WHERE s <> d),
b0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS d
                    FROM (VALUES (CAST(0 AS BIGINT)),
                                 (CAST(100 AS BIGINT))) AS t(v)),
b1 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b0
    UNION ALL SELECT e.b AS v, b0.d + 1 AS d FROM b0 JOIN e ON b0.v = e.a
    UNION ALL SELECT e.a AS v, b0.d + 1 AS d FROM b0 JOIN e ON b0.v = e.b
  ) AS t GROUP BY v),
b2 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b1
    UNION ALL SELECT e.b AS v, b1.d + 1 AS d FROM b1 JOIN e ON b1.v = e.a
    UNION ALL SELECT e.a AS v, b1.d + 1 AS d FROM b1 JOIN e ON b1.v = e.b
  ) AS t GROUP BY v),
b3 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b2
    UNION ALL SELECT e.b AS v, b2.d + 1 AS d FROM b2 JOIN e ON b2.v = e.a
    UNION ALL SELECT e.a AS v, b2.d + 1 AS d FROM b2 JOIN e ON b2.v = e.b
  ) AS t GROUP BY v),
b4 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b3
    UNION ALL SELECT e.b AS v, b3.d + 1 AS d FROM b3 JOIN e ON b3.v = e.a
    UNION ALL SELECT e.a AS v, b3.d + 1 AS d FROM b3 JOIN e ON b3.v = e.b
  ) AS t GROUP BY v),
b5 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b4
    UNION ALL SELECT e.b AS v, b4.d + 1 AS d FROM b4 JOIN e ON b4.v = e.a
    UNION ALL SELECT e.a AS v, b4.d + 1 AS d FROM b4 JOIN e ON b4.v = e.b
  ) AS t GROUP BY v),
b6 AS MATERIALIZED (SELECT v, min(d) AS d FROM (
    SELECT v, d FROM b5
    UNION ALL SELECT e.b AS v, b5.d + 1 AS d FROM b5 JOIN e ON b5.v = e.a
    UNION ALL SELECT e.a AS v, b5.d + 1 AS d FROM b5 JOIN e ON b5.v = e.b
  ) AS t GROUP BY v)
SELECT v AS id, CAST(d AS BIGINT) AS distance FROM b6
"""


def _q359(spark, sf_dir):
    """Weibull fit by median-rank regression (operators/analytics.py
    weibull_fit) on order totals: distinct-value cells + one distsort
    prefix pass assign each cell its rank block, a bounded
    sequence-explode materializes (ln x, Benard rank) pairs, one fused
    OLS moment reduce — shape/scale in closed form where the MLE
    iterates."""
    from polars_net_spark.operators.analytics import weibull_fit

    o = _t(spark, sf_dir, "orders").spark
    return weibull_fit(o, "o_totalprice").spark


_q359_sql = """
WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
           WHERE o_totalprice IS NOT NULL),
nall AS (SELECT count(*) AS n_all FROM b),
pos AS (SELECT v FROM b WHERE v > 0),
cells AS (SELECT v, count(*)*1.0 AS c FROM pos GROUP BY 1),
pre AS (SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND 1 PRECEDING), 0) AS c0
        FROM cells),
n AS (SELECT sum(c) AS n FROM cells),
pairs AS (SELECT ln(v) AS x,
                 ln(-ln(1.0 - (u.i - 0.3)/(n.n + 0.4))) AS y
          FROM pre, n,
               LATERAL unnest(generate_series(CAST(c0 AS BIGINT) + 1,
                              CAST(c0 + c AS BIGINT))) AS u(i)),
m AS (SELECT sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx,
             sum(x*y) AS sxy, sum(y*y) AS syy FROM pairs),
k AS (SELECT (n*sxy - sx*sy)/(n*sxx - sx*sx) AS kk,
             (sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n AS inter,
             (sxy - sx*sy/n) AS cxy, (sxx - sx*sx/n) AS cxx,
             (syy - sy*sy/n) AS cyy, n
      FROM m, n)
SELECT round(kk, 6) AS shape_k, round(exp(-inter/kk), 6) AS scale_lambda,
       round(CASE WHEN cxx > 0 AND cyy > 0 THEN cxy*cxy/(cxx*cyy)
                  ELSE 1.0 END, 6) AS r2,
       CAST(n AS BIGINT) AS n,
       CAST(n_all - n AS BIGINT) AS n_excluded
FROM k, nall
"""


def _q360(spark, sf_dir):
    """Chapman capture-recapture estimate (operators/analytics.py
    chapman_estimate) of the total customer population from its urgent
    and high-priority order "sightings": one key-grouped conditional-max
    aggregate + one fused reduce — never a distinct-distinct join."""
    from polars_net_spark.operators.analytics import chapman_estimate

    o = _t(spark, sf_dir, "orders").spark
    return chapman_estimate(
        o, "o_custkey", "o_orderpriority", "1-URGENT", "2-HIGH"
    ).spark


_q360_sql = """
WITH base AS (SELECT o_custkey AS k,
                     max(CASE WHEN o_orderpriority = '1-URGENT'
                              THEN 1 ELSE 0 END) AS a,
                     max(CASE WHEN o_orderpriority = '2-HIGH'
                              THEN 1 ELSE 0 END) AS b
              FROM orders
              WHERE o_custkey IS NOT NULL
                AND o_orderpriority IN ('1-URGENT', '2-HIGH')
              GROUP BY 1),
r AS (SELECT sum(a)*1.0 AS na, sum(b)*1.0 AS nb, sum(a*b)*1.0 AS m
      FROM base)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(m AS BIGINT) AS n_both,
       round((na+1)*(nb+1)/(m+1) - 1, 6) AS chapman_n,
       round(sqrt((na+1)*(nb+1)*(na-m)*(nb-m)/(pow(m+1, 2)*(m+2))), 6) AS se
FROM r
"""




def _q361(spark, sf_dir):
    """ELEVENTH streaming gate — STREAM-STREAM LEFT OUTER interval join
    with watermark-driven unmatched emission (the abandoned-cart shape:
    every click, matched to a purchase within 1h or emitted null once
    its window provably closed).  Matched pairs emit in the data batch;
    unmatched clicks flush in the trailing no-data batch when the final
    watermark (maxTs − 1h) passes their join window (cts + 1h) — Spark's
    documented outer-join semantics, verified row-exact here.  Clicks in
    the 1-minute boundary band around maxTs − 2h stay in state by
    design, so BOTH engines filter to the provably-flushed set: matched
    OR cts ≤ maxTs − 2h − 1min — the oracle is then a plain batch left
    join."""
    import datetime as _dt

    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 100000)
            .parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("user_id") % 10 == 1)
        )

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    buys = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("bu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("bts"),
        )
        .withWatermark("bts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("cu") == F.col("bu"))
        & (F.col("bts") >= F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    out = joined.select(
        F.col("cu").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("bts")) - F.unix_micros(F.col("cts"))).alias(
            "lag_us"
        ),
        F.col("cts"),
    )
    _memory_stream_gate(spark, out, "q361_outer_join", "append", timeout=180)
    mx = (
        spark.read.schema(schema).parquet(src_dir)
        .filter(F.col("user_id") % 10 == 1)
        .agg(F.max(F.col("ts").cast("timestamp")))
        .first()[0]
    )
    thr = mx - _dt.timedelta(hours=2, minutes=1)
    t = spark.table("q361_outer_join")
    return t.filter(
        F.col("purchase_id").isNotNull() | (F.col("cts") <= F.lit(thr))
    ).select("user_id", "click_id", "purchase_id", "lag_us")


_q361_sql = """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
            FROM events WHERE user_id % 10 = 1),
mx AS (SELECT max(ts) AS mt FROM ev),
c AS (SELECT user_id AS cu, event_id AS click_id, ts AS cts FROM ev
      WHERE event_type = 'click'),
b AS (SELECT user_id AS bu, event_id AS purchase_id, ts AS bts FROM ev
      WHERE event_type = 'purchase')
SELECT c.cu AS user_id, c.click_id, b.purchase_id,
       CAST(date_diff('microsecond', c.cts, b.bts) AS BIGINT) AS lag_us
FROM c LEFT JOIN b
  ON c.cu = b.bu AND b.bts >= c.cts AND b.bts <= c.cts + INTERVAL 1 HOUR,
  mx
WHERE b.purchase_id IS NOT NULL
   OR c.cts <= mx.mt - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
"""




def _q362(spark, sf_dir):
    """First-order partial correlation (operators/regression.py
    partial_corr): does extended price still track quantity once
    discount is held fixed?  Nine pairwise power sums in ONE fused
    all-reduce, driver arithmetic after."""
    from polars_net_spark.operators.regression import partial_corr

    li = _t(spark, sf_dir, "lineitem").spark
    return partial_corr(li, "l_quantity", "l_extendedprice", "l_discount").spark


_q362_sql = """
WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_extendedprice AS DOUBLE) AS y,
                  CAST(l_discount AS DOUBLE) AS z
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(x) AS sx, sum(y) AS sy, sum(z) AS sz,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(z*z) AS szz,
             sum(x*y) AS sxy, sum(x*z) AS sxz, sum(y*z) AS syz
      FROM b),
c AS (SELECT n,
  (sxy - sx*sy/n)/sqrt((sxx - sx*sx/n)*(syy - sy*sy/n)) AS rxy,
  (sxz - sx*sz/n)/sqrt((sxx - sx*sx/n)*(szz - sz*sz/n)) AS rxz,
  (syz - sy*sz/n)/sqrt((syy - sy*sy/n)*(szz - sz*sz/n)) AS ryz
  FROM m)
SELECT round((rxy - rxz*ryz)/sqrt((1 - rxz*rxz)*(1 - ryz*ryz)), 6)
         AS partial_r,
       round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
       CAST(n AS BIGINT) AS n
FROM c
"""


def _q363(spark, sf_dir):
    """Three-way MLE distribution shootout (operators/regression.py
    distribution_compare) on order totals: normal vs lognormal vs
    exponential log-likelihoods all closed over ONE fused power-sum
    reduce, AIC argmin names the winner."""
    from polars_net_spark.operators.regression import distribution_compare

    o = _t(spark, sf_dir, "orders").spark
    return distribution_compare(o, "o_totalprice").spark


_q363_sql = """
WITH allv AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
              WHERE o_totalprice IS NOT NULL),
na AS (SELECT count(*) AS n_all FROM allv),
m AS (SELECT count(*)*1.0 AS n, sum(v) AS s1, sum(v*v) AS s2,
             sum(ln(v)) AS l1, sum(ln(v)*ln(v)) AS l2
      FROM allv WHERE v > 0),
c AS (SELECT n,
             s2/n - (s1/n)*(s1/n) AS var_n,
             l2/n - (l1/n)*(l1/n) AS var_ln,
             s1/n AS mean, l1
      FROM m),
ll AS (SELECT n,
              -n/2.0*(ln(2*pi()*var_n) + 1.0) AS ll_n,
              -n/2.0*(ln(2*pi()*var_ln) + 1.0) - l1 AS ll_ln,
              -n*(ln(mean) + 1.0) AS ll_e
       FROM c),
aic AS (SELECT n, ll_n, ll_ln, ll_e,
               4 - 2*ll_n AS a_n, 4 - 2*ll_ln AS a_ln, 2 - 2*ll_e AS a_e
        FROM ll)
SELECT CAST(n AS BIGINT) AS n,
       CAST((SELECT n_all FROM na) - n AS BIGINT) AS n_excluded,
       round(ll_n, 6) AS ll_normal, round(ll_ln, 6) AS ll_lognormal,
       round(ll_e, 6) AS ll_exponential,
       round(a_n, 6) AS aic_normal, round(a_ln, 6) AS aic_lognormal,
       round(a_e, 6) AS aic_exponential,
       CASE WHEN a_e <= least(a_ln, a_n) THEN 'exponential'
            WHEN a_ln <= a_n THEN 'lognormal'
            ELSE 'normal' END AS preferred
FROM aic
"""


def _q364(spark, sf_dir):
    """Negative-binomial method-of-moments fit (operators/regression.py
    negbin_fit) on a deterministic zero-inflated event-count mixture
    (uniform body + a 1-in-5-user surge): one fused (n, Σx, Σx²)
    all-reduce; the operator REFUSES underdispersed data — that refusal
    is the Poisson-vs-NB diagnostic."""
    from polars_net_spark.operators.regression import negbin_fit

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        (
            (F.col("event_id") % 7)
            + F.when(F.col("user_id") % 5 == 0, 12).otherwise(0)
        ).alias("c")
    )
    return negbin_fit(d, "c").spark


_q364_sql = """
WITH b AS (SELECT CAST(event_id % 7
                       + CASE WHEN user_id % 5 = 0 THEN 12 ELSE 0 END
                       AS DOUBLE) AS v
           FROM events
           WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(v) AS s1, sum(v*v) AS s2 FROM b),
c AS (SELECT n, s1/n AS mean, (s2 - s1*s1/n)/(n - 1) AS var FROM m)
SELECT CAST(n AS BIGINT) AS n, round(mean, 6) AS mean,
       round(var, 6) AS variance, round(var/mean, 6) AS dispersion,
       round(mean*mean/(var - mean), 6) AS r, round(mean/var, 6) AS p
FROM c
"""


def _q365(spark, sf_dir):
    """Empirical-Bayes shrunken per-segment error rates
    (operators/analytics.py eb_shrunk_rates): the beta-binomial prior is
    LEARNED from the population of segment rates (method of moments),
    then every segment shrinks by its own sample size — one keyed
    aggregate, one 1-row moment reduce, one map-only shrink."""
    from polars_net_spark.operators.analytics import eb_shrunk_rates

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        (F.col("user_id") % 500).alias("seg"),
        (F.col("event_type") == "error").cast("int").alias("y"),
    )
    return eb_shrunk_rates(d, "seg", "y").spark


_q365_sql = """
WITH b AS (SELECT user_id % 500 AS seg,
                  CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS y
           FROM events
           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
pk AS (SELECT seg, count(*)*1.0 AS n, sum(y) AS s FROM b GROUP BY 1),
mom AS (SELECT avg(s/n) AS m, var_samp(s/n) AS v FROM pk),
ab AS (SELECT m*(m*(1-m)/v - 1.0) AS alpha,
              (1-m)*(m*(1-m)/v - 1.0) AS beta
       FROM mom)
SELECT seg, CAST(n AS BIGINT) AS trials, CAST(s AS BIGINT) AS successes,
       round(s/n, 6) AS raw_rate,
       round((s + alpha)/(n + alpha + beta), 6) AS eb_rate,
       round(alpha, 6) AS alpha, round(beta, 6) AS beta
FROM pk, ab
"""




def _q366(spark, sf_dir):
    """Sharp regression-discontinuity estimate (operators/regression.py
    rdd_estimate) on a synthetic threshold design over events (a 5-unit
    outcome jump at running-variable 0): both side-fits from ONE fused
    conditional all-reduce of the local-linear power sums."""
    from polars_net_spark.operators.regression import rdd_estimate

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        ((F.col("event_id") % 200) / 100.0 - 1.0).alias("x"),
        (
            F.col("value")
            + F.when((F.col("event_id") % 200) / 100.0 - 1.0 >= 0, 5.0)
            .otherwise(0.0)
            + 0.5 * ((F.col("event_id") % 200) / 100.0 - 1.0)
        ).alias("y"),
    )
    return rdd_estimate(d, "x", "y", cutoff=0.0, bandwidth=1.0).spark


_q366_sql = """
WITH b AS (SELECT (event_id % 200)/100.0 - 1.0 AS x,
                  value + CASE WHEN (event_id % 200)/100.0 - 1.0 >= 0
                               THEN 5.0 ELSE 0.0 END
                        + 0.5*((event_id % 200)/100.0 - 1.0) AS y
           FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
w AS (SELECT x, y, x >= 0 AS r FROM b WHERE x >= -1.0 AND x <= 1.0),
m AS (SELECT
  sum(CASE WHEN r THEN 1.0 ELSE 0 END) AS nr,
  sum(CASE WHEN r THEN x ELSE 0 END) AS sxr,
  sum(CASE WHEN r THEN y ELSE 0 END) AS syr,
  sum(CASE WHEN r THEN x*x ELSE 0 END) AS sxxr,
  sum(CASE WHEN r THEN x*y ELSE 0 END) AS sxyr,
  sum(CASE WHEN r THEN y*y ELSE 0 END) AS syyr,
  sum(CASE WHEN NOT r THEN 1.0 ELSE 0 END) AS nl,
  sum(CASE WHEN NOT r THEN x ELSE 0 END) AS sxl,
  sum(CASE WHEN NOT r THEN y ELSE 0 END) AS syl,
  sum(CASE WHEN NOT r THEN x*x ELSE 0 END) AS sxxl,
  sum(CASE WHEN NOT r THEN x*y ELSE 0 END) AS sxyl,
  sum(CASE WHEN NOT r THEN y*y ELSE 0 END) AS syyl
  FROM w),
f AS (SELECT
  (nr*sxyr - sxr*syr)/(nr*sxxr - sxr*sxr) AS br,
  (nl*sxyl - sxl*syl)/(nl*sxxl - sxl*sxl) AS bl,
  nr, nl, sxr, syr, sxxr, sxyr, syyr, sxl, syl, sxxl, sxyl, syyl
  FROM m),
g AS (SELECT br, bl, nr, nl,
  (syr - br*sxr)/nr AS ar, (syl - bl*sxl)/nl AS al,
  (syyr - (syr - br*sxr)/nr*syr - br*sxyr)/(nr - 2)
    * sxxr/(nr*sxxr - sxr*sxr) AS var_ar,
  (syyl - (syl - bl*sxl)/nl*syl - bl*sxyl)/(nl - 2)
    * sxxl/(nl*sxxl - sxl*sxl) AS var_al
  FROM f)
SELECT round(ar - al, 6) AS effect,
       round(sqrt(greatest(var_ar, 0) + greatest(var_al, 0)), 6) AS se,
       round((ar - al)/sqrt(greatest(var_ar, 0) + greatest(var_al, 0)), 6)
         AS z,
       round(al, 6) AS a_left, round(ar, 6) AS a_right,
       round(bl, 6) AS slope_left, round(br, 6) AS slope_right,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right
FROM g
"""


def _q367(spark, sf_dir):
    """Propensity-stratification ATE (operators/regression.py
    stratified_ate, 10 strata) on a synthetic confounded design over
    events (treatment probability rises with the score that also drives
    the outcome — the naive diff is biased, the stratified estimate
    recovers the 2.0 effect): one stratum×arm fused aggregate, driver
    combine over ≤10 rows."""
    from polars_net_spark.operators.regression import stratified_ate

    ev = _t(spark, sf_dir, "events").spark
    s = (F.col("user_id") % 100) / 100.0
    t = ((F.col("event_id") % 100) < (F.col("user_id") % 100)).cast("int")
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        (F.col("value") + 2.0 * t + 3.0 * s).alias("y"),
        t.alias("t"),
        s.alias("s"),
    )
    return stratified_ate(d, "y", "t", "s", n_strata=10).spark


_q367_sql = """
WITH b AS (SELECT value + 2.0*t + 3.0*s AS y, t, s FROM (
             SELECT value, (user_id % 100)/100.0 AS s,
                    CASE WHEN (event_id % 100) < (user_id % 100)
                         THEN 1 ELSE 0 END AS t
             FROM events
             WHERE event_id IS NOT NULL AND user_id IS NOT NULL
               AND value IS NOT NULL) AS i),
strat AS (SELECT least(9, greatest(0, CAST(floor(s*10) AS INT))) AS b,
                 count(CASE WHEN t = 1 THEN 1 END)*1.0 AS nt,
                 sum(CASE WHEN t = 1 THEN y END) AS st,
                 sum(CASE WHEN t = 1 THEN y*y END) AS qt,
                 count(CASE WHEN t = 0 THEN 1 END)*1.0 AS nc,
                 sum(CASE WHEN t = 0 THEN y END) AS sc,
                 sum(CASE WHEN t = 0 THEN y*y END) AS qc
          FROM b GROUP BY 1),
ok AS (SELECT nt + nc AS w, st/nt - sc/nc AS d,
              (qt - st*st/nt)/(nt - 1)/nt + (qc - sc*sc/nc)/(nc - 1)/nc AS v
       FROM strat WHERE nt >= 2 AND nc >= 2),
drop_ AS (SELECT count(*) AS ds, coalesce(sum(nt + nc), 0) AS dr
          FROM strat WHERE nt < 2 OR nc < 2),
comb AS (SELECT sum(w) AS n_used, sum(w*d)/sum(w) AS ate,
                sum(pow(w/(SELECT sum(w) FROM ok), 2)*v) AS var,
                count(*) AS used
         FROM ok)
SELECT round(ate, 6) AS ate, round(sqrt(var), 6) AS se,
       CAST(n_used AS BIGINT) AS n, CAST(used AS BIGINT) AS n_strata_used,
       CAST(ds AS BIGINT) AS n_dropped_strata,
       CAST(dr AS BIGINT) AS n_dropped_rows
FROM comb, drop_
"""


def _q368(spark, sf_dir):
    """Survey-weighted mean with Kish effective sample size
    (operators/regression.py weighted_mean_report) on importance-
    weighted event values: the deff/n_eff honesty numbers for weighted
    corpora, ONE fused six-power-sum reduce."""
    from polars_net_spark.operators.regression import weighted_mean_report

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("x"),
        ((F.col("event_id") % 10) + 1).cast("double").alias("w"),
    )
    return weighted_mean_report(d, "x", "w").spark


_q368_sql = """
WITH b AS (SELECT CAST(value AS DOUBLE) AS x,
                  CAST(event_id % 10 + 1 AS DOUBLE) AS w
           FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(w) AS sw, sum(w*x) AS swx,
             sum(w*x*x) AS swxx, sum(w*w) AS sww, sum(w*w*x) AS swwx,
             sum(w*w*x*x) AS swwxx
      FROM b WHERE w > 0),
c AS (SELECT n, sw, sww, swx/sw AS mean,
             swxx/sw - (swx/sw)*(swx/sw) AS wvar,
             swwxx - 2*(swx/sw)*swwx + (swx/sw)*(swx/sw)*sww AS s2
      FROM m)
SELECT round(mean, 6) AS weighted_mean,
       round(sqrt(greatest(s2, 0))/sw, 6) AS se,
       CAST(n AS BIGINT) AS n, round(sw*sw/sww, 6) AS n_eff,
       round(n/(sw*sw/sww), 6) AS deff, round(wvar, 6) AS weighted_var
FROM c
"""


def _q369(spark, sf_dir):
    """Yule's K vocabulary-richness + hapax share (llm/text.py yules_k)
    over the documents corpus: word counts -> frequency-of-frequency
    spectrum -> one fused reduce; the length-invariant repetitiveness
    fingerprint beside q286's Zipf slope and q313's Heaps curve."""
    from polars_net_spark.llm.text import yules_k

    d = _t(spark, sf_dir, "documents").spark
    return yules_k(d, "text").spark


_q369_sql = """
WITH w AS (SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'),
             x -> length(x) > 0)) AS w
           FROM documents WHERE text IS NOT NULL),
c AS (SELECT w, count(*) AS m FROM w GROUP BY 1),
spec AS (SELECT m, count(*)*1.0 AS vm FROM c GROUP BY 1),
r AS (SELECT sum(m*vm) AS n, sum(m*m*vm) AS m2v, sum(vm) AS types,
             coalesce(sum(CASE WHEN m = 1 THEN vm END), 0) AS hapax
      FROM spec)
SELECT round(1e4*(m2v - n)/(n*n), 6) AS yules_k,
       CAST(n AS BIGINT) AS n_tokens, CAST(types AS BIGINT) AS n_types,
       CAST(hapax AS BIGINT) AS hapax_count,
       round(hapax/types, 6) AS hapax_share
FROM r
"""




def _q370(spark, sf_dir):
    """Additive Holt-Winters seasonal forecast per event-type series
    (operators/analytics.py holt_winters, period 7, horizon 3): the
    triple-smoothing recurrence folds as ONE codegen array expression
    with a rotating seasonal queue in the struct state — zero Python;
    the oracle replays the identical fold via list_reduce on a flat
    [level, trend, s1..s7] state (the q288 convention extended to a
    vector state)."""
    from polars_net_spark.operators.analytics import holt_winters

    ev = _t(spark, sf_dir, "events").spark
    daily = (
        ev.filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2020-01-01").cast("date"))
            .alias("t"),
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    return holt_winters(
        daily, "v", "t", period=7, by="event_type",
        alpha=0.3, beta=0.1, gamma=0.1, horizon=3,
    ).spark


_q370_sql = """
WITH daily AS (SELECT event_type,
                      date_diff('day', DATE '2020-01-01', CAST(ts AS DATE))
                        AS t,
                      round(sum(value), 6) AS v
               FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
               GROUP BY 1, 2),
s AS (SELECT event_type, list(v ORDER BY t) AS xs FROM daily GROUP BY 1),
ini AS (SELECT event_type, xs, len(xs) AS n,
               list_sum(xs[1:7])/7.0 AS l0,
               (list_sum(xs[8:14])/7.0 - list_sum(xs[1:7])/7.0)/7.0 AS b0
        FROM s),
f AS (SELECT event_type, n,
             list_reduce(
               list_prepend(
                 list_concat([l0, b0],
                             list_transform(xs[1:7], x -> x - l0)),
                 list_transform(xs[8:], x -> [x])),
               (acc, xe) -> list_concat(list_concat(
                 [0.3*(xe[1] - acc[3]) + (1.0-0.3)*(acc[1] + acc[2]),
                  0.1*((0.3*(xe[1] - acc[3]) + (1.0-0.3)*(acc[1] + acc[2])) - acc[1]) + (1.0-0.1)*acc[2]],
                 acc[4:]),
                 [0.1*(xe[1] - (0.3*(xe[1] - acc[3]) + (1.0-0.3)*(acc[1] + acc[2]))) + (1.0-0.1)*acc[3]])
             ) AS st
      FROM ini)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round(CASE WHEN n >= 14 THEN st[1] END, 6) AS level,
       round(CASE WHEN n >= 14 THEN st[2] END, 6) AS trend,
       round(CASE WHEN n >= 14 THEN st[5] END, 6) AS seasonal_next,
       round(CASE WHEN n >= 14
             THEN st[1] + 3.0*st[2] + st[5] END, 6) AS forecast
FROM f
"""


def _q371(spark, sf_dir):
    """Baron-Kenny mediation analysis (operators/regression.py
    mediation_report): how much of quantity's effect on revenue flows
    through extended price?  Every regression (m~x, y~x, y~x+m) closes
    over ONE fused nine-power-sum all-reduce; Sobel z for the indirect
    path."""
    from polars_net_spark.operators.regression import mediation_report

    li = _t(spark, sf_dir, "lineitem").spark
    d = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("m"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
    )
    return mediation_report(d, "x", "m", "y").spark


_q371_sql = """
WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_extendedprice AS DOUBLE) AS m,
                  CAST(l_extendedprice*(1 - l_discount) AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
mm AS (SELECT count(*)*1.0 AS n, sum(x) AS sx, sum(m) AS sm, sum(y) AS sy,
              sum(x*x) AS sxx, sum(m*m) AS smm, sum(y*y) AS syy,
              sum(x*m) AS sxm, sum(x*y) AS sxy, sum(m*y) AS smy
       FROM b),
c AS (SELECT n,
             sxx - sx*sx/n AS cxx, smm - sm*sm/n AS cmm, syy - sy*sy/n AS cyy,
             sxm - sx*sm/n AS cxm, sxy - sx*sy/n AS cxy, smy - sm*sy/n AS cmy
      FROM mm),
paths AS (SELECT n, cxx, cmm, cyy, cxm, cxy, cmy,
                 cxm/cxx AS a,
                 cxx*cmm - cxm*cxm AS det
          FROM c),
fit AS (SELECT n, a,
               sqrt(greatest(cmm - a*cxm, 0)/(n - 2)/cxx) AS se_a,
               (cxy*cmm - cmy*cxm)/det AS cprime,
               (cmy*cxx - cxy*cxm)/det AS bcoef,
               cxy/cxx AS c_tot,
               cyy, cxy, cmy, cxx, det
        FROM paths),
fin AS (SELECT n, a, se_a, cprime, bcoef, c_tot,
               sqrt(greatest(cyy - cprime*cxy - bcoef*cmy, 0)/(n - 3)
                    * cxx/det) AS se_b
        FROM fit)
SELECT round(a*bcoef, 6) AS indirect,
       round(sqrt(bcoef*bcoef*se_a*se_a + a*a*se_b*se_b), 6) AS sobel_se,
       round(a*bcoef/sqrt(bcoef*bcoef*se_a*se_a + a*a*se_b*se_b), 6)
         AS sobel_z,
       round(a, 6) AS path_a, round(bcoef, 6) AS path_b,
       round(cprime, 6) AS direct_cprime, round(c_tot, 6) AS total_c,
       round(a*bcoef/c_tot, 6) AS prop_mediated,
       CAST(n AS BIGINT) AS n
FROM fin
"""




def _q372(spark, sf_dir):
    """Single-covariate logistic regression (operators/regression.py
    logistic_fit, 6 unrolled Newton rounds from (0,0)) on the q346
    score/label design: per round ONE fused score+information
    all-reduce, 2x2 solve on the driver; Wald SEs from the final
    observed information.  Verified exactly against an independent
    Newton implementation; the oracle replays every round (the
    huber/cox convention, extended to a 2-parameter state)."""
    from polars_net_spark.operators.regression import logistic_fit

    ev = _t(spark, sf_dir, "events").spark
    d = ev.filter(
        F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        ((F.col("event_id") % 100) / 100.0).alias("x"),
        ((F.col("event_id") % 100) + 6 * (F.col("user_id") % 37) >= 130)
        .cast("int").alias("y"),
    )
    return logistic_fit(d, "x", "y").spark


_q372_sql = """
WITH b AS (SELECT (event_id % 100)/100.0 AS x,
                  CASE WHEN (event_id % 100) + 6*(user_id % 37) >= 130
                       THEN 1.0 ELSE 0.0 END AS y
           FROM events
           WHERE event_id IS NOT NULL AND user_id IS NOT NULL),
r0 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-(0.0 + (0.0)*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-(0.0 + (0.0)*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-(0.0 + (0.0)*x))))
                 *(1.0 - 1.0/(1.0 + exp(-(0.0 + (0.0)*x))))) AS h00,
             sum((1.0/(1.0 + exp(-(0.0 + (0.0)*x))))
                 *(1.0 - 1.0/(1.0 + exp(-(0.0 + (0.0)*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-(0.0 + (0.0)*x))))
                 *(1.0 - 1.0/(1.0 + exp(-(0.0 + (0.0)*x))))*x*x) AS h11
      FROM b),
k0 AS MATERIALIZED (SELECT
      0.0 + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      0.0 + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r0),
r1 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))) AS h00,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k0) + ((SELECT b FROM k0))*x))))*x*x) AS h11
      FROM b),
k1 AS MATERIALIZED (SELECT
      (SELECT a FROM k0) + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      (SELECT b FROM k0) + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r1),
r2 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))) AS h00,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k1) + ((SELECT b FROM k1))*x))))*x*x) AS h11
      FROM b),
k2 AS MATERIALIZED (SELECT
      (SELECT a FROM k1) + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      (SELECT b FROM k1) + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r2),
r3 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))) AS h00,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k2) + ((SELECT b FROM k2))*x))))*x*x) AS h11
      FROM b),
k3 AS MATERIALIZED (SELECT
      (SELECT a FROM k2) + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      (SELECT b FROM k2) + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r3),
r4 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))) AS h00,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k3) + ((SELECT b FROM k3))*x))))*x*x) AS h11
      FROM b),
k4 AS MATERIALIZED (SELECT
      (SELECT a FROM k3) + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      (SELECT b FROM k3) + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r4),
r5 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(y) AS npos,
             sum(y - 1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x)))) AS g0,
             sum((y - 1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))*x) AS g1,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))) AS h00,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))*x) AS h01,
             sum((1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))
                 *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k4) + ((SELECT b FROM k4))*x))))*x*x) AS h11
      FROM b),
k5 AS MATERIALIZED (SELECT
      (SELECT a FROM k4) + (h11*g0 - h01*g1)/(h00*h11 - h01*h01) AS a,
      (SELECT b FROM k4) + (h00*g1 - h01*g0)/(h00*h11 - h01*h01) AS b,
      n, npos FROM r5),
fin AS MATERIALIZED (SELECT (SELECT a FROM k5) AS a, (SELECT b FROM k5) AS b,
               count(*)*1.0 AS n, sum(y) AS npos,
               sum((1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))
                   *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))) AS h00,
               sum((1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))
                   *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))*x) AS h01,
               sum((1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))
                   *(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))))*x*x) AS h11,
               sum(y*ln(greatest(1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))), 1e-300))
                   + (1.0-y)*ln(greatest(1.0 - 1.0/(1.0 + exp(-((SELECT a FROM k5) + (SELECT b FROM k5)*x))), 1e-300))) AS ll
        FROM b)
SELECT round(a, 6) AS intercept, round(b, 6) AS slope,
       round(sqrt(h11/(h00*h11 - h01*h01)), 6) AS se_intercept,
       round(sqrt(h00/(h00*h11 - h01*h01)), 6) AS se_slope,
       round(b/sqrt(h00/(h00*h11 - h01*h01)), 6) AS z_slope,
       round(exp(b), 6) AS odds_ratio, round(ll, 6) AS loglik,
       CAST(n AS BIGINT) AS n, CAST(npos AS BIGINT) AS n_pos,
       CAST(6 AS INT) AS rounds
FROM fin
"""


def _q373(spark, sf_dir):
    """TWELFTH streaming gate — STREAM-STREAM FULL OUTER interval join:
    q361 proved watermark-driven unmatched emission on the LEFT side;
    full outer exercises state eviction on BOTH sides (clicks with no
    purchase in their 1h window AND purchases no click preceded within
    1h).  Matched pairs emit in the data batch; each side's unmatched
    rows flush in the trailing no-data batch once the final watermark
    provably closes their window (cts + 1h for clicks; bts itself for
    purchases, whose candidate clicks lie in [bts − 1h, bts]).  Rows in
    the 1-minute boundary band stay in state by design, so BOTH engines
    filter to the provably-flushed set: matched OR the row's own
    timestamp ≤ maxTs − 2h − 1min — the oracle is then a plain batch
    FULL join."""
    import datetime as _dt

    src_dir = _stream_stage_dir(sf_dir, "events")
    schema = _raw_schema(spark, sf_dir, "events")

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 100000)
            .parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("user_id") % 10 == 3)
        )

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("cu"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    buys = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("bu"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("bts"),
        )
        .withWatermark("bts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("cu") == F.col("bu"))
        & (F.col("bts") >= F.col("cts"))
        & (F.col("bts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    )
    out = joined.select(
        F.coalesce(F.col("cu"), F.col("bu")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("bts")) - F.unix_micros(F.col("cts"))).alias(
            "lag_us"
        ),
        F.col("cts"),
        F.col("bts"),
    )
    _memory_stream_gate(spark, out, "q373_full_outer_join", "append", timeout=180)
    # the engine's global watermark is the MIN of the per-input watermarks
    # (each side advances off its own max event time), so the provably-
    # flushed band must key off the SLOWER side's max — q361's single-side
    # flush tolerated the global max, a both-sides flush does not
    mx = (
        spark.read.schema(schema).parquet(src_dir)
        .filter(F.col("user_id") % 10 == 3)
        .agg(
            F.least(
                F.max(
                    F.when(
                        F.col("event_type") == "click",
                        F.col("ts").cast("timestamp"),
                    )
                ),
                F.max(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.col("ts").cast("timestamp"),
                    )
                ),
            )
        )
        .first()[0]
    )
    thr = mx - _dt.timedelta(hours=2, minutes=1)
    t = spark.table("q373_full_outer_join")
    matched = F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    own_ts = F.coalesce(F.col("cts"), F.col("bts"))
    return t.filter(matched | (own_ts <= F.lit(thr))).select(
        "user_id", "click_id", "purchase_id", "lag_us"
    )


_q373_sql = """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
            FROM events WHERE user_id % 10 = 3),
mx AS (SELECT least(
           max(CASE WHEN event_type = 'click' THEN ts END),
           max(CASE WHEN event_type = 'purchase' THEN ts END)) AS mt
       FROM ev),
c AS (SELECT user_id AS cu, event_id AS click_id, ts AS cts FROM ev
      WHERE event_type = 'click'),
b AS (SELECT user_id AS bu, event_id AS purchase_id, ts AS bts FROM ev
      WHERE event_type = 'purchase')
SELECT coalesce(c.cu, b.bu) AS user_id, c.click_id, b.purchase_id,
       CAST(date_diff('microsecond', c.cts, b.bts) AS BIGINT) AS lag_us
FROM c FULL JOIN b
  ON c.cu = b.bu AND b.bts >= c.cts AND b.bts <= c.cts + INTERVAL 1 HOUR,
  mx
WHERE (c.click_id IS NOT NULL AND b.purchase_id IS NOT NULL)
   OR coalesce(c.cts, b.bts) <= mx.mt - INTERVAL 2 HOUR - INTERVAL 1 MINUTE
"""


def _q374(spark, sf_dir):
    """Lin's concordance correlation (operators/regression.py lins_ccc)
    between the gross and discounted lineitem price: Pearson r is ~1 (a
    near-scale relationship) but CCC < r because the discount shifts scale
    — the agreement-vs-correlation distinction the operator exists for.
    ONE fused six-sum all-reduce."""
    from polars_net_spark.operators.regression import lins_ccc

    li = _t(spark, sf_dir, "lineitem").spark.select(
        F.col("l_extendedprice").alias("x"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
    )
    return lins_ccc(li, "x", "y").spark


_q374_sql = """
WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
                  CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS y
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM b),
c AS (SELECT n, sx/n AS mx, sy/n AS my,
             sxx/n - (sx/n)*(sx/n) AS vx, syy/n - (sy/n)*(sy/n) AS vy,
             sxy/n - (sx/n)*(sy/n) AS cxy FROM m)
SELECT round(2*cxy/(vx + vy + (mx - my)*(mx - my)), 6) AS ccc,
       round(cxy/sqrt(vx*vy), 6) AS pearson_r,
       round((2*cxy/(vx + vy + (mx - my)*(mx - my)))/(cxy/sqrt(vx*vy)), 6) AS c_b,
       round(mx, 6) AS mean_x, round(my, 6) AS mean_y,
       CAST(n AS BIGINT) AS n
FROM c
"""


def _q375(spark, sf_dir):
    """Bland–Altman limits of agreement (operators/regression.py
    bland_altman) between part retail price and its nearest-10 rounding —
    the method-comparison summary (bias + 1.96·sd band) in ONE fused
    all-reduce."""
    from polars_net_spark.operators.regression import bland_altman

    p = _t(spark, sf_dir, "part").spark.select(
        F.col("p_retailprice").alias("x"),
        F.round(F.col("p_retailprice") / 10.0, 0) * 10.0,
    )
    p = p.withColumnRenamed("(round((p_retailprice / 10.0), 0) * 10.0)", "y")
    return bland_altman(p, "x", "y").spark


_q375_sql = """
WITH b AS (SELECT CAST(p_retailprice AS DOUBLE) AS x,
                  round(p_retailprice / 10.0, 0) * 10.0 AS y
           FROM part WHERE p_retailprice IS NOT NULL),
d AS (SELECT x - y AS dd, (x + y)/2.0 AS mm FROM b),
m AS (SELECT count(*)*1.0 AS n, sum(dd) AS s, sum(dd*dd) AS ss,
             avg(mm) AS momean FROM d),
c AS (SELECT n, s/n AS bias, sqrt((ss - n*(s/n)*(s/n))/(n - 1.0)) AS sd,
             momean FROM m)
SELECT round(bias, 6) AS bias, round(sd, 6) AS sd_diff,
       round(bias - 1.96*sd, 6) AS loa_lower,
       round(bias + 1.96*sd, 6) AS loa_upper,
       round(momean, 6) AS mean_of_means, CAST(n AS BIGINT) AS n
FROM c
"""


def _q376(spark, sf_dir):
    """Grubbs' outlier statistic (operators/regression.py grubbs_test) on
    order totals: the most extreme total's studentized deviation, named
    value and side — ONE fused all-reduce even though the test names a
    specific row (G needs only mean/sd/min/max)."""
    from polars_net_spark.operators.regression import grubbs_test

    o = _t(spark, sf_dir, "orders").spark
    return grubbs_test(o, "o_totalprice").spark


_q376_sql = """
WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
           WHERE o_totalprice IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(v) AS s, sum(v*v) AS ss,
             min(v) AS mn, max(v) AS mx FROM b),
c AS (SELECT n, s/n AS mean, sqrt((ss - n*(s/n)*(s/n))/(n - 1.0)) AS sd,
             mn, mx FROM m)
SELECT round(greatest(mean - mn, mx - mean)/sd, 6) AS g,
       CASE WHEN mx - mean >= mean - mn THEN mx ELSE mn END AS suspect_value,
       CASE WHEN mx - mean >= mean - mn THEN 'max' ELSE 'min' END AS suspect_side,
       round(mean, 6) AS mean, round(sd, 6) AS sd, CAST(n AS BIGINT) AS n
FROM c
"""


def _q377(spark, sf_dir):
    """One-way intraclass correlation ICC(1,1) (operators/regression.py
    icc_oneway) of supplier account balances grouped by nation — how much
    of the balance variance is between-nation vs within — with the
    unbalanced-design k0; one groupBy + one reduce over the cell table."""
    from polars_net_spark.operators.regression import icc_oneway

    s = _t(spark, sf_dir, "supplier").spark
    return icc_oneway(s, "s_nationkey", "s_acctbal").spark


_q377_sql = """
WITH cells AS (SELECT s_nationkey AS g, count(*)*1.0 AS n_, sum(CAST(s_acctbal AS DOUBLE)) AS s_,
                      sum(CAST(s_acctbal AS DOUBLE)*CAST(s_acctbal AS DOUBLE)) AS ss_
               FROM supplier WHERE s_acctbal IS NOT NULL AND s_nationkey IS NOT NULL
               GROUP BY 1),
m AS (SELECT count(*)*1.0 AS g_, sum(n_) AS N, sum(s_) AS S, sum(ss_) AS SS,
             sum(s_*s_/n_) AS SA, sum(n_*n_) AS N2 FROM cells),
c AS (SELECT g_, N, (SA - S*S/N)/(g_ - 1.0) AS msb, (SS - SA)/(N - g_) AS msw,
             (N - N2/N)/(g_ - 1.0) AS k0 FROM m)
SELECT round((msb - msw)/(msb + (k0 - 1.0)*msw), 6) AS icc1,
       round(msb, 6) AS msb, round(msw, 6) AS msw, round(k0, 6) AS k0,
       CAST(N AS BIGINT) AS n, CAST(g_ AS BIGINT) AS n_groups
FROM c
"""


def _q378(spark, sf_dir):
    """Cochran's Q (operators/regression.py cochran_q): do the five event
    types have equal high-value rates across user blocks?  Outcome = any
    event of that type with value > 50 in the block; blocks missing any
    treatment drop (complete-case rule) — the k-treatment McNemar over
    the (block, treatment) cell table."""
    from polars_net_spark.operators.regression import cochran_q

    e = _t(spark, sf_dir, "events").spark.select(
        (F.col("user_id") % 100).alias("blk"),
        F.col("event_type").alias("trt"),
        (F.col("value") > 50).cast("int").alias("hit"),
    ).filter(F.col("value").isNotNull())
    return cochran_q(e, "blk", "trt", "hit").spark


_q378_sql = """
WITH cells AS (SELECT user_id % 100 AS b, event_type AS t,
                      max(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END) AS y
               FROM events
               WHERE value IS NOT NULL AND user_id IS NOT NULL
                 AND event_type IS NOT NULL
               GROUP BY 1, 2),
k AS (SELECT count(DISTINCT t)*1.0 AS k FROM cells),
blocks AS (SELECT b, count(*) AS kt, sum(y) AS r FROM cells GROUP BY 1),
cb AS (SELECT blocks.b, blocks.r FROM blocks, k WHERE blocks.kt = k.k),
tstats AS (SELECT cells.t, sum(cells.y) AS c
           FROM cells JOIN cb ON cells.b = cb.b GROUP BY 1),
bm AS (SELECT count(*)*1.0 AS nb, sum(r) AS T, sum(r*r) AS R2 FROM cb),
tm AS (SELECT sum(c*c) AS C2 FROM tstats)
SELECT round((SELECT k FROM k)*((SELECT k FROM k) - 1.0)
             *(C2 - T*T/(SELECT k FROM k))
             /((SELECT k FROM k)*T - R2), 6) AS q,
       CAST((SELECT k FROM k) - 1 AS INT) AS df,
       CAST(nb AS BIGINT) AS n_blocks,
       CAST((SELECT k FROM k) AS INT) AS k,
       CAST(T AS BIGINT) AS grand_total
FROM bm, tm
"""


def _q379(spark, sf_dir):
    """Global Durbin–Watson (operators/regression.py durbin_watson) of the
    mean-centered order totals in o_orderkey sequence: the lag-1
    autocorrelation screen, riding distsort HALO buckets (each range
    bucket borrows its predecessor's last row) — no single-partition
    window at any scale."""
    from polars_net_spark.operators.regression import durbin_watson

    o = _t(spark, sf_dir, "orders").spark
    mean = o.agg(F.avg("o_totalprice")).first()[0]
    c = o.select(
        F.col("o_orderkey").alias("t"),
        (F.col("o_totalprice") - F.lit(float(mean))).alias("v"),
    )
    return durbin_watson(c, "v", "t").spark


_q379_sql = """
WITH m AS (SELECT avg(CAST(o_totalprice AS DOUBLE)) AS mu FROM orders),
b AS (SELECT o_orderkey AS t, CAST(o_totalprice AS DOUBLE) - (SELECT mu FROM m) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
l AS (SELECT v, lag(v) OVER (ORDER BY t) AS p FROM b)
SELECT round(sum(CASE WHEN p IS NOT NULL THEN (v - p)*(v - p) END)
             / sum(v*v), 6) AS dw,
       CAST(count(*) AS BIGINT) AS n
FROM l
"""


def _q380(spark, sf_dir):
    """Kruskal–Wallis H (operators/regression.py kruskal_wallis) of
    lineitem quantity across the three return flags: integer quantities
    tie massively, so the gate exercises the tie-corrected H and the
    distsort rank machinery (distinct-value cells + driver prefix
    offsets — no single-partition window)."""
    from polars_net_spark.operators.regression import kruskal_wallis

    li = _t(spark, sf_dir, "lineitem").spark
    return kruskal_wallis(li, "l_returnflag", "l_quantity").spark


_q380_sql = """
WITH b AS (SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS v
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL),
r AS (SELECT g, v,
             rank() OVER (ORDER BY v) + (count(*) OVER (PARTITION BY v) - 1)/2.0 AS rk
      FROM b),
pg AS (SELECT g, sum(rk) AS rg, count(*)*1.0 AS ng FROM r GROUP BY 1),
tie AS (SELECT sum(t*t*t - t) AS tt FROM
        (SELECT count(*)*1.0 AS t FROM b GROUP BY v)),
m AS (SELECT sum(ng) AS N, count(*)*1.0 AS k, sum(rg*rg/ng) AS rr FROM pg),
h AS (SELECT 12.0/(N*(N + 1))*rr - 3*(N + 1) AS h, N, k FROM m)
SELECT round(h.h, 6) AS h,
       round(h.h/(1 - tie.tt/(h.N*h.N*h.N - h.N)), 6) AS h_corrected,
       CAST(h.k - 1 AS INT) AS df, CAST(h.N AS BIGINT) AS n,
       CAST(h.k AS BIGINT) AS n_groups
FROM h, tie
"""


def _q381(spark, sf_dir):
    """Breusch–Pagan heteroscedasticity screen (operators/regression.py
    breusch_pagan) of extended price on quantity: price dispersion grows
    with quantity, so the LM statistic is decisive — two fused
    all-reduces with the OLS fit riding into pass 2 as plan literals."""
    from polars_net_spark.operators.regression import breusch_pagan

    li = _t(spark, sf_dir, "lineitem").spark
    return breusch_pagan(li, "l_quantity", "l_extendedprice").spark


_q381_sql = """
WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                  CAST(l_extendedprice AS DOUBLE) AS y
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
m1 AS MATERIALIZED (SELECT count(*)*1.0 AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(x*y) AS sxy FROM b),
k AS MATERIALIZED (SELECT n,
       (n*sxy - sx*sy)/(n*sxx - sx*sx) AS bb,
       (sy - (n*sxy - sx*sy)/(n*sxx - sx*sx)*sx)/n AS aa FROM m1),
m2 AS (SELECT count(*)*1.0 AS n, sum(x) AS sx, sum(x*x) AS sxx,
             sum((y - (SELECT aa FROM k) - (SELECT bb FROM k)*x)
                 *(y - (SELECT aa FROM k) - (SELECT bb FROM k)*x)) AS se,
             sum(pow(y - (SELECT aa FROM k) - (SELECT bb FROM k)*x, 4)) AS see,
             sum(x*(y - (SELECT aa FROM k) - (SELECT bb FROM k)*x)
                 *(y - (SELECT aa FROM k) - (SELECT bb FROM k)*x)) AS sxe
      FROM b),
c AS (SELECT n,
       (sxe/n - (sx/n)*(se/n)) AS cov,
       (sxx/n - (sx/n)*(sx/n)) AS vx,
       (see/n - (se/n)*(se/n)) AS ve FROM m2)
SELECT round(n*cov*cov/(vx*ve), 6) AS lm, 1 AS df,
       round(cov*cov/(vx*ve), 6) AS r2_aux,
       round((SELECT bb FROM k), 6) AS slope,
       round((SELECT aa FROM k), 6) AS intercept,
       CAST(n AS BIGINT) AS n
FROM c
"""


def _q382(spark, sf_dir):
    """Lag-1 Granger screen (operators/regression.py granger_lag1): do
    yesterday's VIEW counts help predict today's PURCHASE counts beyond
    purchase history?  Daily series built in-plan, then one halo-bucketed
    lag window + one ten-moment all-reduce + the 2×2 Cramer solve in
    column math."""
    from polars_net_spark.operators.regression import granger_lag1

    e = _t(spark, sf_dir, "events").spark
    daily = (
        e.filter(F.col("event_type").isin(["view", "purchase"]))
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum((F.col("event_type") == "view").cast("double")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("double")).alias("y"),
        )
    )
    return granger_lag1(daily, "x", "y", "d").spark


_q382_sql = """
WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                      sum(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END) AS x,
                      sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS y
               FROM events WHERE event_type IN ('view', 'purchase')
               GROUP BY 1),
l AS (SELECT y, lag(y) OVER (ORDER BY d) AS y1, lag(x) OVER (ORDER BY d) AS x1
      FROM daily),
f AS (SELECT * FROM l WHERE y1 IS NOT NULL AND x1 IS NOT NULL),
m AS (SELECT count(*)*1.0 AS n, sum(y) AS sy, sum(y1) AS sy1, sum(x1) AS sx1,
             sum(y*y) AS syy, sum(y1*y1) AS sy1y1, sum(x1*x1) AS sx1x1,
             sum(y1*x1) AS sy1x1, sum(y*y1) AS syy1, sum(y*x1) AS syx1 FROM f),
c AS (SELECT n,
       syy - sy*sy/n AS syyc, sy1y1 - sy1*sy1/n AS s11,
       sx1x1 - sx1*sx1/n AS s22, sy1x1 - sy1*sx1/n AS s12,
       syy1 - sy*sy1/n AS q1, syx1 - sy*sx1/n AS q2 FROM m),
s AS (SELECT n, syyc, s11, q1, q2,
       (s22*q1 - s12*q2)/(s11*s22 - s12*s12) AS bb,
       (s11*q2 - s12*q1)/(s11*s22 - s12*s12) AS cc FROM c)
SELECT round((syyc - q1*q1/s11 - (syyc - bb*q1 - cc*q2))*(n - 3.0)
             /(syyc - bb*q1 - cc*q2), 6) AS f_stat,
       round(cc, 6) AS beta_x,
       round(syyc - bb*q1 - cc*q2, 6) AS rss_u,
       round(syyc - q1*q1/s11, 6) AS rss_r,
       CAST(n AS BIGINT) AS n
FROM s
"""


def _q383(spark, sf_dir):
    """Ljung–Box portmanteau (operators/regression.py ljung_box, K=5) of
    the mean-centered daily order revenue: the is-it-white-noise check on
    a GLOBAL series, lag columns riding distsort halo buckets — no
    single-partition window."""
    from polars_net_spark.operators.regression import ljung_box

    o = _t(spark, sf_dir, "orders").spark
    # epoch-day int, not the raw TIMESTAMP_NTZ: the distsort range buckets
    # quantile-split the order column, which needs a numeric/date type
    daily = o.groupBy(
        F.unix_date(F.to_date("o_orderdate")).alias("d")
    ).agg(F.sum("o_totalprice").alias("rev"))
    return ljung_box(daily, "rev", "d", lags=5).spark


_q383_sql = """
WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE)) AS d,
                      sum(CAST(o_totalprice AS DOUBLE)) AS rev
               FROM orders GROUP BY 1),
l AS (SELECT rev AS v,
             lag(rev, 1) OVER (ORDER BY d) AS l1,
             lag(rev, 2) OVER (ORDER BY d) AS l2,
             lag(rev, 3) OVER (ORDER BY d) AS l3,
             lag(rev, 4) OVER (ORDER BY d) AS l4,
             lag(rev, 5) OVER (ORDER BY d) AS l5
      FROM daily),
s AS (SELECT v, l1, l2, l3, l4, l5, (SELECT avg(v) FROM l) AS mu FROM l),
m AS (SELECT count(*)*1.0 AS n,
             sum((v - mu)*(v - mu)) AS den,
             sum((v - mu)*(l1 - mu)) AS s1, sum((v - mu)*(l2 - mu)) AS s2,
             sum((v - mu)*(l3 - mu)) AS s3, sum((v - mu)*(l4 - mu)) AS s4,
             sum((v - mu)*(l5 - mu)) AS s5 FROM s)
SELECT round(n*(n + 2)*((s1/den)*(s1/den)/(n - 1) + (s2/den)*(s2/den)/(n - 2)
                        + (s3/den)*(s3/den)/(n - 3) + (s4/den)*(s4/den)/(n - 4)
                        + (s5/den)*(s5/den)/(n - 5)), 6) AS q_stat,
       5 AS df, CAST(n AS BIGINT) AS n
FROM m
"""


def _q384(spark, sf_dir):
    """Holm step-down FWER adjustment (operators/regression.py
    holm_adjust) over a deterministic per-part pseudo-p frame: the
    ascending-p prefix-max rides range buckets + driver prefix-max
    offsets (the bh_adjust mirror) — no single-partition window however
    many tests."""
    from polars_net_spark.operators.regression import holm_adjust

    p = _t(spark, sf_dir, "part").spark.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") * 37 % 97) / 97.0).alias("p"),
    )
    out = holm_adjust(p, "p", id_cols="id")
    return out.spark.select("id", F.round("p", 6).alias("p"), "p_adj")


_q384_sql = """
WITH b AS (SELECT p_partkey AS id, (p_partkey * 37 % 97)/97.0 AS p FROM part),
r AS (SELECT id, p,
             row_number() OVER (ORDER BY p, id) AS rk,
             count(*) OVER () AS m
      FROM b),
a AS (SELECT id, p,
             least(1.0, max(p*(m - rk + 1)) OVER
                   (ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS adj
      FROM r)
SELECT id, round(p, 6) AS p, round(adj, 6) AS p_adj FROM a
"""


def _q385(spark, sf_dir):
    """Blocked Jaro–Winkler record linkage (operators/joins_ext.py
    jaro_winkler_join): part names vs their first-char-dropped probe set —
    the prefix-weighted companion to q171's Levenshtein gate.  Similarity
    runs in an Arrow-batched Pandas UDF over DISTINCT name pairs only
    (the fuzzy_join distinct-values lever), re-expanded to rows by two
    equi-joins; the oracle is DuckDB's own jaro_winkler_similarity under
    the same blocking."""
    from polars_net_spark.operators.joins_ext import jaro_winkler_join

    part = _t(spark, sf_dir, "part")
    left = part.spark.select(
        F.col("p_partkey").alias("lid"), F.col("p_name").alias("name")
    )
    right = part.spark.filter(F.col("p_partkey") % 50 == 7).select(
        (F.col("p_partkey") + 1000000).alias("rid"),
        F.expr("substr(p_name, 2)").alias("name"),
    )
    out = jaro_winkler_join(left, right, on="name", threshold=0.9, block_chars=12)
    return out.spark.select(
        "lid", F.col("name").alias("lname"), "rid",
        F.col("name_right").alias("rname"),
        F.round("jw_sim", 6).alias("jw_sim"),
    )


_q385_sql = """
WITH l AS (SELECT p_partkey AS lid, p_name AS lname, lower(trim(p_name)) AS ln FROM part),
r AS (SELECT p_partkey + 1000000 AS rid,
             substr(p_name, 2) AS rname,
             lower(trim(substr(p_name, 2))) AS rn
      FROM part WHERE p_partkey % 50 = 7),
lb AS (SELECT lid, lname, ln, unnest(list_distinct([substr(ln, 1, 12), substr(ln, 2, 12)])) AS blk FROM l),
rb AS (SELECT rid, rname, rn, unnest(list_distinct([substr(rn, 1, 12), substr(rn, 2, 12)])) AS blk FROM r)
SELECT DISTINCT lid, lname, rid, rname,
       round(jaro_winkler_similarity(ln, rn), 6) AS jw_sim
FROM lb JOIN rb USING (blk)
WHERE jaro_winkler_similarity(ln, rn) >= 0.9
"""


def _q386(spark, sf_dir):
    """Quantile normalization (operators/analytics.py quantile_normalize):
    force the four part-key-bucket retail-price distributions onto their
    shared reference (cross-group mean per sorted position) — the batch-
    effect remover; one keyed rank window + a tiny rank-mean join, never
    a global sort."""
    from polars_net_spark.operators.analytics import quantile_normalize

    p = _t(spark, sf_dir, "part").spark.select(
        (F.col("p_partkey") % 4).alias("grp"),
        F.col("p_partkey").alias("id"),
        F.col("p_retailprice").alias("v"),
    )
    return quantile_normalize(p, "grp", "v", "id").spark


_q386_sql = """
WITH b AS (SELECT p_partkey % 4 AS grp, p_partkey AS id,
                  CAST(p_retailprice AS DOUBLE) AS v
           FROM part WHERE p_retailprice IS NOT NULL),
r AS (SELECT grp, id, v,
             row_number() OVER (PARTITION BY grp ORDER BY v, id) AS rk
      FROM b),
ref AS (SELECT rk, avg(v) AS refv FROM r GROUP BY 1)
SELECT r.grp, r.id, r.v, round(ref.refv, 6) AS value_qn
FROM r JOIN ref USING (rk)
"""


def _q387(spark, sf_dir):
    """Page–Hinkley drift detector (operators/analytics.py page_hinkley)
    over per-user-bucket event values in event-id sequence: running-mean-
    centered cumulative deviations minus their running minimum, alarm
    rows plus one final summary row per key — two stacked keyed windows
    in ONE WindowExec pass."""
    from polars_net_spark.operators.analytics import page_hinkley

    e = _t(spark, sf_dir, "events").spark.select(
        (F.col("user_id") % 20).alias("grp"),
        F.col("event_id").alias("t"),
        F.col("value"),
    )
    return page_hinkley(e, "value", "t", by="grp", delta=0.0, lam=1500.0).spark


_q387_sql = """
WITH b AS (SELECT user_id % 20 AS grp, event_id AS t, CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL),
s1 AS (SELECT grp, t, v,
              avg(v) OVER (PARTITION BY grp ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
       FROM b),
s2 AS (SELECT grp, t, v,
              sum(v - rm) OVER (PARTITION BY grp ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
       FROM s1),
s3 AS (SELECT grp, t, v,
              m - min(m) OVER (PARTITION BY grp ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
              row_number() OVER (PARTITION BY grp ORDER BY t DESC) AS rn
       FROM s2)
SELECT grp, t, v AS value, round(ph, 6) AS ph, ph > 1500.0 AS alarm
FROM s3 WHERE ph > 1500.0 OR rn = 1
"""


def _q388(spark, sf_dir):
    """Hurst exponent by R/S analysis (operators/analytics.py
    hurst_exponent) of the daily order-revenue series: long-memory screen
    (H≈0.5 memoryless, >0.5 trending, <0.5 mean-reverting).  Positions
    via distsort prefix offsets, every window statistic a keyed
    (w, window_id) window/groupBy with partitions bounded by w, final
    log-log OLS over four points."""
    from polars_net_spark.operators.analytics import hurst_exponent

    o = _t(spark, sf_dir, "orders").spark
    daily = o.groupBy(
        F.unix_date(F.to_date("o_orderdate")).alias("d")
    ).agg(F.sum("o_totalprice").alias("rev"))
    return hurst_exponent(daily, "rev", "d", window_sizes=(16, 32, 64, 128)).spark


_q388_sql = """
WITH daily AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(o_orderdate AS DATE)) AS t,
                      sum(CAST(o_totalprice AS DOUBLE)) AS v
               FROM orders GROUP BY 1),
r AS (SELECT v, row_number() OVER (ORDER BY t) - 1 AS pos FROM daily),
w AS (SELECT sz.w, pos // sz.w AS wid, pos, v
      FROM r CROSS JOIN (VALUES (16), (32), (64), (128)) sz(w)),
s1 AS (SELECT w, wid, pos, v, avg(v) OVER (PARTITION BY w, wid) AS mu FROM w),
s2 AS (SELECT w, wid, v, mu,
              sum(v - mu) OVER (PARTITION BY w, wid ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd
       FROM s1),
pw AS (SELECT w, wid, count(*) AS c, max(cd) - min(cd) AS rr,
              stddev_pop(v) AS s
       FROM s2 GROUP BY 1, 2),
rs AS (SELECT w, avg(rr/s) AS rsv, count(*) AS nw
       FROM pw WHERE c = w AND s > 0 GROUP BY 1),
pts AS (SELECT ln(w) AS x, ln(rsv) AS y, nw FROM rs WHERE rsv > 0),
m AS (SELECT count(*)*1.0 AS k, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy,
             sum(nw) AS nwt FROM pts),
nn AS (SELECT count(*) AS n FROM r)
SELECT round((k*sxy - sx*sy)/(k*sxx - sx*sx), 6) AS hurst,
       round(CASE WHEN (sxx - sx*sx/k) > 0 AND (syy - sy*sy/k) > 0
             THEN (sxy - sx*sy/k)*(sxy - sx*sy/k)
                  /((sxx - sx*sx/k)*(syy - sy*sy/k))
             ELSE 1.0 END, 6) AS r2,
       CAST((SELECT n FROM nn) AS BIGINT) AS n,
       CAST(nwt AS BIGINT) AS n_windows
FROM m
"""


def _q389(spark, sf_dir):
    """THIRTEENTH true Structured Streaming gate: streaming -> DB export
    (streaming/stream.py streaming_jdbc_sink) -- the reference's SinkTo IS
    a streaming DB sink (Polars.FSharp/Types.fs:1395-1444 drives
    ArrowToDbStream.cs:10-50 through a producer/consumer channel): events
    stream in across micro-batches and each batch bulk-inserts into an
    embedded-Derby table through write_jdbc's per-partition parallel
    append, stamped with its micro-batch id and delete-then-insert
    idempotent.  The gate reads the TABLE back over JDBC and aggregates:
    appending a fixed set is batching-independent, so the result is
    deterministic however the file source slices micro-batches."""
    import hashlib
    import os
    import tempfile

    from polars_net_spark.streaming.stream import streaming_jdbc_sink

    ev_path = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(f"{sf_dir}|events4".encode()).hexdigest()[:8]
    src_dir = os.path.join(tempfile.gettempdir(), f"stream_src_events4_{tag}")
    schema = _raw_schema(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        (
            spark.read.schema(schema).parquet(ev_path).repartition(4)
            .write.mode("overwrite").parquet(src_dir)
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
        .select("user_id", "event_id", "event_type", "value")
    )
    url = "jdbc:derby:memory:q389db;create=true"
    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    # fresh table per run: in-memory Derby persists for the JVM lifetime
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    try:
        st.executeUpdate("DROP TABLE q389_sink")
    except Exception:
        pass
    st.close()
    conn.close()
    ckpt = tempfile.mkdtemp(prefix="q389_ckpt_")
    _drain_stream_gate(
        spark,
        lambda: streaming_jdbc_sink(
            stream, url, "q389_sink", checkpoint=ckpt,
            properties={"driver": drv}, num_partitions=4,
        ),
        timeout=180,
    )
    back = (
        spark.read.format("jdbc").option("url", url)
        .option("dbtable", "q389_sink").option("driver", drv).load()
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


_q389_sql = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


def _q390(spark, sf_dir):
    """Tie-aware rank methods from the DISTINCT (key, value) CELL TABLE
    (operators/distsort.py cell_ranks) -- the scale lever for q116's shape:
    a PARTITION BY l_returnflag window caps parallelism at 3 tasks and
    sorts ~n/3 rows per task (BENCH_SF10: 52x wall at 100x data), while
    l_quantity has ~50 distinct values, so all four rank methods are
    functions of the ~150-row cell table: one map-side-combining groupBy,
    cumulative sums over the cells, one broadcast join back.  Same numbers
    as q116, no data-sized sort at any scale."""
    from polars_net_spark.operators.distsort import cell_ranks

    li = _t(spark, sf_dir, "lineitem").spark.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    out = cell_ranks(li, "l_quantity", partition_by="l_returnflag").spark
    return out.select(
        "l_orderkey", "l_linenumber",
        F.col("rank_min").alias("rmin"),
        F.col("rank_max").alias("rmax"),
        F.col("rank_average").alias("ravg"),
        F.col("rank_dense").alias("rdense"),
    )


_q390_sql = """
SELECT l_orderkey, l_linenumber,
       CAST(rank() OVER w AS BIGINT) AS rmin,
       CAST(rank() OVER w + count(*) OVER tw - 1 AS BIGINT) AS rmax,
       (rank() OVER w + rank() OVER w + count(*) OVER tw - 1) / 2.0 AS ravg,
       CAST(dense_rank() OVER w AS BIGINT) AS rdense
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity),
       tw AS (PARTITION BY l_returnflag, l_quantity)
"""


def _q391(spark, sf_dir):
    """Friedman rank test (operators/regression.py friedman_test) of order
    priority effects with order-years as their own blocks: per (year,
    priority) cell mean of o_totalprice, average-tie ranks within each
    complete block, Conover tie-general chi2.  Cell table is tiny (7x5);
    the only data-sized pass is the one (block, treatment) groupBy."""
    from polars_net_spark.operators.regression import friedman_test

    o = _t(spark, sf_dir, "orders").spark.select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").cast("double").alias("v"),
    )
    return friedman_test(o, "yr", "prio", "v").spark


_q391_sql = """
WITH cells AS (SELECT year(CAST(o_orderdate AS DATE)) AS b, o_orderpriority AS t,
                      avg(CAST(o_totalprice AS DOUBLE)) AS v
               FROM orders GROUP BY 1, 2),
k AS (SELECT count(DISTINCT t) AS k FROM cells),
sizes AS (SELECT b, count(*) AS kt FROM cells GROUP BY 1),
complete AS (SELECT c.* FROM cells c JOIN sizes s ON c.b = s.b
             WHERE s.kt = (SELECT k FROM k)),
ranked AS (SELECT b, t,
                  (2.0*rank() OVER (PARTITION BY b ORDER BY v)
                   + count(*) OVER (PARTITION BY b, v) - 1) / 2.0 AS r
           FROM complete),
ts AS (SELECT t, sum(r) AS R FROM ranked GROUP BY 1),
m AS (SELECT count(*) / (SELECT k FROM k) * 1.0 AS nb, sum(r*r) AS sr2 FROM ranked),
num AS (SELECT sum((R - (SELECT nb FROM m) * ((SELECT k FROM k) + 1) / 2.0)
                   * (R - (SELECT nb FROM m) * ((SELECT k FROM k) + 1) / 2.0)) AS num
        FROM ts)
SELECT round(((SELECT k FROM k) - 1) * (SELECT num FROM num)
             / ((SELECT sr2 FROM m) - (SELECT nb FROM m) * (SELECT k FROM k)
                * ((SELECT k FROM k) + 1) * ((SELECT k FROM k) + 1) / 4.0), 6) AS chi2,
       CAST((SELECT k FROM k) - 1 AS INT) AS df,
       CAST((SELECT nb FROM m) AS INT) AS n_blocks,
       CAST((SELECT k FROM k) AS INT) AS k
"""


def _q392(spark, sf_dir):
    """Wilcoxon signed-rank (operators/regression.py wilcoxon_signed_rank)
    of gross vs discounted lineitem price - the paired no-normality
    location test; the global |d| ranking rides the spearman distsort
    rank-table construction (distinct-value counts in range buckets +
    driver prefix offsets), no single-partition window."""
    from polars_net_spark.operators.regression import wilcoxon_signed_rank

    li = _t(spark, sf_dir, "lineitem").spark.select(
        F.col("l_extendedprice").cast("double").alias("x"),
        (F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).cast("double").alias("y"),
    )
    return wilcoxon_signed_rank(li, "x", "y").spark


_q392_sql = """
WITH d0 AS (SELECT CAST(l_extendedprice AS DOUBLE)
                   - CAST(l_extendedprice AS DOUBLE) * (1.0 - CAST(l_discount AS DOUBLE)) AS d
            FROM lineitem),
d1 AS (SELECT d, abs(d) AS a FROM d0 WHERE d != 0),
r AS (SELECT d, a,
             (2.0*rank() OVER (ORDER BY a) + count(*) OVER (PARTITION BY a) - 1) / 2.0 AS r
      FROM d1),
ties AS (SELECT sum(c*c*c - c) AS tie FROM (SELECT count(*)*1.0 AS c FROM d1 GROUP BY a)),
m AS (SELECT count(*)*1.0 AS n,
             sum(CASE WHEN d > 0 THEN r END) AS wp,
             sum(CASE WHEN d < 0 THEN r END) AS wm
      FROM r)
SELECT round(coalesce(wp, 0), 6) AS w_plus,
       round(coalesce(wm, 0), 6) AS w_minus,
       round((coalesce(wp, 0) - n*(n + 1)/4.0)
             / sqrt(n*(n + 1)*(2*n + 1)/24.0 - (SELECT tie FROM ties)/48.0), 6) AS z,
       CAST(n AS BIGINT) AS n
FROM m
"""


def _q393(spark, sf_dir):
    """TOST equivalence (operators/regression.py tost_equivalence): are
    returned ('R') and accepted ('A') lineitems equivalent in quantity
    within +/-0.5 units?  ONE fused Welch aggregate, two one-sided t
    statistics."""
    from polars_net_spark.operators.regression import tost_equivalence

    li = _t(spark, sf_dir, "lineitem").spark
    return tost_equivalence(
        li, "l_returnflag", "l_quantity", "A", "R", low=-0.5, high=0.5
    ).spark


_q393_sql = """
WITH m AS (SELECT avg(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DOUBLE) END) AS ma,
                  avg(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DOUBLE) END) AS mb,
                  var_samp(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DOUBLE) END) AS va,
                  var_samp(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DOUBLE) END) AS vb,
                  count(CASE WHEN l_returnflag = 'A' THEN 1 END)*1.0 AS na,
                  count(CASE WHEN l_returnflag = 'R' THEN 1 END)*1.0 AS nb
           FROM lineitem),
s AS (SELECT ma, mb, va/na AS sa, vb/nb AS sb, na, nb FROM m)
SELECT round(ma - mb, 6) AS diff,
       round(sqrt(sa + sb), 6) AS se,
       round((ma - mb + 0.5) / sqrt(sa + sb), 6) AS t_lower,
       round((ma - mb - 0.5) / sqrt(sa + sb), 6) AS t_upper,
       round((sa + sb)*(sa + sb) / (sa*sa/(na - 1) + sb*sb/(nb - 1)), 6) AS df,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM s
"""


def _q394(spark, sf_dir):
    """Benjamini-Yekutieli FDR adjustment (operators/regression.py
    by_adjust) over the q384 pseudo-p frame: BH's distsort suffix-min
    machinery with the harmonic H_m factor - safe under arbitrary test
    dependence."""
    from polars_net_spark.operators.regression import by_adjust

    p = _t(spark, sf_dir, "part").spark.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") * 37 % 97) / 97.0).alias("p"),
    )
    out = by_adjust(p, "p", id_cols="id")
    return out.spark.select("id", F.round("p", 6).alias("p"), "p_adj")


_q394_sql = """
WITH b AS (SELECT p_partkey AS id, (p_partkey * 37 % 97)/97.0 AS p FROM part),
hm AS (SELECT sum(1.0/rn) AS h
       FROM (SELECT row_number() OVER () AS rn FROM b)),
r AS (SELECT id, p,
             row_number() OVER (ORDER BY p DESC, id DESC) AS rd,
             count(*) OVER () AS m
      FROM b),
a AS (SELECT id, p,
             least(1.0, min(p * m * (SELECT h FROM hm) / (m - rd + 1)) OVER
                   (ORDER BY rd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS adj
      FROM r)
SELECT id, round(p, 6) AS p, round(adj, 6) AS p_adj FROM a
"""


def _q395(spark, sf_dir):
    """Anderson-Darling normality screen (operators/regression.py
    anderson_darling) of log order value - the tail-weighted ECDF test
    (ks_test's sharper sibling).  Mean/sd as plan literals from one fused
    reduce; sorted positions ride distsort range buckets + driver prefix
    offsets; the normal CDF is the A&S 26.2.17 polynomial, replayed
    verbatim by the oracle."""
    from polars_net_spark.operators.regression import anderson_darling

    o = _t(spark, sf_dir, "orders").spark.select(
        F.log(F.col("o_totalprice").cast("double")).alias("v")
    )
    return anderson_darling(o, "v").spark


_q395_sql = """
WITH v0 AS (SELECT ln(CAST(o_totalprice AS DOUBLE)) AS v FROM orders),
m AS (SELECT count(*)*1.0 AS n, avg(v) AS mu, stddev_samp(v) AS sd FROM v0),
z AS (SELECT (v - (SELECT mu FROM m)) / (SELECT sd FROM m) AS z,
             row_number() OVER (ORDER BY v) AS i
      FROM v0),
c AS (SELECT i, z, 1.0/(1.0 + 0.2316419*abs(z)) AS k FROM z),
cdf0 AS (SELECT i, z,
                1.0 - exp(-z*z/2.0)/sqrt(2*pi())
                      * (k*(0.319381530 + k*(-0.356563782 + k*(1.781477937
                         + k*(-1.821255978 + k*1.330274429))))) AS up
         FROM c),
cdf AS (SELECT i, greatest(least(CASE WHEN z >= 0 THEN up ELSE 1.0 - up END,
                                 1.0 - 1e-15), 1e-300) AS f
        FROM cdf0),
t AS (SELECT sum((2.0*i - 1.0)*ln(f)
                 + (2.0*((SELECT n FROM m) - i) + 1.0)*ln(1.0 - f)) AS tot
      FROM cdf)
SELECT round(-(SELECT n FROM m) - (SELECT tot FROM t)/(SELECT n FROM m), 6) AS a2,
       round((-(SELECT n FROM m) - (SELECT tot FROM t)/(SELECT n FROM m))
             * (1.0 + 0.75/(SELECT n FROM m)
                + 2.25/((SELECT n FROM m)*(SELECT n FROM m))), 6) AS a2_star,
       round((SELECT mu FROM m), 6) AS mean,
       round((SELECT sd FROM m), 6) AS sd,
       CAST((SELECT n FROM m) AS BIGINT) AS n
"""


def _q396(spark, sf_dir):
    """Johnson-Lindenstrauss random projection (llm/similarity.py
    random_projection): embeddings down to 8 dims with md5-parity +/-1
    signs - deterministic, engine-replayable, map-only column math (no
    shuffle, no UDF).  Exploded to (vec_id, dim, value) rows so the hash
    compare is scalar-exact."""
    from polars_net_spark.llm.similarity import random_projection

    e = _t(spark, sf_dir, "embeddings").spark.filter(F.col("vec_id") < 500)
    out = random_projection(e, out_dim=8, seed=11, round_to=6).spark
    return out.select(
        "vec_id", F.posexplode("projected").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value")


_q396_sql = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 500),
d AS (SELECT e.vec_id, j.generate_series AS dim, e.v
      FROM e CROSS JOIN generate_series(0, 7) j)
SELECT vec_id, CAST(dim AS INT) AS dim,
       round(list_sum(list_transform(range(1, len(v) + 1),
             i -> v[i] * (CASE WHEN substr(md5('11_' || (i - 1) || '_' || dim), 32, 1)
                               IN ('0','2','4','6','8','a','c','e')
                          THEN 1.0 ELSE -1.0 END))) / sqrt(8.0), 6) AS value
FROM d
"""


def _q397(spark, sf_dir):
    """Theta-method forecast (operators/analytics.py theta_forecast) of
    daily order revenue per priority: OLS trend + SES-smoothed theta-2
    line, averaged - the M3 winner as ONE codegen array fold per series
    (no window, no Python); series are keyed by priority (the real
    forecast-pipeline shard)."""
    from polars_net_spark.operators.analytics import theta_forecast

    o = _t(spark, sf_dir, "orders").spark
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.unix_date(F.to_date("o_orderdate")).alias("d"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    return theta_forecast(daily, "rev", "d", by="prio", alpha=0.5, horizon=3).spark


_q397_sql = """
WITH daily AS (SELECT o_orderpriority AS prio,
                      date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
                      sum(CAST(o_totalprice AS DOUBLE)) AS rev
               FROM orders GROUP BY 1, 2),
g AS (SELECT prio, list(rev ORDER BY d) AS xs FROM daily GROUP BY 1),
m AS (SELECT prio, xs, len(xs)*1.0 AS n,
             len(xs)*(len(xs) - 1)/2.0 AS st,
             len(xs)*(len(xs) - 1)*(2.0*len(xs) - 1)/6.0 AS stt,
             list_sum(xs) AS sx,
             list_sum(list_transform(range(len(xs)), i -> xs[i + 1]*i)) AS stx
      FROM g),
f AS (SELECT prio, xs, n,
             CASE WHEN n*stt - st*st > 0
                  THEN (n*stx - st*sx)/(n*stt - st*st) ELSE 0.0 END AS b,
             (sx - CASE WHEN n*stt - st*st > 0
                        THEN (n*stx - st*sx)/(n*stt - st*st) ELSE 0.0 END * st)/n AS a
      FROM m),
z AS (SELECT prio, n, a, b,
             list_transform(range(len(xs)), i -> 2.0*xs[i + 1] - (a + b*i)) AS zs
      FROM f),
l AS (SELECT prio, n, a, b,
             list_reduce(zs, (acc, x) -> 0.5*x + 0.5*acc) AS lvl
      FROM z)
SELECT prio, CAST(n AS BIGINT) AS n,
       round(b, 6) AS slope, round(a, 6) AS intercept,
       round(lvl, 6) AS ses_level,
       round(0.5*(lvl + (a + b*(n - 1 + 3))), 6) AS forecast
FROM l
"""


def _q398(spark, sf_dir):
    """Brunner-Munzel rank test (operators/regression.py brunner_munzel):
    accepted vs returned lineitem quantities - the unequal-variance
    nonparametric Behrens-Fisher test; combined midranks ride the
    wilcoxon distsort rank table, within-group midranks the same
    machinery with a (group, bucket)-keyed driver prefix."""
    from polars_net_spark.operators.regression import brunner_munzel

    li = _t(spark, sf_dir, "lineitem").spark
    return brunner_munzel(li, "l_returnflag", "l_quantity", "A", "R").spark


_q398_sql = """
WITH b AS (SELECT CASE WHEN l_returnflag = 'A' THEN 'a' ELSE 'b' END AS g,
                  CAST(l_quantity AS DOUBLE) AS v
           FROM lineitem WHERE l_returnflag IN ('A', 'R')),
r AS (SELECT g, v,
             (2.0*rank() OVER (ORDER BY v) + count(*) OVER (PARTITION BY v) - 1)/2.0 AS R,
             (2.0*rank() OVER (PARTITION BY g ORDER BY v)
              + count(*) OVER (PARTITION BY g, v) - 1)/2.0 AS wr
      FROM b),
m AS (SELECT count(CASE WHEN g = 'a' THEN 1 END)*1.0 AS na,
             count(CASE WHEN g = 'b' THEN 1 END)*1.0 AS nb,
             avg(CASE WHEN g = 'a' THEN R END) AS ra,
             avg(CASE WHEN g = 'b' THEN R END) AS rb,
             var_samp(CASE WHEN g = 'a' THEN R - wr END) AS sa2,
             var_samp(CASE WHEN g = 'b' THEN R - wr END) AS sb2
      FROM r),
v AS (SELECT na, nb, ra, rb, na*sa2 AS va, nb*sb2 AS vb FROM m)
SELECT round(na*nb*(rb - ra)/((na + nb)*sqrt(va + vb)), 6) AS w,
       round((va + vb)*(va + vb)/(va*va/(na - 1) + vb*vb/(nb - 1)), 6) AS df,
       round((rb - (nb + 1)/2.0)/na, 6) AS p_hat,
       round(ra, 6) AS mean_rank_a, round(rb, 6) AS mean_rank_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
FROM v
"""


def _q399(spark, sf_dir):
    """Winnowing fingerprint near-dup pairs (llm/dedup.py winnowing_pairs,
    the MOSS algorithm): polynomial-rolling-hash k-grams, window minima,
    inverted-index join on shared fingerprints - position-insensitive
    excerpt detection at ~2/(w+1) the postings of full gram sets; the
    hash is explicit long arithmetic so DuckDB replays it exactly.
    max_fp_df=50 is the hot-fingerprint guard doing its job: the corpus
    is built from a template vocabulary, so boilerplate substrings make
    hot fingerprints by construction (measured 20.5k distinct fps
    carrying 331k postings at sf0.1, sum(df^2) 42.8M, max df 735) - the
    cap drops the postings join to the rare-fingerprint mass (26.4 s ->
    8.8 s at sf0.1) and the surviving 256 pairs are exactly the q30
    true-near-dup set, not template noise."""
    from polars_net_spark.llm.dedup import winnowing_pairs

    d = _t(spark, sf_dir, "documents")
    return winnowing_pairs(d, k=8, window=6, threshold=0.3, max_fp_df=50).spark


_q399_sql = """
WITH t AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
           FROM documents),
t2 AS (SELECT doc_id, s FROM t WHERE length(s) >= 13),
h AS (SELECT doc_id,
             list_transform(range(1, length(s) - 6),
               i -> ((((((((unicode(s[i])::BIGINT * 131 + unicode(s[i+1])) % 1000000007) * 131
                    + unicode(s[i+2])) % 1000000007 * 131 + unicode(s[i+3])) % 1000000007 * 131
                    + unicode(s[i+4])) % 1000000007 * 131 + unicode(s[i+5])) % 1000000007 * 131
                    + unicode(s[i+6])) % 1000000007 * 131 + unicode(s[i+7])) % 1000000007) AS hs
      FROM t2),
f AS (SELECT doc_id,
             list_distinct(list_transform(range(1, len(hs) - 4),
                                          t -> list_min(hs[t:t+5]))) AS fps
      FROM h WHERE len(hs) >= 6),
e AS (SELECT doc_id, len(fps) AS nf, unnest(fps) AS fp FROM f),
keep AS (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 50),
e2 AS (SELECT e.* FROM e JOIN keep USING (fp)),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nf AS na, b.nf AS nb,
             count(*) AS shared
      FROM e2 a JOIN e2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       round(shared * 1.0 / least(na, nb), 6) AS score
FROM p WHERE round(shared * 1.0 / least(na, nb), 6) >= 0.3
"""


def _q400(spark, sf_dir):
    """Fellegi-Sunter record-linkage scoring (operators/joins_ext.py
    fellegi_sunter_score) over nation-blocked customer candidate pairs:
    log-likelihood-ratio weights per field agreement (segment, phone
    area, balance sign), summed score + match/possible/non_match
    decision - map-only column math on top of the blocking join."""
    from polars_net_spark.operators.joins_ext import fellegi_sunter_score

    c = _t(spark, sf_dir, "customer").spark
    left = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("id_a"), F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    right = c.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("id_b"), F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    pairs = left.join(right, "nk").filter(F.col("id_a") != F.col("id_b")).select(
        "id_a", "id_b",
        (F.col("seg_a") == F.col("seg_b")).alias("seg_agree"),
        (F.floor(F.col("bal_a") / 1000.0) == F.floor(F.col("bal_b") / 1000.0)).alias("band_agree"),
        ((F.col("bal_a") >= 0) == (F.col("bal_b") >= 0)).alias("bal_agree"),
    )
    out = fellegi_sunter_score(
        pairs,
        {"seg_agree": (0.9, 0.2), "band_agree": (0.85, 0.05), "bal_agree": (0.7, 0.5)},
        upper=4.0, lower=-2.0,
    )
    return out.spark.select("id_a", "id_b", "fs_score", "fs_decision")


_q400_sql = """
WITH l AS (SELECT c_custkey AS id_a, c_nationkey AS nk, c_mktsegment AS seg,
                  c_acctbal AS bal
           FROM customer WHERE c_custkey % 10 = 0),
r AS (SELECT c_custkey AS id_b, c_nationkey AS nk, c_mktsegment AS seg,
             c_acctbal AS bal
      FROM customer WHERE c_custkey % 7 = 0),
p AS (SELECT id_a, id_b,
             l.seg = r.seg AS seg_agree,
             floor(l.bal/1000.0) = floor(r.bal/1000.0) AS band_agree,
             (l.bal >= 0) = (r.bal >= 0) AS bal_agree
      FROM l JOIN r USING (nk) WHERE id_a != id_b),
w AS (SELECT id_a, id_b,
             (CASE WHEN seg_agree THEN log2(0.9/0.2) ELSE log2(0.1/0.8) END)
             + (CASE WHEN band_agree THEN log2(0.85/0.05) ELSE log2(0.15/0.95) END)
             + (CASE WHEN bal_agree THEN log2(0.7/0.5) ELSE log2(0.3/0.5) END) AS sc
      FROM p)
SELECT id_a, id_b, round(sc, 6) AS fs_score,
       CASE WHEN round(sc, 6) >= 4.0 THEN 'match'
            WHEN round(sc, 6) <= -2.0 THEN 'non_match'
            ELSE 'possible' END AS fs_decision
FROM w
"""


def _q401(spark, sf_dir):
    """Fellegi-Sunter EM parameter estimation (operators/joins_ext.py
    fellegi_sunter_em, Winkler 1988) composed END-TO-END with the
    scale-safe blocker: fuzzy_join (distinct-value + length-band levers,
    the r11 defaults) generates part-name candidate pairs (each probe
    name matches its own source part PLUS its ~duplicate-name family, a
    real match/non-match mixture with p ~ 1/dup-rate), three attribute
    agreements (brand / type / size, each perturbed on a different
    modulus so no estimate is degenerate) form the comparison vector,
    and 3 unrolled EM rounds from (p=0.1, m=0.9, u=0.1) estimate
    (m, u, lambda) per field.  ONE distributed pass collapses the pairs
    to their <= 2^3 agreement patterns; EM is driver math over that
    bounded table.  The oracle replays the blocking AND every EM round
    via MATERIALIZED CTEs (the logistic_fit convention)."""
    from polars_net_spark.operators.joins_ext import fellegi_sunter_em, fuzzy_join

    p = _t(spark, sf_dir, "part").spark
    left = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand_a"), F.col("p_type").alias("cont_a"),
        F.col("p_size").alias("size_a"),
    )
    right = p.filter(F.col("p_partkey") % 50 == 7).select(
        (F.col("p_partkey") + 1000000).alias("id_b"),
        F.expr("substr(p_name, 2)").alias("name"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("Brand#99"))
        .otherwise(F.col("p_brand")).alias("brand_b"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit("XX BOX"))
        .otherwise(F.col("p_type")).alias("cont_b"),
        (F.col("p_size")
         + F.when(F.col("p_partkey") % 4 == 0, F.lit(100)).otherwise(F.lit(0))
         ).alias("size_b"),
    )
    pairs = fuzzy_join(left, right, on="name", max_distance=2, block_chars=12)
    ag = pairs.spark.select(
        (F.col("brand_a") == F.col("brand_b")).alias("g_brand"),
        (F.col("cont_a") == F.col("cont_b")).alias("g_cont"),
        (F.col("size_a") == F.col("size_b")).alias("g_size"),
    )
    return fellegi_sunter_em(ag, ["g_brand", "g_cont", "g_size"], iters=3).spark


def _fs_em_iter_sql(prev: str, this: str) -> str:
    """One EM round as two MATERIALIZED CTEs: e-step sums over the pattern
    table with params from CTE ``prev``, m-step clamp into CTE ``this``."""
    w = (
        f"((SELECT p FROM {prev}) * pm) / "
        f"((SELECT p FROM {prev}) * pm + (1.0 - (SELECT p FROM {prev})) * pu)"
    )
    pm = (
        f"(CASE WHEN g1 THEN (SELECT m1 FROM {prev}) ELSE 1.0 - (SELECT m1 FROM {prev}) END)"
        f" * (CASE WHEN g2 THEN (SELECT m2 FROM {prev}) ELSE 1.0 - (SELECT m2 FROM {prev}) END)"
        f" * (CASE WHEN g3 THEN (SELECT m3 FROM {prev}) ELSE 1.0 - (SELECT m3 FROM {prev}) END)"
    )
    pu = (
        f"(CASE WHEN g1 THEN (SELECT u1 FROM {prev}) ELSE 1.0 - (SELECT u1 FROM {prev}) END)"
        f" * (CASE WHEN g2 THEN (SELECT u2 FROM {prev}) ELSE 1.0 - (SELECT u2 FROM {prev}) END)"
        f" * (CASE WHEN g3 THEN (SELECT u3 FROM {prev}) ELSE 1.0 - (SELECT u3 FROM {prev}) END)"
    )
    cl = lambda x: f"LEAST(GREATEST({x}, 0.000001), 1.0 - 0.000001)"  # noqa: E731
    return f"""
e_{this} AS MATERIALIZED (
  SELECT sum(c) AS n, sum(c*w) AS sw, sum(c*(1.0-w)) AS su,
         sum(c*w*(CASE WHEN g1 THEN 1.0 ELSE 0.0 END)) AS am1,
         sum(c*w*(CASE WHEN g2 THEN 1.0 ELSE 0.0 END)) AS am2,
         sum(c*w*(CASE WHEN g3 THEN 1.0 ELSE 0.0 END)) AS am3,
         sum(c*(1.0-w)*(CASE WHEN g1 THEN 1.0 ELSE 0.0 END)) AS au1,
         sum(c*(1.0-w)*(CASE WHEN g2 THEN 1.0 ELSE 0.0 END)) AS au2,
         sum(c*(1.0-w)*(CASE WHEN g3 THEN 1.0 ELSE 0.0 END)) AS au3
  FROM (SELECT c, g1, g2, g3, {w} AS w
        FROM (SELECT c, g1, g2, g3, {pm} AS pm, {pu} AS pu FROM pat))),
{this} AS MATERIALIZED (
  SELECT {cl('sw/n')} AS p,
         {cl('am1/sw')} AS m1, {cl('am2/sw')} AS m2, {cl('am3/sw')} AS m3,
         {cl('au1/su')} AS u1, {cl('au2/su')} AS u2, {cl('au3/su')} AS u3,
         n FROM e_{this})"""


_q401_sql = (
    """
WITH l AS (SELECT p_partkey AS id_a, lower(trim(p_name)) AS ln,
                  p_brand AS brand_a, p_type AS cont_a, p_size AS size_a
           FROM part),
r AS (SELECT p_partkey + 1000000 AS id_b,
             lower(trim(substr(p_name, 2))) AS rn,
             CASE WHEN p_partkey % 3 = 0 THEN 'Brand#99' ELSE p_brand END AS brand_b,
             CASE WHEN p_partkey % 5 = 0 THEN 'XX BOX' ELSE p_type END AS cont_b,
             p_size + CASE WHEN p_partkey % 4 = 0 THEN 100 ELSE 0 END AS size_b
      FROM part WHERE p_partkey % 50 = 7),
lb AS (SELECT *, unnest(list_distinct([substr(ln, 1, 12), substr(ln, 2, 12)])) AS blk FROM l),
rb AS (SELECT *, unnest(list_distinct([substr(rn, 1, 12), substr(rn, 2, 12)])) AS blk FROM r),
cand AS MATERIALIZED (
  SELECT DISTINCT id_a, id_b,
         brand_a = brand_b AS g1, cont_a = cont_b AS g2, size_a = size_b AS g3
  FROM lb JOIN rb USING (blk) WHERE levenshtein(ln, rn) <= 2),
pat AS MATERIALIZED (
  SELECT g1, g2, g3, CAST(count(*) AS DOUBLE) AS c FROM cand GROUP BY 1, 2, 3),
k0 AS (SELECT 0.1 AS p, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
              0.1 AS u1, 0.1 AS u2, 0.1 AS u3),"""
    + _fs_em_iter_sql("k0", "k1") + ","
    + _fs_em_iter_sql("k1", "k2") + ","
    + _fs_em_iter_sql("k2", "k3")
    + """
SELECT 'g_brand' AS field, round(m1, 6) AS m, round(u1, 6) AS u,
       round(log2(m1/u1), 6) AS w_agree,
       round(log2((1.0-m1)/(1.0-u1)), 6) AS w_disagree,
       round(p, 6) AS lambda, CAST(n AS BIGINT) AS n_pairs, CAST(3 AS INT) AS iters
FROM k3
UNION ALL
SELECT 'g_cont', round(m2, 6), round(u2, 6), round(log2(m2/u2), 6),
       round(log2((1.0-m2)/(1.0-u2)), 6), round(p, 6), CAST(n AS BIGINT), CAST(3 AS INT)
FROM k3
UNION ALL
SELECT 'g_size', round(m3, 6), round(u3, 6), round(log2(m3/u3), 6),
       round(log2((1.0-m3)/(1.0-u3)), 6), round(p, 6), CAST(n AS BIGINT), CAST(3 AS INT)
FROM k3
"""
)


def _q402(spark, sf_dir):
    """FOURTEENTH true Structured Streaming gate: STREAM-STREAM UNION +
    watermarked dedup merge — the reference's multi-source SinkTo shape
    (Polars.FSharp/Types.fs:1395-1444 fans several result streams into one
    sink) under real unbounded-source semantics.  Two INDEPENDENT file
    streams carry overlapping event slices (A: event_id%3 IN (0,1), B:
    event_id%3 IN (1,2) — the %3==1 third arrives on BOTH), each stream
    sets its OWN watermark (1h vs 2h delays — the engine coordinates the
    global watermark as the min across sources, which q373's FULL OUTER
    join only exercises for joins), and dropDuplicatesWithinWatermark on
    event_id keeps bounded per-key state so every event survives exactly
    once.  Emitting (event_id, event_type) keeps the gate deterministic:
    both copies of an overlap row are identical, so WHICH copy survives
    does not matter.  availableNow single batch; state is bounded by the
    watermark horizon at any stream length."""
    import os

    import hashlib, tempfile

    schema = _raw_schema(spark, sf_dir, "events")

    def _slice_dir(tag_expr: str, name: str) -> str:
        tag = hashlib.md5(f"{sf_dir}|{name}".encode()).hexdigest()[:8]
        d = os.path.join(tempfile.gettempdir(), f"stream_union_{name}_{tag}")
        done = os.path.join(d, "_SUCCESS")
        if not os.path.exists(done):
            (
                spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))
                .filter(F.expr(tag_expr))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(d)
            )
        return d

    dir_a = _slice_dir("event_id % 3 IN (0, 1)", "a")
    dir_b = _slice_dir("event_id % 3 IN (1, 2)", "b")
    # the raw parquet ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP
    cols = [
        F.col("event_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type"),
    ]
    sa = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 100000)
        .parquet(dir_a).select(*cols).withWatermark("ts", "1 hour")
    )
    sb = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 100000)
        .parquet(dir_b).select(*cols).withWatermark("ts", "2 hours")
    )
    merged = sa.unionByName(sb).dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type"
    )
    return _memory_stream_gate(spark, merged, "q402_stream_union", "append")


_q402_sql = """
SELECT event_id, event_type FROM events
"""


def _q403(spark, sf_dir):
    """FULL-LOOP unsupervised record linkage: the q401 candidate family
    (scale-safe fuzzy_join blocking over part names) -> fellegi_sunter_em
    estimates (m, u) per field with NO labels -> the estimates feed
    fellegi_sunter_score, which weighs and thresholds every candidate
    pair into match / possible / non_match.  This is the composition the
    reference's DB-linkage users run end-to-end; m/u pass through at
    their published 6-dp rounding so the oracle can replay the scoring
    from its own EM CTE chain.  Candidate volume scales with the blocked
    join (linear on near-unique names); EM is one pattern groupBy +
    bounded driver math; scoring is map-only."""
    from polars_net_spark.operators.joins_ext import (
        fellegi_sunter_em,
        fellegi_sunter_score,
        fuzzy_join,
    )

    p = _t(spark, sf_dir, "part").spark
    left = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name"),
        F.col("p_brand").alias("brand_a"), F.col("p_type").alias("cont_a"),
        F.col("p_size").alias("size_a"),
    )
    right = p.filter(F.col("p_partkey") % 50 == 7).select(
        (F.col("p_partkey") + 1000000).alias("id_b"),
        F.expr("substr(p_name, 2)").alias("name"),
        F.when(F.col("p_partkey") % 3 == 0, F.lit("Brand#99"))
        .otherwise(F.col("p_brand")).alias("brand_b"),
        F.when(F.col("p_partkey") % 5 == 0, F.lit("XX BOX"))
        .otherwise(F.col("p_type")).alias("cont_b"),
        (F.col("p_size")
         + F.when(F.col("p_partkey") % 4 == 0, F.lit(100)).otherwise(F.lit(0))
         ).alias("size_b"),
    )
    pairs = fuzzy_join(left, right, on="name", max_distance=2, block_chars=12)
    ag = pairs.spark.select(
        "id_a", "id_b",
        (F.col("brand_a") == F.col("brand_b")).alias("g_brand"),
        (F.col("cont_a") == F.col("cont_b")).alias("g_cont"),
        (F.col("size_a") == F.col("size_b")).alias("g_size"),
    )
    est = {
        r["field"]: (r["m"], r["u"])
        for r in fellegi_sunter_em(
            ag, ["g_brand", "g_cont", "g_size"], iters=3
        ).spark.collect()
    }
    scored = fellegi_sunter_score(ag, est, upper=6.0, lower=-2.0)
    return scored.spark.select("id_a", "id_b", "fs_score", "fs_decision")


_q403_sql = (
    _q401_sql.split("SELECT 'g_brand'")[0].rstrip()
    + """,
w AS (SELECT id_a, id_b,
       (CASE WHEN g1 THEN log2(round(m1,6)/round(u1,6))
             ELSE log2((1.0-round(m1,6))/(1.0-round(u1,6))) END)
     + (CASE WHEN g2 THEN log2(round(m2,6)/round(u2,6))
             ELSE log2((1.0-round(m2,6))/(1.0-round(u2,6))) END)
     + (CASE WHEN g3 THEN log2(round(m3,6)/round(u3,6))
             ELSE log2((1.0-round(m3,6))/(1.0-round(u3,6))) END) AS sc
      FROM cand, k3)
SELECT id_a, id_b, round(sc, 6) AS fs_score,
       CASE WHEN round(sc, 6) >= 6.0 THEN 'match'
            WHEN round(sc, 6) <= -2.0 THEN 'non_match'
            ELSE 'possible' END AS fs_decision
FROM w
"""
)


# every gate: name -> (builder, DuckDB oracle SQL), in run order
_GATES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    "q01_pricing_summary": (_q01, _q01_sql),
    "q02_filter_pushdown": (_q02, _q02_sql),
    "q03_top_orders": (_q03, _q03_sql),
    "q04_priority_semi": (_q04, _q04_sql),
    "q05_region_revenue": (_q05, _q05_sql),
    "q06_forecast_revenue": (_q06, _q06_sql),
    "q07_cust_order_counts": (_q07, _q07_sql),
    "q08_anti_no_orders": (_q08, _q08_sql),
    "q09_cross_region_nation": (_q09, _q09_sql),
    "q10_distinct_flags": (_q10, _q10_sql),
    "q11_topk_price": (_q11, _q11_sql),
    "q12_group_having": (_q12, _q12_sql),
    "q13_case_bands": (_q13, _q13_sql),
    "q14_concat_diagonal": (_q14, _q14_sql),
    "q15_pivot_flags": (_q15, _q15_sql),
    "q16_running_total": (_q16, _q16_sql),
    "q17_lag_diff": (_q17, _q17_sql),
    "q18_rolling_avg7": (_q18, _q18_sql),
    "q19_rolling_7d": (_q19, _q19_sql),
    "q20_hourly_events": (_q20, _q20_sql),
    "q21_asof_orders_events": (_q21, _q21_sql),
    "q22_quantiles": (_q22, _q22_sql),
    "q23_string_funcs": (_q23, _q23_sql),
    "q24_date_parts": (_q24, _q24_sql),
    "q25_list_ops": (_q25, _q25_sql),
    "q26_struct_ops": (_q26, _q26_sql),
    "q27_cast_clean": (_q27, _q27_sql),
    "q28_wordcount": (_q28, _q28_sql),
    "q29_dedup_exact": (_q29, _q29_sql),
    "q30_ngram_jaccard": (_q30, _NGRAM_PAIRS_SQL),
    "q31_minhash_lsh": (_q31, _NGRAM_PAIRS_SQL),
    "q32_embedding_pairs": (_q32, _q32_sql),
    "q33_cosine_topk": (_q33, _q33_sql),
    "q34_text_metrics": (_q34, _q34_sql),
    "q35_fingerprint": (_q35, _q35_sql),
    "q36_simhash": (_q36, _q36_sql),
    "q37_sessionize": (_q37, _q37_sql),
    "q38_lsh_topk": (_q38, _q38_sql),
    "q39_rollup": (_q39, _q39_sql),
    "q40_cube": (_q40, _q40_sql),
    "q41_fill_values": (_q41, _q41_sql),
    "q42_explode_pos": (_q42, _q42_sql),
    "q43_concat_horizontal": (_q43, _q43_sql),
    "q44_sql_correlated": (_q44, _q44_sql),
    "q45_selector_numeric": (_q45, _q45_sql),
    "q46_describe": (_q46, _q46_sql),
    "q47_vectorized_udf": (_q47, _q47_sql),
    "q48_asof_forward": (_q48, _q48_sql),
    "q49_window_rank": (_q49, _q49_sql),
    "q50_string_agg": (_q50, _q50_sql),
    "q51_dedup_clusters": (_q51, _q51_sql),
    "q52_ivf_topk": (_q52, _q52_sql),
    "q53_dedup_fuzzy": (_q53, _q53_sql),
    "q54_gopher_quality": (_q54, _q54_sql),
    "q55_repetition": (_q55, _q55_sql),
    "q56_tfidf": (_q56, _q56_sql),
    "q57_bm25": (_q57, _q57_sql),
    "q58_pii_scrub": (_q58, _q58_sql),
    "q59_range_join": (_q59, _q59_sql),
    "q60_salted_join": (_q60, _q60_sql),
    "q61_approx_distinct": (_q61, _q61_sql),
    "q62_sq8_recall": (_q62, _q62_sql),
    "q63_multimodal": (_q63, _q63_sql),
    "q64_hash_splits": (_q64, _q64_sql),
    "q65_chunking": (_q65, _q65_sql),
    "q66_seq_packing": (_q66, _q66_sql),
    "q67_decontam": (_q67, _q67_sql),
    "q68_source_cap": (_q68, _q68_sql),
    "q69_stratified_sample": (_q69, _q69_sql),
    "q70_oov_rate": (_q70, _q70_sql),
    "q71_mixture_sample": (_q71, _q71_sql),
    "q72_unigram_logprob": (_q72, _q72_sql),
    "q73_line_dedup": (_q73, _q73_sql),
    "q74_merge_upsert": (_q74, _q74_sql),
    "q75_cut_qcut": (_q75, _q75_sql),
    "q76_value_counts": (_q76, _q76_sql),
    "q77_pct_change": (_q77, _q77_sql),
    "q78_rolling_quantile": (_q78, _q78_sql),
    "q79_interpolate": (_q79, _q79_sql),
    "q80_ewm_mean": (_q80, _q80_sql),
    "q81_ewm_var_std": (_q81, _q81_sql),
    "q82_distinct_flags": (_q82, _q82_sql),
    "q83_mode": (_q83, _q83_sql),
    "q84_map_groups": (_q84, _q84_sql),
    "q85_stats_agg": (_q85, _q85_sql),
    "q86_rle_peaks": (_q86, _q86_sql),
    "q87_product": (_q87, _q87_sql),
    "q88_join_where": (_q88, _q88_sql),
    "q89_replace_listops": (_q89, _q89_sql),
    "q90_group_head_tail": (_q90, _q90_sql),
    "q91_dup_spans": (_q91, _q91_sql),
    "q92_span_removal": (_q92, _q92_sql),
    "q93_blocklist": (_q93, _q93_sql),
    "q94_dt_extras": (_q94, _q94_sql),
    "q95_str_extras": (_q95, _q95_sql),
    "q96_horizontal": (_q96, _q96_sql),
    "q97_semdedup": (_q97, _q97_sql),
    "q98_upsample": (_q98, _q98_sql),
    "q99_rolling_frame": (_q99, _q99_sql),
    "q100_to_dummies": (_q100, _q100_sql),
    "q101_ewm_mean_by": (_q101, _q101_sql),
    "q102_rolling_std_var": (_q102, _q102_sql),
    "q103_bin_namespace": (_q103, _q103_sql),
    "q104_str_matches": (_q104, _q104_sql),
    "q105_month_bounds": (_q105, _q105_sql),
    "q106_topk_agg": (_q106, _q106_sql),
    "q107_hist": (_q107, _q107_sql),
    "q108_datetime_range": (_q108, _q108_sql),
    "q109_math_extras": (_q109, _q109_sql),
    "q110_nullsafe_strparts": (_q110, _q110_sql),
    "q111_linear_quality": (_q111, _q111_sql),
    "q112_token_budget_cap": (_q112, _q112_sql),
    "q113_json_path": (_q113, _q113_sql),
    "q114_embedding_utils": (_q114, _q114_sql),
    "q115_update_overlay": (_q115, _q115_sql),
    "q116_rank_methods": (_q116, _q116_sql),
    "q117_int_dynamic": (_q117, _q117_sql),
    "q118_cum_prod": (_q118, _q118_sql),
    "q119_clean_text": (_q119, _q119_sql),
    "q120_cond_agg": (_q120, _q120_sql),
    "q121_epoch_listpos": (_q121, _q121_sql),
    "q122_frame_aggs": (_q122, _q122_sql),
    "q123_term_df": (_q123, _q123_sql),
    "q124_winsorize": (_q124, _q124_sql),
    "q125_str_many": (_q125, _q125_sql),
    "q126_list_sets": (_q126, _q126_sql),
    "q127_pipeline_e2e": (_q127, _q127_sql),
    "q128_sliding_windows": (_q128, _q128_sql),
    "q129_asof_nearest": (_q129, _q129_sql),
    "q130_align_concat": (_q130, _q130_sql),
    "q131_cut_labels": (_q131, _q131_sql),
    "q132_shift_fill": (_q132, _q132_sql),
    "q133_interpolate_by": (_q133, _q133_sql),
    "q134_merge_sorted": (_q134, _q134_sql),
    "q135_dot_gather_every": (_q135, _q135_sql),
    "q136_topk_by": (_q136, _q136_sql),
    "q137_str_extras": (_q137, _q137_sql),
    "q138_math_extras": (_q138, _q138_sql),
    "q139_list_extras": (_q139, _q139_sql),
    "q140_physical_shrink": (_q140, _q140_sql),
    "q141_url_curation": (_q141, _q141_sql),
    "q142_business_days_nulljoin": (_q142, _q142_sql),
    "q143_rolling_moments": (_q143, _q143_sql),
    "q144_temperature_shuffle": (_q144, _q144_sql),
    "q145_unique_none_tostruct": (_q145, _q145_sql),
    "q146_bigram_lm": (_q146, _q146_sql),
    "q147_mask_tokens": (_q147, _q147_sql),
    "q148_pipeline_prep": (_q148, _q148_sql),
    "q149_named_aggs_boolagg": (_q149, _q149_sql),
    "q150_chat_flatten": (_q150, _q150_sql),
    "q151_streaming_window": (_q151, _q151_sql),
    "q152_video_frames": (_q152, _q152_sql),
    "q153_corpus_stats": (_q153, _q153_sql),
    "q154_simhash_pairs": (_q154, _q154_sql),
    "q155_preference_pairs": (_q155, _q155_sql),
    "q156_epoch_oversample": (_q156, _q156_sql),
    "q157_negative_sampling": (_q157, _q157_sql),
    "q158_length_batches": (_q158, _q158_sql),
    "q159_stream_stream_join": (_q159, _q159_sql),
    "q160_sort_by_agg": (_q160, _q160_sql),
    "q161_vocab_encode": (_q161, _q161_sql),
    "q162_sentences": (_q162, _q162_sql),
    "q163_zorder_key": (_q163, _q163_sql),
    "q164_dedup_against": (_q164, _q164_sql),
    "q165_ols_by_key": (_q165, _q165_sql),
    "q166_key_skew": (_q166, _q166_sql),
    "q167_outlier_flags": (_q167, _q167_sql),
    "q168_find_gaps": (_q168, _q168_sql),
    "q169_cohort_retention": (_q169, _q169_sql),
    "q170_funnel": (_q170, _q170_sql),
    "q171_fuzzy_join": (_q171, _q171_sql),
    "q172_scd2": (_q172, _q172_sql),
    "q173_stream_sessions": (_q173, _q173_sql),
    "q174_pagerank": (_q174, _q174_sql),
    "q175_weighted_sample": (_q175, _q175_sql),
    "q176_corr_matrix": (_q176, _q176_sql),
    "q177_rolling_corr": (_q177, _q177_sql),
    "q178_seasonal_decompose": (_q178, _q178_sql),
    "q179_acf": (_q179, _q179_sql),
    "q180_cusum": (_q180, _q180_sql),
    "q181_trimmed_mean": (_q181, _q181_sql),
    "q182_overlap_join": (_q182, _q182_sql),
    "q183_embedding_join": (_q183, _q183_sql),
    "q184_rank_normalize": (_q184, _q184_sql),
    "q185_tfidf_pairs": (_q185, _q185_sql),
    "q186_stream_quality": (_q186, _q186_sql),
    "q187_decimal_exact": (_q187, _q187_sql),
    "q188_debounce": (_q188, _q188_sql),
    "q189_bootstrap_ci": (_q189, _q189_sql),
    "q190_welch_ttest": (_q190, _q190_sql),
    "q191_chi2": (_q191, _q191_sql),
    "q192_mann_whitney": (_q192, _q192_sql),
    "q193_calibration": (_q193, _q193_sql),
    "q194_roc_auc": (_q194, _q194_sql),
    "q195_prf1": (_q195, _q195_sql),
    "q196_auc_by_key": (_q196, _q196_sql),
    "q197_containment": (_q197, _q197_sql),
    "q198_ece": (_q198, _q198_sql),
    "q199_ndcg": (_q199, _q199_sql),
    "q200_spearman": (_q200, _q200_sql),
    "q201_avg_precision": (_q201, _q201_sql),
    "q202_mrr": (_q202, _q202_sql),
    "q203_recall_at_k": (_q203, _q203_sql),
    "q204_cohens_kappa": (_q204, _q204_sql),
    "q205_corpus_divergence": (_q205, _q205_sql),
    "q206_word_entropy": (_q206, _q206_sql),
    "q207_histogram": (_q207, _q207_sql),
    "q208_stream_dedup": (_q208, _q208_sql),
    "q209_bpe_train": (_q209, _q209_sql),
    "q210_bpe_encode": (_q210, _q210_sql),
    "q211_pq_adc": (_q211, _q211_sql),
    "q212_dedup_keep_best": (_q212, _q212_sql),
    "q213_sft_examples": (_q213, _q213_sql),
    "q214_containment_df_prefix": (_q214, _q214_sql),
    "q215_psi_drift": (_q215, _q215_sql),
    "q216_class_loss": (_q216, _q216_sql),
    "q217_fleiss_kappa": (_q217, _q217_sql),
    "q218_k_anonymity": (_q218, _q218_sql),
    "q219_readability": (_q219, _q219_sql),
    "q220_ks_test": (_q220, _q220_sql),
    "q221_gini": (_q221, _q221_sql),
    "q222_benford": (_q222, _q222_sql),
    "q223_stream_drift": (_q223, _q223_sql),
    "q224_scaled": (_q224, _q224_sql),
    "q225_l_diversity": (_q225, _q225_sql),
    "q226_rrf_fusion": (_q226, _q226_sql),
    "q227_prop_ztest": (_q227, _q227_sql),
    "q228_survival": (_q228, _q228_sql),
    "q229_twa": (_q229, _q229_sql),
    "q230_lift": (_q230, _q230_sql),
    "q231_pmi": (_q231, _q231_sql),
    "q232_target_encode": (_q232, _q232_sql),
    "q233_feature_hash": (_q233, _q233_sql),
    "q234_validate": (_q234, _q234_sql),
    "q235_ivfpq": (_q235, _q235_sql),
    "q236_embedding_drift": (_q236, _q236_sql),
    "q237_markov": (_q237, _q237_sql),
    "q238_conformal": (_q238, _q238_sql),
    "q239_sessionize": (_q239, _q239_sql),
    "q240_basket_rules": (_q240, _q240_sql),
    "q241_cuped": (_q241, _q241_sql),
    "q242_triangles": (_q242, _q242_sql),
    "q243_rouge1": (_q243, _q243_sql),
    "q244_edit_distance": (_q244, _q244_sql),
    "q245_srm": (_q245, _q245_sql),
    "q246_mahalanobis": (_q246, _q246_sql),
    "q247_attribution": (_q247, _q247_sql),
    "q248_rake": (_q248, _q248_sql),
    "q249_profile": (_q249, _q249_sql),
    "q250_weighted_quantile": (_q250, _q250_sql),
    "q251_label_propagation": (_q251, _q251_sql),
    "q252_holt": (_q252, _q252_sql),
    "q253_grouping_sets": (_q253, _q253_sql),
    "q254_rfm": (_q254, _q254_sql),
    "q255_woe_iv": (_q255, _q255_sql),
    "q256_abc": (_q256, _q256_sql),
    "q257_pareto_front": (_q257, _q257_sql),
    "q258_frame_diff": (_q258, _q258_sql),
    "q259_multilabel": (_q259, _q259_sql),
    "q260_did": (_q260, _q260_sql),
    "q261_bh_adjust": (_q261, _q261_sql),
    "q262_funnel_timing": (_q262, _q262_sql),
    "q263_mmr_rerank": (_q263, _q263_sql),
    "q264_cohort_value": (_q264, _q264_sql),
    "q265_ratio_ttest": (_q265, _q265_sql),
    "q266_concentration": (_q266, _q266_sql),
    "q267_stream_upsert": (_q267, _q267_sql),
    "q268_forecast_accuracy": (_q268, _q268_sql),
    "q269_fk_integrity": (_q269, _q269_sql),
    "q270_theil_sen": (_q270, _q270_sql),
    "q271_pop_report": (_q271, _q271_sql),
    "q272_freq_sequences": (_q272, _q272_sql),
    "q273_ipf_raking": (_q273, _q273_sql),
    "q274_kendall_tau": (_q274, _q274_sql),
    "q275_cramers_v": (_q275, _q275_sql),
    "q276_odds_ratio": (_q276, _q276_sql),
    "q277_mcnemar": (_q277, _q277_sql),
    "q278_cohens_d": (_q278, _q278_sql),
    "q279_brier_decomposition": (_q279, _q279_sql),
    "q280_lorenz": (_q280, _q280_sql),
    "q281_kmv_distinct": (_q281, _q281_sql),
    "q282_kmv_grouped": (_q282, _q282_sql),
    "q283_cms_freq": (_q283, _q283_sql),
    "q284_mad_outliers": (_q284, _q284_sql),
    "q285_log_rank": (_q285, _q285_sql),
    "q286_zipf_fit": (_q286, _q286_sql),
    "q287_profile_diff": (_q287, _q287_sql),
    "q288_holt_forecast": (_q288, _q288_sql),
    "q289_bradley_terry": (_q289, _q289_sql),
    "q290_anova": (_q290, _q290_sql),
    "q291_info_gain": (_q291, _q291_sql),
    "q292_degree_report": (_q292, _q292_sql),
    "q293_msprt": (_q293, _q293_sql),
    "q294_stream_stateful": (_q294, _q294_sql),
    "q295_rollup_merge": (_q295, _q295_sql),
    "q296_dp_counts": (_q296, _q296_sql),
    "q297_collapse_rare": (_q297, _q297_sql),
    "q298_rows_diff": (_q298, _q298_sql),
    "q299_dup_stats": (_q299, _q299_sql),
    "q300_neyman": (_q300, _q300_sql),
    "q301_stream_sliding": (_q301, _q301_sql),
    "q302_median_ci": (_q302, _q302_sql),
    "q303_ca_trend": (_q303, _q303_sql),
    "q304_auc": (_q304, _q304_sql),
    "q305_reliability_bins": (_q305, _q305_sql),
    "q306_calibration": (_q306, _q306_sql),
    "q307_gains_chart": (_q307, _q307_sql),
    "q308_theil": (_q308, _q308_sql),
    "q309_weighted_quantiles": (_q309, _q309_sql),
    "q310_rmst": (_q310, _q310_sql),
    "q311_group_auc": (_q311, _q311_sql),
    "q312_avg_precision": (_q312, _q312_sql),
    "q313_heaps_law": (_q313, _q313_sql),
    "q314_interarrival": (_q314, _q314_sql),
    "q315_krippendorff": (_q315, _q315_sql),
    "q316_wasserstein": (_q316, _q316_sql),
    "q317_diversity": (_q317, _q317_sql),
    "q318_ngram_coverage": (_q318, _q318_sql),
    "q319_nelson_aalen": (_q319, _q319_sql),
    "q320_dup_rate": (_q320, _q320_sql),
    "q321_mann_kendall": (_q321, _q321_sql),
    "q322_ipw_ate": (_q322, _q322_sql),
    "q323_power_mde": (_q323, _q323_sql),
    "q324_jackknife_ratio": (_q324, _q324_sql),
    "q325_leakage_safe_split": (_q325, _q325_sql),
    "q326_strip_boilerplate": (_q326, _q326_sql),
    "q327_fertility": (_q327, _q327_sql),
    "q328_stream_enrich": (_q328, _q328_sql),
    "q329_k_core": (_q329, _q329_sql),
    "q330_c_index": (_q330, _q330_sql),
    "q331_qq_drift": (_q331, _q331_sql),
    "q332_embedding_cov": (_q332, _q332_sql),
    "q333_qini": (_q333, _q333_sql),
    "q334_huber": (_q334, _q334_sql),
    "q335_poisson_rate": (_q335, _q335_sql),
    "q336_strip_markup": (_q336, _q336_sql),
    "q337_script_detect": (_q337, _q337_sql),
    "q338_fe_regression": (_q338, _q338_sql),
    "q339_changepoint": (_q339, _q339_sql),
    "q340_cox_ph": (_q340, _q340_sql),
    "q341_levene": (_q341, _q341_sql),
    "q342_jarque_bera": (_q342, _q342_sql),
    "q343_energy_dist": (_q343, _q343_sql),
    "q344_pettitt": (_q344, _q344_sql),
    "q345_best_split": (_q345, _q345_sql),
    "q346_confusion": (_q346, _q346_sql),
    "q347_gumbel": (_q347, _q347_sql),
    "q348_kmv_jaccard": (_q348, _q348_sql),
    "q349_components": (_q349, _q349_sql),
    "q350_bleu": (_q350, _q350_sql),
    "q351_rouge": (_q351, _q351_sql),
    "q352_cvm": (_q352, _q352_sql),
    "q353_perm_test": (_q353, _q353_sql),
    "q354_kmeans": (_q354, _q354_sql),
    "q355_stickiness": (_q355, _q355_sql),
    "q356_power_users": (_q356, _q356_sql),
    "q357_chrf": (_q357, _q357_sql),
    "q358_bfs": (_q358, _q358_sql),
    "q359_weibull": (_q359, _q359_sql),
    "q360_chapman": (_q360, _q360_sql),
    "q361_stream_outer_join": (_q361, _q361_sql),
    "q362_partial_corr": (_q362, _q362_sql),
    "q363_dist_compare": (_q363, _q363_sql),
    "q364_negbin": (_q364, _q364_sql),
    "q365_eb_rates": (_q365, _q365_sql),
    "q366_rdd": (_q366, _q366_sql),
    "q367_strat_ate": (_q367, _q367_sql),
    "q368_kish_wmean": (_q368, _q368_sql),
    "q369_yules_k": (_q369, _q369_sql),
    "q370_holt_winters": (_q370, _q370_sql),
    "q371_mediation": (_q371, _q371_sql),
    "q372_logistic": (_q372, _q372_sql),
    "q373_stream_full_outer": (_q373, _q373_sql),
    "q374_lins_ccc": (_q374, _q374_sql),
    "q375_bland_altman": (_q375, _q375_sql),
    "q376_grubbs": (_q376, _q376_sql),
    "q377_icc": (_q377, _q377_sql),
    "q378_cochran_q": (_q378, _q378_sql),
    "q379_durbin_watson": (_q379, _q379_sql),
    "q380_kruskal": (_q380, _q380_sql),
    "q381_breusch_pagan": (_q381, _q381_sql),
    "q382_granger": (_q382, _q382_sql),
    "q383_ljung_box": (_q383, _q383_sql),
    "q384_holm": (_q384, _q384_sql),
    "q385_jaro_winkler": (_q385, _q385_sql),
    "q386_quantile_normalize": (_q386, _q386_sql),
    "q387_page_hinkley": (_q387, _q387_sql),
    "q388_hurst": (_q388, _q388_sql),
    "q389_stream_jdbc": (_q389, _q389_sql),
    "q390_cell_ranks": (_q390, _q390_sql),
    "q391_friedman": (_q391, _q391_sql),
    "q392_wilcoxon": (_q392, _q392_sql),
    "q393_tost": (_q393, _q393_sql),
    "q394_by_adjust": (_q394, _q394_sql),
    "q395_anderson_darling": (_q395, _q395_sql),
    "q396_random_projection": (_q396, _q396_sql),
    "q397_theta_forecast": (_q397, _q397_sql),
    "q398_brunner_munzel": (_q398, _q398_sql),
    "q399_winnowing": (_q399, _q399_sql),
    "q400_fellegi_sunter": (_q400, _q400_sql),
    "q401_fs_em": (_q401, _q401_sql),
    "q402_stream_union_dedup": (_q402, _q402_sql),
    "q403_fs_full_loop": (_q403, _q403_sql),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _GATES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _GATES.items()}
