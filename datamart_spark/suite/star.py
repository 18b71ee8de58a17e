"""Datamart augmentation + profiling operators over the star schema.

Maps SURVEY.md §2 reference ops to declarative Spark plans:
  J1+A1/A2  join_left_agg        — left equi-join + per-input-row aggs
             (augmentation.py:376-546 join; perform_aggregations
              augmentation.py:260-336; default agg set mean/sum/max/min
              augmentation.py:300-307)
  J2        temporal_join_month  — coarser-resolution-aligned equi-join
             (augmentation.py:134-231, date_trunc both sides)
  J5        union_by_name        — schema-aligned union (augmentation.py:626-761)
  J6/R2     range_overlap_score  — coverage-range intersects + overlap
             fraction score (search/join.py:153-199)
  P8        anti_join_orders     — must_not terms ⇒ left-anti (join.py:145-149)
  P9        fuzzy_nation_pairs   — edit-distance≤N name match (join.py:141-143)
  W1        topk_orders          — global top-k by score (search/base.py:1)
  W2/W3     window_top3          — ranked-within-group selection
  A2/A3     groupby_flag_status  — agg set incl. non-null count semantics
  A4/A5     distinct/stddev_pop  — profiler stats (numerical.py:17-33 is
             population stddev, ÷n)
  A6        histogram_totalprice — 10-bin numeric histogram (core.py:330-348)
  A7        temporal_resolution  — avg distinct-per-bucket cascade
             (temporal.py:36-57)
  §2.8      json_extract_events  — JSON metadata access (common.py:79-84)

Exact-sum discipline: SUMs of money columns add integer cents
(exact, order-independent) and divide by 100 once, so distributed
summation order cannot flip a rounded value against the oracle.  This
relies on every money value having at most 2 decimals, which
tests/test_money_cents.py checks on every lineitem table.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from . import register, table


@register(
    "join_left_agg",
    """
SELECT o.o_orderkey,
       count(l.l_orderkey) AS n_items,
       round(avg(l.l_extendedprice), 4) AS mean_price,
       cast(sum(cast(l.l_extendedprice AS decimal(18,2))) AS double) AS sum_price,
       max(l.l_extendedprice) AS max_price,
       min(l.l_extendedprice) AS min_price
FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey < 500
GROUP BY o.o_orderkey ORDER BY o.o_orderkey
""",
)
def join_left_agg(spark, sf_dir):
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(l, l["l_orderkey"] == o["o_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_items"),
            F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
            # exact-sum via integer cents (see groupby_flag_status note)
            (F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))) / 100.0)
            .alias("sum_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_extendedprice").alias("min_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "temporal_join_month",
    """
SELECT strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
       count(*) AS n
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND date_trunc('month', l.l_shipdate) = date_trunc('month', o.o_orderdate)
GROUP BY 1 ORDER BY month
""",
)
def temporal_join_month(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    j = o.join(
        l,
        (l["l_orderkey"] == o["o_orderkey"])
        & (F.date_trunc("month", l["l_shipdate"]) == F.date_trunc("month", o["o_orderdate"])),
    )
    return (
        j.groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("month")
    )


@register(
    "union_by_name",
    """
WITH u AS (
  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS side FROM customer
  UNION ALL
  SELECT s_name, s_acctbal, 'supplier' FROM supplier
)
SELECT side, substr(name, 1, 1) AS initial, count(*) AS n,
       cast(sum(cast(acctbal AS decimal(18,2))) AS double) AS sum_bal
FROM u GROUP BY side, initial ORDER BY side, initial
""",
)
def union_by_name(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("side"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("side"),
    )
    u = c.unionByName(s)
    return (
        u.groupBy("side", F.substring("name", 1, 1).alias("initial"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("acctbal").cast("decimal(18,2)")).cast("double").alias("sum_bal"),
        )
        .orderBy("side", "initial")
    )


@register(
    "topk_orders",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
""",
)
def topk_orders(spark, sf_dir):
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "groupby_flag_status",
    """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       max(l_extendedprice) AS max_price,
       min(l_extendedprice) AS min_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def groupby_flag_status(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # Exact order-independent sum via integer cents: money
            # columns are 2-decimal by construction (checked on every
            # sf by tests/test_money_cents.py), so floor(x*100 + 0.5) is the
            # exact cent count (no representable value sits near a .5
            # tie) and Σcents/100.0 is bit-identical to the
            # decimal(18,2) path — which paid a string-formatting
            # double→BigDecimal conversion PER ROW (measured: 63% of
            # this query's runtime; guide §1.2 step 2).
            (F.sum(F.floor(F.col("l_quantity") * 100 + F.lit(0.5))) / 100.0)
            .alias("sum_qty"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.min("l_extendedprice").alias("min_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "distinct_counts",
    """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def distinct_counts(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("n_parts"),
            F.count_distinct("l_suppkey").alias("n_supps"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "mean_stddev_pop",
    """
SELECT l_returnflag,
       round(avg(l_extendedprice), 4) AS mean_price,
       round(stddev_pop(l_extendedprice), 4) AS stddev_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def mean_stddev_pop(spark, sf_dir):
    """Population stddev — the reference divides by n, not n-1
    (lib_profiler numerical.py:17-33)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_extendedprice"), 4).alias("mean_price"),
            F.round(F.stddev_pop("l_extendedprice"), 4).alias("stddev_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "histogram_totalprice",
    """
WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
SELECT least(9, floor((o_totalprice - mn) / ((mx - mn) / 10)))::bigint AS bucket,
       count(*) AS n
FROM orders, s GROUP BY 1 ORDER BY bucket
""",
)
def histogram_totalprice(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    s = o.agg(F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx"))
    return (
        o.crossJoin(F.broadcast(s))
        .withColumn(
            "bucket",
            F.least(F.lit(9).cast("long"), F.floor((F.col("o_totalprice") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / 10))),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@register(
    "temporal_resolution_events",
    """
WITH h AS (SELECT date_trunc('hour', ts) AS b, count(DISTINCT ts) AS c FROM events GROUP BY 1),
d AS (SELECT date_trunc('day', ts) AS b, count(DISTINCT ts) AS c FROM events GROUP BY 1)
SELECT (SELECT round(avg(c), 4) FROM h) AS per_hour,
       (SELECT round(avg(c), 4) FROM d) AS per_day
""",
)
def temporal_resolution_events(spark, sf_dir):
    """A7: resolution = first bucket level where avg distinct values per
    bucket ≈ 1 (temporal.py:36-57) — here the two diagnostic ratios."""
    e = table(spark, sf_dir, "events")
    h = (
        e.groupBy(F.date_trunc("hour", "ts").alias("b"))
        .agg(F.count_distinct("ts").alias("c"))
        .agg(F.round(F.avg("c"), 4).alias("per_hour"))
    )
    d = (
        e.groupBy(F.date_trunc("day", "ts").alias("b"))
        .agg(F.count_distinct("ts").alias("c"))
        .agg(F.round(F.avg("c"), 4).alias("per_day"))
    )
    return h.crossJoin(F.broadcast(d))  # both sides are 1-row aggregates


@register(
    "range_overlap_score",
    """
WITH r AS (SELECT n.n_name, min(s.s_acctbal) AS lo, max(s.s_acctbal) AS hi
           FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
           GROUP BY n.n_name)
SELECT n_name,
       round(greatest(0.0, least(hi, 5000.0) - greatest(lo, 1000.0)) / (5000.0 - 1000.0), 4) AS overlap_score
FROM r ORDER BY overlap_score DESC, n_name ASC LIMIT 15
""",
)
def range_overlap_score(spark, sf_dir):
    """J6/R2: query range [1000,5000] vs per-nation acctbal coverage;
    score = overlap fraction of the query range (search/join.py:159-199)."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.min("s_acctbal").alias("lo"), F.max("s_acctbal").alias("hi"))
    )
    return (
        r.withColumn(
            "overlap_score",
            F.round(
                F.expr("greatest(0.0d, least(hi, 5000.0d) - greatest(lo, 1000.0d)) / (5000.0d - 1000.0d)"),
                4,
            ),
        )
        .select("n_name", "overlap_score")
        .orderBy(F.desc("overlap_score"), F.asc("n_name"))
        .limit(15)
    )


@register(
    "fuzzy_nation_pairs",
    """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name) AS dist
FROM nation a JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 5
ORDER BY dist, name_a, name_b LIMIT 30
""",
)
def fuzzy_nation_pairs(spark, sf_dir):
    n = table(spark, sf_dir, "nation")
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.n_name") < F.col("b.n_name"))
        .withColumn("dist", F.levenshtein(F.col("a.n_name"), F.col("b.n_name")))
        .where(F.col("dist") <= 5)
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            "dist",
        )
        .orderBy("dist", "name_a", "name_b")
        .limit(30)
    )


@register(
    "anti_join_orders",
    """
SELECT o.o_orderpriority, count(*) AS n
FROM orders o
ANTI JOIN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') b
  ON o.o_custkey = b.c_custkey
GROUP BY 1 ORDER BY o_orderpriority
""",
)
def anti_join_orders(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@register(
    "window_top3_per_priority",
    """
WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
           FROM orders)
SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM r
WHERE rk <= 3 ORDER BY o_orderpriority, rk
""",
)
def window_top3_per_priority(spark, sf_dir):
    # Spark plans rk<=3 as WindowGroupLimit(Partial) BEFORE the window
    # exchange — each map task keeps only its local top-3 per group.
    # But the single-file orders table has 2 parquet row groups, so the
    # map-side sort ran as 2 tasks over 750k rows each (the measured
    # cost of the whole query).  A keyed repartition first spreads the
    # partial sort+limit across the cluster; the extra exchange carries
    # narrow rows once and the post-limit shuffle is ~3 rows per
    # (task, group) (guide §2.5: input parallelism, not the window, was
    # the bottleneck).  Hash on the unique key — keyless round-robin
    # repartition pays a local sort of its input (SPARK-23207).
    o = table(spark, sf_dir, "orders").repartition(
        spark.sparkContext.defaultParallelism, "o_orderkey"
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_orderpriority", "rk")
    )


@register(
    "json_extract_events",
    """
SELECT json_extract_string(props, '$.k') AS k, count(*) AS n
FROM events GROUP BY 1 ORDER BY n DESC, k ASC LIMIT 20
""",
)
def json_extract_events(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.get_json_object("props", "$.k").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("k"))
        .limit(20)
    )


@register(
    "profile_columns_documents",
    """
SELECT 'lang' AS column_name, count(DISTINCT lang) AS n_distinct,
       count(*) - count(lang) AS n_null, count(*) AS n_rows FROM documents
UNION ALL
SELECT 'source', count(DISTINCT source), count(*) - count(source), count(*) FROM documents
ORDER BY column_name
""",
)
def profile_columns_documents(spark, sf_dir):
    """Datamart-style per-column profile facet (distinct counts drive the
    Enumeration rule, profile_types.py:209-218)."""
    d = table(spark, sf_dir, "documents")
    lang = d.agg(
        F.lit("lang").alias("column_name"),
        F.count_distinct("lang").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count("lang")).alias("n_null"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    src = d.agg(
        F.lit("source").alias("column_name"),
        F.count_distinct("source").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count("source")).alias("n_null"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return lang.unionByName(src).orderBy("column_name")


def _gaz_sql_list(level: int) -> str:
    from ..profiler.gazetteer import NAMES_BY_LEVEL

    return ", ".join(f"'{n}'" for n in sorted(NAMES_BY_LEVEL.get(level, [])))


@register(
    "admin_area_profile",
    f"""
WITH s AS (
  SELECT 'nation.n_name' AS column_name, count(*) AS n_rows,
         sum(CASE WHEN regexp_replace(trim(lower(n_name)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(0)}) THEN 1 ELSE 0 END)::bigint AS res0,
         sum(CASE WHEN regexp_replace(trim(lower(n_name)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(1)}) THEN 1 ELSE 0 END)::bigint AS res1
  FROM nation
  UNION ALL
  SELECT 'region.r_name', count(*),
         sum(CASE WHEN regexp_replace(trim(lower(r_name)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(0)}) THEN 1 ELSE 0 END)::bigint,
         sum(CASE WHEN regexp_replace(trim(lower(r_name)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(1)}) THEN 1 ELSE 0 END)::bigint
  FROM region
  UNION ALL
  SELECT 'customer.c_mktsegment', count(*),
         sum(CASE WHEN regexp_replace(trim(lower(c_mktsegment)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(0)}) THEN 1 ELSE 0 END)::bigint,
         sum(CASE WHEN regexp_replace(trim(lower(c_mktsegment)), '\\s+', ' ', 'g')
                  IN ({_gaz_sql_list(1)}) THEN 1 ELSE 0 END)::bigint
  FROM customer
)
SELECT column_name, n_rows, (res0 + res1)::bigint AS n_resolved,
       round((res0 + res1) * 1.0 / n_rows, 4) AS resolved_ratio,
       (res0 + res1) > 0.7 * n_rows AS is_admin,
       CASE WHEN (res0 + res1) <= 0.7 * n_rows THEN NULL
            WHEN res0 >= greatest(3.0, 0.9 * n_rows) THEN 0
            WHEN res1 >= greatest(3.0, 0.9 * n_rows) THEN 1
            ELSE NULL END AS admin_level
FROM s ORDER BY column_name
""",
)
def admin_area_profile(spark, sf_dir):
    """AdministrativeArea semantic-type rule over the offline gazetteer
    (reference: datamart-geo resolution, profile_types.py:199-203 —
    admin iff >70% of the column resolves; level guess core.py:486-499
    with threshold max(3, 90%)).  Country names classify level 0,
    continents and market segments never resolve.  One single-pass
    aggregation per column; the gazetteer rides as JVM-side `isin`
    literals — the 100 TB shape is a broadcast join either way."""
    from ..profiler.gazetteer import NAMES_BY_LEVEL

    def col_agg(tbl: str, col: str):
        df = table(spark, sf_dir, tbl)
        nm = F.regexp_replace(
            F.trim(F.lower(F.col(col).cast("string"))), r"\s+", " "
        )
        return df.agg(
            F.lit(f"{tbl}.{col}").alias("column_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(nm.isin(NAMES_BY_LEVEL.get(0, [])), 1).otherwise(0)
            ).alias("res0"),
            F.sum(
                F.when(nm.isin(NAMES_BY_LEVEL.get(1, [])), 1).otherwise(0)
            ).alias("res1"),
        )

    u = (
        col_agg("nation", "n_name")
        .unionByName(col_agg("region", "r_name"))
        .unionByName(col_agg("customer", "c_mktsegment"))
    )
    resolved = F.col("res0") + F.col("res1")
    thr = F.greatest(F.lit(3.0), F.lit(0.9) * F.col("n_rows"))
    return u.select(
        "column_name",
        "n_rows",
        resolved.cast("long").alias("n_resolved"),
        F.round(resolved / F.col("n_rows"), 4).alias("resolved_ratio"),
        (resolved > F.lit(0.7) * F.col("n_rows")).alias("is_admin"),
        F.when(resolved <= F.lit(0.7) * F.col("n_rows"), F.lit(None).cast("int"))
        .when(F.col("res0") >= thr, F.lit(0))
        .when(F.col("res1") >= thr, F.lit(1))
        .otherwise(F.lit(None).cast("int"))
        .alias("admin_level"),
    ).orderBy("column_name")


@register(
    "numeric_profile_lineitem",
    """
SELECT round(avg(l_quantity), 4) AS qty_mean,
       round(stddev_pop(l_quantity), 4) AS qty_stddev,
       min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
       round(avg(l_discount), 4) AS disc_mean,
       min(l_discount) AS disc_min, max(l_discount) AS disc_max
FROM lineitem
""",
)
def numeric_profile_lineitem(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").agg(
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
        F.round(F.stddev_pop("l_quantity"), 4).alias("qty_stddev"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.round(F.avg("l_discount"), 4).alias("disc_mean"),
        F.min("l_discount").alias("disc_min"),
        F.max("l_discount").alias("disc_max"),
    )


@register(
    "keyset_pagination",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderkey > 1000
ORDER BY o_orderkey LIMIT 200
""",
)
def keyset_pagination(spark, sf_dir):
    """W5 pagination scan (reference pages ES from_/size, page=200 —
    union.py:131-159): the keyset form pushes the page boundary down as
    a range predicate instead of re-scanning + discarding offsets."""
    from ..query.search import paginate

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return paginate(orders, ["o_orderkey"], page_size=200, after=(1000,))
