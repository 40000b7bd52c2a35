"""Composite analytics: TPC-H-classic query shapes, grouping sets,
unpivot, and external source round-trips (SURVEY §2.1 external formats,
§2.4 grouping).

These exercise operator *composition* — multi-join pipelines with
selective filters, the shapes the optimizer matters for. Scale notes in
each docstring are the plan we verified via .explain (see
tests/test_plans.py for pinned properties).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from emdrive_spark.functions import money as M
from emdrive_spark.functions.ckpt import ckpt
from emdrive_spark.functions.layout import pin, spread
from emdrive_spark.registry import register
from emdrive_spark.sources.tables import load, staging_dir


@register(
    "tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dim filter → join →
    agg → top-10. customer filter broadcasts (AQE); both date filters
    push to the Parquet scans; final is TakeOrderedAndProject."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(M.disc_price()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 6-table star join. region/
    nation broadcast; the fact chain shuffles once per key change;
    the local-supplier condition (c_nationkey = s_nationkey) rides the
    supplier join."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(M.disc_price()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(24,4))
                    * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           round(sum(l_quantity), 2) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary): the canonical scan-heavy aggregate.
    One pass, partial+final hash agg on a 4-ish-key cardinality — the
    shuffle moves only one row per (flag, status) per task regardless of
    scale. Averages derived as round(sum)/count (not avg()) per the
    float-determinism contract with the oracle."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            M.money_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(M.disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(M.charge()).cast("double").alias("sum_charge"),
            (F.round(F.sum("l_quantity"), 2) / F.count("*")).alias("avg_qty"),
            (M.money_sum("l_extendedprice") / F.count("*")).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter+agg — the
    predicate-pushdown showcase. All four conjuncts reach the Parquet
    scan (PushedFilters), row groups outside the shipdate year are
    skipped on min/max stats, and the agg collapses to one double per
    task."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(M.dec2("l_extendedprice") * M.rate("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): HAVING-subquery → semi join.
    The qualifying-orderkey set is aggregated first (map-side combine on
    l_orderkey, the table's natural clustering), then semi-joins back —
    at scale the qualifier output is tiny and broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = load(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.4) via the SQL surface."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "unpivot_stack",
    oracle="""
    SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack() — map-side expansion, no
    shuffle."""
    return load(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retailprice', p_retailprice) AS (attr, val)",
    )


def _roundtrip_dir(spark: SparkSession, fmt: str) -> str:
    return staging_dir(spark, f"roundtrip_{fmt}")


@register(
    "agg_argminmax",
    oracle="""
    SELECT l_returnflag,
           arg_min(l_orderkey, l_extendedprice) AS cheapest_order,
           arg_max(l_orderkey, l_extendedprice) AS priciest_order,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (argmin/argmax) aggregates — 'which row attains the
    extreme', one pass, no self-join back to find the witness row.
    (Prices are unique per flag group in this corpus, so the witness is
    deterministic.)"""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", "l_extendedprice").alias("cheapest_order"),
        F.max_by("l_orderkey", "l_extendedprice").alias("priciest_order"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-valued aggregation: distinct segments per nation as a SORTED
    list (collect_set order is partition-dependent; array_sort makes
    the result deterministic and engine-portable), serialized to CSV —
    raw arrays are unhashable in the driver's pandas canonicalizer."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments")
        )
    )


@register("source_csv_roundtrip", oracle="SELECT * FROM region")
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source (ABSENT in reference, §2.1 external formats):
    write region as CSV, read it back with an explicit schema (no
    inference job)."""
    path = _roundtrip_dir(spark, "csv")
    region = load(spark, sf_dir, "region")
    region.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(region.schema).option("header", True).csv(path)


@register("source_json_roundtrip", oracle="SELECT * FROM region")
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines sink+source (§2.1)."""
    path = _roundtrip_dir(spark, "json")
    region = load(spark, sf_dir, "region")
    region.write.mode("overwrite").json(path)
    return spark.read.schema(region.schema).json(path)


@register("source_orc_roundtrip", oracle="SELECT * FROM region")
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source (§2.1) — the second columnar format with native
    vectorized read + predicate pushdown."""
    path = _roundtrip_dir(spark, "orc")
    region = load(spark, sf_dir, "region")
    region.write.mode("overwrite").orc(path)
    return spark.read.schema(region.schema).orc(path)


@register(
    "source_parquet_evolve",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS INT) AS n_regionkey
    FROM nation WHERE n_nationkey < 10
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey >= 10
    """,
)
def source_parquet_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a parquet directory (§2.1 external formats;
    ABSENT in reference): an old batch written without a column and a
    new batch written with it, read back as ONE table via
    ``mergeSchema`` — the lake-format pattern where columns appear over
    time and old files surface NULLs. At 100 TB, schema merge is a
    footer-only operation (no data rewrite); per-file projection
    happens at scan time."""
    path = _roundtrip_dir(spark, "evolve")
    nation = load(spark, sf_dir, "nation")
    old = nation.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_name")
    new = nation.filter(F.col("n_nationkey") >= 10).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=old"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=new"))
    return (
        spark.read.option("mergeSchema", True)
        .parquet(os.path.join(path, "batch=old"), os.path.join(path, "batch=new"))
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "source_range",
    oracle="SELECT CAST(range AS BIGINT) AS id, range * 2 AS doubled FROM range(0, 1000)",
)
def source_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic range source — the zero-I/O generator table (splits
    evenly across tasks; the seed of every backfill/testgen job)."""
    return spark.range(0, 1000).select("id", (F.col("id") * 2).alias("doubled"))


@register(
    "source_binaryfile",
    oracle="""
    SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.bin' AS name,
           CAST(octet_length(encode(text)) AS BIGINT) AS length
    FROM documents WHERE doc_id < 50
    """,
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source (§2.1 / multimodal ingestion): each file one
    row of (path, modificationTime, length, content binary) — how raw
    media lands before mm_pack-style normalization. Staged here by
    writing 50 docs as .bin files, then reading the directory back."""
    path = _roundtrip_dir(spark, "bin")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).collect()
    os.makedirs(path, exist_ok=True)
    for r in docs:
        with open(os.path.join(path, f"doc_{r['doc_id']:04d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
        F.col("length"),
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL '60 days')
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to this corpus's
    columns: 'late' = shipped >60 days after order date (the fixture
    has no commit/receipt dates). Same shape: correlated EXISTS →
    semi join of orders against the late-line set."""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # correlated EXISTS: the predicate references both sides, so it
    # rides the semi join condition itself
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
             AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned item reporting): 4-table join, returned
    lines only, top-20 customers by lost revenue. nation broadcasts;
    the returnflag filter pushes to the lineitem scan; final is
    TakeOrderedAndProject. Revenue is summed in DECIMAL: a double sum
    hit a half-cent rounding boundary at sf0.01 (order-of-addition ulp
    flips the cent); decimal arithmetic is exact in both engines."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate + INTERVAL '30 days'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes) adapted to this corpus (grouped by
    linestatus; 'slow' = shipped >30 days after order): the
    conditional-count-over-filtered-join shape. The shipdate range
    pushes down; the column-to-column lateness predicate evaluates
    post-join."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14",
    oracle="""
    SELECT 100.00 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                        * (1 - CAST(l_discount AS DECIMAL(4,2)))
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional-revenue ratio. part
    joins broadcast-style (dim side); both sums round before the
    division per the float-determinism contract."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = M.disc_price()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double")).alias(
                "promo_revenue"
            )
        )
    )


@register(
    "tpch_q19",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunctive multi-table
    predicate. Catalyst factors the single-table conjuncts out of the
    OR (p_size/p_brand to part's scan, quantity bounds to lineitem's)
    so both sides prune before the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(cond).agg(F.sum(M.disc_price()).cast("double").alias("revenue"))


@register("sketch_hll_rollup", oracle=None)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via Spark 3.5+
    hll_sketch_agg / hll_union_agg): distinct suppliers sketched once
    per (returnflag, linestatus) cell, then ROLLED UP to returnflag by
    merging the binary sketches — no second pass over the fact table.
    This re-aggregability is the 100 TB pattern: sketch at the finest
    grain in the daily ETL, answer every coarser distinct-count from
    the tiny sketch table. Approximate by design → rows-only check;
    tests/test_engine.py pins the estimates against exact counts."""
    li = load(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_suppkey").alias("sk")
    )
    return (
        cells.groupBy("l_returnflag")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "l_returnflag",
            F.hll_sketch_estimate("sk").alias("approx_suppliers"),
        )
    )


@register(
    "source_text_roundtrip",
    oracle="SELECT CAST(length(text) AS BIGINT) AS n_chars_rt FROM documents",
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink+source (§2.1): the corpus text written as
    raw lines and read back with spark.read.text — the ingest format of
    most raw web-scrape dumps. Roundtrip pinned by per-line length
    (the fixture corpus is newline-free by construction)."""
    path = _roundtrip_dir(spark, "text")
    load(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(path)
    return spark.read.text(path).select(
        F.length("value").cast("long").alias("n_chars_rt")
    )


@register(
    "basket_pair_lift",
    oracle="""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey % 200 AS item FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM basket),
    item_n AS (SELECT item, count(*) AS cnt FROM basket GROUP BY item),
    pair AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS together
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 8
    )
    SELECT item_a, item_b, together,
           floor(CAST(together AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS support,
           floor((CAST(together AS DOUBLE) / n)
                 / ((CAST(ia.cnt AS DOUBLE) / n) * (CAST(ib.cnt AS DOUBLE) / n))
                 * 10000 + 0.5) / 10000 AS lift
    FROM pair
    JOIN item_n ia ON ia.item = item_a
    JOIN item_n ib ON ib.item = item_b, n_orders
    """,
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift: item pairs bought in the
    same order (items bucketed to 200 SKU groups), support = P(a,b),
    lift = P(a,b) / (P(a)P(b)) — the association-rule primitive behind
    'customers also bought'. The pair expansion is an equi self-join on
    the ORDER key, so work is sum of per-basket sizes squared (bounded
    by basket size, never |orders|^2); the >= 8 support floor prunes
    the pair table before the stats joins, and item marginals
    broadcast. All ratios are exact integer-count divisions."""
    li = load(spark, sf_dir, "lineitem")
    basket = li.select(
        "l_orderkey", (F.col("l_partkey") % 200).alias("item")
    ).distinct()
    n_orders = basket.agg(F.count_distinct("l_orderkey").alias("n"))
    item_n = basket.groupBy("item").agg(F.count("*").alias("cnt"))
    pair = (
        basket.alias("a")
        .join(
            basket.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 8)
    )
    ia = item_n.alias("ia")
    ib = item_n.alias("ib")
    support = F.col("together").cast("double") / F.col("n")
    lift = support / (
        (F.col("ia.cnt").cast("double") / F.col("n"))
        * (F.col("ib.cnt").cast("double") / F.col("n"))
    )
    return (
        pair.join(F.broadcast(ia), F.col("item_a") == F.col("ia.item"))
        .join(F.broadcast(ib), F.col("item_b") == F.col("ib.item"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "together",
            (F.floor(support * 1000000 + F.lit(0.5)) / 1000000).alias("support"),
            (F.floor(lift * 10000 + F.lit(0.5)) / 10000).alias("lift"),
        )
    )


@register(
    "customer_pareto",
    oracle="""
    WITH rev AS (
      SELECT c_mktsegment, c_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_mktsegment, c_custkey,
             CAST(row_number() OVER w AS BIGINT) AS rnk,
             CAST(sum(rev) OVER (PARTITION BY c_mktsegment ORDER BY rev DESC, c_custkey
                                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev,
             CAST(sum(rev) OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS total_rev,
             CAST(count(*) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n_cust
      FROM rev
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY rev DESC, c_custkey)
    )
    SELECT c_mktsegment, c_custkey, rnk,
           floor(cum_rev / total_rev * 1000000 + 0.5) / 1000000 AS rev_share,
           rnk * 5 <= n_cust AS is_top20pct
    FROM ranked
    """,
)
def customer_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration curve per market segment: customers
    ranked by exact DECIMAL revenue, cumulative share of segment
    revenue, and the top-20% flag — the 80/20 revenue-concentration
    query. All windows partition by SEGMENT (dimension cardinality
    drives parallelism, never one global sort); cumulative sums run
    over exact decimals so every share is engine-identical; rank ties
    break on the key."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    order = W.partitionBy("c_mktsegment").orderBy(F.desc("rev"), "c_custkey")
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    whole = W.partitionBy("c_mktsegment")
    ranked = rev.select(
        "c_mktsegment",
        "c_custkey",
        F.row_number().over(order).cast("long").alias("rnk"),
        F.sum("rev").over(running).cast("double").alias("cum_rev"),
        F.sum("rev").over(whole).cast("double").alias("total_rev"),
        F.count("*").over(whole).cast("long").alias("n_cust"),
    )
    share = F.col("cum_rev") / F.col("total_rev")
    return ranked.select(
        "c_mktsegment",
        "c_custkey",
        "rnk",
        (F.floor(share * 1000000 + F.lit(0.5)) / 1000000).alias("rev_share"),
        (F.col("rnk") * 5 <= F.col("n_cust")).alias("is_top20pct"),
    )


@register(
    "source_csv_malformed",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 != 0
    """,
)
def source_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion: the staged feed corrupts every
    10th record (wrong column count + non-numeric key); the PERMISSIVE
    reader captures those rows in columnNameOfCorruptRecord instead of
    failing the job, and the op returns exactly the clean rows — which
    the oracle pins as the uncorrupted subset of the source. This is
    the quarantine pattern for 100 TB third-party feeds: bad records
    become a filterable column (routed to a dead-letter sink in
    production), never a job abort. Numeric round-trip uses Spark's own
    CSV writer/parser (lossless for doubles, per source_csv_roundtrip)."""
    path = staging_dir(spark, "orders_malformed_csv")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    line = F.when(
        F.col("o_orderkey") % 10 == 0,
        F.concat(F.lit("corrupt-"), F.col("o_orderkey").cast("string"), F.lit(",x,y,z")),
    ).otherwise(
        F.concat_ws(",", F.col("o_orderkey").cast("string"), F.col("o_totalprice"))
    )
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = "o_orderkey LONG, o_totalprice DOUBLE, _corrupt STRING"
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return parsed.filter(F.col("_corrupt").isNull()).select(
        "o_orderkey", "o_totalprice"
    )


_PR_SCALE = 10**12  # fixed-point scale for integer-exact PageRank
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled-iteration PageRank oracle: recursive CTEs cannot
    aggregate in the recursive member (standard SQL), so the fixed
    iteration count is unrolled as chained CTEs generated here — the
    SAME integer recurrence the Spark loop runs."""
    its = [
        f"it0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) // (SELECT n FROM nn) AS rank FROM deg)"
    ]
    for i in range(_PR_ITERS):
        its.append(
            f"""it{i + 1} AS (
      SELECT e.dst AS node,
             CAST((15 * (CAST({_PR_SCALE} AS BIGINT) // (SELECT n FROM nn))) // 100
                  + (85 * sum(r.rank // dg.d)) // 100 AS BIGINT) AS rank
      FROM edges e
      JOIN it{i} r ON r.node = e.src
      JOIN deg dg ON dg.src = e.src
      GROUP BY e.dst
    )"""
        )
    return rf"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    {', '.join(its)}
    SELECT node AS part_id, rank AS pagerank FROM it{_PR_ITERS}
    """


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order — the product-graph shape of domain/
    page ranking for crawl prioritization), 5 fixed iterations of the
    damped recurrence r' = 0.15/N + 0.85·Σ r_u/d_u.

    Arithmetic is FIXED-POINT INTEGER (ranks scaled by 1e12, every
    division a truncating bigint DIV): float PageRank sums in
    partition order and drifts a few ulps per iteration, compounding
    across rounds — integer truncation makes every engine and every
    partitioning produce byte-identical ranks, so an iterative
    numeric algorithm gets a full value-hash oracle (the only other
    iterative op with one is dedup_components). The oracle unrolls
    the 5 iterations as chained CTEs (recursive members cannot
    aggregate).

    Scale shape: the pair expansion self-joins on the ORDER key —
    work is Σ basket², never |lineitem|² (same bound as
    basket_pair_lift); the edge list and degree table are
    checkpointed once and each iteration is one broadcast-augmented
    projection + one dst-keyed shuffle. Co-purchase edges are
    symmetric, so every node has out- and in-degree ≥ 1 — no
    dangling-mass term needed."""
    # hash-partitioned by src ONCE and pinned (layout.pin — r12: the
    # repartition+ckpt it replaces materialized to UnknownPartitioning,
    # so each iteration still re-exchanged the edge list; persist keeps
    # the layout visible and every contribution join reuses it — only
    # the (node, contrib) side, |V| not |E|, moves per round).
    edges = pin(_copurchase_edges(spark, sf_dir), "src")
    deg = edges.groupBy("src").agg(F.count("*").alias("d")).transform(ckpt)
    ntab = deg.agg(F.count("*").alias("n"))  # 1-row scalar, broadcast below
    ranks = deg.crossJoin(F.broadcast(ntab)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({_PR_SCALE} AS BIGINT) DIV n").alias("rank"),
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(deg, ranks["node"] == deg["src"])
            .select("src", F.expr("rank DIV d").alias("c"))
            # co-locate with the edge layout (same count, same key)
            .repartition(spark.sparkContext.defaultParallelism, "src")
        )
        s = edges.join(contrib, "src").groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = s.crossJoin(F.broadcast(ntab)).select(
            F.col("dst").alias("node"),
            F.expr(
                f"(15 * (CAST({_PR_SCALE} AS BIGINT) DIV n)) DIV 100"
                " + (85 * s) DIV 100"
            ).alias("rank"),
        )
    return ranks.select(F.col("node").alias("part_id"), F.col("rank").alias("pagerank"))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared both-direction co-purchase edge list (src, dst),
    distinct, used by pagerank / triangles / kcore / LPA / BFS.

    r12: built by BASKET EXPANSION — groupBy(order).collect_set(part)
    then an in-row double explode — instead of the (distinct li)
    self-join on the order key. Same Sum basket^2 work bound and the
    IDENTICAL edge set (A/B'd exceptAll-empty both directions at
    sf0.1), but one exchange less (collect_set dedups (ok, pk) inside
    the aggregate, so the li.distinct pre-shuffle disappears) and no
    sort-merge of the 600k-row token stream against itself: measured
    1.95 -> 1.73 s median for the isolated build (interleaved A/B).
    Baskets are order-bounded (TPC-H: 7 rows max; real carts: small)
    so the collect_set buffer is flat — the same boundedness argument
    as dedup's _bucket_pairs, which measured 2.1x for the same shape
    swap on its key space."""
    baskets = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    return (
        baskets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _copurchase_triangles(spark: SparkSession, sf_dir: str):
    """Shared co-purchase triangle machinery: returns (und, deg, tri)
    where und is the both-direction edge list, deg the undirected
    degree table (checkpointed), and tri one row per triangle
    (tri_u, v, w; vertex order is degree-oriented, NOT id-ordered).
    graph_triangle_count counts per node; graph_edge_jaccard counts
    per edge. See graph_triangle_count for the degree-orientation
    O(m^1.5) bound.

    und is checkpointed FIRST (graph_pagerank's precedent): without
    it, the basket self-join + distinct (~5 s of the op at sf0.1,
    2.39M edges) re-executes once per downstream materialization —
    the deg ckpt, the oriented ckpt, and (for graph_edge_jaccard)
    the final action's canonical edge list — i.e. 2-3 full rebuilds
    of the most expensive shared frame. One materialization + block
    reads is strictly less work at any scale; measured at sf0.1
    (triangle 8.27 -> 6.02 s, edge_jaccard 8.72 -> 7.21 s; SCALING.md,
    round-9 entry)."""
    und = _copurchase_edges(spark, sf_dir).transform(ckpt)
    # Both directions are present, so out-degree here IS the undirected
    # degree, and deg's key set IS the node set.
    deg = und.groupBy("src").agg(F.count("*").alias("d")).transform(ckpt)
    ds = deg.select(F.col("src").alias("u_"), F.struct("d", "src").alias("ukey"))
    dd = deg.select(F.col("src").alias("v_"), F.struct("d", "src").alias("vkey"))
    # Degree attach: unhinted. A SHUFFLE_HASH hint on the |V|-row degree
    # side measured slightly slower than leaving the strategy to the
    # planner (OPTIMIZATION_r12.md, triangle machinery).
    oriented = (
        und.join(ds, und["src"] == ds["u_"])
        .join(dd, und["dst"] == dd["v_"])
        .filter(F.col("ukey") < F.col("vkey"))
        .select("src", "dst", "vkey")
        .transform(ckpt)
    )
    # r12b (guide §2.3 shuffle fewer bytes / §2.4 remove shuffles):
    # ADJACENCY INTERSECTION replaces the wedge machinery. The wedge
    # build materialized and SHUFFLED every open wedge (Sum outdeg^2
    # rows, ~15M / ~390 MB at sf0.1 — the fleet's largest exchange) to
    # probe the closure join. But a triangle u<v<w (key order) is
    # exactly an oriented edge (u, v) plus a common out-neighbor w of
    # BOTH endpoints, so attaching each node's out-neighbor list to
    # the edge's two endpoints and intersecting IN-ROW yields the
    # identical (tri_u, v, w) frame — each triangle found exactly once
    # at its lowest edge — while the shuffle drops to ~4 |E'| rows
    # (two |E'| edge attaches + the |V|-row adjacency table twice) and
    # the non-closing wedges never exist as rows at all. Degree
    # orientation bounds every out-neighbor array at O(sqrt m), so the
    # collect_list buffers and the per-row intersect stay bounded on
    # any graph — the same argument that bounds the wedge count.
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nb"))
        .transform(ckpt)  # read twice below; |V| rows, Sum |E'| payload
    )
    au = adj.select(F.col("src").alias("u_"), F.col("nb").alias("nu"))
    av = adj.select(F.col("src").alias("v_"), F.col("nb").alias("nv"))
    e2 = oriented.select("src", "dst")
    tri = (
        e2.join(au.hint("shuffle_hash"), e2["src"] == au["u_"])
        .join(av.hint("shuffle_hash"), e2["dst"] == av["v_"])
        .select(
            F.col("src").alias("tri_u"),
            F.col("dst").alias("v"),
            F.explode(F.array_intersect("nu", "nv")).alias("w"),
        )
    )
    return und, deg, tri


@register(
    "graph_triangle_count",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pertri AS (
      SELECT a AS pid FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    nodes AS (SELECT DISTINCT u AS pid FROM (SELECT u FROM e UNION ALL SELECT v FROM e)),
    cnt AS (SELECT pid, count(*) AS n FROM pertri GROUP BY pid)
    SELECT nodes.pid AS part_id, CAST(coalesce(cnt.n, 0) AS BIGINT) AS tri_cnt
    FROM nodes LEFT JOIN cnt ON cnt.pid = nodes.pid
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph — the
    local-clustering primitive behind community detection and spam/
    anomaly scoring on document-link graphs. Returns every graph node
    with the number of triangles it participates in (0 included), so
    the result is exact integers and carries a full value-hash oracle
    (the oracle enumerates triangles by id order a<b<c; both sides
    count the same unordered triangle set).

    Scale shape: edges are DEGREE-ORIENTED — each undirected edge
    points from its (degree, id)-smaller endpoint to the larger, the
    classic trick that bounds every out-degree by O(sqrt(m)) so the
    enumeration is O(m^1.5) total work instead of Sum deg^2, which a
    hub node would blow up. Every step is an equality shuffle: each
    oriented edge attaches the out-neighbor lists of its two
    endpoints (two shuffled-hash joins against the |V|-row adjacency
    table), the triangles closing on that edge are the in-row
    array_intersect of the two lists, and per-node counts are an
    explode + groupBy. No cartesian, no driver state; the oriented
    list and the adjacency table are localCheckpointed once (see
    _copurchase_triangles; the wedge self-join this replaced shuffled
    every open wedge — OPTIMIZATION_r12.md). Orientation
    compares (degree, id) STRUCTS, which Spark and any sane engine
    order lexicographically — no fragile packed-integer key, no id
    width assumption at 100 TB.
    """
    und, deg, tri = _copurchase_triangles(spark, sf_dir)
    per_node = (
        tri.select(
            F.explode(F.array("tri_u", "v", "w")).alias("pid")
        )
        .groupBy("pid")
        .agg(F.count("*").alias("n"))
    )
    nodes = deg.select(F.col("src").alias("pid"))
    return (
        nodes.join(per_node, "pid", "left")
        .select(
            F.col("pid").alias("part_id"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("tri_cnt"),
        )
    )


_KCORE_K = 80  # the fixture's degree median is ~90-120: k=80 cascades
_KCORE_ROUNDS = 8  # fixpoint by round 5 at every fixture SF


@register(
    "graph_kcore",
    oracle="""
    WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS MATERIALIZED (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    n0 AS MATERIALIZED (SELECT DISTINCT u AS pid FROM e),
    a1 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM n0) AND e.v IN (SELECT pid FROM n0)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a2 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a1) AND e.v IN (SELECT pid FROM a1)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a3 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a2) AND e.v IN (SELECT pid FROM a2)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a4 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a3) AND e.v IN (SELECT pid FROM a3)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a5 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a4) AND e.v IN (SELECT pid FROM a4)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a6 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a5) AND e.v IN (SELECT pid FROM a5)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a7 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a6) AND e.v IN (SELECT pid FROM a6)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    a8 AS MATERIALIZED (
      SELECT e.u AS pid FROM e
      WHERE e.u IN (SELECT pid FROM a7) AND e.v IN (SELECT pid FROM a7)
      GROUP BY e.u HAVING count(*) >= 80
    ),
    core_deg AS MATERIALIZED (
      SELECT e.u AS pid, count(*) AS d FROM e
      WHERE e.u IN (SELECT pid FROM a8) AND e.v IN (SELECT pid FROM a8)
      GROUP BY e.u
    )
    SELECT n0.pid AS part_id,
           (cd.pid IS NOT NULL) AS in_kcore,
           CAST(coalesce(cd.d, 0) AS BIGINT) AS core_deg
    FROM n0 LEFT JOIN core_deg cd ON cd.pid = n0.pid
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (8 fixed peeling rounds, k=80) over
    the part co-purchase graph — the density-community primitive behind
    spam-farm and boilerplate-cluster detection on document/link
    graphs. Each round removes every node whose degree AMONG SURVIVORS
    is below k; the semantics are exactly N rounds (not
    run-to-convergence), so the oracle unrolls the same N rounds as
    chained CTEs and both engines produce byte-identical integer rows
    on ANY partitioning — the graph_pagerank recipe applied to an
    iterative pruning algorithm (the fixture reaches the true fixpoint
    by round 5 at every SF, pytest-pinned). Every oracle CTE is AS
    MATERIALIZED (r9 verdict item 5): each aN is referenced twice
    (u-side and v-side), and DuckDB's default inline-per-reference
    doubled the plan at every level — a 2^8 expansion that exhausted
    disk spill at sf0.1 and cost ~370 s even at sf0.01. Materialized,
    the same query runs ~33 s at sf0.1 (value-identical at sf0.01,
    checked both forms), restoring 10x-SF re-certifiability.

    Scale shape: each round is two left-semi joins of the checkpointed
    edge list against the (shrinking) survivor set plus one map-side
    partial count — the edge payload never moves; survivors are
    localCheckpointed per round so lineage stays flat across the loop
    (the dedup_components recipe). Peeling deletes cascade: a node can
    survive round 1 and die in round 4 only because its neighbors
    died in between — the property the per-round semi-join re-check
    captures."""
    # r12 measured and REJECTED (bench attempt vs the mid-round run,
    # then root-caused against the ab_pin arms): pinning und by dst,
    # reordering the semi-joins dst-first, and hinting the alive sides
    # shuffle_hash regressed kcore 4.5 -> 6.8 s wall / 22 -> 55 s cpu.
    # Unhinted, AQE plans BOTH survivor filters as broadcast semi-joins
    # of the shrinking |V|-sized alive set, so the edge list never
    # shuffles at all in any round — zero edge exchanges, which the
    # hinted SHJ shape can only approach, never beat (dedup_components
    # taught the same lesson). The r11 shape stays; at 100 TB, AQE's
    # stats flip these to shuffled joins on their own — the unhinted
    # form is the scale-adaptive one here.
    und = _copurchase_edges(spark, sf_dir).transform(ckpt)
    nodes = und.select("src").distinct().transform(ckpt)
    alive = nodes
    prev_n = None
    for _ in range(_KCORE_ROUNDS):
        e_alive = und.join(alive, "src", "semi").join(
            alive.select(F.col("src").alias("dst")), "dst", "semi"
        )
        alive = (
            e_alive.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("src")
            .transform(ckpt)
        )
        # Exactly-output-preserving early stop: alive_{t+1} is ALWAYS a
        # subset of alive_t (peeling only removes), so an unchanged
        # count proves an unchanged set, and every remaining round is
        # the identity — the full _KCORE_ROUNDS output is reproduced
        # bit-for-bit while the fixpoint tail (rounds 6-8 on the
        # fixtures) costs one count over already-ckpt'd blocks instead
        # of two semi-joins + an aggregate + a checkpoint per round.
        # Value-neutrality pinned by the graph_kcore oracle compare
        # (tests/test_registry_oracle.py) and tests/test_round5_fixes.py.
        n = alive.count()
        if n == prev_n:
            break
        prev_n = n
    core_deg = (
        und.join(alive, "src", "semi")
        .join(alive.select(F.col("src").alias("dst")), "dst", "semi")
        .groupBy("src")
        .agg(F.count("*").alias("d"))
    )
    return (
        nodes.join(core_deg, "src", "left")
        .select(
            F.col("src").alias("part_id"),
            F.col("d").isNotNull().alias("in_kcore"),
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("core_deg"),
        )
    )


_EDGE_JACCARD_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    eb AS (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    deg AS (SELECT u AS pid, count(*) AS d FROM eb GROUP BY u),
    e AS (SELECT u, v FROM eb WHERE u < v),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    pairc AS (
      SELECT a AS x, b AS y FROM tri
      UNION ALL SELECT a, c FROM tri
      UNION ALL SELECT b, c FROM tri
    ),
    common AS (SELECT x, y, count(*) AS cnt FROM pairc GROUP BY x, y)
    SELECT e.u, e.v,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS common,
           CAST(coalesce(c.cnt, 0) * 1000000
                // (du.d + dv.d - coalesce(c.cnt, 0)) AS BIGINT) AS jscore
    FROM e
    LEFT JOIN common c ON c.x = e.u AND c.y = e.v
    JOIN deg du ON du.pid = e.u
    JOIN deg dv ON dv.pid = e.v
    """


@register("graph_edge_jaccard", oracle=_EDGE_JACCARD_ORACLE)
def graph_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard over the co-purchase graph — the
    'related products' / link-strength primitive: for every edge
    (u, v), J = |N(u) ∩ N(v)| / |N(u) ∪ N(v)| with the union counted
    as d_u + d_v − common (endpoints included; both sides use the
    same convention, so the integer rows hash identically). The
    common-neighbor count of an edge IS its triangle count, so the
    op reuses _copurchase_triangles' degree-oriented machinery —
    cost stays O(m^1.5)-bounded — and each triangle contributes one
    count to each of its three edges via a 3-way in-row explode.
    The score is the cross-engine-safe integer DIV (x 1e6): the
    denominator is >= 2 because adjacent endpoints sit in each
    other's neighborhoods — no zero-division branch needed.

    Scale shape: one explode of the triangle frame (3 rows per
    triangle), one groupBy on the canonical (min, max) pair, then a
    left join from the canonical edge list with two broadcast-sized
    degree attachments. No new shuffles beyond the triangle
    machinery's own."""
    und, deg, tri = _copurchase_triangles(spark, sf_dir)
    pair = F.explode(
        F.array(
            F.struct(
                F.least("tri_u", "v").alias("x"), F.greatest("tri_u", "v").alias("y")
            ),
            F.struct(
                F.least("tri_u", "w").alias("x"), F.greatest("tri_u", "w").alias("y")
            ),
            F.struct(F.least("v", "w").alias("x"), F.greatest("v", "w").alias("y")),
        )
    )
    common = (
        tri.select(pair.alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("cnt"))
    )
    canon = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    du = deg.select(F.col("src").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("d").alias("dv"))
    # Tail joins unhinted: hinting them SHUFFLE_HASH measured slightly
    # slower than the planner's own choice (OPTIMIZATION_r12.md,
    # triangle machinery).
    joined = (
        canon.join(
            common,
            (canon["u"] == common["x"]) & (canon["v"] == common["y"]),
            "left",
        )
        .select("u", "v", F.coalesce("cnt", F.lit(0)).alias("cnt"))
        .join(du, "u")
        .join(dv, "v")
    )
    return joined.select(
        "u",
        "v",
        F.col("cnt").cast("long").alias("common"),
        F.expr("CAST(cnt * 1000000 DIV (du + dv - cnt) AS BIGINT)").alias("jscore"),
    )


_LPA_ROUNDS = 4  # synchronous rounds; communities stabilize by 3-4 on
# the fixture (pytest pins round-3 == round-4 agreement rate)


def _lpa_ctes() -> str:
    """Shared unrolled-round LPA CTE prefix: one chained CTE per
    synchronous round (recursive members cannot aggregate) running the
    SAME deterministic vote — highest neighbor-label count, smallest
    label on ties. Used by both the LPA oracle and the modularity
    oracle so they score the identical partition."""
    rounds = []
    for i in range(_LPA_ROUNDS):
        rounds.append(
            f"""v{i + 1} AS (
      SELECT e.src, l.lbl, count(*) AS c
      FROM edges e JOIN lab{i} l ON l.node = e.dst
      GROUP BY e.src, l.lbl
    ),
    lab{i + 1} AS (
      SELECT src AS node, lbl FROM (
        SELECT src, lbl,
               row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl ASC) AS rn
        FROM v{i + 1}
      ) WHERE rn = 1
    )"""
        )
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
    {', '.join(rounds)}"""


def _lpa_oracle() -> str:
    return f"""
    {_lpa_ctes()}
    SELECT node AS part_id, lbl AS community FROM lab{_LPA_ROUNDS}
    """


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    part co-purchase graph — the cheap community primitive behind
    site/domain clustering and template-family grouping on crawl link
    graphs (the reference's analytics ambitions, README.md:19-27, on
    the graph the other graph_* ops already certify). Every node starts
    as its own label; each of the 4 fixed rounds every node adopts the
    label carried by the PLURALITY of its neighbors, ties broken by the
    smallest label. Synchronous update + deterministic tie-break +
    integer labels = a full value-hash oracle for a community algorithm
    (classic async LPA is run-order-dependent and could never have
    one); the oracle unrolls the same 4 rounds as chained CTEs, the
    graph_pagerank recipe.

    Scale shape: the edge list is hash-partitioned by dst once and
    checkpointed; each round is one equality join labels->edges (only
    the |V|-sized label side moves), one partial-agg vote count, and
    one max-of-struct argmax — no window, so the per-round cost is two
    map-side-combinable shuffles. Labels are checkpointed per round to
    keep lineage flat (the dedup_components recipe)."""
    _, labels = _lpa_edges_and_labels(spark, sf_dir)
    return labels.select(F.col("node").alias("part_id"), F.col("lbl").alias("community"))


def _lpa_edges_and_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA machinery (graph_label_propagation's loop, factored
    so graph_modularity scores the SAME partition): returns
    (edges, labels) where edges is the checkpointed both-direction
    co-purchase list and labels the converged (node, lbl) frame."""
    # pinned by the JOIN side (dst) once (layout.pin: persist keeps the
    # hashpartitioning visible to the planner, unlike ckpt); every
    # round's label attach reuses the cached layout with ZERO edge-side
    # exchange and only labels move — r12, guide §2.4.
    edges = pin(_copurchase_edges(spark, sf_dir), "dst")
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(_LPA_ROUNDS):
        # The vote join is hinted SHUFFLE_HASH with the |V|-sized label
        # frame as the build side (guide §3.1): edges (|E|) probe,
        # labels build in O(|V|/partitions) per task. Left unhinted,
        # AQE's stats for the checkpointed frames flip this to a
        # PER-ROUND broadcast of the labels — measured 9.6 s vs 4.6 s
        # hinted for the 4-round loop at sf0.1 (and a per-round |V|
        # broadcast is exactly what a 100 TB graph cannot do). The
        # explicit hint makes the round cost strategy-stable instead of
        # stats-dependent; merge measured 5.0 s, broadcast 5.5 s.
        votes = (
            edges.join(labels.hint("shuffle_hash"), edges["dst"] == labels["node"])
            .groupBy("src", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # argmax(count, then min label) as ONE partial-aggregable
        # max-of-struct — (c, -lbl) orders ties toward the smallest
        # label without a second full sort (window row_number would
        # shuffle the votes a second time)
        labels = (
            votes.groupBy("src")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("src").alias("node"), (-F.col("m.nl")).alias("lbl"))
            # eager: a lazy per-round ckpt measured LPA-neutral (5.42 vs
            # 5.43 s) but modularity slower (lazy 6.56 vs eager 5.80 s):
            # its three label consumers replan the fused loop (CHANGES.md)
            .transform(ckpt)
        )
    return edges, labels


_HITS_SCALE = 10**12  # fixed-point scale for integer-exact HITS
_HITS_ITERS = 3


def _hits_oracle() -> str:
    """Unrolled HITS oracle: per iteration, authority = sum of incoming
    hub scores then integer-renormalized to ~_HITS_SCALE total, hubs
    symmetric. The renormalization divides by (total DIV SCALE) — a
    bigint-safe rescale (a direct a*SCALE/total product would need
    int128) that truncates identically in both engines."""
    its = ["h0 AS (SELECT DISTINCT s AS node, CAST(%d AS BIGINT) AS h FROM sp)" % _HITS_SCALE]
    for i in range(_HITS_ITERS):
        its.append(
            f"""ar{i + 1} AS (
      SELECT sp.p AS node, sum(h.h) AS a
      FROM sp JOIN h{i} h ON h.node = sp.s GROUP BY sp.p
    ),
    a{i + 1} AS (
      SELECT node, a // greatest((SELECT sum(a) FROM ar{i + 1}) // {_HITS_SCALE}, 1) AS a
      FROM ar{i + 1}
    ),
    hr{i + 1} AS (
      SELECT sp.s AS node, sum(a.a) AS h
      FROM sp JOIN a{i + 1} a ON a.node = sp.p GROUP BY sp.s
    ),
    h{i + 1} AS (
      SELECT node, h // greatest((SELECT sum(h) FROM hr{i + 1}) // {_HITS_SCALE}, 1) AS h
      FROM hr{i + 1}
    )"""
        )
    return f"""
    WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    {', '.join(its)}
    SELECT node, 'hub' AS role, CAST(h AS BIGINT) AS score FROM h{_HITS_ITERS}
    UNION ALL
    SELECT node, 'authority' AS role, CAST(a AS BIGINT) AS score FROM a{_HITS_ITERS}
    """


@register("graph_hits", oracle=_hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the supplier->part bipartite
    graph (suppliers 'link to' the parts they ship) — the second
    classic link-analysis ranking next to graph_pagerank, and the one
    whose mutual-reinforcement shape (good hubs point at good
    authorities) matches catalog/marketplace curation. 3 fixed
    iterations: authority = sum of incoming hub scores, hub = sum of
    outgoing authority scores, each renormalized to ~1e12 total.

    Arithmetic is FIXED-POINT INTEGER like graph_pagerank, so an
    iterative eigenvector-style algorithm gets a full value-hash
    oracle. Renormalization needs the round's global total — a 1-ROW
    scalar collected to the driver and re-entered as a literal (the
    prefix-sum subtotal pattern; 6 one-row actions total), because a
    broadcast-crossJoin of the scalar would put a nested-loop node in
    every audited plan. The rescale divides by (total DIV scale)
    instead of multiplying by scale first: the product form needs
    int128, which DuckDB bigint and Spark LongType both lack —
    truncation is identical in both engines by construction.

    Scale shape: the bipartite edge list shuffles once per side per
    iteration as partial-agg sums keyed by supplier or part — map-side
    combinable, no window, no cartesian; the edge list is checkpointed
    once and both join directions reuse it. Each round's raw score
    frame is checkpointed BEFORE its 1-row total collect (the
    _lpa_edges_and_labels recipe): the collect materializes the round
    once, and the next round's join reads |V|-sized blocks instead of
    re-executing every prior round's joins (r6 verdict: the
    unchekpointed loop re-ran iterations 1..i-1 per scalar action —
    16.4s vs pagerank's 3.7s on the same graph; ~2x pagerank after)."""
    sp = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(ckpt)
    )
    # r12 measured and REJECTED twice (OPTIMIZATION_r12.md, iterative
    # loops): two layout pins (persist keeps partitioning, unlike the
    # ckpt copies already rejected above) measured 2.98 -> 3.97 s wall /
    # 8 -> 26 s cpu — the bipartite frame is small enough that its
    # per-round exchange is cheaper than two columnar cache builds plus
    # six cache scans.
    # r12 (guide §3.1, the LPA vote-join finding): unhinted, every
    # half-round's score join planned as a BroadcastHashJoin of the
    # |V|-sized hub/authority frame — 6 BroadcastExchange builds plus
    # driver roundtrips per run, and a per-round |V| broadcast is
    # exactly what a 100 TB graph cannot do. A SHUFFLE_HASH hint on
    # the score side makes every round a shuffled-hash join (edges
    # probe, scores build in O(|V|/partitions) per task) — strategy-
    # stable instead of stats-dependent; an interleaved A/B measured
    # 4.77 -> 4.18 s median (OPTIMIZATION_r12.md, graph_hits).
    # (Pre-partitioning the edge list per join key was tried and
    # rejected: localCheckpoint materializes to UnknownPartitioning,
    # so the layout is lost and the copies are pure overhead — see
    # plans/r12/graph_hits_round_join_after.txt Scan ExistingRDD.)
    hubs = sp.select("s").distinct().select(
        F.col("s").alias("node"), F.lit(_HITS_SCALE).cast("long").alias("h")
    )
    auths = None
    for _ in range(_HITS_ITERS):
        a_raw = (
            sp.join(hubs.hint("shuffle_hash"), sp["s"] == hubs["node"])
            .groupBy("p")
            .agg(F.sum("h").alias("a"))
            .transform(ckpt)  # |parts|-sized; truncates the round's lineage
        )
        a_total = a_raw.agg(F.sum("a")).collect()[0][0]  # 1-row scalar
        auths = a_raw.select(
            F.col("p").alias("node"),
            F.expr(f"a DIV greatest({a_total} DIV {_HITS_SCALE}, 1)").alias("a"),
        )
        h_raw = (
            sp.join(auths.hint("shuffle_hash"), sp["p"] == auths["node"])
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
            .transform(ckpt)  # |suppliers|-sized
        )
        h_total = h_raw.agg(F.sum("h")).collect()[0][0]  # 1-row scalar
        hubs = h_raw.select(
            F.col("s").alias("node"),
            F.expr(f"h DIV greatest({h_total} DIV {_HITS_SCALE}, 1)").alias("h"),
        )
    return hubs.select(
        "node", F.lit("hub").alias("role"), F.col("h").cast("long").alias("score")
    ).unionByName(
        auths.select(
            "node",
            F.lit("authority").alias("role"),
            F.col("a").cast("long").alias("score"),
        )
    )


_CMS_DEPTH = 4  # independent hash rows
_CMS_WIDTH = 256  # buckets per row
_CMS_TOPK = 20


def _cms_oracle() -> str:
    """Count-Min oracle: the sketch is DETERMINISTIC (md5-prefix row
    hashes, the portable recipe both engines compute bit-identically),
    so unlike HLL this sketch op carries a full value-hash oracle —
    build the d x w counter table, then answer the true top-K keys
    with min-over-rows, overestimate and all."""
    return f"""
    WITH rows_ AS (SELECT unnest(range({_CMS_DEPTH})) AS i),
    keyed AS (
      SELECT l_partkey AS pk, i,
             CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_CMS_WIDTH} AS bkt
      FROM lineitem CROSS JOIN rows_
    ),
    cms AS (SELECT i, bkt, count(*) AS c FROM keyed GROUP BY i, bkt),
    topk AS (
      SELECT l_partkey AS pk, count(*) AS true_cnt
      FROM lineitem GROUP BY l_partkey
      ORDER BY true_cnt DESC, pk ASC LIMIT {_CMS_TOPK}
    ),
    probes AS (
      SELECT t.pk, t.true_cnt, r.i,
             CAST(('0x' || substr(md5(CAST(t.pk AS VARCHAR) || '#' || CAST(r.i AS VARCHAR)), 1, 15)) AS BIGINT)
               % {_CMS_WIDTH} AS bkt
      FROM topk t CROSS JOIN rows_ r
    )
    SELECT p.pk AS part_id, CAST(p.true_cnt AS BIGINT) AS true_cnt,
           CAST(min(cms.c) AS BIGINT) AS cms_est
    FROM probes p JOIN cms ON cms.i = p.i AND cms.bkt = p.bkt
    GROUP BY p.pk, p.true_cnt
    """


@register("sketch_countmin_topk", oracle=_cms_oracle())
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over lineitem part keys, probed with
    the true top-20 parts — the heavy-hitter counting sketch next to
    sketch_hll_rollup's distinct counting, and the fixed-memory answer
    to 'which items are hot' at 100 TB: the sketch is d x w = 4 x 256
    counters NO MATTER how many rows or keys flow in, mergeable across
    partitions/days by cell-wise addition, and every estimate is a
    one-sided overestimate (est >= true, pytest-pinned).

    Unlike the HLL op, this sketch carries a FULL value-hash oracle:
    the row hashes are the portable md5-prefix recipe (identical
    bucketing in Spark and DuckDB by construction), counting is exact
    integer aggregation, and the probe set (true top-20, ties broken
    by key) is deterministic — approximate answers, exactly
    reproducible.

    Scale shape: the build explodes each row into d (row, bucket)
    cells whose groupBy is map-side combinable down to d x w rows per
    partition before the shuffle — the sketch table that reaches the
    reduce side is KB-sized; the probe is a broadcast join of 20 x d
    cells against it. The one full-width pass is the exact top-K
    groupBy, present so the oracle can score the sketch — a production
    build ships only the d x w table."""
    # spread() the narrow pk projection before the d-way md5 explode
    # (guide §2.5 / functions.layout): the sketch build is a
    # high-amplification projection (4 md5 + base-conversions per row)
    # riding the scan stage, which on a single-row-group file is one
    # task — the build was serial (r12 stage profile: one 6.2 s-CPU
    # 3-task stage = the whole op). The exchange moves one long column
    # (~5 MB at sf0.1), the cheapest this data ever is; on healthy
    # splits it is a near-no-op rebalance. Interleaved A/B at sf0.1:
    # 7.3 -> 1.7 s on clean-steal samples (both arms inflate under
    # co-tenant steal patches; the contrast holds on every pair).
    li = spread(load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("pk")))
    rows_ = F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))

    def bkt(pk_col, i_col):
        return (
            F.conv(
                F.substring(F.md5(F.concat_ws("#", pk_col, i_col)), 1, 15), 16, 10
            ).cast("long")
            % _CMS_WIDTH
        )

    keyed = li.select(
        "pk", F.explode(rows_).alias("i")
    ).select("i", bkt(F.col("pk"), F.col("i")).alias("bkt"))
    cms = keyed.groupBy("i", "bkt").agg(F.count("*").alias("c"))
    topk = (
        li.groupBy("pk")
        .agg(F.count("*").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("pk"))
        .limit(_CMS_TOPK)
    )
    probes = topk.select(
        "pk", "true_cnt", F.explode(rows_).alias("i")
    ).select("pk", "true_cnt", "i", bkt(F.col("pk"), F.col("i")).alias("bkt"))
    return (
        F.broadcast(probes)
        .join(cms, ["i", "bkt"])
        .groupBy("pk", "true_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .select(
            F.col("pk").alias("part_id"),
            F.col("true_cnt").cast("long").alias("true_cnt"),
            "cms_est",
        )
    )


_BFS_ROUNDS = 3  # fixed hop horizon; unreached after 3 hops -> -1
_BFS_SEED_MOD = 97  # parts with pk % 97 == 0 are the BFS sources


def _bfs_oracle() -> str:
    """Unrolled-round BFS oracle: one chained CTE pair per relaxation
    round (relax = min neighbor distance + 1, then merge-min with the
    previous table) — the same min-plus recurrence the Spark loop runs,
    in exact integers."""
    its = []
    for i in range(_BFS_ROUNDS):
        its.append(
            f"""r{i + 1} AS (
      SELECT e.dst AS node, min(d.dist) + 1 AS dist
      FROM edges e JOIN d{i} d ON d.node = e.src AND d.dist = {i}
      GROUP BY e.dst
    ),
    d{i + 1} AS (
      SELECT node, min(dist) AS dist
      FROM (SELECT node, dist FROM d{i} UNION ALL SELECT node, dist FROM r{i + 1})
      GROUP BY node
    )"""
        )
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    d0 AS (SELECT node, 0 AS dist FROM nodes WHERE node % {_BFS_SEED_MOD} = 0),
    {', '.join(its)}
    SELECT n.node AS part_id, CAST(coalesce(d.dist, -1) AS BIGINT) AS hops
    FROM nodes n LEFT JOIN d{_BFS_ROUNDS} d ON d.node = n.node
    """


@register("graph_bfs_distance", oracle=_bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the part co-purchase graph —
    the crawl-frontier primitive (how many link hops from the seed set
    is each page) and the fourth member of the exact iterative-graph
    family next to graph_pagerank / graph_label_propagation /
    dedup_components. Sources are the deterministic seed set
    pk % 97 == 0; each of the 3 fixed rounds relaxes min-plus distances
    one hop; nodes unreached within the horizon report -1. Distances
    are exact small integers, so an iterative traversal gets a full
    value-hash oracle (unrolled chained CTEs, the graph_pagerank
    recipe).

    Scale shape: textbook FRONTIER propagation — round i joins only
    the nodes discovered at exactly distance i (dist == i) against the
    edge list, so the data moved per round is the frontier, never the
    full distance table and never the edges: the edge list is
    hash-partitioned by src once and checkpointed, the frontier is
    repartitioned to the same layout (|frontier| rows move), and the
    merge-min is one map-side-combinable groupBy. Per-round
    checkpointing keeps lineage flat across rounds (the
    dedup_components recipe). On a 1000-executor crawl graph this is
    the plan Pregel runs — vertex state moves, topology stays put."""
    dp = spark.sparkContext.defaultParallelism
    # pinned by src (layout.pin, r12): each round's frontier join reads
    # the cached layout — only the frontier moves, never the edges.
    edges = pin(_copurchase_edges(spark, sf_dir), "src")
    nodes = edges.select(F.col("src").alias("node")).distinct().transform(ckpt)
    dist = nodes.filter(F.col("node") % _BFS_SEED_MOD == 0).select(
        "node", F.lit(0).alias("dist")
    )
    for i in range(_BFS_ROUNDS):
        frontier = (
            dist.filter(F.col("dist") == i)
            .select(F.col("node").alias("src"), "dist")
            .repartition(dp, "src")
        )
        relax = (
            edges.join(frontier, "src")
            .groupBy("dst")
            .agg((F.min("dist") + 1).alias("dist"))
            .select(F.col("dst").alias("node"), "dist")
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(ckpt)
        )
    return nodes.join(dist, "node", "left").select(
        F.col("node").alias("part_id"),
        F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("hops"),
    )


def _modularity_oracle() -> str:
    """LPA CTE prefix + the Newman modularity decomposition: for each
    community c, q_term = intra_c/M2 - (d_c/M2)^2 where M2 counts the
    both-direction edge list (= 2m). Every input is an exact integer,
    so the double expression is identical in both engines."""
    return f"""
    {_lpa_ctes()},
    comm AS (SELECT node, lbl FROM lab{_LPA_ROUNDS}),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    m2 AS (SELECT CAST(count(*) AS DOUBLE) AS m2 FROM edges),
    intra AS (
      SELECT ca.lbl AS community, count(*) AS intra_edges
      FROM edges e
      JOIN comm ca ON ca.node = e.src
      JOIN comm cb ON cb.node = e.dst
      WHERE ca.lbl = cb.lbl
      GROUP BY ca.lbl
    ),
    dsum AS (
      SELECT c.lbl AS community,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS degree_sum
      FROM comm c JOIN deg d ON d.src = c.node
      GROUP BY c.lbl
    )
    SELECT d.community, d.n_nodes,
           CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           d.degree_sum,
           floor((CAST(coalesce(i.intra_edges, 0) AS DOUBLE) / m2.m2
                  - (CAST(d.degree_sum AS DOUBLE) / m2.m2)
                    * (CAST(d.degree_sum AS DOUBLE) / m2.m2))
                 * 1000000 + 0.5) / 1000000 AS q_term
    FROM dsum d LEFT JOIN intra i ON i.community = d.community, m2
    """


@register("graph_modularity", oracle=_modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities — the quality score
    that tells you whether a community partition means anything (Q
    near 0: no better than random wiring; production crawl/domain
    clustering gates on exactly this before trusting the communities).
    Reuses graph_label_propagation's converged labels (shared helper,
    shared oracle CTEs — both ops score the IDENTICAL partition) and
    decomposes Q = sum_c [intra_c/2m - (d_c/2m)^2] into one row per
    community: node count, intra-community edge count, degree mass,
    and the community's modularity term. Every input is an exact
    integer on the both-direction edge list, so the per-community
    double arithmetic is engine-identical and a graph-quality metric
    carries a full value-hash oracle.

    Scale shape: on top of LPA's per-round cost, modularity adds two
    equality joins of the edge list against the |V|-sized label frame
    (labels move, edges stay in their checkpointed layout), one
    combinable count per side, and a |communities|-row closed form;
    2m enters as a 1-row scalar literal (the graph_hits pattern)."""
    edges, labels = _lpa_edges_and_labels(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    m2 = float(edges.count())  # 1-row scalar action, re-entered as literal
    ca = labels.select(F.col("node").alias("a_"), F.col("lbl").alias("la"))
    cb = labels.select(F.col("node").alias("b_"), F.col("lbl").alias("lb"))
    # r12: dst-side label attach runs FIRST — edges is pinned by dst
    # (the _lpa_edges_and_labels layout), so that join reads the cached
    # layout with zero edge exchange and only the src attach pays one;
    # pre-r12 the src-first order exchanged the edge list twice. Both
    # label sides carry the vote join's shuffle_hash hint (per-round
    # |V| broadcast is the scale-hostile shape). Inner equi-joins
    # commute, so the rows are identical.
    intra = (
        edges.join(cb.hint("shuffle_hash"), edges["dst"] == cb["b_"])
        .join(ca.hint("shuffle_hash"), edges["src"] == ca["a_"])
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("community"))
        .agg(F.count("*").alias("intra_edges"))
    )
    dsum = (
        labels.join(deg, labels["node"] == deg["src"])
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").alias("n_nodes"), F.sum("d").alias("degree_sum"))
    )
    j = dsum.join(intra, "community", "left").select(
        "community",
        "n_nodes",
        F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long").alias("intra_edges"),
        "degree_sum",
    )
    q = (
        F.col("intra_edges").cast("double") / F.lit(m2)
        - (F.col("degree_sum").cast("double") / F.lit(m2))
        * (F.col("degree_sum").cast("double") / F.lit(m2))
    )
    return j.select(
        "community",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        (F.floor(q * 1000000 + F.lit(0.5)) / 1000000).alias("q_term"),
    )


@register(
    "agg_gini",
    oracle="""
    WITH rev AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT segment, x,
             row_number() OVER (PARTITION BY segment ORDER BY x ASC, ck ASC) AS i
      FROM rev
    ),
    g AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
             sum(x) AS sx,
             sum(CAST(i AS DECIMAL(19,0)) * x) AS six
      FROM rk GROUP BY segment
    )
    SELECT segment, n_customers,
           floor((2 * CAST(six AS DOUBLE) - (n_customers + 1) * CAST(sx AS DOUBLE))
                 / (n_customers * CAST(sx AS DOUBLE)) * 1000000 + 0.5) / 1000000
             AS gini
    FROM g
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each market
    segment — the single-number inequality metric next to
    customer_pareto's full concentration curve (0 = every customer
    spends alike, ->1 = one whale). Uses the rank identity
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending
    revenue with a (revenue, custkey) total order, so every data-sized
    quantity is an exact DECIMAL sum or an exact integer rank and the
    one double division is engine-identical — the same
    exact-arithmetic discipline as agg_moments, applied to an
    economics statistic.

    Scale shape: one key shuffle to per-customer revenue (combinable),
    one per-segment rank window (the per-series sort every ranked
    metric pays; parallel across segments), one combinable reduce to
    |segments| rows of three scalars."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("o_custkey").alias("ck"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    w = W.partitionBy("segment").orderBy(F.col("x").asc(), F.col("ck").asc())
    rk = rev.select("segment", "x", F.row_number().over(w).alias("i"))
    g = rk.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i").cast("decimal(19,0)") * F.col("x")).alias("six"),
    )
    gini = (
        2 * F.col("six").cast("double")
        - (F.col("n_customers") + 1) * F.col("sx").cast("double")
    ) / (F.col("n_customers") * F.col("sx").cast("double"))
    return g.select(
        "segment",
        "n_customers",
        (F.floor(gini * 1000000 + F.lit(0.5)) / 1000000).alias("gini"),
    )


_RELATED_K = 3


@register(
    "graph_related_topk",
    oracle=f"""
    WITH ej AS (SELECT * FROM ({_EDGE_JACCARD_ORACLE})),
    bidir AS (
      SELECT u AS part_id, v AS neighbor, common, jscore FROM ej
      UNION ALL
      SELECT v, u, common, jscore FROM ej
    )
    SELECT part_id, neighbor, common, jscore FROM bidir
    QUALIFY row_number() OVER (PARTITION BY part_id
                               ORDER BY jscore DESC, common DESC, neighbor ASC)
            <= {_RELATED_K}
    """,
)
def graph_related_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Customers also bought': the top-3 most related parts per part,
    ranked by neighborhood-Jaccard link strength — the recommendation
    serving table every co-purchase graph exists to produce, and a
    pure COMPOSITION: graph_edge_jaccard's scored edge list expands to
    both directions and a per-node rank window keeps K. Deterministic
    total order (jscore desc, common desc, neighbor asc) keeps the
    full value-hash oracle; the oracle literally embeds the edge op's
    SQL as a CTE, so the two ops can never drift apart.

    Scale shape: adds one |E|-row union and one per-node rank window
    (partitioned by part — parallel across nodes) on top of the
    triangle machinery's cost. The output is |V| x K rows — the
    precomputed serving table a product page reads by key. The scored
    edge frame is checkpointed before the both-direction union so
    single execution of the triangle build is STRUCTURAL, not
    AQE-exchange-reuse-dependent (r6 verdict item 4; A/B at sf0.1:
    14.3s ckpt vs 27.5s relying on reuse).

    Co-resident pipelines: the edge build dominates (~90%+ of this
    op's cost); the top-k tail on an ALREADY materialized frame is
    <1 s at sf0.1 (r8 A/B: tail 0.88 s vs 10.1 s full rebuild, ~11x).
    A stage computing several consumers of the scored edge list
    (related_topk, per-node strength rollups, ...) should call
    graph_edge_jaccard ONCE, ckpt it, and derive each consumer via
    related_topk_from_edges below — SCALING.md 'Co-resident graph
    consumers'."""
    ej = graph_edge_jaccard(spark, sf_dir).transform(ckpt)
    return related_topk_from_edges(ej)


def related_topk_from_edges(ej: DataFrame) -> DataFrame:
    """The serving-table tail of graph_related_topk, derived from an
    already-scored (u, v, common, jscore) edge frame — exposed so
    co-resident pipelines can share one materialized
    graph_edge_jaccard frame across consumers (r8 A/B: 0.88 s per
    extra consumer vs 10.1 s per full rebuild at sf0.1)."""
    both = ej.select(
        F.col("u").alias("part_id"),
        F.col("v").alias("neighbor"),
        "common",
        "jscore",
    ).unionByName(
        ej.select(
            F.col("v").alias("part_id"),
            F.col("u").alias("neighbor"),
            "common",
            "jscore",
        )
    )
    w = W.partitionBy("part_id").orderBy(
        F.col("jscore").desc(), F.col("common").desc(), F.col("neighbor").asc()
    )
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RELATED_K)
        .select("part_id", "neighbor", "common", "jscore")
    )


_AA_SCALE = 10**12  # fixed-point scale for the per-wedge 1/ln(d) weight
_AA_TOPN = 100
_AA_MIN_COOCCUR = 2  # co-purchase edge threshold (noise floor)


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (
      SELECT a.pk AS src, b.pk AS dst
      FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      GROUP BY a.pk, b.pk HAVING count(*) >= {_AA_MIN_COOCCUR}
    ),
    deg AS (SELECT src, count(*) AS d FROM und GROUP BY src),
    wedge AS (
      SELECT a.dst AS u, b.dst AS v, a.src AS w
      FROM und a JOIN und b ON a.src = b.src AND a.dst < b.dst
    ),
    sc AS (
      SELECT u, v, count(*) AS common,
             sum(CAST(floor({_AA_SCALE} / ln(greatest(d.d, 2))) AS BIGINT)) AS aa
      FROM wedge JOIN deg d ON d.src = wedge.w
      GROUP BY u, v
    ),
    nonedge AS (
      SELECT sc.* FROM sc
      WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.src = sc.u AND e.dst = sc.v)
    )
    SELECT u AS part_u, v AS part_v, CAST(common AS BIGINT) AS common,
           CAST(aa AS BIGINT) AS aa_e12
    FROM nonedge
    ORDER BY aa DESC, u ASC, v ASC LIMIT {_AA_TOPN}
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the THRESHOLDED co-purchase
    graph (parts co-ordered at least twice — the standard noise floor
    recommender co-occurrence graphs apply before any link scoring):
    the top-100 NON-adjacent part pairs ranked by AA = sum over
    common neighbors w of 1/ln(deg(w)) — rare shared neighbors count
    more than ubiquitous ones — completing the link-analysis family
    next to edge_jaccard (which scores EXISTING edges).

    Why the threshold is structural, not a shortcut: the raw >= 1
    co-purchase graph is a union of order-cliques and densifies
    toward complete (sf0.1: 1.196M edges over 20k parts, mean degree
    ~120); AA's wedge enumeration is Sum d_w^2 and its candidate set
    is ALL 2-hop pairs, so scoring the raw graph is quadratic noise —
    measured 46-155 s at sf0.1 for predictions dominated by
    single-co-occurrence accidents. The >= 2 floor keeps only
    evidence-backed edges (3.4k at sf0.01) and the same machinery
    runs in well under a second while answering the question a
    recommender actually asks.

    Exactness: the per-wedge weight is FIXED-POINT
    floor(1e12/ln(max(d, 2))) — ln runs on the same integer degree in
    both engines, producing the identical double, floor, and an
    order-free INTEGER sum (a float sum would be partial-aggregation-
    order dependent); the max-2 clamp guards ln(1) = 0 for
    degree-1 centers the thresholded graph can contain; the top-N cut
    uses the total order (aa desc, u, v).

    Scale shape: one count-aggregated pair groupBy builds the
    thresholded edge list (map-side combinable; the HAVING floor is
    the same partial-agg shape as dedup's dup-key filter), then the
    und self-join keyed on the CENTER node enumerates wedges over the
    SPARSIFIED degrees, one groupBy on the candidate pair, one
    anti-join against the edge list, and the global top-N is
    TakeOrdered, never a full sort."""
    # Basket expansion instead of the li self-join (_copurchase_edges
    # rationale); each order contributes each unordered pair once
    # (collect_set dedups within the order), so the groupBy count IS
    # the per-pair co-occurrence count, identically to the old join.
    baskets = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    und = (
        baskets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("nco"))
        .filter(F.col("nco") >= _AA_MIN_COOCCUR)
        .select("src", "dst")
        .transform(ckpt)  # wedge join + degree agg + anti-join all reuse it
    )
    deg = und.groupBy("src").agg(F.count("*").alias("d"))
    w1 = und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    w2 = und.select(F.col("src").alias("w"), F.col("dst").alias("v"))
    wedges = w1.join(w2, "w").filter(F.col("u") < F.col("v"))
    weight = F.expr(f"CAST(floor({_AA_SCALE} / ln(greatest(d, 2))) AS BIGINT)")
    sc = (
        wedges.join(deg.select(F.col("src").alias("w"), "d"), "w")
        .select("u", "v", weight.alias("wt"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"), F.sum("wt").alias("aa"))
    )
    nonedge = sc.join(
        und.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        nonedge.select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            F.col("common").cast("long").alias("common"),
            F.col("aa").cast("long").alias("aa_e12"),
        )
        .orderBy(F.desc("aa_e12"), F.asc("part_u"), F.asc("part_v"))
        .limit(_AA_TOPN)
    )


@register(
    "agg_mutual_info",
    oracle="""
    WITH cells AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS n_xy
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    mx AS (SELECT nk, sum(n_xy) AS n_x FROM cells GROUP BY nk),
    my AS (SELECT seg, sum(n_xy) AS n_y FROM cells GROUP BY seg),
    n AS (SELECT sum(n_xy) AS n FROM cells)
    SELECT CAST(c.nk AS BIGINT) AS nation_key, c.seg AS segment,
           CAST(c.n_xy AS BIGINT) AS n_xy,
           CAST(mx.n_x AS BIGINT) AS n_x,
           CAST(my.n_y AS BIGINT) AS n_y,
           CAST(floor(ln(CAST(c.n_xy * n.n AS DOUBLE)
                         / CAST(mx.n_x * my.n_y AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS pmi6
    FROM cells c
    JOIN mx ON mx.nk = c.nk
    JOIN my ON my.seg = c.seg, n
    """,
)
def agg_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between two categorical columns
    (customer nation x market segment) — the dependence audit behind
    feature selection and leakage checks: each contingency cell
    carries its exact counts and pmi = ln(n_xy*N / (n_x*n_y)),
    integer-rendered at 1e-6 (the text_collocation_pmi recipe lifted
    from bigrams to arbitrary column pairs; sum n_xy*pmi6/N
    downstream for the full MI statistic as an order-free integer
    dot product).

    Exactness: every count is an exact integer; the products n_xy*N
    and n_x*n_y stay far under 2^53, so their double casts, the one
    division, the one ln, and the floor(x*1e6+0.5) rendering are
    bit-identical in both engines.

    Scale shape: one map-side-combinable groupBy bounded by
    |X|x|Y| cells (never corpus rows on the reduce side), two
    marginal re-aggregations of the CELL table (|cells| rows, not a
    second data pass), and cell-keyed equality joins AQE will
    broadcast when small."""
    c = load(spark, sf_dir, "customer")
    cells = (
        c.groupBy(
            F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
        )
        .agg(F.count("*").alias("n_xy"))
        .transform(ckpt)  # marginals + N are re-aggregations of cells
    )
    mx = cells.groupBy("nk").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("seg").agg(F.sum("n_xy").alias("n_y"))
    n = cells.agg(F.sum("n_xy").alias("n"))
    return (
        cells.join(mx, "nk")
        .join(my, "seg")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("nk").cast("long").alias("nation_key"),
            F.col("seg").alias("segment"),
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            F.expr(
                "CAST(floor(ln(CAST(n_xy * n AS DOUBLE)"
                " / CAST(n_x * n_y AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
            ).alias("pmi6"),
        )
    )


# Benford expected first-digit shares, log10(1 + 1/d), precomputed in
# Python so BOTH engines consume the identical double literals (no
# per-engine log10 in the hot path or the oracle).
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def _benford_oracle() -> str:
    p_cases = " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items())
    return f"""
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    digs AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents WHERE c > 0
    ),
    obs AS (SELECT digit, count(*) AS obs_cnt FROM digs GROUP BY digit),
    n AS (SELECT sum(obs_cnt) AS n FROM obs)
    SELECT obs.digit, CAST(obs.obs_cnt AS BIGINT) AS obs_cnt,
           CASE obs.digit {p_cases} END AS exp_share,
           floor((CAST(obs.obs_cnt AS DOUBLE)
                  - CAST(n.n AS DOUBLE) * (CASE obs.digit {p_cases} END))
                 * (CAST(obs.obs_cnt AS DOUBLE)
                    - CAST(n.n AS DOUBLE) * (CASE obs.digit {p_cases} END))
                 / (CAST(n.n AS DOUBLE) * (CASE obs.digit {p_cases} END))
                 * 1000000 + 0.5) / 1000000 AS chi_term
    FROM obs, n
    """


@register("agg_benford", oracle=_benford_oracle())
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    classic anomaly/fraud screen for financial columns (organic
    amounts follow log10(1+1/d); fabricated or capped data does not).
    One row per leading digit with the observed count, the expected
    Benford share, and the digit's chi-square contribution
    (obs − n·p)²/(n·p) — sum the column and compare to the
    chi-square(8) critical value to score the table.

    Exactness recipe: the leading digit comes from INTEGER-cents
    string conversion (decimal cast → ×100 → BIGINT → varchar), never
    from float formatting or log10 of a double, both of which diverge
    between engines at boundaries; expected shares are PYTHON-computed
    double literals consumed identically by both engines; counts are
    exact, and the one rounded expression is plain ·,−,/ on identical
    doubles (the events_ab_test discipline).

    Scale shape: one combinable groupBy down to at most 9 rows; the
    scalar n re-enters by a broadcast of a 9-row frame — every
    exchange after the scan carries bytes."""
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    )
    digs = o.filter(F.col("c") > 0).select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digs.groupBy("digit").agg(F.count("*").alias("obs_cnt"))
    n = obs.agg(F.sum("obs_cnt").alias("n"))
    p = F.create_map(
        *[F.lit(x) for kv in _BENFORD_P.items() for x in kv]
    )[F.col("digit")]
    dev = F.col("obs_cnt").cast("double") - F.col("n").cast("double") * p
    return (
        obs.crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.col("obs_cnt").cast("long").alias("obs_cnt"),
            p.alias("exp_share"),
            (
                F.floor(
                    dev * dev / (F.col("n").cast("double") * p) * 1000000 + F.lit(0.5)
                )
                / 1000000
            ).alias("chi_term"),
        )
    )
