"""Projection / filter / join queries (SURVEY.md §2.B.2–2.B.3).

Scale notes per query are in the docstrings; the common themes:
filters and projections are declared so Catalyst pushes them into the
parquet scan (PushedFilters/ReadSchema), dimension joins carry explicit
``broadcast()`` hints, and the fact-fact joins shuffle on their keys
with AQE handling skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapflow_spark.catalog import load_table
from snapflow_spark.compat import (
    REVENUE_SQL,
    dec,
    exact_revenue_sum,
    exact_revenue_sum_sql,
    exact_sum,
    revenue_col,
    ts_millis,
    ts_millis_sql,
)
from snapflow_spark.operators import asof_join
from snapflow_spark.registry import query
from snapflow_spark.session import file_stamp, memo
from snapflow_spark.sources import refresh_bucketed


@query(
    "q_filter_project",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST({REVENUE_SQL} AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag IN ('R', 'A')
      AND l_quantity BETWEEN 5 AND 45
      AND l_linestatus LIKE 'F%'
      AND l_partkey IS NOT NULL
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + computed projection with the full predicate stack
    (timestamp compare, IN, BETWEEN, LIKE, null test — §2.B.2's two
    roster rows in one query); every predicate reaches the parquet scan
    as a PushedFilter and ReadSchema carries only the needed columns."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_returnflag").isin("R", "A")
            & F.col("l_quantity").between(5, 45)
            & F.col("l_linestatus").like("F%")
            & F.col("l_partkey").isNotNull()
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            revenue_col().cast("double").alias("revenue"),
        )
    )


@query(
    "q_join_inner",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {exact_revenue_sum_sql('revenue')},
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped 3-way inner join over the BUCKETED co-located
    layout (round 3): both fact sides are written bucketed on orderkey
    (sources.write_bucketed), so the orders⋈lineitem sort-merge join
    runs with ZERO exchanges — each task reads bucket i of both sides
    (plan shows ``Bucketed: true`` + SMJ with only Sorts above the
    scans). The customer side broadcasts. At 100 TB the bucketed write
    is paid once and amortized across every query that joins the pair;
    the layout is staged once per (session, sf_dir) — the
    q_scan_formats fixture precedent (round 17; previously every call
    re-dropped and re-wrote both tables, charging the amortized-once
    write to every repeat execution) — and the driver-visible plan IS
    the zero-exchange join. The `merge` hint keeps the physical shape
    stable where AQE would broadcast the small sf's fact side —
    broadcasting would be fine at sf0.01, but the co-located SMJ is
    the plan that survives the scale-up."""
    c = load_table(spark, sf_dir, "customer")
    ob, lb = _bucketed_facts(spark, sf_dir)
    fact = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return (
        fact.join(F.broadcast(c), fact.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(exact_revenue_sum("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def _bucketed_facts(spark: SparkSession, sf_dir: str):
    """q_join_inner's bucketed fact pair, staged once per
    (session, sf_dir) and restaged when either input's mtime changes.
    Table names carry an sf_dir digest so two
    scale factors in one session stage DISTINCT catalog tables —
    a shared name would let the first sf's cached scan silently read
    the second sf's rewrite. The staged tables are a LAYOUT of the
    parquet inputs (filter + bucketed write), rebuilt from scratch in
    every new session/process; reads always scan the staged files."""
    import hashlib

    from snapflow_spark.catalog import table_path

    def _stage():
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        o = (
            load_table(spark, sf_dir, "orders")
            .where(
                (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            )
            .select("o_orderkey", "o_custkey")
        )
        l = (
            load_table(spark, sf_dir, "lineitem")
            .where(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_extendedprice", "l_discount")
        )
        ob = refresh_bucketed(o, f"q_join_inner_orders_b_{tag}", ["o_orderkey"], 8)
        lb = refresh_bucketed(l, f"q_join_inner_lineitem_b_{tag}", ["l_orderkey"], 8)
        return ob, lb

    return memo(
        ("relational.bucketed_facts", sf_dir),
        _stage,
        owner=spark,
        stamp=tuple(file_stamp(table_path(sf_dir, t)) for t in ("orders", "lineitem")),
    )


@query(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 300000
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving zero-order customers (COUNT skips the
    null-extended rows; SUM coalesced to 0 on both sides)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_totalprice > 300000),
            "left",
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


@query(
    "q_join_semi_anti",
    oracle="""
    SELECT 'semi' AS mode, c_custkey, c_name FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
            AND o.o_totalprice > 350000)
    UNION ALL
    SELECT 'anti' AS mode, c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) and LEFT ANTI (NOT EXISTS) in one tagged
    union — both join strategies appear in the single plan. Semi/anti
    joins shuffle only the key column of the probe side: 'semi' =
    customers with ≥1 large urgent order, 'anti' = customers with no
    400k+ order."""
    c = load_table(spark, sf_dir, "customer")
    o_urgent = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 350000)
    )
    o_high = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    semi = (
        c.join(o_urgent, c.c_custkey == o_urgent.o_custkey, "left_semi")
        .select(F.lit("semi").alias("mode"), "c_custkey", "c_name")
    )
    anti = (
        c.join(o_high, c.c_custkey == o_high.o_custkey, "left_anti")
        .select(F.lit("anti").alias("mode"), "c_custkey", "c_name")
    )
    return semi.unionByName(anti)


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dimension join with explicit broadcast hints: the
    fact side never shuffles for the join — nation/region ship to every
    executor, exactly what a 100 TB fact table needs."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal", "sum_acctbal"),
        )
    )


@query(
    "q_join_range",
    oracle="""
    SELECT p.p_partkey, l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_retailprice
    FROM part p
    JOIN lineitem l
      ON l.l_extendedprice / l.l_quantity
           BETWEEN p.p_retailprice * 0.95 AND p.p_retailprice * 1.05
    WHERE p.p_size <= 5 AND l.l_quantity <= 5
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range (non-equi) join: unit price within ±5% of a part's
    retail price — via operators.rangejoin.banded_range_join, the
    equi-join rewrite that scales past broadcast-nested-loop (one
    shuffle on the band key; band width ~ typical interval width)."""
    from snapflow_spark.operators.rangejoin import banded_range_join

    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 5)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") <= 5)
    unit = l.l_extendedprice / l.l_quantity
    joined = banded_range_join(
        l,
        p,
        point=unit,
        lo=p.p_retailprice * 0.95,
        hi=p.p_retailprice * 1.05,
        band_width=100.0,
    )
    return joined.select(
        "p_partkey", "l_orderkey", "l_linenumber", "l_quantity", "p_retailprice"
    )


@query(
    "q_join_asof",
    oracle=f"""
    SELECT e.event_id, e.user_id, {ts_millis_sql('e.ts', 'ts_ms')},
           e.event_type, e.value, c.value AS last_click_value
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ) c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via operators.asof_join (union + running
    last — one shuffle on user_id, no UDF): every event enriched with
    the user's most recent click value at or before its timestamp."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    enriched = asof_join(
        e.select("event_id", "user_id", "ts", "event_type", "value"),
        clicks,
        keys=["user_id"],
        left_ts="ts",
        payload={"value": "last_click_value"},
        right_order="event_id",
    )
    return enriched.select(
        "event_id",
        "user_id",
        ts_millis("ts", "ts_ms"),
        "event_type",
        "value",
        "last_click_value",
    )
