"""Focused single-operator queries (SURVEY.md §2.13): one declared query
per operator family from the §2 inventory that the mart pipelines don't
already exercise.  Spark side uses the DataFrame operator library (the
engine surface); the oracle is the SQL-equivalent text for DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import dec, money_round
from ..localrel import literal_frame
from ..operators.aggregates import dup_counts
from ..operators.joins import anti_join, broadcast_dim, semi_join
from ..sources.scans import read_parquet_table
from .registry import register


# ---------------------------------------------------------------- filters
@register(
    "q_filters_compound",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_returnflag = 'N'
      AND l_quantity BETWEEN 10 AND 20
      AND CAST(l_shipdate AS DATE) > DATE '1999-01-01'
      AND l_linestatus IN ('O', 'F')
      AND l_tax IS NOT NULL
    """,
)
def q_filters_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F4/F5/F6: equality, range, date, IN-list, NULL and
    compound predicates — all pushed into the parquet scan by Catalyst
    (PushedFilters visible in .explain)."""
    li = read_parquet_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "N")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate").cast("date") > F.lit("1999-01-01").cast("date"))
        & F.col("l_linestatus").isin("O", "F")
        & F.col("l_tax").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


# heavy-hitters support: customers holding > 0.1% of all orders.  The
# oracle literal is spelled 0.001e0 (a DOUBLE, not DuckDB's default
# DECIMAL(4,3)) so both engines compute the row-count threshold with the
# SAME IEEE multiply — heavy_hitters thresholds on support*total in
# Python floats.
_HH_SUPPORT = 0.001


@register(
    "q_distinct_status",
    f"""
    SELECT 'distinct' AS variant, o_orderstatus AS k1, o_orderpriority AS k2,
           CAST(NULL AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS frequency
    FROM (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders)
    UNION ALL
    SELECT 'heavy' AS variant, CAST(o_custkey AS VARCHAR) AS k1,
           CAST(NULL AS VARCHAR) AS k2, COUNT(*) AS n_rows,
           CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM orders) AS frequency
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) > {_HH_SUPPORT!r}e0 * (SELECT COUNT(*) FROM orders)
    """,
)
def q_distinct_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct + heavy hitters, tagged union (one registry slot):

    - ``variant='distinct'`` — F8: a hash aggregate without agg
      functions over (status, priority).
    - ``variant='heavy'`` — the two-pass frequent-items sketch
      (operators/sketches.py heavy_hitters): pass 1 freqItems
      over-approximates the candidate set map-side (the long tail never
      crosses the wire), pass 2 exact-counts ONLY the candidates and
      prunes to > support·total.  The FINAL output is exact in both
      membership and counts — the plain GROUP BY/HAVING the oracle
      runs — even though pass 1 is approximate; that determinism is
      what makes the sketch's confirm stage hash-checkable (the HLL
      error-bound side of sketches.py stays in pytest).
    """
    orders = read_parquet_table(spark, sf_dir, "orders")
    distinct = (
        orders.select("o_orderstatus", "o_orderpriority")
        .distinct()
        .select(
            F.lit("distinct").alias("variant"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            F.lit(None).cast("bigint").alias("n_rows"),
            F.lit(None).cast("double").alias("frequency"),
        )
    )
    from ..operators.sketches import heavy_hitters

    heavy = heavy_hitters(
        orders.select(F.col("o_custkey").cast("string").alias("ck")), "ck", support=_HH_SUPPORT
    ).select(
        F.lit("heavy").alias("variant"),
        F.col("item").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        "n_rows",
        "frequency",
    )
    return distinct.unionByName(heavy)


# ---------------------------------------------------------------- joins
@register(
    "q_join_using",
    """
    SELECT r.r_name AS region, COUNT(*) AS nation_count
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: USING-style join on a shared key-column list (Raptor joins
    source/target on the PK list, Raptor.py:278,447)."""
    nation = read_parquet_table(spark, sf_dir, "nation")
    region = read_parquet_table(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    return (
        nation.join(broadcast_dim(region), ["n_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.count("*").alias("nation_count"))
    )


@register(
    "q_anti_joins",
    """
    SELECT 'parts_unsold' AS side, p_partkey AS key_id, p_name AS name FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    UNION ALL
    SELECT 'customers_no_orders' AS side, c_custkey AS key_id, c_name AS name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+J8: left-anti in both directions, tagged union (reference
    emulates anti with outer join + NULL filter, Raptor.py:280-284;
    native anti skips the NULL-extension) — parts never sold and
    customers with no orders."""
    part = read_parquet_table(spark, sf_dir, "part")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    cust = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders")
    unsold = anti_join(part, li, part["p_partkey"] == li["l_partkey"]).select(
        F.lit("parts_unsold").alias("side"),
        F.col("p_partkey").alias("key_id"),
        F.col("p_name").alias("name"),
    )
    no_orders = anti_join(cust, orders, cust["c_custkey"] == orders["o_custkey"]).select(
        F.lit("customers_no_orders").alias("side"),
        F.col("c_custkey").alias("key_id"),
        F.col("c_name").alias("name"),
    )
    return unsold.unionByName(no_orders)


@register(
    "q_semi_join_f_customers",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def q_semi_join_f_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 at scale: broadcast left-semi instead of the reference's
    driver-collected isin list (m_customer_sales_report_task.py:85-86)."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    orders = read_parquet_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return semi_join(cust, orders, cust["c_custkey"] == orders["o_custkey"]).select("c_custkey", "c_name")


def _above_cust_avg(orders: DataFrame) -> DataFrame:
    """J10 core: orders above their customer's average value.  The
    average is truncated to whole cents with integer arithmetic: float
    division + round() disagrees between engines at representation
    boundaries (e.g. 232192.105), integer cents cannot."""
    cust_avg = orders.groupBy("o_custkey").agg(
        (
            F.expr("CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0) AS BIGINT) DIV COUNT(*)") / 100.0
        ).alias("avg_price")
    )
    return (
        orders.join(cust_avg, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
    )


def bucketed_scratch_root() -> str:
    """Host-local root where q_self_join_agg's bucketed round-trips
    land — one subdirectory per (sf_dir, applicationId) tag."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), "mmetl_bucketed")


def prune_bucketed_scratch(keep_tag: str | None = None, max_age_sec: int = 86400) -> None:
    """Housekeeping for :func:`bucketed_scratch_root`: per-application
    tags fix the concurrent overwrite-vs-scan race but accumulate one
    orders copy per run — drop sibling tags untouched for ``max_age_sec``
    (any live concurrent session is younger).  Invoked by bench.py and
    the test fixtures, NOT by the declared query: a query builder that
    deletes files is a side effect nobody expects."""
    import os
    import shutil
    import time

    root = bucketed_scratch_root()
    try:
        for d in os.listdir(root) if os.path.isdir(root) else []:
            full = os.path.join(root, d)
            if d != keep_tag and time.time() - os.path.getmtime(full) > max_age_sec:
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass


def self_join_agg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed arm of q_self_join_agg: round-trip orders through a
    hash-bucketed catalog table on the agg/join key, then run the SAME
    agg-back-to-detail plan over the bucketed scan.  The scan's
    HashPartitioning(o_custkey) satisfies both the groupBy and the join,
    so the plan needs ZERO shuffle Exchange (asserted in
    tests/test_plans.py) — at 100 TB the ingest-time bucketing pays the
    fact shuffle once instead of per-query.

    The table name/path derive from (sf_dir, Spark applicationId) so
    multi-sf runs within a session AND concurrent sessions on the same
    host never share state (two sessions on one sf_dir would otherwise
    race overwrite-vs-scan on a fixed temp path); the write is
    mode=overwrite, idempotent per run.  Stale sibling tags are cleaned
    by :func:`prune_bucketed_scratch` from the bench/test harnesses."""
    import os
    import re

    from ..sources.sinks import read_bucketed_table, write_bucketed

    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    app = re.sub(r"\W", "_", spark.sparkContext.applicationId)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_").replace("-", "_") + "_" + app
    table = f"t_self_join_orders_b_{tag}"
    path = os.path.join(bucketed_scratch_root(), tag)
    # written ONCE per (application, sf_dir) — the arm demonstrates the
    # query-side benefit of INGEST-time bucketing (the docstring's whole
    # point: the fact shuffle is paid once, not per query), so re-paying
    # the bucketed rewrite on every invocation mis-modeled the shape it
    # exists to pin (r14; same per-session keying as the ivf/pq
    # build-serve split — the table name embeds applicationId, the data
    # is deterministic per sf_dir, and nothing persists across driver
    # runs: a fresh application writes a fresh table).
    if not spark.catalog.tableExists(table):
        write_bucketed(orders, table, ["o_custkey"], 8, path=path)
    return _above_cust_avg(read_bucketed_table(spark, table))


@register(
    "q_self_join_agg",
    """
    WITH cust_avg AS (
        SELECT o_custkey,
               (CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100, 0) AS BIGINT)
                    // COUNT(*)) / 100.0 AS avg_price
        FROM orders GROUP BY o_custkey
    ),
    above AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, a.avg_price
        FROM orders o JOIN cust_avg a ON o.o_custkey = a.o_custkey
        WHERE o.o_totalprice > a.avg_price
    )
    SELECT 'direct' AS variant, * FROM above
    UNION ALL
    SELECT 'bucketed' AS variant, * FROM above
    """,
)
def q_self_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 as a tagged union (one registry slot, two physical plans):
    'direct' = aggregate joined back to detail over the plain parquet
    scan (the loyalty-tier pattern, m_customer_sales_report_task.py:
    204-231); 'bucketed' = the SAME logical plan over a bucketed
    round-trip of orders (:func:`self_join_agg_bucketed`) — the
    co-located zero-Exchange join, hash-verified here against the same
    oracle rows (bucketing must change the plan, never the answer)."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    direct = _above_cust_avg(orders).select(F.lit("direct").alias("variant"), "*")
    bucketed = self_join_agg_bucketed(spark, sf_dir).select(
        F.lit("bucketed").alias("variant"), "*"
    )
    return direct.unionByName(bucketed)


# ---------------------------------------------------------------- windows
@register(
    "q_window_family",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS prank,
           CUME_DIST() OVER w AS cdist,
           LAG(c_acctbal) OVER w AS prev_bal,
           LEAD(c_acctbal) OVER w AS next_bal,
           FIRST_VALUE(c_acctbal) OVER w AS first_bal,
           LAST_VALUE(c_acctbal) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_bal,
           NTH_VALUE(c_acctbal, 3) OVER w AS third_bal,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (
               PARTITION BY c_nationkey ORDER BY c_acctbal ASC
               RANGE BETWEEN 100 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS near_bal_sum
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
)
def q_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 extension: the full ranking/analytic family (the reference
    only uses row_number W1–W3; the SQL lab implies ranking semantics).
    r14 (verdict task 5): percent_rank + cume_dist close out the
    ranking set, first/last/nth_value the value-picker set (last_value
    over an explicit full-partition ROWS frame — the default frame
    stops at the current row on BOTH engines, which makes it a no-op),
    and ``near_bal_sum`` exercises a VALUE-RANGE frame
    (``Window.rangeBetween`` — peers by balance within 100, not by row
    position).  The range-framed sum runs in DECIMAL so the windowed
    accumulation is associative — double summation order differs
    between Spark's running-frame evaluator and DuckDB's segment tree,
    and the driver's value hash is bit-exact."""
    cust = read_parquet_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    wr = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.asc("c_acctbal"))
        .rangeBetween(-100, Window.currentRow)
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("c_acctbal").over(w).alias("prev_bal"),
        F.lead("c_acctbal").over(w).alias("next_bal"),
        F.first("c_acctbal").over(w).alias("first_bal"),
        F.last("c_acctbal")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("last_bal"),
        F.nth_value("c_acctbal", 3).over(w).alias("third_bal"),
        money_round(F.sum(dec("c_acctbal")).over(wr)).alias("near_bal_sum"),
    )


@register(
    "q_window_frame_running",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS running_spend
    FROM orders
    """,
)
def q_window_frame_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit frame spec (rowsBetween) — absent from the reference
    (SURVEY.md §2.6) but part of a complete window layer: running spend
    per customer in order-date order."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        money_round(F.sum(dec("o_totalprice")).over(w)).alias("running_spend"),
    )


# ---------------------------------------------------------------- sorts / limits
@register(
    "q_order_limit",
    """
    SELECT 'topk_price' AS fam, o_orderkey, o_custkey, o_totalprice
    FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10)
    UNION ALL
    SELECT 'by_month_expr' AS fam, o_orderkey, o_custkey, o_totalprice
    FROM (SELECT * FROM orders
          ORDER BY EXTRACT(MONTH FROM o_orderdate) ASC, o_orderkey ASC LIMIT 50)
    """,
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/O3: global top-k (Spark plans TakeOrderedAndProject — a
    per-partition heap + driver merge, no global sort shuffle) and ORDER
    BY a computed expression (Average_Order_Value.sql:13-14) with a
    deterministic unique-key tie-break, as one tagged union."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    topk = (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select(F.lit("topk_price").alias("fam"), *cols)
    )
    by_expr = (
        orders.orderBy(F.month("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(50)
        .select(F.lit("by_month_expr").alias("fam"), *cols)
    )
    return topk.unionByName(by_expr)


# ---------------------------------------------------------------- aggregates
@register(
    "q_quantiles_by_status",
    """
    SELECT 'status' AS variant, o_orderstatus,
           CAST(NULL AS VARCHAR) AS o_orderpriority, 0 AS grp_id,
           COUNT(*) AS cnt,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.8) AS p80,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders GROUP BY 2
    UNION ALL
    SELECT 'rollup', o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT),
           COUNT(*),
           quantile_cont(o_totalprice, 0.5),
           quantile_cont(o_totalprice, 0.8),
           quantile_cont(o_totalprice, 0.95)
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_quantiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+A11 (merged from q_groupby_ordinal, r3) as a tagged union:

    - 'status' — grouped exact percentiles via SQL ordinal GROUP BY
      through spark.sql (Raptor.py:449-453), the oracle-comparable
      path; approxQuantile with relErr 0.01 is the scale path
      (operators.bucketing);
    - 'rollup' (r14) — the SAME aggregate over ``GROUP BY ROLLUP
      (status, priority)`` via the DataFrame ``rollup()`` API with
      ``grouping_id()`` level markers — the multi-level OLAP rollup
      family (ROLLUP/CUBE/GROUPING SETS share one Expand-based plan in
      Spark; rollup is the representative arm).  Scale note: Expand
      multiplies the scan by the number of grouping levels BEFORE the
      shuffle; for ALGEBRAIC aggregates (count/sum/min/max) partial
      aggregation then bounds the exchange at (levels × groups) rows,
      but exact ``percentile_cont``'s partial buffer carries the
      group's full value multiset — at 100 TB a rollup-with-exact-
      percentiles shuffle is O(levels × distinct values), so the scale
      path swaps in ``approx_percentile`` (operators.bucketing), whose
      sketch buffer is bounded, and keeps this exact form for the
      oracle."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    base = spark.sql(
        """
        SELECT 'status' AS variant, o_orderstatus,
               CAST(NULL AS STRING) AS o_orderpriority, 0 AS grp_id,
               COUNT(*) AS cnt,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
               percentile_cont(0.8) WITHIN GROUP (ORDER BY o_totalprice) AS p80,
               percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS p95
        FROM orders GROUP BY 2
        """
    )

    def pc(q: float) -> Column:
        return F.expr(f"percentile_cont({q}) WITHIN GROUP (ORDER BY o_totalprice)")

    roll = (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("grp_id"),
            F.count(F.lit(1)).alias("cnt"),
            pc(0.5).alias("p50"),
            pc(0.8).alias("p80"),
            pc(0.95).alias("p95"),
        )
        .select(
            F.lit("rollup").alias("variant"),
            "o_orderstatus",
            "o_orderpriority",
            "grp_id",
            "cnt",
            "p50",
            "p80",
            "p95",
        )
    )
    return base.unionByName(roll)


@register(
    "q_dup_gate",
    """
    SELECT l_orderkey, l_linenumber, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
    """,
)
def q_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/A9: the PK-uniqueness gate's detection core (utils.py:88-119)
    — which (orderkey, linenumber) pairs are duplicated."""
    return dup_counts(read_parquet_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"])


# ---------------------------------------------------------------- set ops
@register(
    "q_set_ops",
    """
    WITH f_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM f_cust INTERSECT SELECT o_custkey FROM o_cust)
    UNION ALL
    SELECT 'f_only' AS tag, o_custkey FROM (SELECT o_custkey FROM f_cust EXCEPT SELECT o_custkey FROM o_cust)
    UNION ALL
    SELECT 'o_only' AS tag, o_custkey FROM (SELECT o_custkey FROM o_cust EXCEPT SELECT o_custkey FROM f_cust)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: union / intersect / except — absent from the reference
    (only anti-join emulations); exposed as first-class set algebra."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    tag = lambda df, t: df.select(F.lit(t).alias("tag"), "o_custkey")  # noqa: E731
    return (
        tag(f_cust.intersect(o_cust), "both")
        .unionByName(tag(f_cust.exceptAll(o_cust), "f_only"))
        .unionByName(tag(o_cust.exceptAll(f_cust), "o_only"))
    )


# ---------------------------------------------------------------- scalar families
@register(
    "q_scalar_string",
    """
    SELECT p_partkey,
           concat_ws('|', p_brand, p_type) AS brand_type,
           trim(p_name) AS name_trim,
           regexp_replace(p_name, ' ', '_') AS name_underscore,
           string_split(p_type, ' ')[1] AS type_head,
           upper(p_brand) AS brand_upper,
           substring(p_name, 1, 5) AS name_head,
           CAST(length(p_name) AS INT) AS name_len,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           COALESCE(array_to_string(list_transform(string_split(p_name, ' '), w -> upper(w)), ','), '') AS words_upper,
           COALESCE(array_to_string(list_filter(string_split(p_name, ' '), w -> length(w) > 4), ','), '') AS long_words,
           COALESCE(array_to_string(list_sort(string_split(p_name, ' ')), ','), '') AS words_sorted
    FROM part
    """,
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 string family + array/higher-order family (merged from
    q_scalar_array_hof, r3): concat_ws, trim, regexp_replace, split +
    1-based element_at (Raptor.py:575-577,600-605), case, substring,
    length; size/transform/filter/array_sort HOFs (Catalyst-compiled, no
    Python — the reference's lone lambda is SQL transform() through
    expr(), Raptor.py:580-585).  Array outputs joined to strings for
    engine-portable value comparison."""
    words = F.split("p_name", " ")
    return read_parquet_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim("p_name").alias("name_trim"),
        F.regexp_replace("p_name", " ", "_").alias("name_underscore"),
        F.element_at(F.split("p_type", " "), 1).alias("type_head"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.length("p_name").cast("int").alias("name_len"),
        F.size(words).cast("int").alias("n_words"),
        F.array_join(F.transform(words, lambda w: F.upper(w)), ",").alias("words_upper"),
        F.array_join(F.filter(words, lambda w: F.length(w) > 4), ",").alias("long_words"),
        F.array_join(F.array_sort(words), ",").alias("words_sorted"),
    )


@register(
    "q_scalar_datetime_conditional",
    """
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS order_date,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS order_day,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS order_quarter,
           CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus_30,
           CAST(CAST(o_orderdate AS DATE) - 7 AS TIMESTAMP) AS minus_7,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_start,
           datediff('day', CAST(o_orderdate AS DATE), DATE '2001-08-02') AS days_to_asof,
           CASE o_orderstatus WHEN 'F' THEN 'Delivered' WHEN 'O' THEN 'Open'
                              ELSE 'Pending' END AS status_label,
           COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'UNSPECIFIED') AS priority_clean,
           GREATEST(o_totalprice, 50000.0) AS price_floor,
           LEAST(o_totalprice, 200000.0) AS price_cap,
           CAST(ROUND(ABS(o_totalprice - 100000.0), 2) AS DOUBLE) AS dist_from_100k,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_bucket,
           o_totalprice % 100 AS price_mod
    FROM orders
    """,
)
def q_scalar_datetime_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date/time + conditional/null + math families in one
    projection over orders: extract parts, date arithmetic (the
    reference's ``current_date() - 4`` idiom), truncation, datediff,
    chained when/otherwise, coalesce, nullif, greatest/least,
    abs/round/floor/mod."""
    orders = read_parquet_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    ts = lambda c: c.cast("timestamp")  # noqa: E731 — see marts: date outputs as TIMESTAMP
    return orders.select(
        "o_orderkey",
        ts(d).alias("order_date"),
        F.year(d).cast("int").alias("order_year"),
        F.month(d).cast("int").alias("order_month"),
        F.dayofmonth(d).cast("int").alias("order_day"),
        F.quarter(d).cast("int").alias("order_quarter"),
        ts(F.date_add(d, 30)).alias("plus_30"),
        ts(F.date_sub(d, 7)).alias("minus_7"),
        ts(F.date_trunc("month", d).cast("date")).alias("month_start"),
        F.datediff(F.lit("2001-08-02").cast("date"), d).cast("bigint").alias("days_to_asof"),
        F.when(F.col("o_orderstatus") == "F", "Delivered")
        .when(F.col("o_orderstatus") == "O", "Open")
        .otherwise("Pending")
        .alias("status_label"),
        F.coalesce(F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")), F.lit("UNSPECIFIED")).alias(
            "priority_clean"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("price_floor"),
        F.least(F.col("o_totalprice"), F.lit(200000.0)).alias("price_cap"),
        F.round(F.abs(F.col("o_totalprice") - 100000.0), 2).cast("double").alias("dist_from_100k"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_bucket"),
        (F.col("o_totalprice") % 100).alias("price_mod"),
    )


# ---------------------------------------------------------------- skew
# lineitem's l_returnflag has 3 values at ~33% each — every key is a hot
# key relative to a uniform hash over 32+ reducers.  The salted plans
# must be BIT-IDENTICAL to the plain GROUP BY / JOIN the oracle runs:
# salting only relocates partial work, never changes semantics.
_FLAG_LABELS = [("A", "Returned"), ("N", "Active"), ("R", "Refunded")]


@register(
    "q_skewed_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           COUNT(*) AS n_rows,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skewed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation (operators.skew.salted_agg):
    each hot key's rows spread over 16 salt buckets for the partial
    stage, the merge stage removes the salt.  The oracle is the PLAIN
    unsalted GROUP BY — proving salting is semantics-free.  Sums run in
    DECIMAL so partial/merge regrouping can't shift float totals."""
    from ..operators.skew import salted_agg

    li = read_parquet_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs=[
            ("total_qty", "sum", F.col("l_quantity").cast("decimal(18,2)")),
            ("n_rows", "count", F.lit(1)),
            ("min_price", "min", F.col("l_extendedprice")),
            ("max_price", "max", F.col("l_extendedprice")),
        ],
        buckets=16,
        salt_from=["l_orderkey", "l_linenumber"],  # fine-grained, deterministic
    )
    return out.select(
        "l_returnflag",
        F.col("total_qty").cast("double").alias("total_qty"),
        "n_rows",
        "min_price",
        "max_price",
    )


@register(
    "q_skewed_join",
    """
    SELECT d.flag_label,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem l
    JOIN (VALUES ('A', 'Returned'), ('N', 'Active'), ('R', 'Refunded'))
         AS d(l_returnflag, flag_label)
      USING (l_returnflag)
    GROUP BY d.flag_label
    """,
)
def q_skewed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof equi join (operators.skew.salted_join): the fact side
    salts each row into 8 buckets, the dim side replicates across all 8,
    so one hot key's rows land on 8 different reducers (the
    beyond-broadcast-threshold shape; here the dim is tiny but the plan
    is the at-scale one).  Oracle = the plain unsalted join + rollup."""
    from ..operators.skew import salted_join

    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )
    # Arrow input plans a LocalTableScan; list input, an RDD scan
    dim = literal_frame(spark, _FLAG_LABELS, "l_returnflag string, flag_label string")
    joined = salted_join(
        li, dim, on=["l_returnflag"], buckets=8, salt_from=["l_orderkey", "l_linenumber"]
    )
    return joined.groupBy("flag_label").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )
