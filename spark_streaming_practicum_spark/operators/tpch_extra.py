"""TPC-H-shaped relational depth pack (SURVEY.md §2C joins/aggs/subqueries).

Adaptations of classic TPC-H query shapes (Q4, Q11, Q12, Q14, Q15, Q16,
Q17, Q19, Q21, Q22) to the narrower testdata schema — each exercises a
distinct plan shape the relational core must get right at scale:

- Q4   correlated EXISTS      -> left-semi join with a non-equi conjunct
- Q11  HAVING against a global scalar subquery over the same scan
- Q12  conditional aggregation over a fact-fact join
- Q14  broadcast dim join + ratio-of-sums (single-row result)
- Q15  aggregate filtered by equality with its own MAX (exact doubles)
- Q16  NOT IN subquery (null-safe anti join) + count distinct
- Q17  correlated AVG subquery, decorrelated to per-key agg + join
- Q19  OR-of-ANDs predicate (disjunction pushdown / CNF handling)
- Q21  semi + anti joins with inequality conjuncts over a shared subtree
- Q22  scalar subquery threshold + NOT EXISTS anti join

The reference delegates all querying to DuckDB (SURVEY.md §2B); these
belong to the Spark SQL surface our engine owns. Decimal-exact float
sums per functions/aggs.py keep oracle parity order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.aggs import dsum, dsum_sql
from ..registry import query
from ..functions.pins import pin

_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one lineitem shipped after
    the order date, counted by priority. EXISTS becomes a LEFT SEMI join
    whose condition mixes the equi key with a non-equi date conjunct —
    the semi join dedups matches before the aggregate, so the fact table
    is never multiplied."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q12_priority_by_returnflag",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode -> returnflag): conditional counts over
    an orders⋈lineitem join. The lineitem date filter is pushed to the
    scan; the join shuffles both sides on orderkey (the layout the
    bucketing test shows how to make shuffle-free for recurring runs)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT ROUND(100.0 * {dsum_sql(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END")}
                 / {dsum_sql(_REV)}, 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotional revenue share for one month. Part is the
    small side -> broadcast hash join, fact scanned once with the date
    filter pushed down; the result is a single ratio row (all-reduce of
    two partial sums)."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * dsum(promo) / dsum(rev), 4).alias("promo_revenue_pct"))
    )


@query(
    "q16_supplier_cnt_by_part",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): distinct
    supplier counts per part group, excluding suppliers from a NOT IN
    subquery (negative balance, the 'complaints' stand-in). NOT IN over
    a non-null key plans as a broadcast anti join; the distinct-count
    shuffles once on the group keys."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    )
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        l.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {dsum_sql(_REV)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides. Catalyst extracts the common join key and pushes
    the single-side conjuncts (brand/size to part's scan, quantity
    bounds to lineitem's) while keeping the cross-side disjunction as a
    post-join filter — the standard CNF treatment this query exists to
    exercise."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(rev).alias("revenue"))
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                              / COUNT(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no order
    since 1999 (lapsed accounts), grouped by segment. The scalar AVG
    subquery is computed once (decimal-exact so the threshold is
    engine-independent) and broadcast into the filter; NOT EXISTS is a
    LEFT ANTI join against the filtered orders keys."""
    c = table(spark, sf_dir, "customer")
    threshold_df = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("t")
    )
    threshold = threshold_df.collect()[0]["t"]  # scalar subquery: one tiny job
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.filter(F.col("c_acctbal") > F.lit(threshold))
        .join(o, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH pr AS (SELECT l_partkey, {dsum_sql(_REV)} AS value
                FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, value
    FROM pr
    WHERE value > (SELECT 0.0002 * {dsum_sql(_REV)} FROM lineitem)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a fraction of TOTAL
    revenue — a HAVING against a global scalar subquery. Both aggregates
    share one scan lineage; the threshold is a one-row broadcast. The
    decimal-exact sums make the > comparison engine-independent."""
    l = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pr = l.groupBy("l_partkey").agg(dsum(rev).alias("value"))
    total = l.agg((0.0002 * dsum(rev)).alias("t")).collect()[0]["t"]
    return pr.filter(F.col("value") > F.lit(total))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH r AS (SELECT l_suppkey, {dsum_sql(_REV)} AS total_rev
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1996-04-01'
               GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN r ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM r)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum quarterly revenue —
    aggregate, then equality against the aggregate's own MAX (exact,
    because revenue is decimal-summed identically on both engines).
    The revenue table is computed once and reused for both sides."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    r = l.groupBy("l_suppkey").agg(dsum(rev).alias("total_rev")).transform(pin)
    best = r.agg(F.max("total_rev").alias("m")).collect()[0]["m"]
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        r.filter(F.col("total_rev") == F.lit(best))
        .join(s, r.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (SELECT l_partkey,
                       0.2 * ({dsum_sql("l_quantity")} / COUNT(l_quantity)) AS qty_thresh
                FROM lineitem GROUP BY l_partkey)
    SELECT ROUND({dsum_sql("l_extendedprice")} / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
      AND l.l_quantity < pa.qty_thresh
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-average-quantity orders of a
    brand — the correlated AVG subquery decorrelated into a per-part
    aggregate joined back to the fact (exactly how Catalyst would
    rewrite it). The brand/type dim filter is broadcast; the per-part
    threshold table shuffles once on partkey, the fact's natural key."""
    l = table(spark, sf_dir, "lineitem")
    pa = l.groupBy("l_partkey").agg(
        (0.2 * (dsum("l_quantity") / F.count("l_quantity"))).alias("qty_thresh")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(dsum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q21_sole_late_supplier",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
    multi AS (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey
        FROM late a
        WHERE EXISTS (SELECT 1 FROM lineitem b
                      WHERE b.l_orderkey = a.l_orderkey
                        AND b.l_suppkey <> a.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late c
                          WHERE c.l_orderkey = a.l_orderkey
                            AND c.l_suppkey <> a.l_suppkey))
    SELECT s.s_name, COUNT(*) AS numwait
    FROM multi JOIN supplier s ON multi.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in
    finished multi-supplier orders — a semi join (some other supplier in
    the order) composed with an anti join (no other LATE supplier),
    both with inequality conjuncts. The late set is computed once and
    pinned; it feeds the anti join against itself."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = pin(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
        .distinct(),
        eager=True,
    )
    other = l.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    ).distinct()
    multi = late.join(
        other,
        (late.l_orderkey == other.o_k) & (late.l_suppkey != other.o_s),
        "left_semi",
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    sole = multi.join(
        other_late,
        (multi.l_orderkey == other_late.o_k) & (multi.l_suppkey != other_late.o_s),
        "left_anti",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE')
    SELECT p.p_partkey, e.s_name, e.n_name, e.s_acctbal, c.unit_cost
    FROM part p
    JOIN cost c ON c.l_partkey = p.p_partkey
    JOIN eu e ON e.s_suppkey = c.l_suppkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
      AND c.unit_cost = (SELECT MIN(c2.unit_cost)
                         FROM cost c2 JOIN eu e2 ON e2.s_suppkey = c2.l_suppkey
                         WHERE c2.l_partkey = p.p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (lineitem stands in for partsupp): per part of a
    given size/type, the EUROPE supplier(s) achieving the minimum unit
    cost. The correlated MIN subquery is decorrelated into a per-part
    aggregate joined back on equality — two shuffles on partkey instead
    of a per-row subquery. MIN over IEEE doubles is order-independent,
    so the equality is engine-exact. Dim side (supplier⋈nation⋈region,
    filtered part) broadcasts; only the part-supplier cost table, sized
    |parts|x|suppliers-per-part| << |lineitem|, shuffles."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_cost = cost.join(
        F.broadcast(eu), cost.l_suppkey == eu.s_suppkey
    ).select("l_partkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    best = (
        eu_cost.groupBy("l_partkey")
        .agg(F.min("unit_cost").alias("best_cost"))
        .withColumnRenamed("l_partkey", "best_partkey")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    return (
        eu_cost.join(
            best,
            (F.col("l_partkey") == F.col("best_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(F.broadcast(p), eu_cost.l_partkey == p.p_partkey)
        .select("p_partkey", "s_name", "n_name", "s_acctbal", "unit_cost")
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {dsum_sql("volume")} AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Exercises the same dimension table joined TWICE under different
    aliases (supplier's nation vs customer's nation) with a cross-side
    disjunction. Both nation copies broadcast; the only large shuffles
    are lineitem⋈orders on orderkey. The nation-pair disjunction can't
    be pushed to either scan alone, but each side's IN('NATION_1',
    'NATION_2') relaxation is — which Catalyst derives for us."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(vol).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           ROUND({dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {dsum_sql("volume")}, 6) AS mkt_share
    FROM (SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount) AS volume,
                 n1.n_name AS supp_nation
          FROM lineitem l
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n2.n_regionkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
          JOIN part p ON p.p_partkey = l.l_partkey
          WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of the AMERICA 'ECONOMY' market by
    order year — a 6-way star join where every dimension broadcasts and
    the fact shuffles exactly once (lineitem⋈orders on orderkey), then a
    conditional ratio-of-sums per year. Decimal-exact numerator and
    denominator make the rounded share engine-independent."""
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n2 = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == n2.n_nationkey)
        .join(F.broadcast(r), n2.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
    )
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.round(dsum(nat_vol) / dsum(vol), 6).alias("mkt_share"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {dsum_sql("amount")} AS sum_profit
    FROM (SELECT n.n_name AS nation,
                 CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount)
                   - 0.6 * p.p_retailprice * l.l_quantity AS amount
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN part p ON p.p_partkey = l.l_partkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE p.p_name LIKE '%gear%')
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on '%gear%' parts by supplier nation and
    order year, with supply cost proxied as 0.6*retailprice*quantity
    (testdata has no partsupp). The LIKE-filtered part dim drives a
    broadcast join that prunes the fact EARLY — before the
    lineitem⋈orders shuffle — which is the plan property this query
    exists to check (a late filter would shuffle 6x the rows)."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue from returned items in
    one quarter. Both selective filters (order date, return flag) push to
    their scans before the orderkey shuffle; the final top-k plans as
    TakeOrderedAndProject (per-partition heaps, no global sort). Revenue
    is decimal-exact so the DESC order — and therefore the LIMIT cut —
    is engine-identical; custkey breaks ties."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of non-urgent order counts per customer,
    INCLUDING zero-order customers — which forces a LEFT OUTER join with
    the priority predicate in the JOIN condition (in WHERE it would
    silently drop the NULL-extended rows and become inner). COUNT(col)
    skips the NULLs so unmatched customers land in bucket 0. Two-level
    aggregation: custkey (wide) then c_count (a few dozen groups)."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q20_dominant_supplier",
    oracle=f"""
    WITH shipped AS (
        SELECT l_partkey, l_suppkey, {dsum_sql("l_quantity")} AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey),
    tot AS (
        SELECT l_partkey, {dsum_sql("l_quantity")} AS total_qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_partkey)
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT sh.l_suppkey
        FROM shipped sh
        JOIN tot t ON sh.l_partkey = t.l_partkey
        WHERE sh.qty > 0.5 * t.total_qty
          AND sh.l_partkey IN (SELECT p_partkey FROM part
                               WHERE p_name LIKE '%bolt%'))
    """,
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half of a
    '%bolt%' part's 1996 volume (ps_availqty stands in as shipped qty).
    The nested IN chain becomes two left-semi joins; per-(part,supplier)
    and per-part totals reuse one filtered scan and shuffle on partkey.
    Quantities are decimal-exact and 0.5* is a power-of-two scale, so
    the > threshold is engine-identical."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = l.groupBy("l_partkey", "l_suppkey").agg(dsum("l_quantity").alias("qty"))
    tot = l.groupBy("l_partkey").agg(dsum("l_quantity").alias("total_qty"))
    bolt = table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select(F.col("p_partkey").alias("l_partkey"))
    dominant = (
        shipped.join(F.broadcast(bolt), "l_partkey", "left_semi")
        .join(tot, "l_partkey")
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return s.join(dominant, "s_suppkey", "left_semi")
