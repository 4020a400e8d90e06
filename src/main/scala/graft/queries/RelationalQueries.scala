package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.t

/** Tier-C relational surface: projection/filter (C2), joins (C3),
  * aggregation (C4), sort/limit (C6), subqueries (C18).
  *
  * The reference delegates all relational evaluation to its backend (the
  * `filter=` grammar at `milvus-app/pythonvectordbceph_milvus.py:111`,
  * `milvus-app/describe.py:28`); we own it natively via Catalyst.
  *
  * Scale posture: dimension sides of joins (`nation`, filtered `customer`
  * subsets) are explicitly `broadcast()`; fact-fact joins shuffle on their
  * equi-keys, which is the partitioning a 1000-executor cluster wants. All
  * aggregates are partial-aggregated map-side by Catalyst. Money sums go
  * through DECIMAL so results are order-independent and exact — a
  * floating-point sum over a 100 TB shuffle is nondeterministic across runs,
  * which would break both the oracle and any incremental recompute.
  */
object RelationalQueries {

  private val dec = "decimal(12,2)"

  /** C2/C4: TPC-H Q1-shaped pricing summary — filter, groupBy, exact
    * decimal sums, HAVING-free. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // DECIMAL sums internally (order-independent, exact across a 100 TB
        // shuffle); final projection cast to DOUBLE — 2-dp money at these
        // magnitudes is exactly representable, and doubles serialize
        // identically across engines while decimal scale renderings differ.
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** C3/C4/C6: Q3-shaped 3-way join (customer ⋈ orders ⋈ lineitem) +
    * group-agg + top-10. Shuffle joins on the keys; AQE handles sizing. */
  def joinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01"))
    val li = t(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1997-01-01"))
    // no broadcast hint on customer: a market segment is ~1/5 of a table
    // that scales with the corpus — AQE picks broadcast only while small
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(dec) * (lit(1).cast(dec) - col("l_discount").cast(dec)))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** C3: left outer join — order counts per customer, keeping customers
    * whose orders are filtered out entirely (NULL-extended side counted 0). */
  def joinLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = t(spark, dir, "orders").filter(col("o_totalprice") > 150000)
    t(spark, dir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(col("o_orderkey")).as("n_big_orders"))
      .filter(col("c_custkey") < 300)
      .orderBy(col("c_custkey"))
  }

  /** C3: full outer join over two aggregated views of orders (status F vs O
    * order counts by priority-bucket) — exercises NULL extension both ways. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val f = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .filter(col("o_totalprice") > 180000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_f"))
    val o = t(spark, dir, "orders").filter(col("o_orderstatus") === "O")
      .filter(col("o_totalprice") > 180000)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_o"))
    f.withColumnRenamed("o_custkey", "custkey")
      .join(o.withColumnRenamed("o_custkey", "custkey"), Seq("custkey"), "full_outer")
      .select(col("custkey"), coalesce(col("n_f"), lit(0L)).as("n_f"),
        coalesce(col("n_o"), lit(0L)).as("n_o"))
      .orderBy(col("custkey"))
  }

  /** C3: left-semi — customers having at least one urgent large order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
    t(spark, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** C3: left-anti — customers with NO urgent large order (complement of
    * joinSemi; the delete-path join shape, SURVEY A10). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val urgent = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 200000)
    t(spark, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .filter(col("c_custkey") < 500)
      .orderBy(col("c_custkey"))
  }

  /** C3: theta join — equi-key on nation plus a non-equi acctbal range.
    * The broadcast hint here is deliberate and scale-reviewed: the join
    * key (nation) has only 25 values, so a shuffle join would put entire
    * nations on single reducers (built-in skew); broadcasting the smaller
    * side evaluates the theta predicate stream-side instead. If supplier
    * outgrew broadcast range, the fix is salting (graft.operators.Salting), not
    * a 25-key shuffle. */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val supp = t(spark, dir, "supplier")
    t(spark, dir, "customer")
      .join(broadcast(supp),
        col("c_nationkey") === col("s_nationkey") &&
          col("c_acctbal") > col("s_acctbal"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_richer_customers"))
      .orderBy(col("s_suppkey"))
  }

  /** C4: HAVING — market segments × order status with enough big orders. */
  def havingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("total"))
      .filter(col("n") > 900)
      .orderBy(col("c_mktsegment"), col("o_orderstatus"))

  /** C4: ROLLUP over (returnflag, linestatus) — subtotals + grand total. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** C4: CUBE over (orderstatus, orderpriority). */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** C2: CASE WHEN / BETWEEN / IN / IS NULL bundle over orders. */
  def caseWhenBucket(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice").between(50000, 200000), "medium")
          .otherwise("large").as("size_bucket"),
        col("o_orderstatus").isin("F", "P").as("is_done_or_pending"),
        col("o_orderpriority").isNull.as("prio_missing"))
      .groupBy(col("size_bucket"), col("is_done_or_pending"), col("prio_missing"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("size_bucket"), col("is_done_or_pending"))

  /** C18: scalar subquery — orders above the global average price. Uses
    * Spark SQL so Catalyst's scalar-subquery planning is exercised. */
  def scalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_totalprice AS price
         FROM orders_v
         WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders_v)
         ORDER BY o_orderkey""")
  }

  /** C18: correlated EXISTS — customers with a 1995 order, decorrelated by
    * Catalyst into a semi-join. */
  def existsSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_v")
    t(spark, dir, "customer").createOrReplaceTempView("customer_v")
    spark.sql(
      """SELECT c_custkey, c_mktsegment FROM customer_v c
         WHERE EXISTS (SELECT 1 FROM orders_v o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderdate < TIMESTAMP '1995-03-01'
                         AND o.o_totalprice > 250000)
         ORDER BY c_custkey""")
  }

  /** C18: NOT IN over a subquery (null-safe: p_partkey is non-null) —
    * parts never shipped in quantity > 45. */
  def notInSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    t(spark, dir, "part").createOrReplaceTempView("part_v")
    spark.sql(
      """SELECT p_partkey, p_name FROM part_v
         WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem_v WHERE l_quantity > 45)
         ORDER BY p_partkey""")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pricing_summary" -> pricingSummary _,
    "join_revenue_top10" -> joinRevenue _,
    "join_left_outer" -> joinLeftOuter _,
    "join_full_outer" -> joinFullOuter _,
    "join_semi" -> joinSemi _,
    "join_anti" -> joinAnti _,
    "join_theta" -> joinTheta _,
    "having_agg" -> havingAgg _,
    "rollup_agg" -> rollupAgg _,
    "cube_agg" -> cubeAgg _,
    "case_when_bucket" -> caseWhenBucket _,
    "scalar_subquery" -> scalarSubquery _,
    "exists_subquery" -> existsSubquery _,
    "not_in_subquery" -> notInSubquery _
  )

  val oracleSql: Map[String, String] = Map(
    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
            round(avg(l_quantity), 4) AS avg_qty,
            count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "join_revenue_top10" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
            CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1997-01-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "join_left_outer" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_big_orders
         FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
           ON c_custkey = o_custkey
         GROUP BY c_custkey, c_mktsegment
         HAVING c_custkey < 300
         ORDER BY c_custkey""",
    "join_full_outer" ->
      """SELECT COALESCE(f.custkey, o.custkey) AS custkey,
            COALESCE(n_f, 0) AS n_f, COALESCE(n_o, 0) AS n_o
         FROM (SELECT o_custkey AS custkey, count(*) AS n_f FROM orders
               WHERE o_orderstatus = 'F' AND o_totalprice > 180000 GROUP BY 1) f
         FULL JOIN (SELECT o_custkey AS custkey, count(*) AS n_o FROM orders
               WHERE o_orderstatus = 'O' AND o_totalprice > 180000 GROUP BY 1) o
           USING (custkey)
         ORDER BY custkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000)
           AND c_custkey < 500
         ORDER BY c_custkey""",
    "join_theta" ->
      """SELECT s_suppkey, count(*) AS n_richer_customers
         FROM customer JOIN supplier
           ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
         GROUP BY s_suppkey ORDER BY s_suppkey""",
    "having_agg" ->
      """SELECT c_mktsegment, o_orderstatus, count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment, o_orderstatus
         HAVING count(*) > 900
         ORDER BY c_mktsegment, o_orderstatus""",
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "case_when_bucket" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice BETWEEN 50000 AND 200000 THEN 'medium'
                     ELSE 'large' END AS size_bucket,
                o_orderstatus IN ('F','P') AS is_done_or_pending,
                o_orderpriority IS NULL AS prio_missing,
                count(*) AS n
         FROM orders GROUP BY 1, 2, 3 ORDER BY size_bucket, is_done_or_pending""",
    "scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice AS price
         FROM orders
         WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
         ORDER BY o_orderkey""",
    "exists_subquery" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderdate < TIMESTAMP '1995-03-01'
                         AND o.o_totalprice > 250000)
         ORDER BY c_custkey""",
    "not_in_subquery" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
         ORDER BY p_partkey"""
  )
}
