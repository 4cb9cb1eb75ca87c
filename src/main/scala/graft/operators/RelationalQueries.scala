package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** The relational operator surface from SURVEY.md §2, re-expressed
  * Spark-first (DataFrame ops; Catalyst picks physical strategy).
  *
  * Each query maps a reference RDD operator family (cites in Scaladoc per
  * query) to declarative DataFrame code; the paired DuckDB oracle verifies
  * semantics at sf0.01. Floating-point outputs are rounded on BOTH sides
  * at a precision where the TRUE decimal value cannot sit on a rounding
  * boundary (sums of 2dp values → 2dp; 2dp×2dp products → 4dp; averages
  * and interpolated percentiles → 4dp+), so engine half-rounding
  * differences can never flip the compare — validated at sf0.001/0.01/0.1.
  *
  * Scale notes: dimension joins (region/nation/customer/supplier) are
  * explicitly `broadcast(...)`-hinted — at 100 TB the fact tables shuffle
  * but dims never do. Aggregations are plain groupBy → Catalyst emits
  * partial (map-side) aggregation automatically.
  */
object RelationalQueries {

  /** TPC-H Q1-shaped pricing summary.
    * Reference ops: map + reduceByKey/aggregateByKey
    * (PairRDDFunctions.scala:160-199,306-325) → groupBy().agg.
    */
  val q01PricingSummary = QueryDef(
    "q01_pricing_summary",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 2) AS sum_base_price,
           |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           |  round(avg(l_quantity), 4) AS avg_qty,
           |  round(avg(l_discount), 6) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Filter + projection with a computed column.
    * Reference ops: filter + map (RDD.scala:496-501; FilterMapPartitionsRDD,
    * MapPartitionsRDD.scala:76-127). Predicate + column pruning reach the
    * parquet scan (verified via explain: PushedFilters + ReadSchema).
    */
  val q02FilterProject = QueryDef(
    "q02_filter_project",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // round to 4dp: price(2dp) × (1-disc)(2dp) is a true 4-decimal
          // value, so 4dp never lands on a rounding boundary (2dp does,
          // and Spark/DuckDB disagree on half-rounding doubles there)
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
           |  round(l_extendedprice * (1 - l_discount), 4) AS net_price
           |FROM lineitem
           |WHERE l_quantity > 45 AND l_discount >= 0.05
           |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** Three-way inner join + aggregation (TPC-H Q3 shape).
    * Reference ops: join (PairRDDFunctions.scala:545-548) via cogroup —
    * here Catalyst picks broadcast for customer, shuffle for
    * orders⋈lineitem; deterministic tiebreak on o_orderkey. Revenue
    * rounds to 4 dp: each 2dp × 2dp product has 4 decimals, so the true
    * sum never sits on a rounding boundary (rounded to 2 dp, a
    * half-cent total rounds differently in Spark and DuckDB).
    */
  val q03JoinAgg = QueryDef(
    "q03_join_agg",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    },
    Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
           |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |GROUP BY l_orderkey, o_orderdate, o_orderpriority
           |ORDER BY revenue DESC, l_orderkey
           |LIMIT 20""".stripMargin))

  /** Left outer join keeping customers with zero orders.
    * Reference: leftOuterJoin (PairRDDFunctions.scala:557-566).
    */
  val q04LeftJoin = QueryDef(
    "q04_left_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
           |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
           |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey
           |ORDER BY c_custkey""".stripMargin))

  /** Star join through two broadcast dims (nation→region) + agg.
    * Reference: chained join/cogroup; at scale both dims broadcast so the
    * only shuffle is the final groupBy.
    */
  val q05NationRevenue = QueryDef(
    "q05_nation_revenue",
    (s, d) => {
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
           |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |GROUP BY n_name
           |ORDER BY revenue DESC, n_name""".stripMargin))

  /** Right outer join: parts with zero lineitems survive.
    * Reference: rightOuterJoin (PairRDDFunctions.scala:575-583).
    */
  val q06RightJoin = QueryDef(
    "q06_right_join",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(p, col("l_partkey") === col("p_partkey"), "right")
        .groupBy(col("p_partkey"))
        .agg(count(col("l_orderkey")).as("n_items"))
        .orderBy(col("p_partkey"))
    },
    Some("""SELECT p_partkey, count(l_orderkey) AS n_items
           |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
           |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin))

  /** Full outer join of two pre-aggregated sides.
    * Reference: fullOuterJoin (PairRDDFunctions.scala:594-600).
    */
  val q07FullOuterJoin = QueryDef(
    "q07_full_outer_join",
    (s, d) => {
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val su = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("ck") === col("sk"), "full")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    Some("""SELECT coalesce(c.ck, s.sk) AS nationkey,
           |  coalesce(c.n_cust, 0) AS n_cust, coalesce(s.n_supp, 0) AS n_supp
           |FROM (SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1) c
           |FULL JOIN (SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier GROUP BY 1) s
           |  ON c.ck = s.sk
           |ORDER BY nationkey""".stripMargin))

  /** Left semi join (EXISTS). Reference: rewritten intersection/cogroup
    * patterns (RDD.scala:783-821); Catalyst plans a LeftSemi hash join.
    */
  val q08SemiJoin = QueryDef(
    "q08_semi_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** Left anti join (NOT EXISTS). Reference: subtract/subtractByKey
    * (RDD.scala:1179-1213; PairRDDFunctions.scala:916-936).
    */
  val q09AntiJoin = QueryDef(
    "q09_anti_join",
    (s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
           |ORDER BY c_custkey""".stripMargin))

  /** Cartesian product (small×small only — at scale this is a guarded op).
    * Reference: cartesian (RDD.scala:837-839; CartesianRDD.scala:78-81).
    */
  val q14CrossJoin = QueryDef(
    "q14_cross_join",
    (s, d) => {
      Tables.region(s, d).crossJoin(Tables.nation(s, d))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    },
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
           |ORDER BY r_name, n_name""".stripMargin))

  /** Multi-column global sort + limit. Reference: sortBy/sortByKey + take
    * (OrderedRDDFunctions.scala:61-66; RDD.scala:1541) — Catalyst plans
    * TakeOrderedAndProject (no full sort materialization).
    */
  val q15SortLimit = QueryDef(
    "q15_sort_limit",
    (s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
           |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin))

  /** Top-k. Reference: top/takeOrdered (RDD.scala:1608,1631 — bounded
    * priority queue per partition + merge; Catalyst does the same).
    */
  val q16TopK = QueryDef(
    "q16_topk_orders",
    (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))

  def all: Seq[QueryDef] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinAgg, q04LeftJoin, q05NationRevenue,
    q06RightJoin, q07FullOuterJoin, q08SemiJoin, q09AntiJoin, q14CrossJoin,
    q15SortLimit, q16TopK)
}
