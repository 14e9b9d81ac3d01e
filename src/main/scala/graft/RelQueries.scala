package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operator inventory queries (SURVEY.md §2), expressed as
  * idiomatic DataFrame programs, each paired with ANSI SQL for the
  * driver's DuckDB oracle.
  *
  * Design notes for oracle hash-matching:
  *  - every query has a deterministic total ORDER BY;
  *  - money SUMs are computed as exact integer cents on BOTH sides
  *    (per-row round(x*100)→BIGINT, then sum), since Spark's
  *    partitioned double summation and DuckDB's sequential one differ
  *    in final ULPs and round()'s midpoint semantics differ between
  *    the engines;
  *  - sums of integral-valued doubles (l_quantity) are exact in IEEE
  *    double, so they're safe unrounded;
  *  - aggregate output columns are aliased identically on both sides.
  */
object RelQueries {

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------
  // §2.4/§2.5 SELECT + WHERE + GROUP BY + agg funcs (TPC-H Q1 shape)
  // ---------------------------------------------------------------
  val q1Agg: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        // Money sums as exact integer cents: the per-row double is
        // bit-identical in any engine, so round(x*100)→long is
        // deterministic, and the long sum is order-independent — unlike
        // a double sum, whose partition-order ULP noise would break
        // hash-matching at scale.
        sum(round(col("l_extendedprice") * lit(100.0), 0).cast("long"))
          .as("sum_base_price_cents"),
        sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * lit(100.0), 0).cast("long")).as("sum_disc_price_cents"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      | sum(l_quantity) AS sum_qty,
      | CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
      | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // §2.3 inner equi-join + aggregation
  // ---------------------------------------------------------------
  val q2JoinAgg: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    // nation is tiny: broadcast side declared explicitly (at 100 TB the
    // fact side is huge, dims stay broadcastable).
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "inner")
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(round(col("c_acctbal") * lit(100.0), 0).cast("long"))
          .as("total_acctbal_cents"))
      .orderBy(col("n_name"))
  }
  val q2JoinAggSql: String =
    """SELECT n_name, count(*) AS n_customers,
      | CAST(sum(CAST(round(c_acctbal * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_acctbal_cents
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------
  // §2.3 LEFT JOIN (right scope nullable) + count(col) null-skipping
  // ---------------------------------------------------------------
  val q3LeftJoin: Q = (s, dir) => {
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    n.join(c, c("c_nationkey") === n("n_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(count(col("c_custkey")).as("n_customers"))
      .orderBy(col("n_name"))
  }
  val q3LeftJoinSql: String =
    """SELECT n_name, count(c_custkey) AS n_customers
      |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------
  // §2.4 ORDER BY (mixed asc/desc) + LIMIT + OFFSET
  // ---------------------------------------------------------------
  val q4SortLimitOffset: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(5)
      .limit(10)
  }
  val q4SortLimitOffsetSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10 OFFSET 5""".stripMargin

  // ---------------------------------------------------------------
  // §2.7 IN (subquery) — lowered to left-semi join
  // ---------------------------------------------------------------
  val q5InSubquery: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders")
      .filter(col("o_totalprice") > lit(400000.0))
      .select(col("o_custkey"))
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }
  val q5InSubquerySql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // §2.7 EXISTS (uncorrelated, as in the reference: analyze.ml:443-445)
  // ---------------------------------------------------------------
  val q6Exists: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    // Uncorrelated EXISTS as a lazy gate: a broadcast one-row [true]
    // frame that is empty iff the subquery is; the limit(1)
    // short-circuits the subquery scan, and no job runs until the
    // caller executes the plan (same lowering the engine path uses).
    val gate = broadcast(t(s, dir, "orders")
      .filter(col("o_totalprice") > lit(450000.0))
      .limit(1).select(lit(true).as("__exists")))
    c.join(gate, lit(true), "left_semi")
      .select(col("c_custkey")).orderBy(col("c_custkey"))
  }
  val q6ExistsSql: String =
    """SELECT c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 450000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------
  // §2.5 HAVING (post-agg filter); integral double sums are exact
  // ---------------------------------------------------------------
  val q7Having: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > lit(150.0))
      .orderBy(col("l_orderkey"))
  }
  val q7HavingSql: String =
    """SELECT l_orderkey, sum(l_quantity) AS total_qty
      |FROM lineitem GROUP BY l_orderkey
      |HAVING sum(l_quantity) > 150.0
      |ORDER BY l_orderkey""".stripMargin

  // ---------------------------------------------------------------
  // §2.7 scalar expression suite: nullif, coalesce, unary minus,
  // toString (cast), AND/OR/NOT, comparisons
  // ---------------------------------------------------------------
  val q8ScalarExprs: Q = (s, dir) => {
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open"))
          .as("status2"),
        negate(col("o_totalprice")).as("neg_price"),
        col("o_orderkey").cast("string").as("key_str"),
        (col("o_totalprice") > lit(100000.0) &&
          !(col("o_orderpriority") === lit("1-URGENT"))).as("flag"))
      .orderBy(col("o_orderkey"))
      .limit(100)
  }
  val q8ScalarExprsSql: String =
    """SELECT o_orderkey,
      | coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
      | -o_totalprice AS neg_price,
      | CAST(o_orderkey AS VARCHAR) AS key_str,
      | (o_totalprice > 100000.0) AND NOT (o_orderpriority = '1-URGENT') AS flag
      |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin

  // ---------------------------------------------------------------
  // §2.5 GROUP BY () — explicit global aggregation; min/max
  // ---------------------------------------------------------------
  val q9GlobalAgg: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(round(col("l_extendedprice") * lit(100.0), 0).cast("long"))
          .as("total_price_cents"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"))
  }
  val q9GlobalAggSql: String =
    """SELECT count(*) AS n_rows,
      | CAST(sum(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_price_cents,
      | min(l_shipdate) AS min_ship,
      | max(l_shipdate) AS max_ship
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------
  // §2.7 datetime literals (compile-time validated in the reference,
  // analyze.ml:601-607) + range predicate; arithmetic ops + - * /
  // ---------------------------------------------------------------
  val q10DatetimeArith: Q = (s, dir) => {
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp")
        && col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp"))
      .select(
        col("o_orderkey"),
        col("o_orderdate"),
        // no round(): per-row IEEE arithmetic is bit-identical across
        // engines (round() semantics differ: Spark HALF_UP on decimal
        // vs DuckDB scale-and-round on binary double)
        (col("o_totalprice") * lit(2.0) - col("o_totalprice") / lit(4.0)
          + lit(1.0)).as("arith"))
      .orderBy(col("o_orderkey"))
  }
  val q10DatetimeArithSql: String =
    """SELECT o_orderkey, o_orderdate,
      | o_totalprice * 2.0 - o_totalprice / 4.0 + 1.0 AS arith
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |ORDER BY o_orderkey""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q1_agg", q1Agg, q1AggSql),
    Entry("q2_join_agg", q2JoinAgg, q2JoinAggSql),
    Entry("q3_left_join", q3LeftJoin, q3LeftJoinSql),
    Entry("q4_sort_limit_offset", q4SortLimitOffset, q4SortLimitOffsetSql),
    Entry("q5_in_subquery", q5InSubquery, q5InSubquerySql),
    Entry("q6_exists", q6Exists, q6ExistsSql),
    Entry("q7_having", q7Having, q7HavingSql),
    Entry("q8_scalar_exprs", q8ScalarExprs, q8ScalarExprsSql),
    Entry("q9_global_agg", q9GlobalAgg, q9GlobalAggSql),
    Entry("q10_datetime_arith", q10DatetimeArith, q10DatetimeArithSql),
  )
}
