package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.frontend.Engine

/** Oracle-checked queries that exercise the full dialect pipeline:
  * parse → analyze → bind → lower → execute. Each entry's DataFrame is
  * produced from sqlpp dialect TEXT, and the oracle is the equivalent
  * ANSI SQL run by the driver in DuckDB.
  *
  * Determinism rules are the same as RelQueries: total ORDER BY on
  * every query, no raw double SUMs (l_quantity sums are integral and
  * exact; counts/min/max are exact).
  */
object DialectQueries {

  type Q = (SparkSession, String) => DataFrame

  private def e(s: SparkSession, dir: String): Engine = Catalog.engine(s, dir)

  // §7.6 milestone slice: join + bound param + group + order + limit
  val sq1: Q = (s, dir) => e(s, dir).prepare(
    """select n_name, count(1) as n
      |from nation join region on n_regionkey = r_regionkey
      |where r_name = ?r
      |group by n_name order by n_name limit 5""".stripMargin)
    .bind(Map("r" -> "ASIA"))
  val sq1Sql: String =
    """SELECT n_name, count(1) AS n
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY n_name LIMIT 5""".stripMargin

  // LEFT JOIN with null-skipping count
  val sq2: Q = (s, dir) => e(s, dir).sql(
    """select n_name, count(c_custkey) as n_customers
      |from nation left join customer on c_nationkey = n_nationkey
      |group by n_name order by n_name""".stripMargin)
  val sq2Sql: String =
    """SELECT n_name, count(c_custkey) AS n_customers
      |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // IN subquery → left-semi join
  val sq3: Q = (s, dir) => e(s, dir).sql(
    """select c_custkey, c_name from customer
      |where c_custkey in (select o_custkey from orders where o_totalprice > 400000.0)
      |order by c_custkey""".stripMargin)
  val sq3Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  // scalar function registry: nullif/coalesce/toString/NOT/arith
  val sq4: Q = (s, dir) => e(s, dir).sql(
    """select o_orderkey,
      |  coalesce(nullif(o_orderstatus, 'O'), 'open') as status2,
      |  toString(o_orderkey) as key_str,
      |  o_totalprice * 2.0 - o_totalprice / 4.0 + 1.0 as arith,
      |  not (o_orderpriority = '1-URGENT') as flag
      |from orders
      |where o_totalprice > 100000.0
      |order by o_orderkey limit 100""".stripMargin)
  val sq4Sql: String =
    """SELECT o_orderkey,
      | coalesce(nullif(o_orderstatus, 'O'), 'open') AS status2,
      | CAST(o_orderkey AS VARCHAR) AS key_str,
      | o_totalprice * 2.0 - o_totalprice / 4.0 + 1.0 AS arith,
      | NOT (o_orderpriority = '1-URGENT') AS flag
      |FROM orders
      |WHERE o_totalprice > 100000.0
      |ORDER BY o_orderkey LIMIT 100""".stripMargin

  // open subquery + nav pushdown (remote aggregation, compose.t shape)
  val sq5: Q = (s, dir) => e(s, dir).sql(
    """select c.c_name, stats.count(1) as n_orders
      |from customer as c
      |join (select o_custkey as k, ... from orders group by o_custkey) as stats
      |on c.c_custkey = stats.k
      |order by c.c_name""".stripMargin)
  val sq5Sql: String =
    """SELECT c.c_name AS c_name, stats.n AS n_orders
      |FROM customer c
      |JOIN (SELECT o_custkey AS k, count(1) AS n FROM orders GROUP BY o_custkey) stats
      |ON c.c_custkey = stats.k
      |ORDER BY c.c_name""".stripMargin

  // HAVING over aggregates (integral double sum: exact)
  val sq6: Q = (s, dir) => e(s, dir).sql(
    """select l_orderkey, sum(l_quantity) as total_qty
      |from lineitem group by l_orderkey
      |having sum(l_quantity) > 150.0
      |order by l_orderkey""".stripMargin)
  val sq6Sql: String =
    """SELECT l_orderkey, sum(l_quantity) AS total_qty
      |FROM lineitem GROUP BY l_orderkey
      |HAVING sum(l_quantity) > 150.0
      |ORDER BY l_orderkey""".stripMargin

  // uncorrelated EXISTS gate
  val sq7: Q = (s, dir) => e(s, dir).sql(
    """select r_regionkey, r_name from region
      |where exists(select o_orderkey from orders where o_totalprice > 450000.0)
      |order by r_regionkey""".stripMargin)
  val sq7Sql: String =
    """SELECT r_regionkey, r_name FROM region
      |WHERE EXISTS (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
      |ORDER BY r_regionkey""".stripMargin

  // MATCH variant param: only the chosen branch is compiled
  val sq8: Q = (s, dir) => e(s, dir).prepare(
    """select c_custkey, c_acctbal from customer
      |where match ?q with
      |  | all -> true
      |  | rich ?min -> c_acctbal >= ?min: float
      |  end
      |order by c_custkey""".stripMargin)
    .bind(Map("q" -> Engine.Variant("rich", 5000.0)))
  val sq8Sql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal >= 5000.0
      |ORDER BY c_custkey""".stripMargin

  // compile-time validated datetime literals + GROUP BY () global agg
  val sq9: Q = (s, dir) => e(s, dir).sql(
    """select count(1) as n, min(l_quantity) as min_qty, max(l_quantity) as max_qty
      |from lineitem
      |where l_shipdate >= datetime('1995-01-01T00:00:00')
      |  and l_shipdate < datetime('1996-01-01T00:00:00')
      |group by ()""".stripMargin)
  val sq9Sql: String =
    """SELECT count(1) AS n, min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'""".stripMargin

  // lazy WITH fields + nested scope pruning + limit/offset params
  val sq10: Q = (s, dir) => e(s, dir).prepare(
    """select q.o_orderkey, q.half
      |from (select o_orderkey, o_totalprice / 2.0 as half,
      |      with o_totalprice * 1000.0 as unused_heavy, ...
      |      from orders) as q
      |order by q.o_orderkey limit ?n offset ?o""".stripMargin)
    .bind(Map("n" -> 50, "o" -> 10))
  val sq10Sql: String =
    """SELECT o_orderkey, o_totalprice / 2.0 AS half
      |FROM orders
      |ORDER BY o_orderkey LIMIT 50 OFFSET 10""".stripMargin

  // argMax (README-parity remote-aggregation example, README.md:74-81)
  val sq11: Q = (s, dir) => e(s, dir).sql(
    """select c_nationkey, argMax(c_custkey, c_acctbal) as richest,
      |  max(c_acctbal) as best_bal
      |from customer
      |group by c_nationkey
      |order by c_nationkey""".stripMargin)
  val sq11Sql: String =
    """SELECT c_nationkey, arg_max(c_custkey, c_acctbal) AS richest,
      | max(c_acctbal) AS best_bal
      |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // events table through the dialect: datetime comparison + grouping
  val sq12: Q = (s, dir) => e(s, dir).sql(
    """select event_type, count(1) as n, min(value) as min_v, max(value) as max_v
      |from events
      |where ts >= datetime('2024-01-08T00:00:00') and value > 10.0
      |group by event_type
      |order by event_type""".stripMargin)
  val sq12Sql: String =
    """SELECT event_type, count(1) AS n, min(value) AS min_v, max(value) AS max_v
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND value > 10.0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // composition features through one gate query: a named query inlined
  // in FROM, a fieldset splice against it, and a WITHSCOPE alias
  val sq13: Q = (s, dir) => {
    // fieldset args name TABLE scopes (reference analyze.ml:77-79);
    // the named query's scope must structurally subsume it, so it
    // projects every customer column
    val env = Catalog.env().addDecls(
      """create query active_customers as
        |  select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, ...
        |  from customer where c_acctbal > 0.0;
        |create fieldset cust_id(from customer AS a) as
        |  select a.c_custkey as cid, a.c_name as cname;
        |""".stripMargin)
    new Engine(s, env, name => Tables.load(s, dir, name)).sql(
      """select withscope ac as c2, ...cust_id(ac), c2.c_acctbal
        |from active_customers as ac
        |order by ac.c_custkey limit 50""".stripMargin)
  }
  val sq13Sql: String =
    """SELECT c_custkey AS cid, c_name AS cname, c_acctbal
      |FROM customer WHERE c_acctbal > 0.0
      |ORDER BY c_custkey LIMIT 50""".stripMargin

  // HAVING with subqueries: the aggregate conjunct stays a hidden agg
  // column; the IN and EXISTS conjuncts are rewritten post-aggregation
  // (flag joins against the aggregated frame)
  val sq14: Q = (s, dir) => e(s, dir).prepare(
    """select l_orderkey, sum(l_quantity) as total_qty
      |from lineitem group by l_orderkey
      |having sum(l_quantity) > ?min
      |  and l_orderkey in (select o_orderkey from orders where o_totalprice > 300000.0)
      |  and exists(select r_regionkey from region where r_regionkey >= 0)
      |order by l_orderkey""".stripMargin)
    .bind(Map("min" -> 100.0))
  val sq14Sql: String =
    """SELECT l_orderkey, sum(l_quantity) AS total_qty
      |FROM lineitem GROUP BY l_orderkey
      |HAVING sum(l_quantity) > 100.0
      |  AND l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
      |  AND EXISTS (SELECT r_regionkey FROM region WHERE r_regionkey >= 0)
      |ORDER BY l_orderkey""".stripMargin

  // LEFT JOIN whose ON mixes a side-owned IN conjunct with a conjunct
  // probing BOTH sides — the one shape with no single flag-carrier
  // side, lowered via the inner pair frame + left-anti restore
  // (Lowering.lowerFrom). Neither Spark SQL nor DuckDB accepts the
  // direct syntax (both reject subqueries referencing both join
  // inputs in ON), so the oracle is the standard expansion: matched
  // pairs as an inner join with the predicate in WHERE, re-joined on
  // the unique left key.
  val sq15: Q = (s, dir) => e(s, dir).prepare(
    """select n_name, c_custkey
      |from nation left join customer
      |on c_nationkey = n_nationkey
      |  and n_regionkey in (select r_regionkey from region where r_name != 'ASIA')
      |  and c_acctbal > ?minbal
      |  and (c_custkey + n_nationkey) in
      |    (select o_custkey from orders where o_totalprice > 150000.0)
      |order by n_name, c_custkey""".stripMargin)
    .bind(Map("minbal" -> 500.0))
  val sq15Sql: String =
    """SELECT n_name, m.c_custkey AS c_custkey FROM nation LEFT JOIN (
      |  SELECT n2.n_nationkey AS k, c_custkey FROM nation n2 JOIN customer
      |  ON c_nationkey = n2.n_nationkey
      |  WHERE n2.n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name != 'ASIA')
      |    AND c_acctbal > 500.0
      |    AND (c_custkey + n2.n_nationkey) IN
      |      (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
      |) m ON n_nationkey = m.k
      |ORDER BY n_name, m.c_custkey""".stripMargin

  // multi-column IN subquery with NULLs on both sides, projected —
  // exact 3VL row comparison (TRUE definite match / NULL when some
  // subquery row null-matches / FALSE otherwise). DuckDB has no
  // multi-column IN subquery, so the oracle is the explicit 3VL
  // expansion over correlated EXISTS.
  val sq16: Q = (s, dir) => e(s, dir).sql(
    """select c_custkey,
      |  ((nullif(c_nationkey, 3), c_custkey) in
      |   (select n_nationkey, nullif(o_custkey, 370)
      |    from nation join orders on o_custkey = n_nationkey * 100)) as f
      |from customer
      |order by c_custkey""".stripMargin)
  val sq16Sql: String =
    """SELECT c_custkey,
      |  CASE
      |    WHEN EXISTS (SELECT 1
      |                 FROM nation JOIN orders ON o_custkey = n_nationkey * 100
      |                 WHERE n_nationkey = nullif(c_nationkey, 3)
      |                   AND nullif(o_custkey, 370) = c_custkey) THEN true
      |    WHEN EXISTS (SELECT 1
      |                 FROM nation JOIN orders ON o_custkey = n_nationkey * 100
      |                 WHERE (nullif(c_nationkey, 3) IS NULL
      |                        OR n_nationkey = nullif(c_nationkey, 3))
      |                   AND (nullif(o_custkey, 370) IS NULL
      |                        OR nullif(o_custkey, 370) = c_custkey)) THEN NULL
      |    ELSE false END AS f
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // `LEFT OPTIONAL JOIN` — the reference README's "(todo) optional
  // joins" heading (README.md:193), implemented r12 with the
  // join-elimination semantics BI dialects attach to it: the join is
  // author-asserted row-preserving and is ELIMINATED when nothing
  // beyond its own ON condition uses the right scope. One entry
  // attests both arms end to end: the nation join is KEPT (the outer
  // query reads the lazy `nm` field, so elimination must not fire and
  // the result must equal a plain LEFT JOIN — the oracle), while the
  // orders join is PRUNED (its lazy `ok` field is never read; orders
  // would DUPLICATE customers, so the hash only matches if the join
  // truly vanished — the oracle simply doesn't join orders).
  val sq17: Q = (s, dir) => e(s, dir).sql(
    """select ck, nm from (
      |  select c_custkey as ck,
      |         with n_name as nm,
      |         with o_orderkey as ok
      |  from customer
      |  left optional join nation on n_nationkey = c_nationkey
      |  left optional join orders on o_custkey = c_custkey) as s
      |order by ck""".stripMargin)
  val sq17Sql: String =
    """SELECT c_custkey AS ck, n_name AS nm
      |FROM customer LEFT JOIN nation ON n_nationkey = c_nationkey
      |ORDER BY ck""".stripMargin

  // JDBC-backed engine path (the reference's pg/mariadb backend role,
  // sqlpp_postgresql.ml:77-219): the fixture's nation/region are
  // loaded into embedded Derby, then the SAME dialect stack runs with
  // the loader resolving table names against the connection — nation
  // through a 4-cursor ranged parallel read (the at-scale shape),
  // region through a plain read. The oracle replays the query over
  // the parquet originals: the entry proves the operational-DB
  // round trip is value-exact, not just spec-plumbed. Pushdown and
  // stride-completeness pins live in JdbcSpec.
  // One embedded Derby per (session, sfDir), reused across
  // invocations: bench runs the entry 4+ times, and every
  // `;create=true` boot keeps its database open in the JVM until
  // shutdown — without the cache a soak loop accumulates open DBs
  // and temp dirs across exactly the runs it is measuring.
  private val jd1Conns =
    new java.util.concurrent.ConcurrentHashMap[String, sources.Jdbc.Conn]()
  val jd1: Q = (s, _dir) => {
    val conn = jd1Conns.computeIfAbsent(_dir, { dir =>
      val dbDir = java.nio.file.Files
        .createTempDirectory("graft_jd1_derby").toString
      val c = sources.Jdbc.Conn(s"jdbc:derby:$dbDir/db;create=true")
      sources.Jdbc.write(Tables.load(s, dir, "nation"), c, "nation",
        org.apache.spark.sql.SaveMode.Overwrite)
      sources.Jdbc.write(Tables.load(s, dir, "region"), c, "region",
        org.apache.spark.sql.SaveMode.Overwrite)
      c
    })
    val eng = sources.Jdbc.engine(s, Catalog.env(), conn,
      partitions = Map("nation" -> (("n_nationkey", 0L, 24L, 4))))
    eng.sql(
      """select r_name, count(1) as n_nations, min(n_nationkey) as min_key
        |from nation join region on n_regionkey = r_regionkey
        |group by r_name order by r_name""".stripMargin)
  }
  val jd1Sql: String =
    """SELECT r_name, count(1) AS n_nations, min(n_nationkey) AS min_key
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("jd1_jdbc_engine", jd1, jd1Sql),
    Entry("sq16_dialect_multicol_in_3vl", sq16, sq16Sql),
    Entry("sq17_dialect_optional_join", sq17, sq17Sql),
    Entry("sq15_dialect_left_join_on_subquery", sq15, sq15Sql),
    Entry("sq14_dialect_having_subquery", sq14, sq14Sql),
    Entry("sq11_dialect_argmax", sq11, sq11Sql),
    Entry("sq12_dialect_events", sq12, sq12Sql),
    Entry("sq13_dialect_composition", sq13, sq13Sql),
    Entry("sq1_dialect_join_param_agg", sq1, sq1Sql),
    Entry("sq2_dialect_left_join", sq2, sq2Sql),
    Entry("sq3_dialect_in_subquery", sq3, sq3Sql),
    Entry("sq4_dialect_scalars", sq4, sq4Sql),
    Entry("sq5_dialect_nav_pushdown", sq5, sq5Sql),
    Entry("sq6_dialect_having", sq6, sq6Sql),
    Entry("sq7_dialect_exists", sq7, sq7Sql),
    Entry("sq8_dialect_match_variant", sq8, sq8Sql),
    Entry("sq9_dialect_datetime_global_agg", sq9, sq9Sql),
    Entry("sq10_dialect_lazy_fields_offset", sq10, sq10Sql),
  )
}
