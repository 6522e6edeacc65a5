package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Td
import graft.llm.Similarity
import graft.ops.{AsOfJoin, Det, EventOps, Integrity, IntervalJoin, Retract, TimeOps, Upsert, ZOrder}

/** The relational operator inventory (SURVEY.md §2.2–2.6, §2.8, §2.9)
  * re-expressed over the driver's testdata tables, each with a DuckDB oracle.
  *
  * Scale notes are attached per query; the general rules:
  *  - filters/projections sit directly on the parquet scan (pushdown+pruning),
  *  - dim-side joins are explicitly broadcast,
  *  - aggregations rely on Catalyst partial/final hash agg (map-side combine),
  *  - top-k always plans as TakeOrderedAndProject (no global sort),
  *  - window functions shuffle once on their partition keys.
  */
object RelationalQueries {

  /** e7's adaptive-guard bound, memoized per (session, dir, mtime of the
    * customer parquet dir) — see the e7 registration. The mtime component
    * invalidates the memo when the fixture is regenerated in place within
    * a live session (an in-place overwrite touches the directory); without
    * it a stale count could route e7 onto the wrong rank path. TrieMap:
    * bench/verify construct queries concurrently. */
  private val e7CustUpper =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, String, Long), Long]

  private def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, f, Some(oracle))

  /** P9 / J12 run the IDENTICAL SQL text through both engines — the point
    * is the planner treatment (decorrelation / lateral-join rewrite), so
    * the statements are kept engine-portable and shared from one val.
    * Money comparisons run in exact integer cents (floor(x*100+0.5)) so a
    * reduction-order ULP in an avg can never flip a borderline row. */
  private val p9Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) * 2 *
      |      (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > 3 * (SELECT sum(CAST(floor(o2.o_totalprice * 100 + 0.5) AS BIGINT))
      |           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  private val j12Sql =
    """SELECT n_name, c_custkey, c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""".stripMargin

  /** TPC-H Q3/Q5 adapted to the testdata's columns — engine-portable text
    * (the revenue aggregate is the expanded exact-cents quantization both
    * dialects accept). The point is the PLANNER work bare SQL triggers:
    * Q3's selective dim filters broadcast into the fact chain; Q5's
    * six-way join (with the s_nationkey = c_nationkey "local supplier"
    * constraint) exercises Catalyst's join reordering. */
  private val revenueSql =
    "CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5)" +
      " AS BIGINT)) AS DOUBLE) / 1E2"
  private val sql2Text =
    s"""SELECT l_orderkey, $revenueSql AS revenue,
       |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1997-03-15'
       |  AND l_shipdate > TIMESTAMP '1997-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, odate, l_orderkey LIMIT 10""".stripMargin
  private val sql5Text =
    s"""SELECT n_name, $revenueSql AS revenue
       |FROM region
       |JOIN nation ON n_regionkey = r_regionkey
       |JOIN customer ON c_nationkey = n_nationkey
       |JOIN orders ON o_custkey = c_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin
  private val sql18Text =
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS odate, o_totalprice,
      |  sum(l_quantity) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin
  private val sql13Text =
    """WITH co AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT c_count, count(*) AS custdist
      |FROM co GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q4/Q16/Q22 adapted (the testdata lacks commit/receipt dates and
    * every customer has SOME order, so the correlated predicates shift to
    * columns that exist — the PLAN shapes are the point):
    *  - Q4: correlated EXISTS → left-semi join (no dup inflation of the
    *    outer count, however many lineitems match);
    *  - Q16: NOT IN over a subquery → Spark's null-aware anti join (a
    *    single NULL in the subquery legally empties the result, so the
    *    planner must prove/track null-ness — stricter than NOT EXISTS);
    *  - Q22: scalar avg threshold + NOT EXISTS anti join. The average is
    *    compared in cross-multiplied exact integer cents
    *    (cents*n > total_cents ⇔ bal > avg) so no float mean exists
    *    anywhere to disagree between engines. */
  private val sql4Text =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      |  AND o_orderdate < TIMESTAMP '1996-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  private val sql7Text =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(sum(vol_cents) AS DOUBLE) / 1E2 AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5) AS BIGINT)
      |      AS vol_cents
      |  FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |) GROUP BY supp_nation, cust_nation, l_year""".stripMargin
  private val sql11Text =
    """WITH val AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 1E2 + 0.5) AS BIGINT)) AS BIGINT) AS v_cents
      |  FROM lineitem
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY l_partkey),
      |tot AS (SELECT sum(v_cents) AS t FROM val)
      |SELECT l_partkey, v_cents FROM val, tot
      |WHERE v_cents * 1000 > t""".stripMargin
  private val sql16Text =
    """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM part JOIN lineitem ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type
      |ORDER BY supplier_cnt DESC, p_brand, p_type
      |LIMIT 20""".stripMargin
  private val sql22Text =
    """WITH pos AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 1E2 + 0.5) AS BIGINT) AS cents
      |  FROM customer WHERE c_acctbal > 0.0),
      |stats AS (SELECT sum(cents) AS total_cents, count(*) AS n FROM pos)
      |SELECT c_mktsegment, count(*) AS numcust,
      |  CAST(sum(cents) AS DOUBLE) / 1E2 AS totacctbal
      |FROM pos, stats
      |WHERE cents * n > total_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q2's signature construct adapted: a CORRELATED SCALAR aggregate
    * subquery (per-part minimum shipped quantity) used as an equality
    * predicate. Spark de-correlates it into an aggregate + join — the
    * planner shape this query pins; a naive engine re-executes the inner
    * aggregate per outer row. `p_size = 1` keeps the probe selective the
    * way Q2's region filter does. */
  private val sqlQ2Text =
    """SELECT p_partkey, s_name, l_quantity
      |FROM part, supplier, lineitem
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size = 1
      |  AND l_quantity = (SELECT min(l_quantity) FROM lineitem
      |                    WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name""".stripMargin

  /** The remaining TPC-H shapes (Q6, Q8, Q9, Q10, Q12, Q14, Q15, Q17, Q19,
    * Q20, Q21) adapted to the testdata's columns — with these the full
    * 22-query dialect sweep is registered. The testdata has no partsupp
    * table and no commit/receipt/shipmode/container columns, so Q9/Q12/
    * Q17/Q19/Q20/Q21 keep their signature PLAN shape with predicates moved
    * to columns that exist (noted per query). Money stays in exact integer
    * cents until the final display division, as everywhere else. */
  private val sql6Text =
    """SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 1E2 + 0.5)
      |    AS BIGINT)) AS DOUBLE) / 1E2 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin
  private val sql8Text =
    """SELECT o_year,
      |  CAST(sum(CASE WHEN nation = 'NATION_3' THEN cents ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(cents) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5) AS BIGINT)
      |      AS cents,
      |    n2.n_name AS nation
      |  FROM part
      |    JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |GROUP BY o_year ORDER BY o_year""".stripMargin
  private val sql9Text =
    """SELECT nation, o_year, CAST(sum(cents) AS DOUBLE) / 1E2 AS sum_profit
      |FROM (
      |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5) AS BIGINT)
      |      AS cents
      |  FROM part
      |    JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%red%')
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin
  private val sql10Text =
    s"""SELECT c_custkey, c_name, $revenueSql AS revenue, c_acctbal, n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
  private val sql12Text =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  private val sql14Text =
    """SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5)
      |           AS BIGINT)
      |      ELSE 0 END) AS DOUBLE) * 100.0
      |  / CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5)
      |      AS BIGINT)) AS DOUBLE) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin
  private val sql15Text =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5)
      |      AS BIGINT)) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_cents AS DOUBLE) / 1E2 AS total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin
  private val sql17Text =
    """SELECT CAST(sum(CAST(floor(l_extendedprice * 1E2 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 1E2 / 7.0 AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#3'
      |  AND l_quantity * 5.0 * (SELECT count(*) FROM lineitem l2
      |                          WHERE l2.l_partkey = p_partkey)
      |      < (SELECT sum(l_quantity) FROM lineitem l3
      |         WHERE l3.l_partkey = p_partkey)""".stripMargin
  private val sql19Text =
    """SELECT CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5)
      |    AS BIGINT)) AS DOUBLE) / 1E2 AS revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size >= 1 AND p_size <= 10
      |       AND l_quantity >= 1.0 AND l_quantity <= 11.0)
      |   OR (p_brand = 'Brand#2' AND p_size >= 1 AND p_size <= 20
      |       AND l_quantity >= 10.0 AND l_quantity <= 20.0)
      |   OR (p_brand = 'Brand#3' AND p_size >= 1 AND p_size <= 30
      |       AND l_quantity >= 20.0 AND l_quantity <= 30.0)""".stripMargin
  private val sql20Text =
    """SELECT s_name, s_acctbal FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE p_type = 'PROMO'
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-01-01'
      |  GROUP BY l_suppkey
      |  HAVING sum(l_quantity) > 300.0)
      |ORDER BY s_name""".stripMargin
  private val sql21Text =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  def entries: Seq[QueryDef] = Seq(

    // ── P1/P2: projection + not-null filter (reference utils.py:22-32) ──
    q("p1_projection_notnull",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer")
        .filter(col("c_acctbal").isNotNull && col("c_mktsegment").isNotNull)
        .select("c_custkey", "c_name", "c_acctbal")
    },

    // ── P3/S7: dynamic time-range predicate, pushed to the scan
    //    (reference utils.py:38-48) ──
    q("p3_time_range_scan",
      s"""SELECT l_orderkey, l_linenumber, l_quantity,
         |  ${O.isoDay("l_shipdate")} AS ship_day
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem")
        .filter(TimeOps.timeRange(col("l_shipdate"), Some("1996-01-01"), Some("1997-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          Det.isoDay(col("l_shipdate")).as("ship_day"))
    },

    // ── P4: positive-measure filter (reference queries.sql:29) ──
    q("p4_positive_filter",
      """SELECT p_partkey, p_name, p_size, p_retailprice FROM part
        |WHERE p_size IS NOT NULL AND p_size > 0 AND p_retailprice > 950.0""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "part")
        .filter(col("p_size").isNotNull && col("p_size") > 0 && col("p_retailprice") > 950.0)
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    },

    // ── P5: sign routing (reference od_inference.py:66-70) ──
    q("p5_sign_routing",
      """SELECT event_type,
        |  CASE WHEN value < 100.0 THEN 'low' ELSE 'high' END AS band,
        |  count(*) AS n
        |FROM events WHERE value <> 100.0 GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .filter(col("value") =!= 100.0)
        .withColumn("band", when(col("value") < 100.0, "low").otherwise("high"))
        .groupBy("event_type", "band")
        .agg(count(lit(1)).as("n"))
    },

    // ── P6: known-key semi-join filter (reference od_inference.py:63-64) ──
    q("p6_semi_join_filter",
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = Td.table(s, dir, "lineitem")
      val keys = Td.table(s, dir, "orders").filter(col("o_orderstatus") === "F")
      li.join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
    },

    // ── P7/A10: existence/count probes (reference streamlit_app.py:41-47) ──
    q("p7_count_probes",
      """SELECT 'orders' AS tbl, count(*) AS n FROM orders
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |UNION ALL SELECT 'customer', count(*) FROM customer""".stripMargin) { (s, dir) =>
      Seq("orders", "lineitem", "customer")
        .map(t => Td.table(s, dir, t).agg(count(lit(1)).as("n")).select(lit(t).as("tbl"), col("n")))
        .reduce(_ unionByName _)
    },

    // ── J1/A2: scalar-CTE latest-snapshot join (reference queries.sql:4-14).
    //    The 1-row aggregate is broadcast; no shuffle of the fact side. ──
    q("j1_latest_snapshot_join",
      s"""WITH e AS (SELECT ${O.hourTrunc("ts")} AS h, user_id, value FROM events),
         |m AS (SELECT max(h) AS h FROM e)
         |SELECT ${O.iso("e.h")} AS snapshot_hour, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  ${O.qsumd("value", 2)} AS sum_value
         |FROM e JOIN m ON e.h = m.h GROUP BY e.h""".stripMargin) { (s, dir) =>
      val e = Td.table(s, dir, "events").withColumn("h", date_trunc("hour", col("ts")))
      val last = e.agg(max(col("h")).as("h"))
      e.join(broadcast(last), "h")
        .groupBy("h")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Det.qsumd(col("value"), 2).as("sum_value"))
        .select(Det.iso(col("h")).as("snapshot_hour"),
          col("n_events"), col("n_users"), col("sum_value"))
    },

    // ── J2: fact→dim equi-join, dim broadcast (reference queries.sql:14) ──
    q("j2_fact_dim_broadcast",
      """SELECT s_name, count(*) AS n, sum(l_quantity) AS total_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem")
        .join(broadcast(Td.table(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total_qty"))
    },

    // ── J3: USING join (reference queries.sql:40) ──
    q("j3_using_join",
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  ${O.qsumd("o_totalprice", 2)} AS segment_value
         |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "orders")
        .withColumnRenamed("o_custkey", "c_custkey")
        .join(broadcast(Td.table(s, dir, "customer")), Seq("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), Det.qsumd(col("o_totalprice"), 2).as("segment_value"))
    },

    // ── J4/A4/F2: temporal hour join of two hourly aggregates
    //    (reference queries.sql:44-59; quirk Q1 canonicalized to date_trunc) ──
    q("j4_temporal_hour_join",
      s"""WITH e AS (SELECT ${O.hourTrunc("ts")} AS h, event_type, value FROM events),
         |a AS (SELECT h, count(*) AS n_events FROM e GROUP BY 1),
         |p AS (SELECT h, ${O.qsumd("value", 2)} AS purchase_value FROM e
         |      WHERE event_type = 'purchase' GROUP BY 1)
         |SELECT ${O.iso("a.h")} AS hour_ts, a.n_events,
         |  coalesce(p.purchase_value, 0.0) AS purchase_value
         |FROM a LEFT JOIN p ON a.h = p.h""".stripMargin) { (s, dir) =>
      val e = Td.table(s, dir, "events").withColumn("h", date_trunc("hour", col("ts")))
      val all = e.groupBy("h").agg(count(lit(1)).as("n_events"))
      val pur = e.filter(col("event_type") === "purchase")
        .groupBy("h").agg(Det.qsumd(col("value"), 2).as("purchase_value"))
      all.join(pur, Seq("h"), "left")
        .na.fill(Map("purchase_value" -> 0.0))
        .select(Det.iso(col("h")).as("hour_ts"), col("n_events"), col("purchase_value"))
    },

    // ── J5/F16: left join + na.fill (reference streamlit_app.py:190) ──
    q("j5_left_join_fill",
      """SELECT c_custkey, c_name, coalesce(o.n, 0) AS n_orders
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1) o
        |ON c_custkey = o.o_custkey""".stripMargin) { (s, dir) =>
      val perCust = Td.table(s, dir, "orders").groupBy("o_custkey").agg(count(lit(1)).as("n"))
      Td.table(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(Map("n" -> 0L))
        .select(col("c_custkey"), col("c_name"), col("n").as("n_orders"))
    },

    // ── J8: double dim-lookup join chain (reference streamlit_app.py:241-248);
    //    both dims broadcast, fact never shuffles. ──
    q("j8_double_lookup_join",
      """SELECT s_suppkey, s_name, n_name, r_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "supplier")
        .join(broadcast(Td.table(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Td.table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name", "r_name")
    },

    // ── J9: as-of (backward) join — every click attributed to the same
    //    user's latest view at-or-before it (impression attribution; the
    //    generic "state as of event time" primitive). Spark side is the
    //    union+window form (ONE key shuffle, no inequality-join blowup);
    //    the oracle is DuckDB's native ASOF LEFT JOIN over the identical
    //    tie-deduped view table. Gap in exact integer microseconds. ──
    q("j9_asof_join",
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |views AS (SELECT user_id, ts, max(event_id) AS event_id
        |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
        |clicks AS (SELECT event_id, user_id, ts FROM ev
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |  v.event_id AS view_event_id, v.ts AS view_ts,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin) { (s, dir) =>
      val ev = Td.table(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id")
      AsOfJoin.asOf(clicks, views, "user_id", "ts", "ts",
          rightTieBreak = Seq(col("event_id")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof.event_id").as("view_event_id"),
          col("asof.ts").as("view_ts"),
          (unix_micros(col("ts")) - unix_micros(col("asof.ts"))).as("gap_us"))
    },

    // ── J10: point-in-interval (range) join — purchases attributed to the
    //    gap-based session (built from the user's OTHER events) whose time
    //    window contains them. Spark side bucketizes time and equi-joins
    //    on (key, bucket) with exact containment as a residual filter —
    //    never the θ-join's O(points×intervals)-per-key blowup; the oracle
    //    is DuckDB's native range join over the identically-derived
    //    session intervals. ──
    q("j10_interval_join",
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type FROM events),
        |flags AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 86400
        |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM ev WHERE event_type <> 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_n
        |  FROM flags),
        |iv AS (SELECT user_id,
        |    user_id || '#' || CAST(session_n AS VARCHAR) AS session_id,
        |    min(ts) AS s_start, max(ts) AS s_end
        |  FROM sess GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts, i.session_id, i.s_start, i.s_end
        |FROM (SELECT event_id, user_id, ts FROM ev
        |      WHERE event_type = 'purchase') p
        |JOIN iv i ON p.user_id = i.user_id
        |  AND p.ts BETWEEN i.s_start AND i.s_end""".stripMargin) { (s, dir) =>
      val ev = Td.table(s, dir, "events")
      val sessions = TimeOps.sessionize(
          ev.filter(col("event_type") =!= "purchase"),
          "user_id", "ts", gapMinutes = 1440, orderTieBreak = Seq(col("event_id")))
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      IntervalJoin.pointInInterval(purchases, sessions,
          "user_id", "ts", "s_start", "s_end", bucketMinutes = 1440)
        .select("event_id", "user_id", "ts", "session_id", "s_start", "s_end")
    },

    // ── A1/F5: global multi-measure agg w/ exact countDistinct
    //    (reference queries.sql:7-14) ──
    q("a1_global_summary",
      s"""SELECT count(DISTINCT o_custkey) AS n_custs, count(*) AS n_orders,
         |  ${O.qsumd("coalesce(o_totalprice, 0)", 2)} AS total_value,
         |  max(o_totalprice) AS max_value
         |FROM orders""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("n_custs"),
        count(lit(1)).as("n_orders"),
        Det.qsumd(coalesce(col("o_totalprice"), lit(0)), 2).as("total_value"),
        max(col("o_totalprice")).as("max_value"))
    },

    // ── A2: global MIN/MAX timestamp bounds (reference utils.py:54-62) ──
    q("a2_global_time_bounds",
      s"""SELECT ${O.isoDay("min(o_orderdate)")} AS first_day,
         |  ${O.isoDay("max(o_orderdate)")} AS last_day,
         |  ${O.iso("min(ts)")} AS first_event, ${O.iso("max(ts)")} AS last_event
         |FROM orders, events""".stripMargin) { (s, dir) =>
      val o = Td.table(s, dir, "orders")
        .agg(Det.isoDay(min(col("o_orderdate"))).as("first_day"),
          Det.isoDay(max(col("o_orderdate"))).as("last_day"))
      val e = Td.table(s, dir, "events")
        .agg(Det.iso(min(col("ts"))).as("first_event"),
          Det.iso(max(col("ts"))).as("last_event"))
      o.crossJoin(e)
    },

    // ── A3/F1/O2: hour-of-day profile, string hour, multi-key output
    //    (reference queries.sql:33-42) ──
    q("a3_hour_profile",
      s"""SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%H') AS hh,
         |  count(*) AS n, ${O.qavg("value", 2)} AS avg_value
         |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .groupBy(col("event_type"), TimeOps.hourOfDay(col("ts")).as("hh"))
        .agg(count(lit(1)).as("n"), Det.qavg(col("value"), 2).as("avg_value"))
    },

    // ── A5: per-key mean (reference streamlit_app.py:273) ──
    q("a5_per_key_mean",
      s"""SELECT user_id, count(*) AS n, ${O.qavg("value", 2)} AS avg_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), Det.qavg(col("value"), 2).as("avg_value"))
    },

    // ── A6/W1/F15/F17: sum-of-abs-deltas activity
    //    (reference streamlit_app.py:184-188). One shuffle on user_id serves
    //    both the window and the aggregation (same key). ──
    q("a6_abs_delta_activity",
      s"""WITH d AS (
         |  SELECT user_id,
         |    coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
         |      AS delta
         |  FROM events)
         |SELECT user_id, ${O.qsumd("abs(delta)", 2)} AS activity
         |FROM d GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = TimeOps.lagDiff(Td.table(s, dir, "events"),
        Seq("user_id"), Seq(col("ts"), col("event_id")), "value")
      d.groupBy("user_id").agg(Det.qsumd(abs(col("delta")), 2).as("activity"))
    },

    // ── A7/W2/F9: last-per-bucket dedup (reference od_inference.py:51-52) ──
    q("a7_last_per_bucket",
      s"""SELECT user_id, ${O.isoDay("day")} AS day, event_type, event_id AS last_event_id
         |FROM (
         |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, event_type, event_id,
         |    row_number() OVER (
         |      PARTITION BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM events) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val e = Td.table(s, dir, "events").withColumn("day", date_trunc("day", col("ts")))
      TimeOps.lastPerGroup(e, Seq("user_id", "day"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), Det.isoDay(col("day")).as("day"),
          col("event_type"), col("event_id").as("last_event_id"))
    },

    // ── A8: edge-weight rollup (reference od_inference.py:76) ──
    q("a8_edge_rollup",
      """SELECT l_suppkey AS o, l_returnflag AS d, count(*) AS n,
        |  sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("o"), col("l_returnflag").as("d"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("total_qty"))
    },

    // ── A9/J6: dim-grouped rollup (reference streamlit_app.py:200-201) ──
    q("a9_dim_group_sum",
      s"""SELECT n_name, count(*) AS n_cust, ${O.qsumd("c_acctbal", 2)} AS total_bal
         |FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer")
        .join(broadcast(Td.table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"), Det.qsumd(col("c_acctbal"), 2).as("total_bal"))
    },

    // ── W1: raw per-partition lag-diff (reference od_inference.py:51-53) ──
    q("w1_lag_diff",
      """SELECT event_id, user_id,
        |  coalesce(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
        |    AS delta
        |FROM events""".stripMargin) { (s, dir) =>
      TimeOps.lagDiff(Td.table(s, dir, "events"),
          Seq("user_id"), Seq(col("ts"), col("event_id")), "value")
        .select("event_id", "user_id", "delta")
    },

    // ── W3: explicit-frame moving average (beyond reference parity —
    //    SURVEY §2.5 notes no frames exist there). The frame sum runs over
    //    quantized integers so both engines' accumulation strategies (Spark
    //    running sum vs DuckDB segment tree) produce identical doubles. ──
    q("w3_moving_avg",
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(floor(value * 1E2 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 1E2
        |  / count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
        |FROM events""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, Window.currentRow)
      Td.table(s, dir, "events").select(
        col("event_id"), col("user_id"),
        (sum(floor(col("value") * 100.0 + 0.5)).over(w).cast("double") / 100.0 /
          count(lit(1)).over(w)).as("moving_avg"))
    },

    // ── W9: exponentially-decayed running score (EWMA-style, alpha = 1/2)
    //    with EVERY BIT deterministic: the usual recursive EWMA is a
    //    float recursion whose value depends on where the stream was cut,
    //    so it can never hash-check; instead the decayed sum is the
    //    16-term closed form Σ lag(v_cents, k)·2⁻ᵏ. Each term is a
    //    dyadic rational with ≤ 33 significant bits (integer cents ≤ 2¹⁷
    //    times an exact power of two), so every partial sum is EXACT in
    //    an IEEE double — no rounding anywhere, any evaluation order,
    //    both engines. All 16 lags ride ONE window exchange. ──
    q("w9_ewma_decay", {
      val terms = (0 until 16).map(k =>
        s"coalesce(lag(vc, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) * power(2.0, -$k)")
        .mkString(" + ")
      s"""SELECT event_id, user_id, $terms AS decayed
         |FROM (SELECT event_id, user_id, ts,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
         |  FROM events)""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val decayed = (0 until 16).map(k =>
          coalesce(lag(col("vc"), k).over(w), lit(0L)).cast("double") *
            math.pow(2.0, -k))
        .reduce(_ + _)
      Td.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
        .select(col("event_id"), col("user_id"), decayed.as("decayed"))
    },

    // ── W4: ranking-function pack (dense_rank / ntile / percent_rank /
    //    cume_dist) — the remaining window breadth a real Spark user
    //    reaches for. One shuffle on the partition key; the ORDER BY is a
    //    unique composite so every rank is deterministic, and
    //    percent_rank/cume_dist divide the same exact integers on both
    //    engines (single IEEE division — bit-identical). ──
    q("w4_rank_pack",
      """SELECT event_id, user_id,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist
        |FROM events WHERE event_type = 'purchase'
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, ts, event_id)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("value"), col("ts"), col("event_id"))
      Td.table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          dense_rank().over(w).as("drank"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
    },

    // ── W5: frame/navigation pack — the window breadth w3/w4 leave out:
    //    first_value/last_value/nth_value over an explicit unbounded ROWS
    //    frame, lead with offset, and a value-based RANGE frame (events in
    //    the trailing hour, ordered by epoch micros — peers-of-current-row
    //    semantics make the count tie-safe). All three window specs share
    //    the user_id partition key, so the plan pays ONE exchange and
    //    resorts within partitions. ──
    q("w5_frame_pack",
      """SELECT event_id, user_id,
        |  first_value(event_id) OVER wall AS first_id,
        |  last_value(event_id) OVER wall AS last_id,
        |  nth_value(event_id, 2) OVER wall AS second_id,
        |  lead(event_id, 2) OVER wseq AS lead2,
        |  count(*) OVER wrng AS cnt_1h
        |FROM events
        |WINDOW
        |  wall AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  wseq AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  wrng AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wSeq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wRng = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      Td.table(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          first(col("event_id")).over(wAll).as("first_id"),
          last(col("event_id")).over(wAll).as("last_id"),
          nth_value(col("event_id"), 2).over(wAll).as("second_id"),
          lead(col("event_id"), 2).over(wSeq).as("lead2"),
          count(lit(1)).over(wRng).as("cnt_1h"))
    },

    // ── P8: anti-join (left_anti — customers with no orders). Oracle uses
    //    NOT EXISTS, not NOT IN: NOT IN yields zero rows whenever any
    //    o_custkey is NULL, while left_anti keeps unmatched customers —
    //    NOT EXISTS matches left_anti's semantics on nullable keys. ──
    q("p8_anti_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer")
        .join(Td.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // ── P9: correlated scalar subqueries ("orders 1.5× above the
    //    customer's own average"). The scale story is what Catalyst DOES
    //    with them: each subquery decorrelates into a per-custkey aggregate
    //    + broadcast join — nothing executes per-row. Plan note: Spark 4.1
    //    does NOT merge the two sibling subqueries (count and sum each
    //    aggregate their own orders scan); when that matters at scale,
    //    fuse them by hand into one groupBy as a5/j1 do — kept split here
    //    because surviving the portable correlated form IS this entry. ──
    q("p9_correlated_subquery", p9Sql) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(p9Sql)
    },

    // ── O1: top-k (reference queries.sql:30-31); plans as
    //    TakeOrderedAndProject — per-partition heaps, no global sort. ──
    q("o1_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // ── O2/O3: multi-key sort (reference queries.sql:42) ──
    q("o2_multikey_sort",
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        |ORDER BY c_mktsegment, c_name""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_mktsegment", "c_name")
    },

    // ── O4/O5: parameterized top-N over a rollup
    //    (reference streamlit_app.py:236-248) ──
    q("o4_topn_flows",
      """SELECT l_suppkey AS o, l_returnflag AS d, sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY total_qty DESC, o, d LIMIT 25""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("o"), col("l_returnflag").as("d"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .orderBy(col("total_qty").desc, col("o"), col("d"))
        .limit(25)
    },

    // ── O7: z-order (Morton) layout key — sort-by-z clusters BOTH
    //    (user_id, hour) into bounded rectangles per row group, so pushed
    //    min/max filters on either column skip row groups (single-column
    //    sort prunes only its own column). Pure bitwise scan-stage
    //    expression; oracle replays the identical interleave (generated
    //    from the same recipe, ZOrder.zValueSql). Pruning win measured in
    //    ZOrderSpec. ──
    q("o7_zorder_layout",
      s"""SELECT event_id, user_id,
         |  CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT) AS hr,
         |  ${ZOrder.zValueSql("user_id",
             "CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT)", 16)} AS z
         |FROM events""".stripMargin) { (s, dir) =>
      // floor division on BOTH sides: Spark's integer `div` truncates
      // toward zero while DuckDB's `//` floors, and the two diverge on
      // pre-epoch (negative-seconds) timestamps
      val hr = floor(expr("unix_seconds(ts)") / lit(3600.0)).cast("long")
      Td.table(s, dir, "events").select(
        col("event_id"), col("user_id"), hr.as("hr"),
        ZOrder.zValue(col("user_id"), hr, 16).as("z"))
    },

    // ── O8: zone-map skipping audit — QUANTIFIES o7's layout claim
    //    before anyone rewrites 100 TB: model both candidate physical
    //    orders (sort by user_id vs sort by z(user_id, hour)) as 16
    //    range-partitioned files, derive each file's min/max zone maps,
    //    and for a 16-box predicate grid (4 user-only, 4 hour-only, 8
    //    two-dimensional) report files/rows a pruned scan touches vs
    //    rows that match. All bounded aggregates + broadcast joins — the
    //    audit never performs the sorts it evaluates. Bucket and width
    //    arithmetic is the one-IEEE-sequence spelling (exact-integer
    //    doubles, single divide, floor) so file ids match cross-engine. ──
    q("o8_zone_map_audit", {
      val hrSql = "CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT)"
      s"""WITH ev AS (SELECT CAST(user_id AS BIGINT) AS a, $hrSql AS b,
         |    ${ZOrder.zValueSql("user_id", hrSql, 16)} AS z
         |  FROM events),
         |bounds AS (SELECT min(a) AS alo, max(a) AS ahi, min(b) AS blo,
         |    max(b) AS bhi, min(z) AS zlo, max(z) AS zhi FROM ev),
         |spec AS (SELECT p,
         |    CASE WHEN p < 4 THEN p WHEN p >= 8 THEN (p - 8) % 4 ELSE -1 END AS ai,
         |    CASE WHEN p >= 8 THEN (p - 8) // 4 WHEN p >= 4 THEN p - 4 ELSE -1 END AS bi,
         |    CASE WHEN p >= 8 THEN 1 ELSE 0 END AS bhalf
         |  FROM UNNEST(range(0, 16)) AS u(p)),
         |preds AS (SELECT p AS pred_id, a_lo,
         |    CASE WHEN ai < 0 THEN ahi ELSE a_lo + greatest(qa, 1) - 1 END AS a_hi,
         |    b_lo,
         |    CASE WHEN bi < 0 THEN bhi
         |      ELSE b_lo + greatest(CASE WHEN bhalf = 1 THEN hb ELSE qb END, 1) - 1
         |    END AS b_hi
         |  FROM (SELECT *,
         |      CASE WHEN ai < 0 THEN alo ELSE alo + ai * qa END AS a_lo,
         |      CASE WHEN bi < 0 THEN blo
         |        ELSE blo + bi * (CASE WHEN bhalf = 1 THEN hb ELSE qb END)
         |      END AS b_lo
         |    FROM (SELECT spec.*, bounds.*,
         |        CAST(floor((ahi - alo + 1) / 4.0) AS BIGINT) AS qa,
         |        CAST(floor((bhi - blo + 1) / 4.0) AS BIGINT) AS qb,
         |        CAST(floor((bhi - blo + 1) / 2.0) AS BIGINT) AS hb
         |      FROM spec CROSS JOIN bounds))),
         |evb AS (SELECT a, b, z,
         |    CAST(floor(((a - alo) * 16) / (ahi - alo + 1)) AS BIGINT) AS rga,
         |    CAST(floor(((z - zlo) * 16) / (zhi - zlo + 1)) AS BIGINT) AS rgz
         |  FROM ev CROSS JOIN bounds),
         |zones AS (
         |  SELECT 'by_a' AS layout, rga AS rg, min(a) AS za_lo, max(a) AS za_hi,
         |    min(b) AS zb_lo, max(b) AS zb_hi, count(*) AS zn FROM evb GROUP BY 2
         |  UNION ALL
         |  SELECT 'zorder', rgz, min(a), max(a), min(b), max(b), count(*)
         |  FROM evb GROUP BY 2),
         |scanned AS (SELECT layout, pred_id, CAST(count(*) AS BIGINT) AS groups_scanned,
         |    CAST(sum(zn) AS BIGINT) AS rows_scanned
         |  FROM zones JOIN preds ON za_hi >= a_lo AND za_lo <= a_hi
         |    AND zb_hi >= b_lo AND zb_lo <= b_hi
         |  GROUP BY 1, 2),
         |matched AS (SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
         |  FROM ev JOIN preds ON a BETWEEN a_lo AND a_hi AND b BETWEEN b_lo AND b_hi
         |  GROUP BY 1),
         |ng AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_groups FROM zones GROUP BY 1)
         |SELECT layout, pred_id, n_groups,
         |  coalesce(groups_scanned, 0) AS groups_scanned,
         |  coalesce(rows_scanned, 0) AS rows_scanned,
         |  coalesce(rows_matched, 0) AS rows_matched
         |FROM (SELECT DISTINCT layout FROM zones)
         |CROSS JOIN (SELECT pred_id FROM preds)
         |JOIN ng USING (layout)
         |LEFT JOIN scanned USING (layout, pred_id)
         |LEFT JOIN matched USING (pred_id)""".stripMargin
    }) { (s, dir) =>
      val hr = floor(expr("unix_seconds(ts)") / lit(3600.0)).cast("long")
      val ev = Td.table(s, dir, "events")
        .select(col("user_id"), hr.as("hr"))
      val bounds = ev.agg(
        min(col("user_id")).as("alo"), max(col("user_id")).as("ahi"),
        min(col("hr")).as("blo"), max(col("hr")).as("bhi"))
      import s.implicits._
      val spec = ((0 to 3).map(p => (p, p, -1, 0)) ++
        (4 to 7).map(p => (p, -1, p - 4, 0)) ++
        (8 to 15).map(p => (p, (p - 8) % 4, (p - 8) / 4, 1)))
        .toDF("pred_id", "ai", "bi", "bhalf")
      val bw = when(col("bhalf") === 1, col("hb")).otherwise(col("qb"))
      val preds = spec.crossJoin(broadcast(bounds))
        .withColumn("qa", floor((col("ahi") - col("alo") + 1) / lit(4.0)).cast("long"))
        .withColumn("qb", floor((col("bhi") - col("blo") + 1) / lit(4.0)).cast("long"))
        .withColumn("hb", floor((col("bhi") - col("blo") + 1) / lit(2.0)).cast("long"))
        .withColumn("a_lo",
          when(col("ai") < 0, col("alo")).otherwise(col("alo") + col("ai") * col("qa")))
        .withColumn("a_hi", when(col("ai") < 0, col("ahi"))
          .otherwise(col("a_lo") + greatest(col("qa"), lit(1L)) - 1))
        .withColumn("b_lo",
          when(col("bi") < 0, col("blo")).otherwise(col("blo") + col("bi") * bw))
        .withColumn("b_hi", when(col("bi") < 0, col("bhi"))
          .otherwise(col("b_lo") + greatest(bw, lit(1L)) - 1))
        .select(col("pred_id").cast("long").as("pred_id"),
          col("a_lo"), col("a_hi"), col("b_lo"), col("b_hi"))
      ZOrder.layoutAudit(ev, "user_id", "hr", preds, groups = 16, bits = 16)
    },

    // ── rollup (grouping-set hierarchy) — beyond the reference's surface
    //    (SURVEY §2.4 notes none exist there); Catalyst expands to a single
    //    Expand + hash agg, one shuffle. ──
    q("a12_rollup",
      s"""SELECT r_name, n_name, count(*) AS n_cust,
         |  ${O.qsumd("c_acctbal", 2)} AS total_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP(r_name, n_name)""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer").as("c")
        .join(broadcast(Td.table(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(Td.table(s, dir, "region").as("r")),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .select(col("r.r_name").as("r_name"), col("n.n_name").as("n_name"),
          col("c.c_acctbal").as("c_acctbal"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Det.qsumd(col("c_acctbal"), 2).as("total_bal"))
    },

    // ── cube — all four grouping combinations of (region, nation) in one
    //    Expand + hash agg, one shuffle (same physical shape as rollup, 4
    //    projections instead of 3). grouping() flags disambiguate the NULL
    //    group keys explicitly on both engines. ──
    q("a16_cube",
      s"""SELECT r_name, n_name,
         |  CAST(grouping(r_name) AS INT) AS g_r,
         |  CAST(grouping(n_name) AS INT) AS g_n,
         |  count(*) AS n_cust, ${O.qsumd("c_acctbal", 2)} AS total_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY CUBE(r_name, n_name)""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer").as("c")
        .join(broadcast(Td.table(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(Td.table(s, dir, "region").as("r")),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .select(col("r.r_name").as("r_name"), col("n.n_name").as("n_name"),
          col("c.c_acctbal").as("c_acctbal"))
        .cube(col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"),
          count(lit(1)).as("n_cust"),
          Det.qsumd(col("c_acctbal"), 2).as("total_bal"))
        .select(col("r_name"), col("n_name"), col("g_r"), col("g_n"),
          col("n_cust"), col("total_bal"))
    },

    // ── explicit GROUPING SETS — a NON-hierarchical set pair (by-region,
    //    by-nation) that neither rollup nor cube expresses alone; Spark 4's
    //    Dataset.groupingSets plans the same single Expand + hash agg. ──
    q("a17_grouping_sets",
      s"""SELECT r_name, n_name, count(*) AS n_cust,
         |  ${O.qsumd("c_acctbal", 2)} AS total_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name), (n_name))""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "customer").as("c")
        .join(broadcast(Td.table(s, dir, "nation").as("n")),
          col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(Td.table(s, dir, "region").as("r")),
          col("n.n_regionkey") === col("r.r_regionkey"))
        .select(col("r.r_name").as("r_name"), col("n.n_name").as("n_name"),
          col("c.c_acctbal").as("c_acctbal"))
        .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name"))),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          Det.qsumd(col("c_acctbal"), 2).as("total_bal"))
    },

    // ── full outer join — rare-key presence on BOTH sides (high-balance
    //    customers vs negative-balance suppliers per nation) so each side
    //    contributes unmatched rows. full_outer cannot broadcast; both
    //    inputs arrive at the join already hash-partitioned on the join key
    //    by their own aggregations, so the join adds zero exchanges. ──
    q("j11_full_outer_join",
      """WITH hc AS (SELECT c_nationkey AS nk, count(*) AS n_cust
        |  FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
        |ns AS (SELECT s_nationkey AS nk, count(*) AS n_supp
        |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT coalesce(hc.nk, ns.nk) AS nationkey,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM hc FULL OUTER JOIN ns ON hc.nk = ns.nk""".stripMargin) { (s, dir) =>
      val hc = Td.table(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val ns = Td.table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0)
        .groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      hc.join(ns, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },

    // ── J12: lateral join — per-row top-2 without a global window: the
    //    lateral subquery's ORDER BY + LIMIT is correlated to the outer
    //    nation row. Spark rewrites it to a LateralJoin whose inner side
    //    ranks WITHIN the domain join, so at scale this is the per-group
    //    top-k shape (bq2/w4) reached from plain portable SQL. ──
    q("j12_lateral_topn", j12Sql) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(j12Sql)
    },

    // ── J13: null-safe equi-join (<=> / IS NOT DISTINCT FROM) — the join
    //    the dirty-key world needs: both sides derive a NULLable bucket
    //    (nullif carves bucket 3 of nationkey % 10 out as NULL) and the null-safe inner
    //    join KEEPS the NULL=NULL row a plain `=` join would drop.
    //    EqualNullSafe is an extractable equi-join key in Catalyst, so
    //    this still plans as a hash join, not a cartesian; both inputs
    //    arrive pre-partitioned by their own aggregations. ──
    q("j13_nullsafe_join",
      """WITH hc AS (SELECT nullif(c_nationkey % 10, 3) AS nk, count(*) AS n_cust
        |  FROM customer GROUP BY 1),
        |ns AS (SELECT nullif(s_nationkey % 10, 3) AS nk, count(*) AS n_supp
        |  FROM supplier GROUP BY 1)
        |SELECT hc.nk AS nation_bucket,
        |  CAST(n_cust AS BIGINT) AS n_cust, CAST(n_supp AS BIGINT) AS n_supp
        |FROM hc JOIN ns ON hc.nk IS NOT DISTINCT FROM ns.nk""".stripMargin) { (s, dir) =>
      val hc = Td.table(s, dir, "customer")
        .groupBy(nullif(pmod(col("c_nationkey"), lit(10)), lit(3)).as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val ns = Td.table(s, dir, "supplier")
        .groupBy(nullif(pmod(col("s_nationkey"), lit(10)), lit(3)).as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      hc.join(ns, col("nk_c") <=> col("nk_s"))
        .select(col("nk_c").as("nation_bucket"), col("n_cust"), col("n_supp"))
    },

    // ── set operations (UNION/INTERSECT/EXCEPT) — single-scan membership-
    //    flag formulation: the literal Dataset union/intersect/except form
    //    (the oracle keeps it for clarity) scans orders up to six times
    //    (two legs x three ops); set membership per key is ONE scan with a
    //    pushed-down OR filter, one shuffle on the key, and a scalar tail —
    //    union = b|u, intersect = b&u, except = b&!u over the same flags.
    //    The 100 TB shape for any fixed family of set expressions. ──
    q("s1_set_ops",
      """WITH big AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000),
        |urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT DISTINCT k FROM (SELECT k FROM big UNION SELECT k FROM urgent))
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (SELECT k FROM big INTERSECT SELECT k FROM urgent)
        |UNION ALL
        |SELECT 'except', count(*) FROM (SELECT k FROM big EXCEPT SELECT k FROM urgent)""".stripMargin) { (s, dir) =>
      val inBig = col("o_totalprice") > 200000
      val inUrgent = col("o_orderpriority") === "1-URGENT"
      val flags = Td.table(s, dir, "orders")
        .filter(inBig || inUrgent)
        .groupBy(col("o_custkey").as("k"))
        .agg(max(when(inBig, 1).otherwise(0)).as("b"),
          max(when(inUrgent, 1).otherwise(0)).as("u"))
      flags.agg(
          coalesce(sum(when(col("b") === 1 || col("u") === 1, 1L)), lit(0L)).as("n_union"),
          coalesce(sum(when(col("b") === 1 && col("u") === 1, 1L)), lit(0L)).as("n_intersect"),
          coalesce(sum(when(col("b") === 1 && col("u") === 0, 1L)), lit(0L)).as("n_except"))
        .select(expr(
          "stack(3, 'union', n_union, 'intersect', n_intersect, 'except', n_except) AS (op, n)"))
    },

    // ── set operations with BAG semantics (INTERSECT ALL / EXCEPT ALL) —
    //    multiplicity-preserving variants of s1; Spark plans both as a
    //    single-shuffle aggregate over (row, side-count) rather than a
    //    join, which is the shape that survives duplicate-heavy inputs.
    //    Row = order priority so multiplicities are large and the
    //    min/difference arithmetic is actually exercised. ──
    q("s3_set_ops_all",
      """WITH big AS (SELECT o_orderpriority AS p FROM orders WHERE o_totalprice > 150000),
        |late AS (SELECT o_orderpriority AS p FROM orders WHERE o_orderdate >= DATE '1997-01-01')
        |SELECT 'intersect_all' AS op, p, count(*) AS n FROM
        |  (SELECT p FROM big INTERSECT ALL SELECT p FROM late) GROUP BY 2
        |UNION ALL
        |SELECT 'except_all', p, count(*) FROM
        |  (SELECT p FROM big EXCEPT ALL SELECT p FROM late) GROUP BY 2""".stripMargin) { (s, dir) =>
      val o = Td.table(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 150000).select(col("o_orderpriority").as("p"))
      val late = o.filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1997-01-01")))
        .select(col("o_orderpriority").as("p"))
      def counted(op: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy("p").agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("p"), col("n"))
      counted("intersect_all", big.intersectAll(late))
        .unionByName(counted("except_all", big.exceptAll(late)))
    },

    // ── recursive CTE (WITH RECURSIVE): ancestor closure over a
    //    deterministic binary forest on customer keys (parent = key DIV 2,
    //    key 1 the root) — the hierarchy walk (org charts, category trees,
    //    BOM explosions) that plain joins cannot express for unbounded
    //    depth. Spark 4 plans this as UnionLoop: each level is ONE
    //    distributed join of the frontier against the (static, broadcast)
    //    parent map, so the work per round is the frontier size, the round
    //    count is the tree DEPTH (log n here, ~21 at 1e12-customer scale),
    //    and nothing ever materializes the full closure on the driver.
    //    Both engines run the same text modulo integer-division spelling
    //    (Spark DIV, DuckDB //). ──
    q("s5_recursive_closure",
      """WITH RECURSIVE anc AS (
        |  SELECT c_custkey AS node, c_custkey AS anc, CAST(0 AS BIGINT) AS depth
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT node, anc // 2 AS anc, depth + 1 FROM anc WHERE anc > 1)
        |SELECT node, anc, depth FROM anc""".stripMargin) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(
        """WITH RECURSIVE anc AS (
          |  SELECT c_custkey AS node, c_custkey AS anc, CAST(0 AS BIGINT) AS depth
          |  FROM customer WHERE c_custkey % 7 = 0
          |  UNION ALL
          |  SELECT node, anc DIV 2 AS anc, depth + 1 FROM anc WHERE anc > 1)
          |SELECT node, anc, depth FROM anc""".stripMargin)
    },

    // ── unpivot (wide → long melt) — the inverse of a13's pivot;
    //    Dataset.unpivot plans a single Expand (one output row per
    //    measure per input row), no shuffle at all until the consumer
    //    aggregates. Oracle uses the UNION ALL formulation (DuckDB's
    //    UNPIVOT reorders output columns vs Spark's fixed
    //    id/variable/value layout). ──
    q("a20_unpivot",
      """SELECT o_orderkey, 'o_totalprice' AS measure, CAST(o_totalprice AS DOUBLE) AS value
        |FROM orders WHERE o_orderkey % 97 = 0
        |UNION ALL
        |SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE)
        |FROM orders WHERE o_orderkey % 97 = 0""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .unpivot(
          Array(col("o_orderkey")),
          Array(col("o_totalprice").cast("double").as("o_totalprice"),
            col("o_custkey").cast("double").as("o_custkey")),
          "measure", "value")
    },

    // ── bitwise aggregates (bit_and / bit_or / bit_xor) — flag-mask
    //    rollups; exact integer lattice ops, order-independent by
    //    construction, map-side combined like any hash aggregate. ──
    q("a22_bitwise_agg",
      """SELECT event_type, bit_and(user_id) AS band, bit_or(user_id) AS bor,
        |  bit_xor(user_id) AS bxor, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events").groupBy("event_type")
        .agg(expr("bit_and(user_id)").as("band"),
          expr("bit_or(user_id)").as("bor"),
          expr("bit_xor(user_id)").as("bxor"),
          count(lit(1)).as("n"))
    },

    // ── ordered string aggregation — collect_list is reduction-order-
    //    nondeterministic, so the engine canonicalizes through array_sort
    //    before joining (the deterministic way to LISTAGG on Spark); the
    //    oracle's string_agg carries the same explicit ORDER BY. ──
    q("a23_string_agg",
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "nation")
        .join(broadcast(Td.table(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
    },

    // ── approx_count_distinct (HLL++) — the 100 TB path beside A1's exact
    //    distinct: no Expand, constant memory per group. The sketch VALUE is
    //    engine-specific, but the grouping keys and the promised error
    //    bound are not: the query emits the bound check itself
    //    (|approx - exact| / exact <= 2%) and the oracle asserts TRUE per
    //    group — a hash mismatch means the sketch broke its contract. The
    //    exact countDistinct here is the bound's witness (this is the
    //    validation query; production uses the sketch alone). The same
    //    bound is also pinned in RelationalOpsSpec. ──
    q("a11_approx_distinct",
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS approx_within_2pct
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      // NOT agg(approx_count_distinct, countDistinct) in one pass: mixing
      // them makes Catalyst key phase 1 by (group, value) for the exact
      // distinct, allocating one multi-KB HLL buffer PER KEY PAIR — ~n
      // sketches instead of one per group (measured 9 s vs ~1 s at sf0.1).
      // Dedup first, then sketch the distinct stream: HLL registers are
      // insensitive to duplicates, so the estimate is bit-identical, and
      // phase 2 holds exactly one sketch per group.
      // lgConfigK 16 against the 2% pin = a ~5-sigma margin (rse ≈
      // 1.04/√2^16 ≈ 0.4%): the oracle's hard TRUE must hold for any
      // corpus the driver throws at it, not just ~2-sigma-often (the
      // sketch is deterministic per dataset — register updates and merges
      // are max(), order-independent — but the bound should survive
      // testdata regeneration).
      // DataSketches HLL (hll_sketch_agg), NOT approx_count_distinct(rsd):
      // Spark's HLL++ at a comparable rsd materializes its ~43k-word
      // register buffer as ~43k aggregate ATTRIBUTES — a 430 KB physical
      // plan whose analysis/codegen cost dominated the query (measured
      // r13: 3.8 s at sf0.1, ~2.5 s of it plan-side). The sketch buffer
      // here is ONE binary attribute; the emitted verdict column is
      // unchanged (both sketches sit far inside the 2% envelope).
      Td.table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_orderkey")
        .agg(count(lit(1)).as("cnt"))
        .groupBy("l_returnflag")
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"), lit(16))).as("approx"),
          count(lit(1)).as("exact"),
          sum(col("cnt")).as("n_rows"))
        .select(col("l_returnflag"), col("n_rows"),
          (abs(col("approx") - col("exact")).cast("double") /
            col("exact").cast("double") <= 0.02).as("approx_within_2pct"))
    },

    // ── A21: Bloom-filter membership sketch — the FOURTH sketch family
    //    beside HLL (a11), GK quantiles (a18), and frequent items (a19).
    //    At 100 TB a Bloom built on a dim key prunes the fact side before
    //    its shuffle (semi-join pushdown without materializing the key
    //    set). The sketch bits are engine-specific, so — like a11 — the
    //    query emits the sketch's CONTRACT as verdict columns the oracle
    //    pins: ZERO false negatives over every present key (a structural
    //    Bloom property; probing it end-to-end catches build/broadcast
    //    wiring bugs), and a measured false-positive rate over 10
    //    deterministic absent probes per key (key + i·10^7 — all inserted
    //    keys are far below 10^7) within 2× the nominal 1% fpp (the
    //    expected rate's ~4-sigma envelope at the smallest SF). The build
    //    is a tree-aggregate of OR-able bitmaps (order-independent bits);
    //    the probe side streams with the sketch broadcast — nothing about
    //    the operator needs the key set to fit anywhere but the sketch. ──
    q("a21_bloom_filter",
      """SELECT count(DISTINCT c_custkey) AS n_present,
        |  CAST(0 AS BIGINT) AS n_false_neg,
        |  CAST(10 * count(DISTINCT c_custkey) AS BIGINT) AS n_absent_probes,
        |  TRUE AS fp_bounded
        |FROM customer""".stripMargin) { (s, dir) =>
      import s.implicits._
      val keys = Td.table(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("k")).distinct()
      val bf = keys.stat.bloomFilter("k", keys.count(), 0.01)
      val bc = s.sparkContext.broadcast(bf)
      val probed = keys.as[Long].mapPartitions { iter =>
        val f = bc.value
        iter.map { k =>
          var fp = 0L
          var i = 1
          while (i <= 10) {
            if (f.mightContainLong(k + i * 10000000L)) fp += 1
            i += 1
          }
          (if (f.mightContainLong(k)) 0L else 1L, fp)
        }
      }.toDF("miss", "fp")
      probed.agg(
          count(lit(1)).as("n_present"),
          sum(col("miss")).as("n_false_neg"),
          (count(lit(1)) * 10).as("n_absent_probes"),
          sum(col("fp")).as("fp_cnt"))
        .select(col("n_present"), col("n_false_neg"), col("n_absent_probes"),
          (col("fp_cnt").cast("double") / col("n_absent_probes").cast("double") <= 0.02)
            .as("fp_bounded"))
    },

    // ── A14: second-moment statistics (stddev, correlation) the
    //    DETERMINISTIC way: builtin stddev/corr accumulate doubles, so the
    //    result depends on partition count and reduction order — a
    //    cross-engine (and cross-run-at-different-parallelism) hash can
    //    never pin them. Instead the exact integer moments (n, Σx, Σy,
    //    Σx², Σy², Σxy) are summed over quantized values — decimal/hugeint
    //    sums where squares could overflow 64 bits — and the statistics
    //    derive in one identical double-arithmetic tail on both engines.
    //    Reduction order cannot change any output bit. ──
    q("a14_moments",
      """WITH qv AS (SELECT l_returnflag,
        |  CAST(l_quantity AS BIGINT) AS qx,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS qy
        |  FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |  sum(qx) AS sx, sum(qy) AS sy, sum(qx*qx) AS sxx,
        |  sum(CAST(qy AS HUGEINT) * qy) AS syy,
        |  sum(CAST(qx AS HUGEINT) * qy) AS sxy
        |  FROM qv GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
        |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_p100,
        |  sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1.0)) AS std_q,
        |  sqrt((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1.0)) AS std_p100,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS corr_qp
        |FROM s""".stripMargin) { (s, dir) =>
      val qx = col("l_quantity").cast("long")
      val qy = round(col("l_extendedprice") * 100).cast("long")
      val sums = Td.table(s, dir, "lineitem")
        .select(col("l_returnflag"), qx.as("qx"), qy.as("qy"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
          sum(col("qx") * col("qx")).as("sxx"),
          sum(col("qy").cast("decimal(20,0)") * col("qy")).as("syy"),
          sum(col("qx").cast("decimal(20,0)") * col("qy")).as("sxy"))
      val (nD, sxD, syD) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxxD, syyD, sxyD) =
        (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      sums.select(col("l_returnflag"), col("n"),
        (sxD / nD).as("mean_q"),
        (syD / nD).as("mean_p100"),
        sqrt((sxxD - sxD * sxD / nD) / (nD - lit(1.0))).as("std_q"),
        sqrt((syyD - syD * syD / nD) / (nD - lit(1.0))).as("std_p100"),
        ((nD * sxyD - sxD * syD) /
          (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD)))
          .as("corr_qp"))
    },

    // ── S2: skew-resistant exact distinct count (ops/Salt.distinctCount):
    //    phase 1 dedups on (key, value) — the shuffle spreads a hot key
    //    across partitions BY VALUE — phase 2 counts deduped rows per key.
    //    Same answer as countDistinct (the oracle), but no single reducer
    //    ever holds a hot key's whole value set: the two-phase shape that
    //    survives a key owning 10% of a 100 TB table. ──
    q("s2_salted_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.ops.Salt.distinctCount(
        Td.table(s, dir, "events"), Seq("event_type"), "user_id")
        .select(col("event_type"), col("n_distinct"))
    },

    // ── S7: the salted path under ACTUAL 90% skew (r8 — s2 runs on
    //    near-uniform event_type keys; this derives a hot-key table
    //    inline: 90% of events collapse onto skew_key 0, the rest keep
    //    their user_id — both engines derive it identically, so the
    //    skew machinery is oracle-exercised on genuinely skewed data).
    //    Engine: Salt.distinctCount (dedup spreads the hot key BY VALUE)
    //    joined with Salt.saltedSumCount (content-hash salt, two-phase
    //    semigroup) — no single reducer ever holds hot-key 0's 90k rows;
    //    PlanShapeSpec asserts the __salt phase-1 grouping and
    //    ScaleShapeSpec drives the same shape under AQE skew confs.
    //    Oracle: the direct one-phase aggregate — the hash match IS the
    //    salted-vs-direct comparison. ──
    q("s7_skewed_hot_agg",
      """WITH sk AS (SELECT
        |    CASE WHEN event_id % 10 < 9 THEN 0 ELSE user_id END AS skew_key,
        |    user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT skew_key, count(DISTINCT user_id) AS n_distinct,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM sk GROUP BY 1""".stripMargin) { (s, dir) =>
      val sk = Td.table(s, dir, "events").select(
        when(col("event_id") % 10 < 9, lit(0L)).otherwise(col("user_id"))
          .as("skew_key"),
        col("user_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val nd = graft.ops.Salt.distinctCount(sk, Seq("skew_key"), "user_id")
      val sums = graft.ops.Salt.saltedSumCount(sk.select("skew_key", "cents"),
        Seq("skew_key"), "cents", buckets = 16)
      nd.join(sums, "skew_key")
        .select(col("skew_key"), col("n_distinct"), col("n").cast("long").as("n"),
          col("sum_value").cast("long").as("sum_cents"))
    },

    // ── S8: differentiated SALTED JOIN under the same 90% skew — the
    //    pre-planned skew join for where AQE cannot re-plan (streaming
    //    stateful stages, fixed bucketed layouts): hot keys detected by
    //    a capped count pass, hot fact rows content-hash-salted across
    //    16 buckets, dim rows replicated ONLY for hot keys, one
    //    (key, salt) equi-join. Row-for-row the plain join (SaltSpec),
    //    and the oracle hash-checks exactly that: the direct join +
    //    rollup. PlanShapeSpec pins the __salt join key. ──
    q("s8_salted_skew_join",
      """WITH sk AS (SELECT
        |    CASE WHEN event_id % 10 < 9 THEN 0 ELSE user_id END AS skew_key,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |dim AS (SELECT skew_key, skew_key % 7 AS seg
        |  FROM (SELECT DISTINCT skew_key FROM sk))
        |SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(DISTINCT sk.skew_key) AS BIGINT) AS n_keys
        |FROM sk JOIN dim ON sk.skew_key = dim.skew_key
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val sk = Td.table(s, dir, "events").select(
        when(col("event_id") % 10 < 9, lit(0L)).otherwise(col("user_id"))
          .as("skew_key"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      val dim = sk.select("skew_key").distinct()
        .withColumn("seg", col("skew_key") % 7)
      graft.ops.Salt.saltedJoin(sk, dim, "skew_key",
          buckets = 16, hotThreshold = 1000L)
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("sum_cents"),
          count_distinct(col("skew_key")).as("n_keys"))
    },

    // ── A15: exact quantiles (quartiles + median) per group. Exact
    //    percentile sorts within the group — the VALIDATION/medium-scale
    //    path; at 100 TB use approx_percentile (t-digest, constant memory,
    //    engine-specific values so spec-bounded rather than hash-oracled —
    //    see RelationalOpsSpec). Hash parity holds because quartile
    //    interpolation over quantized integers is exact binary arithmetic
    //    (frac ∈ {.25,.5,.75} are powers of two; lo/hi are small ints) —
    //    every formula variant yields the identical double. ──
    q("a15_quantiles",
      """SELECT l_returnflag,
        |  quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS q25,
        |  quantile_cont(CAST(l_quantity AS BIGINT), 0.50) AS q50,
        |  quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS q75,
        |  CAST(min(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qmin,
        |  CAST(max(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS qmax
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qx"))
        .groupBy("l_returnflag")
        .agg(
          percentile(col("qx"), lit(0.25)).as("q25"),
          percentile(col("qx"), lit(0.50)).as("q50"),
          percentile(col("qx"), lit(0.75)).as("q75"),
          min(col("qx")).cast("double").as("qmin"),
          max(col("qx")).cast("double").as("qmax"))
    },

    // ── A38: exact WEIGHTED quantiles (weighted median + quartiles) —
    //    the revenue-weighted center a plain percentile misstates (a15
    //    treats a 1-unit and a 50-unit line identically; here quantity is
    //    the mass). Lower-quantile definition: smallest v whose
    //    cumulative weight reaches p of the total, decided by INTEGER
    //    cross-multiplication (4·cum ≥ tot etc.) — no interpolation, no
    //    float anywhere. Scale shape: the corpus collapses to a
    //    per-(group, v) weight HISTOGRAM first (map-side combinable hash
    //    agg); the cumulative window then runs over VALUE-DOMAIN
    //    cardinality (bounded by the cents price domain), never corpus
    //    rows — the s4/a24 histogram discipline. ──
    q("a38_weighted_quantiles",
      """WITH h AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, wt,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM h)
        |SELECT l_returnflag,
        |  CAST(max(tot) AS BIGINT) AS total_weight,
        |  CAST(min(CASE WHEN cum * 4 >= tot THEN v END) AS BIGINT) AS wq25,
        |  CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS BIGINT) AS wq50,
        |  CAST(min(CASE WHEN cum * 4 >= tot * 3 THEN v END) AS BIGINT) AS wq75
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Td.table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"),
          col("l_quantity").cast("long").as("w"))
        .groupBy("l_returnflag", "v").agg(sum(col("w")).as("wt"))
      val wOrd = Window.partitionBy("l_returnflag").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("l_returnflag")
      h.select(col("l_returnflag"), col("v"), col("wt"),
          sum(col("wt")).over(wOrd).cast("long").as("cum"),
          sum(col("wt")).over(wAll).cast("long").as("tot"))
        .groupBy("l_returnflag")
        .agg(max(col("tot")).cast("long").as("total_weight"),
          min(when(col("cum") * 4 >= col("tot"), col("v"))).cast("long").as("wq25"),
          min(when(col("cum") * 2 >= col("tot"), col("v"))).cast("long").as("wq50"),
          min(when(col("cum") * 4 >= col("tot") * 3, col("v"))).cast("long").as("wq75"))
    },

    // ── A18: approx_percentile, driver-checked (the a11 pattern applied to
    //    quantiles). The sketch (Greenwald-Khanna at accuracy 1000 — the
    //    constant-memory 100 TB path a15's scaladoc names) is rank-verified
    //    IN-QUERY against its hard deterministic guarantee: the returned
    //    value's rank interval [lt+1, le] must intersect
    //    [0.5·N − N/1000, 0.5·N + N/1000] (±1 for ceiling slack). The
    //    oracle pins the verdict TRUE — a hash mismatch means the sketch
    //    broke its contract. Two scans are inherent to the witness (ranks
    //    are counted OF the sketch's own output); the rank pass joins the
    //    3-row sketch result back by broadcast, and partial aggregation
    //    keeps both passes skew-safe (unlike a window over 3 partitions).
    //    Production uses the one-pass sketch alone. ──
    q("a18_approx_quantile",
      """SELECT l_returnflag, count(*) AS n_rows, TRUE AS approx_median_rank_ok
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = Td.table(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity").cast("long").as("qx"))
      val ap = base.groupBy("l_returnflag")
        .agg(percentile_approx(col("qx"), lit(0.5), lit(1000)).as("approx"))
      val n = col("n_rows").cast("double")
      base.join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("qx") <= col("approx"), 1L).otherwise(0L)).as("le"),
          sum(when(col("qx") < col("approx"), 1L).otherwise(0L)).as("lt"))
        .select(col("l_returnflag"), col("n_rows"),
          ((col("le").cast("double") >= n * 0.5 - n / 1000.0 - 1.0) &&
            (col("lt").cast("double") <= n * 0.5 + n / 1000.0 + 1.0))
            .as("approx_median_rank_ok"))
    },

    // ── A19: approx_top_k (DataSketches frequent-items), driver-checked —
    //    the third sketch family beside a11's HLL and a18's GK, same
    //    witness pattern. maxItemsTracked (1000) exceeds the distinct
    //    count (50 quantities), so the sketch is provably exact here; the
    //    query verifies IN-QUERY that (a) every reported count equals the
    //    exact groupBy count and (b) every reported item's count reaches
    //    the k-th largest exact count (i.e. the result IS a valid top-k
    //    under ties — ordering among equal counts is sketch-internal, so
    //    the witness checks set validity, not order). Oracle pins the
    //    verdict row. Two scans are inherent to the witness; production
    //    uses the one-pass sketch alone. ──
    q("a19_approx_topk",
      """WITH e AS (SELECT CAST(l_quantity AS BIGINT) AS q, count(*) AS ecnt
        |  FROM lineitem GROUP BY 1),
        |kth AS (SELECT min(ecnt) AS kth FROM (
        |  SELECT ecnt FROM e ORDER BY ecnt DESC LIMIT 10))
        |SELECT 10 AS n_items, TRUE AS counts_exact, TRUE AS valid_topk""".stripMargin) { (s, dir) =>
      val li = Td.table(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("q"))
      val approx = li.agg(expr("approx_top_k(q, 10, 1000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("q"), col("e.count").as("acnt"))
      val exact = li.groupBy("q").agg(count(lit(1)).as("ecnt"))
      val kth = exact.orderBy(col("ecnt").desc).limit(10)
        .agg(min(col("ecnt")).as("kth"))
      approx.join(exact, "q")
        .crossJoin(broadcast(kth))
        .agg(count(lit(1)).cast("int").as("n_items"),
          min(col("acnt") === col("ecnt")).as("counts_exact"),
          min(col("acnt") >= col("kth")).as("valid_topk"))
    },

    // ── pivot (wide per-key event-type counts) — Catalyst rewrites the
    //    explicit value list into one pass of conditional aggregates,
    //    exactly the oracle's CASE-sum formulation. ──
    q("a13_pivot",
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase"))
        .count()
        .na.fill(0L, Seq("view", "click", "purchase"))
    },

    // ── gap-based sessionization (event-pipeline staple): 30-min idle gap
    //    splits a user's stream; per-session row/value rollup. One shuffle
    //    on user_id serves the lag flag, the running count, and the
    //    session aggregation. ──
    q("e1_sessionize",
      s"""WITH flags AS (
         |  SELECT user_id, ts, event_id, value,
         |    CASE WHEN floor(epoch(CAST(ts AS TIMESTAMP)))
         |           - floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)) > 1800
         |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |sess AS (
         |  SELECT user_id, value,
         |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS session_n
         |  FROM flags)
         |SELECT user_id || '#' || CAST(session_n AS VARCHAR) AS session_id,
         |  count(*) AS n_events, ${O.qsumd("value", 2)} AS session_value
         |FROM sess GROUP BY 1""".stripMargin) { (s, dir) =>
      TimeOps.sessionize(Td.table(s, dir, "events"),
          "user_id", "ts", gapMinutes = 30, orderTieBreak = Seq(col("event_id")))
        .groupBy("session_id")
        .agg(count(lit(1)).as("n_events"),
          Det.qsumd(col("value"), 2).as("session_value"))
    },

    // ── engine SQL surface over the registered catalog (S12 + §3.2): the
    //    same plan authored as spark.sql text instead of DataFrame calls ──
    q("sql1_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(l_quantity) AS sum_qty,
         |  ${O.qsumd("l_extendedprice * (1.0 - l_discount)", 2)} AS disc_price
         |FROM lineitem
         |WHERE l_shipdate < TIMESTAMP '1998-09-01'
         |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  sum(l_quantity) AS sum_qty,
          |  CAST(sum(CAST(floor((l_extendedprice * (1.0 - l_discount)) * 1E2 + 0.5) AS BIGINT)) AS DOUBLE) / 1E2
          |    AS disc_price
          |FROM lineitem
          |WHERE l_shipdate < TIMESTAMP '1998-09-01'
          |GROUP BY 1, 2""".stripMargin)
    },

    // ── TPC-H Q3 (shipping priority) adapted: selective dim filter +
    //    two fact joins + top-10 by grouped revenue. ──
    q("sql2_shipping_priority", sql2Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql2Text)
    },

    // ── TPC-H Q5 (local supplier volume) adapted: six-way join with the
    //    s_nationkey = c_nationkey constraint — Catalyst join-reorder
    //    territory from bare portable SQL. ──
    q("sql5_local_supplier_volume", sql5Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql5Text)
    },

    // ── TPC-H Q18 (large-volume customer) adapted: the agg-subquery
    //    membership shape — the IN over a grouped HAVING plans as a
    //    left-semi join against the aggregated fact, so lineitem is
    //    scanned twice by construction (once to find big orders, once
    //    for their detail). sum(l_quantity) sums integral doubles, so
    //    it is exact under any partial-agg order in both engines. ──
    q("sql18_large_volume_customer", sql18Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql18Text)
    },

    // ── TPC-H Q13 (customer distribution) adapted: histogram-of-counts —
    //    a filtered LEFT join (the filter lives in the ON clause, so
    //    orderless and all-filtered customers still count at 0) under two
    //    stacked aggregations. The same shape profiles dup-cluster sizes
    //    or docs-per-domain in the curation tier. ──
    q("sql13_customer_distribution", sql13Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql13Text)
    },

    // ── TPC-H Q4 (order priority checking) adapted: correlated EXISTS —
    //    plans as a left-semi join, so the outer count is immune to the
    //    1:N lineitem fan-out an inner join would inflate. ──
    q("sql4_order_priority", sql4Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql4Text)
    },

    // ── TPC-H Q16 (parts/supplier relationship) adapted: NOT IN over a
    //    subquery is a NULL-AWARE anti join (one NULL in the subquery
    //    legally empties the result — semantics NOT EXISTS doesn't have);
    //    Spark plans it as BroadcastHashJoin LeftAnti isNullAware when the
    //    subquery side is broadcastable, which a key-list pruning subquery
    //    at 100 TB always is. ──
    q("sql16_supplier_parts", sql16Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql16Text)
    },

    // ── TPC-H Q22 (global sales opportunity) adapted: scalar aggregate
    //    threshold + NOT EXISTS anti join ("rich but recently inactive").
    //    avg comparison cross-multiplied into exact integer cents — the
    //    only float is the final /1E2 display cast of an exact sum. ──
    q("sql22_idle_customers", sql22Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql22Text)
    },

    // ── TPC-H Q2's signature shape adapted: correlated scalar-min
    //    subquery as an equality predicate — Spark de-correlates to a
    //    per-key aggregate + join rather than re-running the inner
    //    aggregate per outer row. ──
    q("sqlq2_correlated_min", sqlQ2Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sqlQ2Text)
    },

    // ── F1/F2/F8/F9/F11: datetime scalar pack ──
    q("f_datetime_pack",
      s"""SELECT event_id,
         |  strftime(CAST(ts AS TIMESTAMP), '%H') AS hh,
         |  ${O.iso(O.hourTrunc("ts"))} AS hour_ts,
         |  ${O.iso(O.bucketFloor("ts", 10))} AS bucket10,
         |  ${O.isoDay("ts")} AS day
         |FROM events""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events").select(
        col("event_id"),
        TimeOps.hourOfDay(col("ts")).as("hh"),
        Det.iso(date_trunc("hour", col("ts"))).as("hour_ts"),
        Det.iso(TimeOps.bucketFloor(col("ts"), 10)).as("bucket10"),
        Det.isoDay(col("ts")).as("day"))
    },

    // ── F3/F4/F5/F6/F14/F15/F17: math scalar pack ──
    q("f_math_pack",
      """SELECT l_orderkey, l_linenumber,
        |  round(100.0 * l_discount, 1) AS disc_pct,
        |  coalesce(nullif(l_tax, 0.0), -1.0) AS tax_or_default,
        |  CAST(floor(abs(l_quantity - 25.0)) AS INT) AS absq,
        |  least(greatest(l_quantity, 10.0), 40.0) AS clipped,
        |  100.0 * l_extendedprice / l_quantity AS unit_price_x100
        |FROM lineitem""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(lit(100.0) * col("l_discount"), 1).as("disc_pct"),
        coalesce(nullif(col("l_tax"), lit(0.0)), lit(-1.0)).as("tax_or_default"),
        floor(abs(col("l_quantity") - 25.0)).cast("int").as("absq"),
        least(greatest(col("l_quantity"), lit(10.0)), lit(40.0)).as("clipped"),
        (lit(100.0) * col("l_extendedprice") / col("l_quantity")).as("unit_price_x100"))
    },

    // ── F13/F18: string/array scalar pack (array_join, coalesce chain) ──
    q("f_string_array_pack",
      """SELECT doc_id,
        |  array_to_string(list_slice(string_split(text, ' '), 1, 5), ',') AS first5,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  coalesce(nullif(lang, ''), source) AS lang_or_src,
        |  upper(substr(text, 1, 10)) AS head10
        |FROM documents""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "documents").select(
        col("doc_id"),
        array_join(slice(split(col("text"), " ", -1), 1, 5), ",").as("first5"),
        size(split(col("text"), " ", -1)).as("n_tokens"),
        coalesce(nullif(col("lang"), lit("")), col("source")).as("lang_or_src"),
        upper(substring(col("text"), 1, 10)).as("head10"))
    },

    // ── higher-order array functions over the embedding column —
    //    transform / aggregate / filter / exists / zip_with / array_sort,
    //    all codegen-capable scan-stage expressions (no UDF, no shuffle).
    //    Arithmetic runs on the shared integer quantization
    //    (Similarity.quantize ↔ round(CAST(x AS DOUBLE)*1000)) so the
    //    folds are exact in both engines regardless of fold order. ──
    q("f_hof_pack",
      """WITH qe AS (SELECT vec_id, embedding,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sq_norm_q,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  len(list_filter(embedding, x -> x > 0.25)) > 0 AS has_big,
        |  CAST(list_dot_product(CAST(q AS DOUBLE[]),
        |    CAST(list_reverse(q) AS DOUBLE[])) AS BIGINT) AS dot_rev_q,
        |  array_to_string(list_slice(list_sort(q), 1, 3), ',') AS small3
        |FROM qe""".stripMargin) { (s, dir) =>
      val q = Similarity.quantize(col("embedding"))
      Td.table(s, dir, "embeddings").select(
        col("vec_id"),
        aggregate(q, lit(0L), (acc, x) => acc + x * x).as("sq_norm_q"),
        size(filter(col("embedding"), x => x > lit(0))).as("n_pos"),
        exists(col("embedding"), x => x > lit(0.25)).as("has_big"),
        Similarity.qdot(q, reverse(q)).as("dot_rev_q"),
        array_join(slice(array_sort(q), 1, 3), ",").as("small3"))
    },

    // ── map-typed columns: construct / lookup / keys / values / concat.
    //    Output scalars only — engines disagree on map VALUE rendering
    //    but agree on lookups (DuckDB map extraction returns a list,
    //    unwrapped with [1]; a missing key gives [] → NULL, matching
    //    Spark's element_at null). ──
    q("f_map_pack",
      """SELECT doc_id,
        |  m['lang'][1] AS v_lang,
        |  m['nope'][1] AS v_missing,
        |  CAST(cardinality(m) AS INT) AS n_entries,
        |  array_to_string(map_keys(m), ',') AS ks,
        |  array_to_string(map_values(m), ',') AS vs
        |FROM (SELECT doc_id,
        |    map(['lang', 'source'], [lang, source]) AS m
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val m = map_from_arrays(
        array(lit("lang"), lit("source")), array(col("lang"), col("source")))
      Td.table(s, dir, "documents").select(
        col("doc_id"),
        element_at(m, "lang").as("v_lang"),
        element_at(m, "nope").as("v_missing"),
        size(m).as("n_entries"),
        array_join(map_keys(m), ",").as("ks"),
        array_join(map_values(m), ",").as("vs"))
    },

    // ── semi-structured columns through Spark 4's VARIANT type: build a
    //    nested JSON document in-query (engine-rendered, so both engines
    //    extract from identical text), parse once, extract typed paths.
    //    Output scalars only — variant rendering differs across engines;
    //    typed path extraction does not. At 100 TB this is the
    //    parse-once / shred-lazily pattern for logs with drifting
    //    schemas. ──
    q("f_variant_pack",
      """SELECT doc_id,
        |  CAST(json_extract(j, '$.a') AS INT) AS a_int,
        |  json_extract_string(j, '$.s.lang') AS lang_s,
        |  json_extract_string(j, '$.nope') AS missing
        |FROM (SELECT doc_id,
        |    to_json(struct_pack(a := n_chars, s := struct_pack(lang := lang))) AS j
        |  FROM documents)""".stripMargin) { (s, dir) =>
      val j = to_json(struct(
        col("n_chars").as("a"), struct(col("lang").as("lang")).as("s")))
      val v = parse_json(j)
      Td.table(s, dir, "documents").select(
        col("doc_id"),
        variant_get(v, "$.a", "int").as("a_int"),
        variant_get(v, "$.s.lang", "string").as("lang_s"),
        variant_get(v, "$.nope", "string").as("missing"))
    },

    // ── error-safe scalar functions (try_*): malformed input → NULL row,
    //    never a failed 100 TB job three hours in. Half the casts are
    //    constructed to fail (odd doc_ids feed text where a number is
    //    expected). ──
    q("f_try_pack",
      """SELECT doc_id,
        |  TRY_CAST(CASE WHEN doc_id % 2 = 0
        |    THEN CAST(n_chars AS VARCHAR) ELSE text END AS INT) AS maybe_n,
        |  CAST(n_chars AS DOUBLE) / NULLIF(CAST(doc_id % 3 AS DOUBLE), 0)
        |    AS maybe_div,
        |  TRY_CAST(lang AS INT) AS lang_as_int
        |FROM documents""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 2 === 0, col("n_chars").cast("string"))
          .otherwise(col("text")).try_cast("int").as("maybe_n"),
        try_divide(col("n_chars").cast("double"), (col("doc_id") % 3).cast("double"))
          .as("maybe_div"),
        col("lang").try_cast("int").as("lang_as_int"))
    },

    // ── F12: JSON round-trip (from_json with explicit schema + to_json) ──
    q("f_json_roundtrip",
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k,
        |  '{"k":' || regexp_extract(props, '"k": ([0-9]+)', 1) || '}' AS j_str
        |FROM events""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .withColumn("j", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("j.k").as("k"),
          to_json(struct(col("j.k").as("k"))).as("j_str"))
    },

    // ── §2.9: MERGE-style upsert (union + window-dedup), oracle expressed as
    //    the equivalent key-precedence UNION (reference etl_gbfs.py:74-95) ──
    q("m1_upsert_merge",
      """SELECT o_orderkey, o_totalprice * 2 AS price FROM orders WHERE o_orderkey % 10 >= 5
        |UNION ALL
        |SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_orderkey % 10 < 5""".stripMargin) { (s, dir) =>
      val o = Td.table(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice").as("price"))
      val old = o.filter(col("o_orderkey") % 10 < 8)
      val fresh = o.filter(col("o_orderkey") % 10 >= 5).withColumn("price", col("price") * 2)
      Upsert.merge(old, fresh, Seq("o_orderkey"))
    },

    // ── SCD Type-2 dimension history: collapse the per-user event-type
    //    change stream into validity intervals (valid_from/valid_to/
    //    is_current) — the warehouse answer to "what was the value LAST
    //    month?" that the reference's upsert-overwrite model loses. Lag
    //    (change detection) and lead (interval close) stack over ONE user
    //    exchange; a lagged constant distinguishes "first row" from
    //    "previous value was null". ──
    q("m2_scd2_history",
      """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type, lag(event_type) OVER w AS prev, lag(1) OVER w AS has_prev
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (SELECT user_id, event_type, ts AS valid_from, event_id FROM s
        |  WHERE has_prev IS NULL OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)""".stripMargin) { (s, dir) =>
      Upsert.scd2(Td.table(s, dir, "events"),
        "user_id", "ts", "event_type", tieCol = "event_id")
    },

    // ── TPC-H Q7 shape (volume shipping): symmetric nation-pair predicate
    //    over a 4-dim star join — both nation lookups broadcast, the OR'd
    //    pair filter prunes at the dim side, revenue in exact integer
    //    cents. Identical SQL text both engines. ──
    q("sql7_volume_shipping", sql7Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql7Text)
    },

    // ── TPC-H Q11 shape (important stock): per-part value with a
    //    global-scalar HAVING threshold — the total rides the plan as a
    //    1-row cross join and the comparison cross-multiplies into exact
    //    integers (value > 0.1% of total ⟺ v*1000 > t). ──
    q("sql11_important_parts", sql11Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql11Text)
    },

    // ── TPC-H Q6 (forecasting revenue change): the canonical
    //    pushdown-showcase — every predicate and both referenced columns
    //    reach the parquet scan, the agg is a 1-row partial/final pair.
    //    At 100 TB this query is pure scan bandwidth. ──
    q("sql6_revenue_change", sql6Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql6Text)
    },

    // ── TPC-H Q8 (national market share): the widest star in the suite —
    //    an 8-relation join where every dim (part, supplier, customer,
    //    nation x2, region) broadcasts and the fact chain
    //    lineitem→orders shuffles once on the order key. The share
    //    division runs over exact integer cents. ──
    q("sql8_market_share", sql8Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql8Text)
    },

    // ── TPC-H Q9 (product-type profit) adapted: no partsupp table, so
    //    profit = revenue; the signature stays — a LIKE-filtered part dim
    //    pruning a 5-way join, grouped by supplier nation x order year. ──
    q("sql9_product_profit", sql9Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql9Text)
    },

    // ── TPC-H Q10 (returned items): quarter of orders x returnflag='R'
    //    fact restriction, customer/nation dims broadcast, top-20 by
    //    grouped revenue via TakeOrderedAndProject (c_custkey tiebreak
    //    pins ties). ──
    q("sql10_returned_items", sql10Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql10Text)
    },

    // ── TPC-H Q12 (shipping modes) adapted: no l_shipmode/receiptdate
    //    columns, so "late" = shipped after the order date; the signature
    //    CASE-sum pair over a priority split survives intact. ──
    q("sql12_late_lines", sql12Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql12Text)
    },

    // ── TPC-H Q14 (promo effect): conditional share-of-total in one
    //    aggregation pass — two exact-cents sums, one float division at
    //    the end. ──
    q("sql14_promo_effect", sql14Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql14Text)
    },

    // ── TPC-H Q15 (top supplier): CTE referenced twice (join side +
    //    scalar max) — Spark inlines both uses, so lineitem is scanned
    //    twice by construction; the max comparison is on exact integer
    //    cents, so "the" top supplier is well-defined without a float
    //    ULP hazard. ──
    q("sql15_top_supplier", sql15Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql15Text)
    },

    // ── TPC-H Q17 (small-quantity revenue): correlated aggregate
    //    threshold per part. The avg comparison is cross-multiplied into
    //    two correlated scalars (qty*5*count < sum) so no float mean
    //    exists; Spark de-correlates both into one aggregate + join over
    //    the part key. ──
    q("sql17_small_qty_revenue", sql17Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql17Text)
    },

    // ── TPC-H Q19 (discounted revenue): disjunction of conjunctions
    //    across both join sides — the planner must keep the p_partkey
    //    equi-key out of the OR (hash join + post-join filter), not fall
    //    back to a nested-loop over the cross space. ──
    q("sql19_disjunctive_revenue", sql19Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql19Text)
    },

    // ── TPC-H Q20 (promotion suppliers) adapted: no partsupp, so the
    //    availability check becomes a shipped-quantity HAVING over the
    //    promo-part join; the signature nested IN-over-aggregate →
    //    left-semi join survives. ──
    q("sql20_promo_suppliers", sql20Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql20Text)
    },

    // ── TPC-H Q21 (waiting suppliers) adapted: no commit/receipt dates,
    //    so "at fault" = sole supplier with a returned line on a finished
    //    multi-supplier order. The signature survives exactly: correlated
    //    EXISTS + NOT EXISTS self-joins on the fact with a non-equi
    //    (suppkey <>) correlated conjunct — the hardest decorrelation in
    //    the suite. ──
    q("sql21_waiting_suppliers", sql21Text) { (s, dir) =>
      Td.registerAll(s, dir)
      s.sql(sql21Text)
    },

    // ── pivot round-trip via the stack() GENERATOR: a13's wide per-type
    //    counts folded back to long (event_type, n) rows. Complements
    //    a20_unpivot, which pins the Dataset.unpivot/Expand path — stack()
    //    is the SQL-surface generator form (plans as Generate, fuses into
    //    the pivot's output stage, no extra shuffle), and the oracle shows
    //    the round-trip equals the direct conditional aggregation. ──
    q("a26_unpivot",
      """WITH p AS (SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
        |FROM events GROUP BY 1)
        |SELECT user_id, 'view' AS event_type, view AS n FROM p
        |UNION ALL SELECT user_id, 'click', click FROM p
        |UNION ALL SELECT user_id, 'purchase', purchase FROM p""".stripMargin) { (s, dir) =>
      Td.table(s, dir, "events")
        .groupBy("user_id").pivot("event_type", Seq("view", "click", "purchase"))
        .count()
        .na.fill(0L, Seq("view", "click", "purchase"))
        .select(col("user_id"),
          expr("stack(3, 'view', view, 'click', click, 'purchase', purchase)" +
            " AS (event_type, n)"))
    },

    // ── longest consecutive-day streak per user (gaps-and-islands): the
    //    run key is d - row_number() — consecutive days share it. The
    //    distinct, the run window, the run rollup, and the best-run pick
    //    all ride user-keyed exchanges; nothing is data-sized beyond the
    //    per-user day list. Ties (equal-length runs) resolve to the
    //    earliest start in both engines. ──
    q("w7_streak",
      """WITH days AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |g AS (SELECT user_id, d, d - CAST(row_number() OVER (
        |    PARTITION BY user_id ORDER BY d) AS INT) AS grp FROM days),
        |st AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_days,
        |    min(d) AS streak_start, max(d) AS streak_end FROM g GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY streak_days DESC, streak_start) AS rk FROM st)
        |SELECT user_id, streak_days, streak_start, streak_end
        |FROM r WHERE rk = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val days = Td.table(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val runs = days.withColumn("grp",
        expr("date_sub(d, row_number() OVER (PARTITION BY user_id ORDER BY d))"))
      runs.groupBy("user_id", "grp")
        .agg(count(lit(1)).as("streak_days"),
          min("d").as("streak_start"), max("d").as("streak_end"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("streak_days").desc, col("streak_start"))))
        .filter(col("rk") === 1)
        .select("user_id", "streak_days", "streak_start", "streak_end")
    },

    // ── equi-width histogram: 20 data-driven bins over [min, max]. The
    //    bounds ride the plan as a 1-row broadcast cross join (a11's
    //    pattern — no driver round-trip), so the whole query is two scans
    //    + one tiny agg; the binning arithmetic is written in the IDENTICAL
    //    left-assoc op order in both engines, so the IEEE doubles (and
    //    therefore floor) agree bit-for-bit. x = max lands in bin 19 via
    //    least(). ──
    q("a24_histogram",
      """WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |  FROM lineitem)
        |SELECT least(CAST(floor((l_extendedprice - lo) / (hi - lo) * 20) AS BIGINT),
        |    19) AS bucket, count(*) AS n
        |FROM lineitem, b GROUP BY 1""".stripMargin) { (s, dir) =>
      val li = Td.table(s, dir, "lineitem").select(col("l_extendedprice").as("x"))
      val bounds = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      li.crossJoin(broadcast(bounds))
        .select(least(
          floor((col("x") - col("lo")) / (col("hi") - col("lo")) * 20)
            .cast("long"),
          lit(19L)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    },

    // ── per-key hourly gap-fill/resample with forward fill (time-series
    //    staple the snapshot-append model needs for regular-grid charts).
    //    Oracle forward-fills engine-portably via the fill-group trick
    //    (count of non-nulls so far → max per group) — semantically
    //    identical to Spark's last(ignoreNulls); values are CARRIED, never
    //    recomputed, so equality is exact. ──
    q("w6_gap_fill",
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
        |  FROM events),
        |obs AS (SELECT user_id, hour, value FROM (
        |  SELECT user_id, date_trunc('hour', ts) AS hour, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1),
        |spine AS (SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', mn), date_trunc('hour', mx),
        |      INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM ev GROUP BY 1)),
        |j AS (SELECT s.user_id, s.hour, o.value,
        |    o.value IS NOT NULL AS is_observed
        |  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.hour = o.hour),
        |g AS (SELECT *, count(value) OVER (PARTITION BY user_id ORDER BY hour
        |    ROWS UNBOUNDED PRECEDING) AS grp FROM j)
        |SELECT user_id, hour,
        |  max(value) OVER (PARTITION BY user_id, grp) AS value, is_observed
        |FROM g""".stripMargin) { (s, dir) =>
      EventOps.gapFillHourly(Td.table(s, dir, "events"),
        "user_id", "ts", "value", tieCol = "event_id")
    },

    // ── strict-order funnel conversion (view → click-after-view →
    //    purchase-after-that-click): the ordering constraint is the whole
    //    point — a13's pivot counts co-occurrence, this counts causally
    //    ordered progress. Three conditional-min windows stack over ONE
    //    user exchange; the per-user collapse reuses it. ──
    q("e2_funnel",
      """SELECT user_id, CAST(CASE WHEN min(fp) IS NOT NULL THEN 3
        |    WHEN min(fc) IS NOT NULL THEN 2
        |    WHEN min(fv) IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
        |  min(fv) AS first_view, min(fc) AS first_click,
        |  min(fp) AS first_purchase
        |FROM (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > fc
        |      THEN ts END) OVER (PARTITION BY user_id) AS fp
        |  FROM (SELECT *, min(CASE WHEN event_type = 'click' AND ts > fv
        |        THEN ts END) OVER (PARTITION BY user_id) AS fc
        |    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |        min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
        |          OVER (PARTITION BY user_id) AS fv
        |      FROM events)))
        |GROUP BY user_id""".stripMargin) { (s, dir) =>
      EventOps.funnelStages(Td.table(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    },

    // ── conversion-WINDOW funnel (the product-analytics semantic e2's
    //    unbounded cascade lacks): each stage counts only within 1 hour
    //    of the previous stage's first occurrence — a purchase a week
    //    after the click no longer converts. First-touch anchoring
    //    (deterministic, no re-anchoring), exact integer-microsecond
    //    interval arithmetic on both engines; same one-key-exchange
    //    cascade shape as e2. ──
    q("e9_windowed_funnel",
      """SELECT user_id, CAST(CASE WHEN min(fp) IS NOT NULL THEN 3
        |    WHEN min(fc) IS NOT NULL THEN 2
        |    WHEN min(fv) IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
        |  min(fv) AS first_view, min(fc) AS first_click,
        |  min(fp) AS first_purchase
        |FROM (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > fc
        |      AND ts <= fc + INTERVAL 3600 SECOND
        |      THEN ts END) OVER (PARTITION BY user_id) AS fp
        |  FROM (SELECT *, min(CASE WHEN event_type = 'click' AND ts > fv
        |        AND ts <= fv + INTERVAL 3600 SECOND
        |        THEN ts END) OVER (PARTITION BY user_id) AS fc
        |    FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |        min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END)
        |          OVER (PARTITION BY user_id) AS fv
        |      FROM events)))
        |GROUP BY user_id""".stripMargin) { (s, dir) =>
      EventOps.windowedFunnelStages(Td.table(s, dir, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapSec = 3600L)
    },

    // ── weekly cohort retention: cohort = Monday-truncated week of first
    //    event; offset = exact 7-day periods since the first event (integer
    //    microsecond div — calendar-free, so both engines bucket
    //    identically). One user-key window shuffle + one (cohort, offset)
    //    exact-distinct agg whose cardinality is weeks², never data-sized. ──
    q("e3_cohort",
      """SELECT CAST(date_trunc('week', fts) AS TIMESTAMP) AS cohort_week,
        |  (epoch_us(ts) - epoch_us(fts)) // 604800000000 AS week_offset,
        |  count(DISTINCT user_id) AS active_users
        |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    min(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id) AS fts
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      EventOps.cohortRetention(Td.table(s, dir, "events"), "user_id", "ts")
    },

    // ── first-order Markov transition matrix over per-user event streams:
    //    the behavioral fingerprint (what follows what, with probability)
    //    behind funnel drop-off and anomaly detection. lead() per user
    //    (one user-keyed window shuffle), count per (cur, nxt), and the
    //    per-source normalizer via a window over the O(|types|²) count
    //    table — probabilities as exact integer ppm (n·1e6 DIV Σn), so no
    //    float division diverges. ──
    q("e4_markov_transitions",
      """WITH p AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n FROM p
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY cur) AS BIGINT)
        |    AS p_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val counts = Td.table(s, dir, "events")
        .select(col("event_type").as("cur"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
      counts.withColumn("p_ppm",
        expr("n * 1000000 DIV sum(n) OVER (PARTITION BY cur)"))
    },

    // ── reset-on-event running total: per user, cumulative value that
    //    restarts after each 'purchase' (cart-style accumulation). The
    //    classic two-window composition over ONE user-keyed exchange:
    //    epoch = running count of preceding resets, then a running sum
    //    within (user, epoch) — Spark reuses the exchange because both
    //    windows share the partition prefix. Values quantized to integer
    //    cents BEFORE summing, so the running total is exact under any
    //    engine's arithmetic. ──
    q("w8_reset_cumsum",
      """SELECT event_id, user_id, epoch,
        |  CAST(sum(vc) OVER (PARTITION BY user_id, epoch
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS run_cents
        |FROM (SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS epoch
        |  FROM events)""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val order = Seq(col("ts"), col("event_id"))
      val wEpoch = Window.partitionBy("user_id").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = Td.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"),
          coalesce(sum(when(col("event_type") === "purchase", 1L)).over(wEpoch),
            lit(0L)).as("epoch"))
      val wRun = Window.partitionBy("user_id", "epoch").orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.select(col("event_id"), col("user_id"), col("epoch"),
        sum(col("vc")).over(wRun).cast("long").as("run_cents"))
    },

    // ── Deequ-style data-quality constraint suite: completeness,
    //    uniqueness, value-range, referential integrity, and freshness
    //    over orders, each as (constraint, metric, pass). ONE orders scan:
    //    the FK check rides a broadcast left join with the customer key
    //    set, every other metric folds into the same 1-row aggregate,
    //    and stack() pivots the row into the constraint table. The shape
    //    that matters at 100 TB: N constraints must not mean N scans. ──
    q("dq1_constraint_suite",
      """WITH j AS (SELECT o.*, c.c_custkey AS ck
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |m AS (SELECT count(*) AS n,
        |    sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS nn,
        |    count(DISTINCT o_orderkey) AS nd,
        |    sum(CASE WHEN o_totalprice > 0 AND o_totalprice <= 1000000 THEN 1 ELSE 0 END) AS nr,
        |    sum(CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END) AS nf,
        |    CAST(strftime(max(o_orderdate), '%Y%m%d') AS BIGINT) AS fresh
        |  FROM j)
        |SELECT 'completeness_custkey' AS con, CAST(nn * 1000000 // n AS BIGINT) AS metric,
        |  nn = n AS pass FROM m
        |UNION ALL SELECT 'uniqueness_orderkey', CAST(nd * 1000000 // n AS BIGINT), nd = n FROM m
        |UNION ALL SELECT 'range_totalprice', CAST(nr * 1000000 // n AS BIGINT), nr = n FROM m
        |UNION ALL SELECT 'fk_orders_customer', CAST(nf * 1000000 // n AS BIGINT), nf = n FROM m
        |UNION ALL SELECT 'freshness_orderdate', fresh, fresh >= 19980101 FROM m""".stripMargin) { (s, dir) =>
      val o = Td.table(s, dir, "orders")
      val c = Td.table(s, dir, "customer").select(col("c_custkey").as("ck")).distinct()
      val m = o.join(broadcast(c), col("o_custkey") === col("ck"), "left")
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("nn"),
          count_distinct(col("o_orderkey")).as("nd"),
          sum(when(col("o_totalprice") > 0 && col("o_totalprice") <= 1000000, 1L)
            .otherwise(0L)).as("nr"),
          sum(when(col("ck").isNotNull, 1L).otherwise(0L)).as("nf"),
          date_format(max(col("o_orderdate")), "yyyyMMdd").cast("long").as("fresh"))
      m.select(expr(
        """stack(5,
          |  'completeness_custkey', nn * 1000000 DIV n, nn = n,
          |  'uniqueness_orderkey', nd * 1000000 DIV n, nd = n,
          |  'range_totalprice', nr * 1000000 DIV n, nr = n,
          |  'fk_orders_customer', nf * 1000000 DIV n, nf = n,
          |  'freshness_orderdate', fresh, fresh >= 19980101
          |) AS (con, metric, pass)""".stripMargin))
    },

    // ── whole-star referential-integrity audit: orphan counts for ALL
    //    seven FK edges of the schema, ONE scan per child table with its
    //    FK left-joins folded into a single aggregate (lineitem's three
    //    edges cost one lineitem pass, not three). Parents join as
    //    deduplicated key sets; NULL child keys are completeness (dq1),
    //    not RI, matching SQL FK semantics. A consistent warehouse
    //    answers all-zero — the audit's value is the load where it
    //    doesn't (planted-orphan detection pinned in IntegritySpec). ──
    q("dq4_referential_integrity",
      """WITH li AS (SELECT count(*) AS n,
        |    sum(CASE WHEN l_orderkey IS NOT NULL AND o.k IS NULL THEN 1 ELSE 0 END) AS orph0,
        |    sum(CASE WHEN l_partkey IS NOT NULL AND p.k IS NULL THEN 1 ELSE 0 END) AS orph1,
        |    sum(CASE WHEN l_suppkey IS NOT NULL AND s.k IS NULL THEN 1 ELSE 0 END) AS orph2
        |  FROM lineitem
        |  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) o ON l_orderkey = o.k
        |  LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p ON l_partkey = p.k
        |  LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) s ON l_suppkey = s.k),
        |oc AS (SELECT count(*) AS n,
        |    sum(CASE WHEN o_custkey IS NOT NULL AND c.k IS NULL THEN 1 ELSE 0 END) AS orph0
        |  FROM orders
        |  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) c ON o_custkey = c.k),
        |cn AS (SELECT count(*) AS n,
        |    sum(CASE WHEN c_nationkey IS NOT NULL AND nk.k IS NULL THEN 1 ELSE 0 END) AS orph0
        |  FROM customer
        |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) nk ON c_nationkey = nk.k),
        |sn AS (SELECT count(*) AS n,
        |    sum(CASE WHEN s_nationkey IS NOT NULL AND nk.k IS NULL THEN 1 ELSE 0 END) AS orph0
        |  FROM supplier
        |  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) nk ON s_nationkey = nk.k),
        |nr AS (SELECT count(*) AS n,
        |    sum(CASE WHEN n_regionkey IS NOT NULL AND rk.k IS NULL THEN 1 ELSE 0 END) AS orph0
        |  FROM nation
        |  LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) rk ON n_regionkey = rk.k),
        |st AS (
        |  SELECT 'lineitem->orders' AS fk, n, orph0 AS orph FROM li
        |  UNION ALL SELECT 'lineitem->part', n, orph1 FROM li
        |  UNION ALL SELECT 'lineitem->supplier', n, orph2 FROM li
        |  UNION ALL SELECT 'orders->customer', n, orph0 FROM oc
        |  UNION ALL SELECT 'customer->nation', n, orph0 FROM cn
        |  UNION ALL SELECT 'supplier->nation', n, orph0 FROM sn
        |  UNION ALL SELECT 'nation->region', n, orph0 FROM nr)
        |SELECT fk, CAST(n AS BIGINT) AS n_rows, CAST(orph AS BIGINT) AS n_orphans,
        |  CAST(orph * 1000000 // greatest(n, 1) AS BIGINT) AS orphan_ppm, orph = 0 AS pass
        |FROM st""".stripMargin) { (s, dir) =>
      def t(name: String) = Td.table(s, dir, name)
      Integrity.fkAudit(t("lineitem"), Seq(
          ("l_orderkey", t("orders"), "o_orderkey", "lineitem->orders"),
          ("l_partkey", t("part"), "p_partkey", "lineitem->part"),
          ("l_suppkey", t("supplier"), "s_suppkey", "lineitem->supplier")))
        .unionByName(Integrity.fkAudit(t("orders"),
          Seq(("o_custkey", t("customer"), "c_custkey", "orders->customer"))))
        .unionByName(Integrity.fkAudit(t("customer"),
          Seq(("c_nationkey", t("nation"), "n_nationkey", "customer->nation"))))
        .unionByName(Integrity.fkAudit(t("supplier"),
          Seq(("s_nationkey", t("nation"), "n_nationkey", "supplier->nation"))))
        .unionByName(Integrity.fkAudit(t("nation"),
          Seq(("n_regionkey", t("region"), "r_regionkey", "nation->region"))))
    },

    // ── KMV (k-minimum-values) distinct sketch with SET-EXPRESSION
    //    estimates: per event_type keep the k=256 smallest md5 hashes of
    //    user_id (one group-limit window over a type-keyed exchange — the
    //    sketch is k rows per group REGARDLESS of stream size), then
    //    estimate pairwise distinct-user INTERSECTIONS from merged
    //    sketches — the "users who did A and B" family that exact
    //    COUNT(DISTINCT) re-shuffles the full stream per pair to answer.
    //    The sketch is DETERMINISTIC (md5 order), so unlike sampled
    //    sketches the oracle replays it exactly. union_est = floor(
    //    (k−1)·2^60 / kth) evaluated in IEEE doubles spelled identically
    //    on both engines (one multiply, one divide, one floor — correctly
    //    rounded everywhere); inter_est = n_both · union_est DIV k stays
    //    integer. Exact intersections ride beside the estimates (the a11
    //    pattern) — at 100 TB that exact leg is the cost the sketch
    //    avoids; everything downstream of `sk` is k·|groups| rows. ──
    q("a25_kmv_sketch",
      """WITH h AS (SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        |  FROM events),
        |sk AS (SELECT event_type, hv FROM (
        |    SELECT event_type, hv,
        |      row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |    FROM h) WHERE rn <= 256),
        |ty AS (SELECT DISTINCT event_type FROM sk),
        |p AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, a.hv, 1 AS in1, 0 AS in2
        |  FROM sk a JOIN ty b ON b.event_type > a.event_type
        |  UNION ALL
        |  SELECT a.event_type, b.event_type, b.hv, 0, 1
        |  FROM ty a JOIN sk b ON b.event_type > a.event_type),
        |mrg AS (SELECT t1, t2, hv, max(in1) AS in1, max(in2) AS in2
        |  FROM p GROUP BY 1, 2, 3),
        |rk AS (SELECT t1, t2, hv, in1, in2,
        |    row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn FROM mrg),
        |est AS (SELECT t1, t2, count(*) AS n_u, max(hv) AS kth,
        |    CAST(sum(in1 * in2) AS BIGINT) AS n_both
        |  FROM rk WHERE rn <= 256 GROUP BY 1, 2),
        |ex AS (SELECT a.event_type AS t1, b.event_type AS t2,
        |    count(*) AS exact_inter
        |  FROM h a JOIN h b ON b.event_type > a.event_type AND b.hv = a.hv
        |  GROUP BY 1, 2)
        |SELECT e.t1, e.t2, e.n_both,
        |  CAST(CASE WHEN e.n_u < 256 THEN e.n_u
        |    ELSE CAST(floor(255.0 * 1152921504606846976.0 / e.kth) AS BIGINT)
        |    END AS BIGINT) AS union_est,
        |  CAST(CASE WHEN e.n_u < 256 THEN e.n_both
        |    ELSE e.n_both * CAST(floor(255.0 * 1152921504606846976.0 / e.kth) AS BIGINT) // 256
        |    END AS BIGINT) AS inter_est,
        |  CAST(coalesce(x.exact_inter, 0) AS BIGINT) AS exact_inter
        |FROM est e LEFT JOIN ex x ON x.t1 = e.t1 AND x.t2 = e.t2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val k = 256
      val h = Td.table(s, dir, "events")
        .select(col("event_type"),
          graft.llm.Dedup.md5Hash60(col("user_id").cast("string")).as("hv"))
        .distinct()
      val sk = h
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy("hv")))
        .filter(col("rn") <= k).select("event_type", "hv")
      val ty = sk.select(col("event_type")).distinct()
      val p1 = sk.as("a")
        .join(broadcast(ty.select(col("event_type").as("t2"))),
          col("t2") > col("event_type"))
        .select(col("event_type").as("t1"), col("t2"), col("hv"),
          lit(1).as("in1"), lit(0).as("in2"))
      val p2 = sk.as("b")
        .join(broadcast(ty.select(col("event_type").as("t1"))),
          col("event_type") > col("t1"))
        .select(col("t1"), col("event_type").as("t2"), col("hv"),
          lit(0).as("in1"), lit(1).as("in2"))
      val mrg = p1.union(p2).groupBy("t1", "t2", "hv")
        .agg(max(col("in1")).as("in1"), max(col("in2")).as("in2"))
      val rk = mrg.withColumn("rn", row_number().over(
        Window.partitionBy("t1", "t2").orderBy("hv")))
      val est = rk.filter(col("rn") <= k).groupBy("t1", "t2")
        .agg(count(lit(1)).as("n_u"), max(col("hv")).as("kth"),
          sum(col("in1") * col("in2")).cast("long").as("n_both"))
        .withColumn("union_est",
          when(col("n_u") < k, col("n_u")).otherwise(
            floor(lit(255.0) * lit(1152921504606846976.0) / col("kth"))
              .cast("long")).cast("long"))
      val ex = h.as("x").join(h.as("y"),
          col("y.event_type") > col("x.event_type") && col("y.hv") === col("x.hv"))
        .groupBy(col("x.event_type").as("t1"), col("y.event_type").as("t2"))
        .agg(count(lit(1)).as("exact_inter"))
      // below the sketch capacity BOTH sketches are complete, so n_both IS
      // the exact intersection — only the full-sketch regime scales by
      // union_est/k
      est.join(ex, Seq("t1", "t2"), "left")
        .select(col("t1"), col("t2"), col("n_both"), col("union_est"),
          expr("CAST(CASE WHEN n_u < 256 THEN n_both" +
            " ELSE n_both * union_est DIV 256 END AS BIGINT)").as("inter_est"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
    },

    // ── lag-1 autocorrelation per user (time-series diagnostics: is a
    //    user's value stream trending/mean-reverting or noise?): Pearson r
    //    over consecutive (x_t, x_{t+1}) pairs. Values quantize to integer
    //    cents FIRST, all six sufficient statistics (n, Σx, Σy, Σxx, Σyy,
    //    Σxy) accumulate as exact BIGINTs (order-independent), and only
    //    the final r touches floats — via int64→double casts (exact below
    //    2^53; holds to ~millions of events/user at cent scale), one
    //    multiply, one correctly-rounded sqrt, one divide, one floor to
    //    micro-units: the identical IEEE sequence on both engines. One
    //    user-keyed exchange carries the lead window AND the rollup.
    //    Zero-variance or single-event users drop (r undefined). ──
    q("w10_autocorr",
      """WITH pr AS (SELECT user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
        |    lead(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS y
        |  FROM events),
        |s AS (SELECT user_id, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM pr WHERE y IS NOT NULL GROUP BY 1)
        |SELECT user_id, n AS n_pairs,
        |  CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)))
        |    AS BIGINT) AS r_micro
        |FROM s
        |WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val pr = Td.table(s, dir, "events")
        .select(col("user_id"), cents.as("x"),
          lead(cents, 1).over(
            Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))).as("y"))
        .filter(col("y").isNotNull)
      val st = pr.groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(col("y") * col("y")).cast("long").as("syy"),
        sum(col("x") * col("y")).cast("long").as("sxy"))
      val vx = col("n") * col("sxx") - col("sx") * col("sx")
      val vy = col("n") * col("syy") - col("sy") * col("sy")
      st.filter(vx > 0 && vy > 0)
        .select(col("user_id"), col("n").as("n_pairs"),
          floor(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / sqrt(vx.cast("double") * vy.cast("double"))).cast("long").as("r_micro"))
    },

    // ── robust outlier detection per group: EXACT lower median + MAD over
    //    integer cents, outlier when |x−med|·10⁴ > 44478·MAD (3σ via the
    //    1.4826 normal-consistency factor, scaled to stay integer). The
    //    skew-robust exact-median shape: corpus-scale work is ONE
    //    (group, value)-keyed histogram aggregate (map-side combine
    //    absorbs hot groups — the lt19 lesson); medians come from
    //    cumulative windows over HISTOGRAM rows (value cardinality, not
    //    stream size), so no single-reducer window ever sees raw rows.
    //    A hot group costs its distinct-value count, nothing more. ──
    q("a27_robust_outliers",
      """WITH hist AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |h1 AS (SELECT event_type, c, m,
        |    sum(m) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(m) OVER (PARTITION BY event_type) AS n FROM hist),
        |med AS (SELECT event_type, min(c) AS med, max(n) AS n
        |  FROM h1 WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |dh AS (SELECT h.event_type, abs(h.c - md.med) AS d, sum(h.m) AS m
        |  FROM hist h JOIN med md ON md.event_type = h.event_type GROUP BY 1, 2),
        |d1 AS (SELECT event_type, d, m,
        |    sum(m) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(m) OVER (PARTITION BY event_type) AS n FROM dh),
        |mad AS (SELECT event_type, min(d) AS mad
        |  FROM d1 WHERE cum >= (n + 1) // 2 GROUP BY 1)
        |SELECT md.event_type, CAST(md.n AS BIGINT) AS n,
        |  md.med AS med_cents, ma.mad AS mad_cents,
        |  CAST(sum(CASE WHEN dh.d * 10000 > 44478 * ma.mad THEN dh.m ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM med md
        |JOIN mad ma ON ma.event_type = md.event_type
        |JOIN dh ON dh.event_type = md.event_type
        |GROUP BY 1, 2, 3, 4""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wCum = (c: String) => Window.partitionBy("event_type").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val hist = Td.table(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .agg(count(lit(1)).as("m"))
      def lowerMedian(h: org.apache.spark.sql.DataFrame, v: String, out: String) =
        h.select(col("event_type"), col(v), col("m"),
            sum("m").over(wCum(v)).as("cum"), sum("m").over(wAll).as("n"))
          .filter(col("cum") >= expr("(n + 1) DIV 2"))
          .groupBy("event_type").agg(min(col(v)).as(out), max(col("n")).as("n"))
      val med = lowerMedian(hist, "c", "med")
      val devHist = hist
        .join(broadcast(med.select("event_type", "med")), Seq("event_type"))
        .groupBy(col("event_type"), abs(col("c") - col("med")).as("d"))
        .agg(sum("m").as("m"))
      val mad = lowerMedian(devHist, "d", "mad").drop("n")
      med.join(mad, Seq("event_type"))
        .join(devHist, Seq("event_type"))
        .groupBy(col("event_type"), col("n"),
          col("med").as("med_cents"), col("mad").as("mad_cents"))
        .agg(sum(when(col("d") * 10000 > lit(44478L) * col("mad"), col("m"))
          .otherwise(0L)).cast("long").as("n_outliers"))
    },

    // ── chi-square independence test (contingency analytics): event_type
    //    × user-hash-quartile table from ONE scan; χ² accumulates as
    //    per-cell integer floors of 1e6·(O·n − r·c)²/(r·c·n) — the one
    //    float division per cell is IEEE-pinned and the cross-cell SUM is
    //    over exact integers, so no summation-order nondeterminism ever
    //    touches a double. Margins ride the cell table via windows over
    //    CELL-cardinality rows. ──
    q("a31_chisq_independence",
      """WITH cells AS (SELECT event_type AS rk, user_id % 4 AS ck,
        |    count(*) AS o FROM events GROUP BY 1, 2),
        |m AS (SELECT rk, ck, o,
        |    CAST(sum(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(sum(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(sum(o) OVER () AS BIGINT) AS n
        |  FROM cells)
        |SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS n_cells,
        |  CAST(sum(CAST(floor(1000000.0
        |    * CAST((o * n - r * c) AS DOUBLE) * (o * n - r * c)
        |    / (CAST(r AS DOUBLE) * c * n)) AS BIGINT)) AS BIGINT) AS chisq_micro
        |FROM m""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cells = Td.table(s, dir, "events")
        .groupBy(col("event_type").as("rk"), (col("user_id") % 4).as("ck"))
        .agg(count(lit(1)).as("o"))
      val m = cells.select(col("o"),
        sum("o").over(Window.partitionBy("rk")).cast("long").as("r"),
        sum("o").over(Window.partitionBy("ck")).cast("long").as("c"),
        sum("o").over(Window.partitionBy()).cast("long").as("n"))
      m.agg(max(col("n")).cast("long").as("n"), count(lit(1)).as("n_cells"),
        sum(floor(lit(1000000.0)
          * (col("o") * col("n") - col("r") * col("c")).cast("double")
          * (col("o") * col("n") - col("r") * col("c"))
          / (col("r").cast("double") * col("c") * col("n"))).cast("long"))
          .cast("long").as("chisq_micro"))
    },

    // ── pairwise correlation matrix over lineitem measures: all three
    //    Pearson correlations (quantity/price/discount) from ONE scan of
    //    exact integer sufficient statistics — the w10 shape generalized
    //    to cross-column pairs; one 1-row aggregate, three pinned IEEE
    //    final steps. ──
    q("a32_corr_matrix",
      """WITH s AS (SELECT count(*) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
        |    CAST(sum(d) AS BIGINT) AS sd,
        |    CAST(sum(q * q) AS BIGINT) AS sqq, CAST(sum(p * p) AS BIGINT) AS spp,
        |    CAST(sum(d * d) AS BIGINT) AS sdd,
        |    CAST(sum(q * p) AS BIGINT) AS sqp, CAST(sum(q * d) AS BIGINT) AS sqd,
        |    CAST(sum(p * d) AS BIGINT) AS spd
        |  FROM (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
        |      CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS p,
        |      CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
        |    FROM lineitem))
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
        |    / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
        |         * (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)))
        |    AS BIGINT) AS r_qty_price_micro,
        |  CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd)
        |    / sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
        |         * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)))
        |    AS BIGINT) AS r_qty_disc_micro,
        |  CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * spd - CAST(sp AS DOUBLE) * sd)
        |    / sqrt((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
        |         * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)))
        |    AS BIGINT) AS r_price_disc_micro
        |FROM s""".stripMargin) { (s, dir) =>
      // units/dollars/percent (not cents): sum of squared price cents
      // would overflow BIGINT by sf0.1; whole dollars hold to ~1e9 rows
      val li = Td.table(s, dir, "lineitem").select(
        floor(col("l_quantity") + 0.5).cast("long").as("q"),
        floor(col("l_extendedprice") + 0.5).cast("long").as("p"),
        floor(col("l_discount") * 100 + 0.5).cast("long").as("d"))
      val st = li.agg(count(lit(1)).as("n"),
        sum(col("q")).cast("long").as("sq"), sum(col("p")).cast("long").as("sp"),
        sum(col("d")).cast("long").as("sd"),
        sum(col("q") * col("q")).cast("long").as("sqq"),
        sum(col("p") * col("p")).cast("long").as("spp"),
        sum(col("d") * col("d")).cast("long").as("sdd"),
        sum(col("q") * col("p")).cast("long").as("sqp"),
        sum(col("q") * col("d")).cast("long").as("sqd"),
        sum(col("p") * col("d")).cast("long").as("spd"))
      // the n*Sxx products overflow BIGINT (n*spp > 2^63 already at
      // sf0.01), so the final step converts each SUFFICIENT STATISTIC to
      // double first — spelled identically in the oracle, IEEE-pinned
      def corr(xy: String, x: String, y: String, xx: String, yy: String, sx: String, sy: String) =
        floor(lit(1000000.0)
          * (col("n").cast("double") * col(xy) - col(sx).cast("double") * col(sy))
          / sqrt((col("n").cast("double") * col(xx) - col(sx).cast("double") * col(sx))
            * (col("n").cast("double") * col(yy) - col(sy).cast("double") * col(sy)))).cast("long")
      st.select(col("n").cast("long").as("n"),
        corr("sqp", "q", "p", "sqq", "spp", "sq", "sp").as("r_qty_price_micro"),
        corr("sqd", "q", "d", "sqq", "sdd", "sq", "sd").as("r_qty_disc_micro"),
        corr("spd", "p", "d", "spp", "sdd", "sp", "sd").as("r_price_disc_micro"))
    },

    // ── exact 5% trimmed mean per group (robust mean, the a27 histogram
    //    shape): corpus-scale work is ONE (group, value)-keyed histogram
    //    aggregate; rank arithmetic happens on cumulative windows over
    //    HISTOGRAM rows. Boundary bins are PARTIALLY included by exact
    //    rank-overlap arithmetic (overlap = clamp of [cb, cb+m) against
    //    the kept rank range) — no row-level second pass, no approximate
    //    percentile. ──
    q("a30_trimmed_mean",
      """WITH hist AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |h1 AS (SELECT event_type, c, m,
        |    CAST(coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
        |    CAST(sum(m) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM hist),
        |k AS (SELECT event_type, c, m, n, n // 20 AS lo,
        |    greatest(least(cb + m, n - n // 20) - greatest(cb, n // 20), 0) AS keep
        |  FROM h1)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(keep) AS BIGINT) AS n_kept,
        |  CAST(sum(c * keep) * 1000 // sum(keep) AS BIGINT) AS tmean_milli
        |FROM k GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("event_type")
      val hist = Td.table(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .agg(count(lit(1)).as("m"))
      val h1 = hist.select(col("event_type"), col("c"), col("m"),
        coalesce(sum("m").over(wCum), lit(0L)).cast("long").as("cb"),
        sum("m").over(wAll).cast("long").as("n"))
      h1.select(col("event_type"), col("c"), col("m"), col("n"),
          greatest(
            least(col("cb") + col("m"), col("n") - expr("n DIV 20"))
              - greatest(col("cb"), expr("n DIV 20")),
            lit(0L)).as("keep"))
        .groupBy("event_type")
        .agg(max(col("n")).cast("long").as("n"),
          sum(col("keep")).cast("long").as("n_kept"),
          expr("CAST(sum(c * keep) * 1000 DIV sum(keep) AS BIGINT)").as("tmean_milli"))
    },

    // ── Poisson bootstrap confidence interval — THE distributed bootstrap
    //    (per replicate, each row's resample multiplicity is an iid
    //    Poisson(1) draw, so replicates need no global n and fold into ONE
    //    scan with map-side combine; classic multinomial bootstrap needs a
    //    pass per replicate). Determinism: the Poisson draw inverts fixed
    //    integer ppm thresholds of the Poisson(1) CDF against a per-
    //    (replicate, row) md5 uniform — both engines draw the same
    //    weights. B=50 replicates of mean(o_totalprice) in milli-cents;
    //    CI = exact 3rd / 48th order statistics of the replicate means
    //    (~90% coverage). Hash amortization (measured 8.6 s → ~4 s at
    //    sf0.1): ONE md5 per (row, hash-group) yields EIGHT independent
    //    16-bit uniforms via 4-hex substrings — 6 md5s per row cover all
    //    50 replicates, and the Poisson CDF inverts against /65536
    //    thresholds (probability shift < 2e-5, far inside bootstrap
    //    noise). The explode is scan-stage (B rows out per partition);
    //    the order-statistic window sees 50 rows. Full-sample mean rides
    //    the b=1 leg of the same scan. ──
    q("a28_poisson_bootstrap",
      """WITH d AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    unnest(range(0, 7)) AS g
        |  FROM orders),
        |dm AS (SELECT cents, g,
        |    md5(CAST(g * 10000000000 + o_orderkey AS VARCHAR)) AS m
        |  FROM d),
        |du AS (SELECT cents, g * 8 + j + 1 AS b,
        |    CAST(('0x' || substr(m, j * 4 + 1, 4)) AS BIGINT) AS u
        |  FROM dm, unnest(range(0, 8)) AS t(j)
        |  WHERE g * 8 + j + 1 <= 50),
        |w AS (SELECT b, cents,
        |    CASE WHEN u < 24109 THEN 0 WHEN u < 48218 THEN 1
        |      WHEN u < 60273 THEN 2 WHEN u < 64291 THEN 3
        |      WHEN u < 65296 THEN 4 WHEN u < 65497 THEN 5 ELSE 6 END AS wt
        |  FROM du),
        |reps AS (SELECT b,
        |    CAST(sum(wt * cents) * 1000 // sum(wt) AS BIGINT) AS m_milli,
        |    CAST(sum(CASE WHEN b = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM w GROUP BY 1),
        |rk AS (SELECT m_milli, row_number() OVER (ORDER BY m_milli) AS rn,
        |    sum(s1) OVER () AS s, sum(n1) OVER () AS n
        |  FROM reps)
        |SELECT CAST(max(s) * 1000 // max(n) AS BIGINT) AS mean_milli,
        |  CAST(max(CASE WHEN rn = 3 THEN m_milli END) AS BIGINT) AS ci_lo_milli,
        |  CAST(max(CASE WHEN rn = 48 THEN m_milli END) AS BIGINT) AS ci_hi_milli,
        |  count(*) AS n_replicates
        |FROM rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wt = when(col("u") < 24109, 0L).when(col("u") < 48218, 1L)
        .when(col("u") < 60273, 2L).when(col("u") < 64291, 3L)
        .when(col("u") < 65296, 4L).when(col("u") < 65497, 5L).otherwise(6L)
      val reps = Td.tableFanned(s, dir, "orders")
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          explode(sequence(lit(0), lit(6))).as("g"))
        .withColumn("m", md5((col("g") * 10000000000L + col("o_orderkey")).cast("string")))
        .withColumn("j", explode(sequence(lit(0), lit(7))))
        .withColumn("b", col("g") * 8 + col("j") + 1)
        .filter(col("b") <= 50)
        .withColumn("u", conv(substring(col("m"), col("j") * 4 + 1, lit(4)), 16, 10).cast("long"))
        .withColumn("wt", wt)
        .groupBy("b")
        .agg(expr("CAST(sum(wt * cents) * 1000 DIV sum(wt) AS BIGINT)").as("m_milli"),
          sum(when(col("b") === 1, col("cents")).otherwise(0L)).cast("long").as("s1"),
          sum(when(col("b") === 1, 1L).otherwise(0L)).cast("long").as("n1"))
      val rk = reps.select(col("m_milli"),
        row_number().over(Window.orderBy("m_milli")).as("rn"),
        sum("s1").over(Window.partitionBy()).as("s"),
        sum("n1").over(Window.partitionBy()).as("n"))
      rk.agg(
        expr("CAST(max(s) * 1000 DIV max(n) AS BIGINT)").as("mean_milli"),
        max(when(col("rn") === 3, col("m_milli"))).cast("long").as("ci_lo_milli"),
        max(when(col("rn") === 48, col("m_milli"))).cast("long").as("ci_hi_milli"),
        count(lit(1)).as("n_replicates"))
    },

    // ── RFM customer segmentation (marketing analytics): per customer
    //    recency (days from last order to the corpus horizon — the day
    //    after the fixture's last orderdate, so recency >= 1), frequency
    //    (order count), monetary (exact cents); each dimension scored
    //    1–5 by exact rank-quintile cross-multiplication (rn·5 ≤ i·n —
    //    the lt18 integer-boundary idiom, no percent_rank floats), then
    //    the classic segment label. The three ranks are over the
    //    CUSTOMER-grain table — corpus-proportional at billions of
    //    customers — so the rank path is ADAPTIVE on a MEASURED bound
    //    (the broadcast-threshold discipline): the customer DIMENSION's
    //    row count upper-bounds the frame (o_custkey FKs into it) and
    //    costs one parquet-statistics count, no aggregation. At or
    //    below graft.e7.rankWindowMax (default 10M) the frame is
    //    provably small and three PARTITION-BY-less windows are the
    //    cheap plan (a single-task sort of ≤10M slim rows); above it
    //    each rank runs through Sampling.globalOrderedRank (the
    //    range-partitioned sort + zipWithIndex two-pass proven in ld21)
    //    on slim (ck, key) projections of the then-persisted frame,
    //    hash-joined back on ck — never an unbounded global window.
    //    Identical output either way (row_number over a total order ==
    //    the two-pass rank; PlanShapeSpec pins the scale path's plan
    //    window-free with the threshold forced to 0, and the small
    //    path's window choice at spec scale). ──
    q("e7_rfm_segmentation",
      """WITH c AS (SELECT o_custkey AS ck,
        |    CAST(date_diff('day', max(o_orderdate), TIMESTAMP '2001-08-02 00:00:00') AS BIGINT) AS rec,
        |    count(*) AS freq,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mon
        |  FROM orders GROUP BY 1),
        |r AS (SELECT ck, rec, freq, mon,
        |    row_number() OVER (ORDER BY rec DESC, ck) AS rr,
        |    row_number() OVER (ORDER BY freq, ck) AS rf,
        |    row_number() OVER (ORDER BY mon, ck) AS rm,
        |    count(*) OVER () AS n
        |  FROM c),
        |s AS (SELECT ck, rec, freq, mon,
        |    CAST(least((rr * 5 - 1) // n + 1, 5) AS INT) AS r_score,
        |    CAST(least((rf * 5 - 1) // n + 1, 5) AS INT) AS f_score,
        |    CAST(least((rm * 5 - 1) // n + 1, 5) AS INT) AS m_score
        |  FROM r)
        |SELECT ck AS custkey, rec AS recency_days, CAST(freq AS BIGINT) AS frequency,
        |  mon AS monetary_cents, r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |    WHEN r_score >= 4 THEN 'recent'
        |    WHEN f_score >= 4 THEN 'loyal'
        |    WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
        |    ELSE 'regular' END AS segment
        |FROM s""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val horizon = lit(java.sql.Timestamp.valueOf("2001-08-02 00:00:00"))
      val cRaw = Td.table(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(datediff(horizon, max(col("o_orderdate"))).cast("long").as("rec"),
          count(lit(1)).as("freq"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long").as("mon"))
      val windowMax = s.conf.get("graft.e7.rankWindowMax", "10000000").toLong
      // memoized per (session, dir): the guard count is a parquet-metadata
      // job, but re-paying even that on every re-construction (bench
      // min-of-k) would tax the small path it exists to protect
      // evict entries whose session has stopped (the LlmLake.memoized
      // hygiene): the map would otherwise retain SparkSession references
      // for the life of the JVM
      e7CustUpper.filterInPlace { case ((sess, _, _), _) => !sess.sparkContext.isStopped }
      // mtime in the key: a driver-side stat (no Spark job) that makes an
      // in-session fixture regeneration (overwrite touches the directory)
      // start a fresh memo entry instead of serving the stale count
      val custMtime = new java.io.File(s"$dir/customer.parquet").lastModified()
      val custUpper = e7CustUpper.getOrElseUpdate((s, dir, custMtime),
        Td.table(s, dir, "customer").count())
      val r = if (custUpper <= windowMax) {
        cRaw.select(col("ck"), col("rec"), col("freq"), col("mon"),
          row_number().over(Window.orderBy(col("rec").desc, col("ck"))).as("rr"),
          row_number().over(Window.orderBy(col("freq"), col("ck"))).as("rf"),
          row_number().over(Window.orderBy(col("mon"), col("ck"))).as("rm"),
          count(lit(1)).over(Window.partitionBy()).as("n"))
      } else {
        val c = graft.llm.Caches.persist(cRaw)
        def rank(key: String, order: Seq[org.apache.spark.sql.Column], out: String) =
          graft.llm.Sampling.globalOrderedRank(c.select(col("ck"), col(key)), order)
            .select(col("ck"), col("gpos").as(out))
        c.join(rank("rec", Seq(col("rec").desc, col("ck")), "rr"), "ck")
          .join(rank("freq", Seq(col("freq"), col("ck")), "rf"), "ck")
          .join(rank("mon", Seq(col("mon"), col("ck")), "rm"), "ck")
          .crossJoin(broadcast(c.agg(count(lit(1)).as("n"))))
      }
      def score(rn: String) =
        least(expr(s"($rn * 5 - 1) DIV n + 1"), lit(5)).cast("int")
      val sc = r.select(col("ck"), col("rec"), col("freq"), col("mon"),
        score("rr").as("r_score"), score("rf").as("f_score"),
        score("rm").as("m_score"))
      sc.select(col("ck").as("custkey"), col("rec").as("recency_days"),
        col("freq").cast("long").as("frequency"),
        col("mon").as("monetary_cents"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
          .when(col("r_score") >= 4, "recent")
          .when(col("f_score") >= 4, "loyal")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "at_risk")
          .otherwise("regular").as("segment"))
    },

    // ── Gini coefficient per group (inequality/concentration measure):
    //    from the value HISTOGRAM with cumulative sums — with tied values
    //    grouped, Σi·x_i becomes Σ over distinct values of
    //    x·(cum_n·m − (m−1)·m/2-free form): using rank-sum identity
    //    Σ ranks of a tied block = m·cb + m(m+1)/2, the numerator
    //    2Σr_i·x_i stays exact integer. One (group, value) histogram
    //    aggregate; cumulative windows over histogram rows; one final
    //    pinned division to ppm. Exact-integer bound: Σv·2m·cb ≈ v̄·n²
    //    per group < 2^63 ⇒ ~4e6 rows/group at dollar scale — stratify
    //    finer (e.g. per month) past that, Ginis don't merge anyway. ──
    q("a34_gini",
      """WITH h AS (SELECT o_orderpriority AS g,
        |    CAST(floor(o_totalprice + 0.5) AS BIGINT) AS v, count(*) AS m
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT g, v, m,
        |    CAST(coalesce(sum(m) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
        |    CAST(sum(m) OVER (PARTITION BY g) AS BIGINT) AS n,
        |    CAST(sum(v * m) OVER (PARTITION BY g) AS BIGINT) AS tot
        |  FROM h)
        |SELECT g AS o_orderpriority, CAST(max(n) AS BIGINT) AS n,
        |  CAST(floor(1000000.0 *
        |    (CAST(sum(v * (2 * m * cb + m * (m + 1)) - v * m) AS DOUBLE)
        |       / (CAST(max(n) AS DOUBLE) * max(tot)) - 1.0)) AS BIGINT) AS gini_ppm
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = Td.table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") + 0.5).cast("long").as("v"))
        .agg(count(lit(1)).as("m"))
      val wCb = Window.partitionBy("g").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy("g")
      val c = h.select(col("g"), col("v"), col("m"),
        coalesce(sum("m").over(wCb), lit(0L)).cast("long").as("cb"),
        sum("m").over(wAll).cast("long").as("n"),
        sum(col("v") * col("m")).over(wAll).cast("long").as("tot"))
      c.groupBy(col("g").as("o_orderpriority"))
        .agg(max(col("n")).cast("long").as("n"),
          floor(lit(1000000.0) *
            (sum(col("v") * (lit(2) * col("m") * col("cb") + col("m") * (col("m") + 1))
              - col("v") * col("m")).cast("double")
              / (max(col("n")).cast("double") * max(col("tot"))) - lit(1.0)))
            .cast("long").as("gini_ppm"))
    },

    // ── market-basket co-occurrence with lift (recommender primitive):
    //    distinct (customer, brand) baskets from lineitem⋈orders (brand
    //    level keeps the pair space honest), customer-scoped self-join for
    //    within-basket pairs (fan-out bounded by brands-per-customer — the
    //    PMI-pairs contract; a viral customer would need the same loud
    //    cap), lift = n·c(a,b)/(c(a)·c(b)) in exact integer ppm. Top-20
    //    pairs by (support desc, pair) via TakeOrderedAndProject. ──
    q("j15_market_basket",
      """WITH cb AS (SELECT DISTINCT o.o_custkey AS c, p.p_brand AS b
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey),
        |nb AS (SELECT b, count(*) AS n FROM cb GROUP BY 1),
        |nc AS (SELECT count(DISTINCT c) AS n FROM cb),
        |pr AS (SELECT a.b AS b1, x.b AS b2, count(*) AS support
        |  FROM cb a JOIN cb x ON x.c = a.c AND x.b > a.b GROUP BY 1, 2)
        |SELECT b1, b2, CAST(support AS BIGINT) AS support,
        |  CAST(support * nc.n * 1000000 // (na.n * nx.n) AS BIGINT) AS lift_ppm
        |FROM pr JOIN nb na ON na.b = pr.b1 JOIN nb nx ON nx.b = pr.b2
        |CROSS JOIN nc
        |ORDER BY support DESC, b1, b2 LIMIT 20""".stripMargin) { (s, dir) =>
      // persisted: cb has FOUR consumers (nb, nc, and both self-join
      // sides) — unpersisted, each re-runs the 3-table join + distinct
      // (and the planner broadcast-builds one self-join side from a full
      // re-evaluation). The frame is two slim columns, far smaller than
      // its lineitem-sized input; released by the bench harness.
      val cb = graft.llm.Caches.persist(Td.table(s, dir, "lineitem")
        .join(Td.table(s, dir, "orders"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Td.table(s, dir, "part")),
          col("p_partkey") === col("l_partkey"))
        .select(col("o_custkey").as("c"), col("p_brand").as("b")).distinct())
      val nb = cb.groupBy("b").agg(count(lit(1)).as("n"))
      val nc = cb.agg(count_distinct(col("c")).as("ntot"))
      // MERGE hint on the self-join (the Dedup.pairMatches lesson): AQE's
      // runtime re-plan was broadcast-building one side from the cache and
      // the measured wall was bimodal (1.6-3.4 s across clean benches, and
      // 1.85 vs 3.40 in an AQE-off/on A/B); sort-merge pins both sides to
      // ONE reusable c-keyed exchange over the cached frame.
      val pr = cb.as("a").hint("merge")
        .join(cb.as("x"), col("x.c") === col("a.c") && col("x.b") > col("a.b"))
        .groupBy(col("a.b").as("b1"), col("x.b").as("b2"))
        .agg(count(lit(1)).as("support"))
      pr.join(broadcast(nb.select(col("b").as("b1"), col("n").as("n1"))), Seq("b1"))
        .join(broadcast(nb.select(col("b").as("b2"), col("n").as("n2"))), Seq("b2"))
        .crossJoin(broadcast(nc))
        .select(col("b1"), col("b2"), col("support").cast("long").as("support"),
          expr("CAST(support * ntot * 1000000 DIV (n1 * n2) AS BIGINT)").as("lift_ppm"))
        .orderBy(col("support").desc, col("b1"), col("b2")).limit(20)
    },

    // ── top behavioral path trigrams (product-analytics path analysis):
    //    per user the ordered event stream yields (t, t+1, t+2) trigram
    //    counts via two lead windows sharing ONE user-keyed exchange;
    //    global top-15 via TakeOrderedAndProject. The trigram table is
    //    |types|³-bounded regardless of stream size. ──
    q("e6_path_trigrams",
      """SELECT e1, e2, e3, count(*) AS n FROM (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 15""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Td.table(s, dir, "events")
        .select(col("event_type").as("e1"),
          lead(col("event_type"), 1).over(w).as("e2"),
          lead(col("event_type"), 2).over(w).as("e3"))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3")).limit(15)
    },

    // ── join-key skew report (the pre-join diagnostic that decides
    //    salting/AQE-skew handling at 100 TB): distribution of per-key
    //    group sizes for lineitem's join keys. Shape: one (key)-count
    //    aggregate, then a count-of-counts HISTOGRAM (rows = distinct
    //    group sizes — tiny), exact p50/p99 via cumulative windows over
    //    that histogram, and skew = max/mean as integer ppm. The raw
    //    key-count table never leaves the exchange it was built on. ──
    // ── join PRE-FLIGHT: the exact output cardinality, key-overlap
    //    profile, and hottest-task size of lineitem ⋈ orders — computed
    //    from the two per-key COUNT tables (cost O(distinct keys)), never
    //    by running the join (cost O(output)). At 100 TB this is the
    //    audit that decides salting/AQE-skew settings and catches the
    //    accidental many-to-many BEFORE it materializes: out_rows = Σ
    //    nₐ·n_b, max_pair_rows = the biggest single-key task, top1_share
    //    = how much of the output one key owns. The argmax key resolves
    //    over the bounded (na, nb)-histogram (the s4 window discipline —
    //    a global window over the KEY table would single-partition the
    //    corpus; over the histogram it is constant work). ──
    q("s6_join_preflight",
      """WITH ka AS (SELECT l_orderkey AS k, count(*) AS na FROM lineitem GROUP BY 1),
        |kb AS (SELECT o_orderkey AS k, count(*) AS nb FROM orders GROUP BY 1),
        |j AS (SELECT coalesce(ka.k, kb.k) AS k, coalesce(na, 0) AS na,
        |    coalesce(nb, 0) AS nb
        |  FROM ka FULL OUTER JOIN kb ON ka.k = kb.k),
        |h AS (SELECT na, nb, na * nb AS prod, count(*) AS keys,
        |    min(CASE WHEN na > 0 AND nb > 0 THEN k END) AS min_k
        |  FROM j GROUP BY 1, 2, 3),
        |c AS (SELECT *, max(prod) OVER () AS max_prod FROM h)
        |SELECT
        |  CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN keys ELSE 0 END) AS BIGINT) AS n_keys_matched,
        |  CAST(sum(CASE WHEN nb = 0 THEN keys ELSE 0 END) AS BIGINT) AS n_keys_left_only,
        |  CAST(sum(CASE WHEN na = 0 THEN keys ELSE 0 END) AS BIGINT) AS n_keys_right_only,
        |  CAST(sum(prod * keys) AS BIGINT) AS out_rows,
        |  CAST(max(max_prod) AS BIGINT) AS max_pair_rows,
        |  CAST(min(CASE WHEN prod = max_prod THEN min_k END) AS BIGINT) AS hot_key,
        |  CAST(max(max_prod) * 1000000 // sum(prod * keys) AS BIGINT) AS top1_share_ppm,
        |  CAST(sum(prod * keys) * 1000000
        |    // (sum(na * keys) + sum(nb * keys)) AS BIGINT) AS amplification_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ka = Td.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("na"))
      val kb = Td.table(s, dir, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("nb"))
      val j = ka.join(kb, Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("na"), lit(0L)).as("na"),
          coalesce(col("nb"), lit(0L)).as("nb"))
      val h = j.withColumn("prod", col("na") * col("nb"))
        .groupBy("na", "nb", "prod")
        .agg(count(lit(1)).as("keys"),
          min(when(col("na") > 0 && col("nb") > 0, col("k"))).as("min_k"))
      val c = h.withColumn("max_prod", max(col("prod")).over(Window.partitionBy()))
      c.agg(
        sum(when(col("na") > 0 && col("nb") > 0, col("keys")).otherwise(0L))
          .cast("long").as("n_keys_matched"),
        sum(when(col("nb") === 0, col("keys")).otherwise(0L))
          .cast("long").as("n_keys_left_only"),
        sum(when(col("na") === 0, col("keys")).otherwise(0L))
          .cast("long").as("n_keys_right_only"),
        sum(col("prod") * col("keys")).cast("long").as("out_rows"),
        max(col("max_prod")).cast("long").as("max_pair_rows"),
        min(when(col("prod") === col("max_prod"), col("min_k")))
          .cast("long").as("hot_key"),
        expr("max(max_prod) * 1000000 DIV sum(prod * keys)")
          .cast("long").as("top1_share_ppm"),
        expr("sum(prod * keys) * 1000000 DIV (sum(na * keys) + sum(nb * keys))")
          .cast("long").as("amplification_ppm"))
    },

    q("s4_skew_report",
      """WITH kc AS (SELECT l_orderkey AS k, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |h AS (SELECT n, count(*) AS keys FROM kc GROUP BY 1),
        |c AS (SELECT n, keys,
        |    CAST(sum(keys) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(keys) OVER () AS BIGINT) AS nk,
        |    CAST(sum(n * keys) OVER () AS BIGINT) AS rows_total,
        |    CAST(max(n) OVER () AS BIGINT) AS max_n
        |  FROM h)
        |SELECT CAST(max(nk) AS BIGINT) AS n_keys,
        |  CAST(max(rows_total) AS BIGINT) AS n_rows,
        |  CAST(max(max_n) AS BIGINT) AS max_n,
        |  CAST(min(CASE WHEN cum * 2 >= nk THEN n END) AS BIGINT) AS p50_n,
        |  CAST(min(CASE WHEN cum * 100 >= nk * 99 THEN n END) AS BIGINT) AS p99_n,
        |  CAST(max(max_n) * max(nk) * 1000000 // max(rows_total) AS BIGINT)
        |    AS skew_ratio_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val kc = Td.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n"))
      val h = kc.groupBy("n").agg(count(lit(1)).as("keys"))
      val wCum = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val c = h.select(col("n"), col("keys"),
        sum("keys").over(wCum).cast("long").as("cum"),
        sum("keys").over(wAll).cast("long").as("nk"),
        sum(col("n") * col("keys")).over(wAll).cast("long").as("rows_total"),
        max("n").over(wAll).cast("long").as("max_n"))
      c.agg(
        max(col("nk")).cast("long").as("n_keys"),
        max(col("rows_total")).cast("long").as("n_rows"),
        max(col("max_n")).cast("long").as("max_n"),
        min(when(col("cum") * 2 >= col("nk"), col("n"))).cast("long").as("p50_n"),
        min(when(col("cum") * 100 >= col("nk") * 99, col("n"))).cast("long").as("p99_n"),
        expr("CAST(max(max_n) * max(nk) * 1000000 DIV max(rows_total) AS BIGINT)")
          .as("skew_ratio_ppm"))
    },

    // ── exact mode per group (most frequent value, tie → smallest): the
    //    histogram + group-limit shape — corpus work is one (group,
    //    value)-keyed hash aggregate; the argmax window sees histogram
    //    rows and plans WindowGroupLimit (rank pushed into the shuffle). ──
    q("a33_mode",
      """SELECT event_type, c AS mode_cents, CAST(m AS BIGINT) AS m
        |FROM (SELECT event_type, c, m,
        |    row_number() OVER (PARTITION BY event_type ORDER BY m DESC, c) AS rn
        |  FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |      count(*) AS m
        |    FROM events GROUP BY 1, 2))
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Td.table(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .agg(count(lit(1)).as("m"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_type").orderBy(col("m").desc, col("c"))))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("c").as("mode_cents"),
          col("m").cast("long").as("m"))
    },

    // ── incremental aggregate maintenance (materialized-view refresh
    //    shape): the engine computes per-type counts/sums by MERGING a
    //    base-period aggregate with a delta-period aggregate (sum/count
    //    are mergeable states — the algebra that lets a 100 TB rollup
    //    refresh from yesterday's materialization plus today's partition
    //    instead of rescanning history). The ORACLE aggregates the full
    //    stream directly, so the hash-match IS the proof that the merge
    //    law holds exactly (integer cents — no float reassociation). ──
    q("m3_incremental_agg",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      def agg(f: org.apache.spark.sql.DataFrame) = f
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(cents).cast("long").as("sum_cents"))
      val ev = Td.table(s, dir, "events")
      agg(ev.filter(col("ts") < cut))
        .unionByName(agg(ev.filter(col("ts") >= cut)))
        .groupBy("event_type")
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("sum_cents")).cast("long").as("sum_cents"))
    },

    // ── incremental aggregates under DELETES (retractions — the CDC/
    //    changelog-consumer merge law m3 cannot express): base = events
    //    before the cut, changelog = deletes of base rows with
    //    event_id % 7 = 3 plus inserts of the post-cut rows. sum/count
    //    fold a −1 fine, but min/max are NOT invertible — the maintained
    //    auxiliary is the per-(key, value) COUNT HISTOGRAM (ops/Retract):
    //    a delete decrements one cell, every aggregate re-derives from
    //    surviving cells, incremental cost O(changelog + histogram) never
    //    O(base). Exact integers ⇒ maintained result hash-equals the
    //    oracle's full recompute; a retraction of a never-held row raises
    //    loudly (RetractSpec). Base/changelog read as separate scans BY
    //    DESIGN (at scale the histogram is a materialization, the m3
    //    note). ──
    q("m4_retractable_agg",
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(min(v) AS BIGINT) AS min_v,
        |  CAST(max(v) AS BIGINT) AS max_v
        |FROM (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events
        |  WHERE (ts < TIMESTAMP '2024-01-22 00:00:00' AND event_id % 7 <> 3)
        |     OR ts >= TIMESTAMP '2024-01-22 00:00:00')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
      val ev = Td.table(s, dir, "events")
        .select(col("event_type"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
      val hist0 = ev.filter(col("ts") < cut)
        .groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      val delta = ev.filter(col("ts") < cut && col("event_id") % 7 === 3)
        .select(col("event_type"), col("v"), lit(-1L).as("d"))
        .unionByName(ev.filter(col("ts") >= cut)
          .select(col("event_type"), col("v"), lit(1L).as("d")))
        .groupBy("event_type", "v").agg(sum(col("d")).as("dcnt"))
      Retract.aggFromHistogram(
        Retract.maintainHistogram(hist0, delta, Seq("event_type")),
        Seq("event_type"))
    },

    // ── rolling ROBUST anomaly flags per user (Tukey fences over a
    //    trailing 13-row frame): v outside [q1 − 1.5·IQR, q3 + 1.5·IQR]
    //    of its own recent window — the outlier detector a mean/stddev
    //    z-score can't be (one wild point inflates the stddev and masks
    //    itself; quartiles barely move). Rolling EXACT quantiles over
    //    integer cents: type-7 interpolation at h = (n−1)·p lands on
    //    quarter-integers, exact in binary on BOTH engines, and the
    //    1.5·IQR fences stay exact eighths — zero float divergence
    //    despite three quantile windows. All three quantiles + the flag
    //    share ONE user-keyed exchange. Complements w11 (CUSUM level
    //    drift) and a27 (global robust outliers): this is the LOCAL
    //    robust detector. ──
    q("w14_rolling_tukey",
      """WITH s AS (SELECT event_id, user_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |w AS (SELECT event_id, user_id, v,
        |    quantile_cont(v, 0.5) OVER win AS med,
        |    quantile_cont(v, 0.25) OVER win AS q1,
        |    quantile_cont(v, 0.75) OVER win AS q3
        |  FROM s WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 12 PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, v, med, q1, q3,
        |  v > q3 + 1.5 * (q3 - q1) OR v < q1 - 1.5 * (q3 - q1) AS anomaly
        |FROM w""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-12, Window.currentRow)
      val iqr = col("q3") - col("q1")
      Td.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        .withColumn("med", percentile(col("v"), lit(0.5)).over(win))
        .withColumn("q1", percentile(col("v"), lit(0.25)).over(win))
        .withColumn("q3", percentile(col("v"), lit(0.75)).over(win))
        .select(col("event_id"), col("user_id"), col("v"),
          col("med"), col("q1"), col("q3"),
          (col("v") > col("q3") + lit(1.5) * iqr ||
            col("v") < col("q1") - lit(1.5) * iqr).as("anomaly"))
    },

    // ── rolling regression slope per user (trend detection): least-
    //    squares slope of value-cents against the row index over a
    //    trailing 20-row frame. ALL five frame sums are exact BIGINTs
    //    (row index bounded per user ⇒ Σrn² tiny); one pinned IEEE
    //    multiply/divide/floor per row; rows with a degenerate frame
    //    (n < 2 ⇒ zero denominator) pin slope to NULL-free 0 via the
    //    guard. Both windows (index + frame sums) share the user-keyed
    //    exchange. ──
    q("w13_rolling_slope",
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS BIGINT) AS rn
        |  FROM events),
        |f AS (SELECT user_id, event_id, rn,
        |    count(*) OVER w AS n,
        |    CAST(sum(rn) OVER w AS BIGINT) AS st,
        |    CAST(sum(c) OVER w AS BIGINT) AS sy,
        |    CAST(sum(rn * rn) OVER w AS BIGINT) AS stt,
        |    CAST(sum(rn * c) OVER w AS BIGINT) AS sty
        |  FROM b
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        |  CAST(CASE WHEN n * stt - st * st > 0
        |    THEN floor(1000000.0 * (n * sty - st * sy) / (n * stt - st * st))
        |    ELSE 0 END AS BIGINT) AS slope_micro
        |FROM f""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val order = Seq(col("ts"), col("event_id"))
      val wIdx = Window.partitionBy("user_id").orderBy(order: _*)
      val wFrame = Window.partitionBy("user_id").orderBy(order: _*)
        .rowsBetween(-19, Window.currentRow)
      val b = Td.table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("c"))
        .withColumn("rn", row_number().over(wIdx).cast("long"))
      val f = b.select(col("user_id"), col("event_id"),
        count(lit(1)).over(wFrame).as("n"),
        sum(col("rn")).over(wFrame).cast("long").as("st"),
        sum(col("c")).over(wFrame).cast("long").as("sy"),
        sum(col("rn") * col("rn")).over(wFrame).cast("long").as("stt"),
        sum(col("rn") * col("c")).over(wFrame).cast("long").as("sty"))
      val den = col("n") * col("stt") - col("st") * col("st")
      f.select(col("user_id"), col("event_id"),
        when(den > 0,
          floor(lit(1000000.0) * (col("n") * col("sty") - col("st") * col("sy"))
            / den))
          .otherwise(lit(0L)).cast("long").as("slope_micro"))
    },

    // ── last-touch attribution (marketing-analytics shape): each
    //    'purchase' credits the most recent PRIOR non-purchase event of
    //    the same user — last_value(... IGNORE NULLS) over the user-
    //    ordered frame ending one row back, then a credit rollup per
    //    attributed channel with exact cent revenue. One user-keyed
    //    exchange carries the window; the rollup reuses nothing bigger
    //    than the conversion rows. Purchases with no prior touch count
    //    under channel 'none' (the unattributable bucket stays visible
    //    instead of silently dropping). ──
    q("e5_attribution",
      """SELECT channel, count(*) AS n_conversions,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM (SELECT
        |    coalesce(last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'none')
        |      AS channel,
        |    event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Td.table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"),
          coalesce(
            last(when(col("event_type") =!= "purchase", col("event_type")),
              ignoreNulls = true).over(w),
            lit("none")).as("channel"))
        .filter(col("event_type") === "purchase")
        .groupBy("channel")
        .agg(count(lit(1)).as("n_conversions"),
          sum(col("cents")).cast("long").as("revenue_cents"))
    },

    // ── session-duration histogram (product analytics over e1's
    //    sessionization): duration = last−first event epoch seconds per
    //    session, bucketed DIV 600 (10-minute bins). The session rollup
    //    and the histogram are two aggregates over the one user-keyed
    //    window exchange; output is O(buckets). ──
    q("e8_session_duration_hist",
      """WITH flags AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN floor(epoch(CAST(ts AS TIMESTAMP)))
        |           - floor(epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)) > 1800
        |         OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS session_n
        |  FROM flags),
        |dur AS (SELECT user_id, session_n,
        |    CAST(floor(epoch(CAST(max(ts) AS TIMESTAMP)))
        |       - floor(epoch(CAST(min(ts) AS TIMESTAMP))) AS BIGINT) AS dur_s
        |  FROM sess GROUP BY 1, 2)
        |SELECT CAST(dur_s // 600 AS INT) AS bucket_10min,
        |  count(*) AS n_sessions,
        |  CAST(sum(dur_s) AS BIGINT) AS total_dur_s
        |FROM dur GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.ops.TimeOps.sessionize(Td.table(s, dir, "events"),
          "user_id", "ts", gapMinutes = 30, orderTieBreak = Seq(col("event_id")))
        .groupBy("session_id")
        .agg((unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .cast("long").as("dur_s"))
        .groupBy(expr("CAST(dur_s DIV 600 AS INT)").as("bucket_10min"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("dur_s")).cast("long").as("total_dur_s"))
    },

    // ── randomization test for the two-arm mean difference (the
    //    permutation-test shape, closing the inference suite beside
    //    t/F/χ²/KS/bootstrap): 50 deterministic random re-allocations of
    //    arm labels (md5(b, key) % ntot < n1 — binomial with the observed
    //    arm fraction; an exact permutation would need a global sort per
    //    replicate), p = smoothed fraction of replicates whose |mean
    //    diff| ≥ the observed one. All sums exact BIGINT dollars; the
    //    mean-diff comparisons run in identically-spelled doubles.
    //    Replicates fold into ONE scan (the a28 shape); the observed
    //    stat and arm counts ride a 1-row broadcast from a first tiny
    //    aggregate pass. Degenerate single-arm replicates are excluded
    //    from the denominator rather than silently counted. ──
    q("a37_permutation_test",
      """WITH base AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice + 0.5) AS BIGINT) AS d,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS arm
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |obs AS (SELECT CAST(sum(arm) AS BIGINT) AS n1,
        |    CAST(count(*) AS BIGINT) AS ntot,
        |    CAST(sum(CASE WHEN arm = 1 THEN d ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN arm = 0 THEN d ELSE 0 END) AS BIGINT) AS s2
        |  FROM base),
        |r AS (SELECT b.b, base.d, obs.n1, obs.ntot, obs.s1, obs.s2,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(b.b AS VARCHAR) || ':'
        |        || CAST(base.o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % obs.ntot < obs.n1 THEN 1 ELSE 0 END AS parm
        |  FROM base CROSS JOIN obs CROSS JOIN (SELECT unnest(range(1, 51)) AS b) b),
        |reps AS (SELECT b, max(n1) AS n1, max(ntot) AS ntot,
        |    max(s1) AS s1, max(s2) AS s2,
        |    CAST(sum(parm) AS BIGINT) AS pn1,
        |    CAST(sum(CASE WHEN parm = 1 THEN d ELSE 0 END) AS BIGINT) AS ps1,
        |    CAST(sum(CASE WHEN parm = 0 THEN d ELSE 0 END) AS BIGINT) AS ps2
        |  FROM r GROUP BY 1),
        |v AS (SELECT b, n1, ntot, s1, s2, pn1, ps1, ps2 FROM reps
        |  WHERE pn1 > 0 AND pn1 < ntot),
        |f AS (SELECT count(*) AS n_valid,
        |    CAST(sum(CASE WHEN abs(CAST(ps1 AS DOUBLE) / pn1
        |          - CAST(ps2 AS DOUBLE) / (ntot - pn1))
        |        >= abs(CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / (ntot - n1))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
        |    max(n1) AS n1, max(ntot) AS ntot, max(s1) AS s1, max(s2) AS s2
        |  FROM v)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(ntot - n1 AS BIGINT) AS n2,
        |  CAST(floor(1000000.0 * abs(CAST(s1 AS DOUBLE) / n1
        |    - CAST(s2 AS DOUBLE) / (ntot - n1))) AS BIGINT) AS d_obs_micro,
        |  CAST(n_valid AS BIGINT) AS n_valid, n_extreme,
        |  CAST((n_extreme + 1) * 1000000 // (n_valid + 1) AS BIGINT) AS p_ppm
        |FROM f""".stripMargin) { (s, dir) =>
      val base = Td.tableFanned(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(col("o_orderkey"),
          floor(col("o_totalprice") + 0.5).cast("long").as("d"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("arm"))
      val obs = base.agg(
        sum(col("arm")).cast("long").as("n1"),
        count(lit(1)).as("ntot"),
        sum(when(col("arm") === 1, col("d")).otherwise(0L)).cast("long").as("s1"),
        sum(when(col("arm") === 0, col("d")).otherwise(0L)).cast("long").as("s2"))
      val parm = when(
        pmod(graft.llm.Dedup.md5Hash60(
          concat(col("b").cast("string"), lit(":"), col("o_orderkey").cast("string"))),
          col("ntot")) < col("n1"), 1L).otherwise(0L)
      val reps = base
        .crossJoin(broadcast(obs))
        .select(col("o_orderkey"), col("d"), col("n1"), col("ntot"),
          col("s1"), col("s2"), explode(sequence(lit(1), lit(50))).as("b"))
        .withColumn("parm", parm)
        .groupBy("b")
        .agg(max(col("n1")).as("n1"), max(col("ntot")).as("ntot"),
          max(col("s1")).as("s1"), max(col("s2")).as("s2"),
          sum(col("parm")).cast("long").as("pn1"),
          sum(when(col("parm") === 1, col("d")).otherwise(0L)).cast("long").as("ps1"),
          sum(when(col("parm") === 0, col("d")).otherwise(0L)).cast("long").as("ps2"))
      val dObs = abs(col("s1").cast("double") / col("n1")
        - col("s2").cast("double") / (col("ntot") - col("n1")))
      val dRep = abs(col("ps1").cast("double") / col("pn1")
        - col("ps2").cast("double") / (col("ntot") - col("pn1")))
      reps.filter(col("pn1") > 0 && col("pn1") < col("ntot"))
        .agg(count(lit(1)).as("n_valid"),
          sum(when(dRep >= dObs, 1L).otherwise(0L)).cast("long").as("n_extreme"),
          max(col("n1")).as("n1"), max(col("ntot")).as("ntot"),
          max(col("s1")).as("s1"), max(col("s2")).as("s2"))
        .select(col("n1").cast("long").as("n1"),
          (col("ntot") - col("n1")).cast("long").as("n2"),
          floor(lit(1000000.0) * dObs).cast("long").as("d_obs_micro"),
          col("n_valid").cast("long").as("n_valid"), col("n_extreme"),
          expr("CAST((n_extreme + 1) * 1000000 DIV (n_valid + 1) AS BIGINT)").as("p_ppm"))
    },

    // ── two-sample Kolmogorov–Smirnov statistic, EXACT: D = sup|F1−F2|
    //    computed as max over distinct values of |c1·n2 − c2·n1| (the
    //    cross-multiplied ECDF difference — no division until the final
    //    ppm rendering, so the supremum itself is an integer comparison
    //    with no float ties). One conditional scan builds the shared
    //    value histogram with both arms' counts; cumulative windows run
    //    over HISTOGRAM rows. The nonparametric "did the distribution
    //    shift" test that needs no normality assumption. ──
    q("a36_ks_test",
      """WITH h AS (SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT) AS v,
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS m1,
        |    sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS m2
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |  GROUP BY 1),
        |c AS (SELECT v,
        |    CAST(sum(m1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
        |    CAST(sum(m2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2,
        |    CAST(sum(m1) OVER () AS BIGINT) AS n1,
        |    CAST(sum(m2) OVER () AS BIGINT) AS n2
        |  FROM h)
        |SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_scaled,
        |  CAST(floor(1000000.0 * CAST(max(abs(c1 * n2 - c2 * n1)) AS DOUBLE)
        |    / (CAST(max(n1) AS DOUBLE) * max(n2))) AS BIGINT) AS d_ppm
        |FROM c""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wCum = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      val h = Td.table(s, dir, "orders")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(floor(col("o_totalprice") + 0.5).cast("long").as("v"))
        .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("m1"),
          sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("m2"))
      val c = h.select(
        sum("m1").over(wCum).cast("long").as("c1"),
        sum("m2").over(wCum).cast("long").as("c2"),
        sum("m1").over(wAll).cast("long").as("n1"),
        sum("m2").over(wAll).cast("long").as("n2"))
      // the ppm render goes through identically-spelled doubles: d_scaled
      // is bounded only by n1*n2, so d_scaled*1e6 would overflow BIGINT
      // past ~3M rows/arm — the supremum itself stays an exact integer
      c.agg(max(col("n1")).cast("long").as("n1"), max(col("n2")).cast("long").as("n2"),
          max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).cast("long").as("d_scaled"))
        .select(col("n1"), col("n2"), col("d_scaled"),
          floor(lit(1000000.0) * col("d_scaled").cast("double")
            / (col("n1").cast("double") * col("n2"))).cast("long").as("d_ppm"))
    },

    // ── one-way ANOVA F statistic across ALL order priorities (the
    //    k-group generalization of a29's two-arm test): between/within
    //    mean squares from exact per-group BIGINT sufficient statistics
    //    (whole dollars — the a29 overflow lesson), one grouped scan,
    //    one pinned IEEE float tail floored to micro-units. Group stats
    //    are |groups| rows; the final fold is a 1-row aggregate. ──
    q("a35_anova_f",
      """WITH g AS (SELECT o_orderpriority AS p, count(*) AS n,
        |    CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT)
        |       * CAST(floor(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS q
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(s) AS BIGINT) AS st,
        |    CAST(sum(q) AS BIGINT) AS qt
        |  FROM g),
        |sb AS (SELECT max(cum) AS ssb_raw FROM (
        |  SELECT sum(CAST(s AS DOUBLE) * s / n)
        |      OVER (ORDER BY p ROWS UNBOUNDED PRECEDING) AS cum
        |    FROM g)),
        |tt AS (SELECT * FROM t CROSS JOIN sb)
        |SELECT CAST(k AS BIGINT) AS k, nt AS n_total,
        |  CAST(floor(1000000.0 *
        |    ((ssb_raw - CAST(st AS DOUBLE) * st / nt) / (k - 1))
        |    / ((CAST(qt AS DOUBLE) - ssb_raw) / (nt - k))) AS BIGINT) AS f_micro
        |FROM tt""".stripMargin) { (s, dir) =>
      val d = floor(col("o_totalprice") + 0.5).cast("long")
      val g = Td.table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("p"))
        .agg(count(lit(1)).as("n"), sum(d).cast("long").as("s"),
          sum(d * d).cast("long").as("q"))
      // the cross-group SSB sum is FLOAT, so it must not ride an
      // order-undefined aggregate: a cumulative window ORDERED BY group
      // pins the addition sequence on both engines (the integer totals
      // stay in plain aggregates - integer sums commute)
      val t = g.agg(count(lit(1)).as("k"), sum(col("n")).cast("long").as("nt"),
        sum(col("s")).cast("long").as("st"), sum(col("q")).cast("long").as("qt"))
      val wOrd = org.apache.spark.sql.expressions.Window.orderBy("p")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val sb = g.select(sum(col("s").cast("double") * col("s") / col("n"))
          .over(wOrd).as("cum"))
        .agg(max(col("cum")).as("ssb_raw"))
      t.crossJoin(sb).select(col("k").cast("long").as("k"), col("nt").as("n_total"),
        floor(lit(1000000.0) *
          ((col("ssb_raw") - col("st").cast("double") * col("st") / col("nt"))
            / (col("k") - 1))
          / ((col("qt").cast("double") - col("ssb_raw")) / (col("nt") - col("k"))))
          .cast("long").as("f_micro"))
    },

    // ── column profiler (the Deequ-profiler counterpart to dq1's
    //    constraint suite): per tracked orders column its null count,
    //    exact distinct count, and min/max rendered as strings — the
    //    first thing a data engineer pulls on an unknown table. ONE scan:
    //    all per-column measures fold into a single aggregate row and
    //    stack() pivots to (column, n_null, n_distinct, min_s, max_s). ──
    q("dq3_schema_profile",
      """WITH m AS (SELECT
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS null_st,
        |    count(DISTINCT o_orderstatus) AS nd_st,
        |    CAST(min(o_orderstatus) AS VARCHAR) AS min_st,
        |    CAST(max(o_orderstatus) AS VARCHAR) AS max_st,
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS null_tp,
        |    count(DISTINCT o_totalprice) AS nd_tp,
        |    CAST(CAST(floor(min(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS min_tp,
        |    CAST(CAST(floor(max(o_totalprice) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS max_tp,
        |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS null_op,
        |    count(DISTINCT o_orderpriority) AS nd_op,
        |    CAST(min(o_orderpriority) AS VARCHAR) AS min_op,
        |    CAST(max(o_orderpriority) AS VARCHAR) AS max_op
        |  FROM orders)
        |SELECT 'o_orderstatus' AS col_name, CAST(null_st AS BIGINT) AS n_null,
        |  CAST(nd_st AS BIGINT) AS n_distinct, min_st AS min_s, max_st AS max_s FROM m
        |UNION ALL SELECT 'o_totalprice', CAST(null_tp AS BIGINT),
        |  CAST(nd_tp AS BIGINT), min_tp, max_tp FROM m
        |UNION ALL SELECT 'o_orderpriority', CAST(null_op AS BIGINT),
        |  CAST(nd_op AS BIGINT), min_op, max_op FROM m""".stripMargin) { (s, dir) =>
      val m = Td.tableFanned(s, dir, "orders").agg(
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_st"),
        count_distinct(col("o_orderstatus")).as("nd_st"),
        min(col("o_orderstatus")).cast("string").as("min_st"),
        max(col("o_orderstatus")).cast("string").as("max_st"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_tp"),
        count_distinct(col("o_totalprice")).as("nd_tp"),
        floor(min(col("o_totalprice")) * 100 + 0.5).cast("long").cast("string").as("min_tp"),
        floor(max(col("o_totalprice")) * 100 + 0.5).cast("long").cast("string").as("max_tp"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("null_op"),
        count_distinct(col("o_orderpriority")).as("nd_op"),
        min(col("o_orderpriority")).cast("string").as("min_op"),
        max(col("o_orderpriority")).cast("string").as("max_op"))
      m.select(expr(
        """stack(3,
          |  'o_orderstatus', null_st, nd_st, min_st, max_st,
          |  'o_totalprice', null_tp, nd_tp, min_tp, max_tp,
          |  'o_orderpriority', null_op, nd_op, min_op, max_op
          |) AS (col_name, n_null, n_distinct, min_s, max_s)""".stripMargin))
    },

    // ── Benford first-digit audit (fraud/data-authenticity check):
    //    distribution of leading digits of order values vs Benford's
    //    log10(1+1/d) expectation (fixed ppm literals — no runtime
    //    transcendental), per-digit observed ppm and absolute deviation,
    //    all integer arithmetic from one scan. Synthetic uniform-ish
    //    values FAIL Benford — that is the point of the audit column. ──
    q("dq2_benford_audit",
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c),
        |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |    (4, 96910), (5, 79181), (6, 66947), (7, 57992),
        |    (8, 51153), (9, 45757)) AS v(digit, expected_ppm))
        |SELECT e.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |  CAST(coalesce(c.n, 0) * 1000000 // t.nt AS BIGINT) AS observed_ppm,
        |  CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
        |  CAST(abs(coalesce(c.n, 0) * 1000000 // t.nt - e.expected_ppm) AS BIGINT)
        |    AS abs_dev_ppm
        |FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN t""".stripMargin) { (s, dir) =>
      val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
        5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      val spark = s
      import spark.implicits._
      val c = Td.table(s, dir, "orders")
        .filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        // total via a window over the 9-row digit frame: a separate
        // aggregate subtree would re-scan orders
        .withColumn("nt", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()).cast("long"))
      val e = benford.toDF("digit", "expected_ppm")
      e.join(c, Seq("digit"), "left")
        .withColumn("nt", max(col("nt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("digit"), coalesce(col("n"), lit(0L)).cast("long").as("n"),
          expr("CAST(coalesce(n, 0) * 1000000 DIV nt AS BIGINT)").as("observed_ppm"),
          col("expected_ppm").cast("long").as("expected_ppm"),
          expr("CAST(abs(coalesce(n, 0) * 1000000 DIV nt - expected_ppm) AS BIGINT)")
            .as("abs_dev_ppm"))
    },

    // ── CUSUM drift statistic per user (change-point/monitoring shape):
    //    center each user's value stream on its own mean WITHOUT division
    //    (scaled deviations n·c − S stay integer), then drift = running
    //    sum minus its running minimum; report each user's maximum drift.
    //    All four windows (unordered mean pair + running sum + running
    //    min) share ONE user-keyed exchange; order pinned by (ts,
    //    event_id). A mean-shifted segment shows as max_drift ≫ 0 at the
    //    n·cents scale. ──
    q("w11_cusum_drift",
      """WITH b AS (SELECT user_id, ts, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY user_id) AS BIGINT) AS s
        |  FROM events),
        |r AS (SELECT user_id, ts, event_id, n,
        |    CAST(sum(n * c - s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |  FROM b),
        |d AS (SELECT user_id, n, run,
        |    CAST(min(run) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mn
        |  FROM r)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(run - mn) AS BIGINT) AS max_drift
        |FROM d GROUP BY 1""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wAll = Window.partitionBy("user_id")
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val base = Td.table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), cents.as("c"))
        .select(col("user_id"), col("ts"), col("event_id"), col("c"),
          count(lit(1)).over(wAll).as("n"),
          sum(col("c")).over(wAll).cast("long").as("s"))
        .select(col("user_id"), col("ts"), col("event_id"), col("n"),
          sum(col("n") * col("c") - col("s")).over(wOrd).cast("long").as("run"))
        .select(col("user_id"), col("n"), col("run"),
          min(col("run")).over(wOrd).cast("long").as("mn"))
      base.groupBy("user_id")
        .agg(max(col("n")).cast("long").as("n"),
          max(col("run") - col("mn")).cast("long").as("max_drift"))
    },

    // ── seasonal-naive forecast backtest: train period (first three
    //    weeks) learns a per-(event_type, hour-of-day) mean in exact
    //    milli-cents; the holdout week scores MAE against it — the
    //    model-eval loop for the classic seasonal baseline. Train
    //    aggregate is (types × 24) rows and BROADCASTS onto the test
    //    scan; MAE accumulates as exact scaled integers (one conditional
    //    split of a single events scan — no second pass). ──
    q("w12_seasonal_backtest",
      """WITH tr AS (SELECT event_type, CAST(strftime(ts, '%H') AS INT) AS h,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 1000
        |      // count(*) AS BIGINT) AS f_milli
        |  FROM events WHERE ts < TIMESTAMP '2024-01-22 00:00:00' GROUP BY 1, 2)
        |SELECT e.event_type, count(*) AS n_test,
        |  CAST(sum(abs(1000 * CAST(floor(e.value * 100 + 0.5) AS BIGINT)
        |    - t.f_milli)) // count(*) AS BIGINT) AS mae_milli
        |FROM events e
        |JOIN tr t ON t.event_type = e.event_type
        |  AND t.h = CAST(strftime(e.ts, '%H') AS INT)
        |WHERE e.ts >= TIMESTAMP '2024-01-22 00:00:00'
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val cents = floor(col("value") * 100 + 0.5).cast("long")
      val cut = lit(java.sql.Timestamp.valueOf("2024-01-22 00:00:00"))
      val ev = Td.table(s, dir, "events")
        .select(col("event_type"), col("ts"), cents.as("c"),
          date_format(col("ts"), "HH").cast("int").as("h"))
      val tr = ev.filter(col("ts") < cut)
        .groupBy("event_type", "h")
        .agg(expr("CAST(sum(c) * 1000 DIV count(1) AS BIGINT)").as("f_milli"))
      ev.filter(col("ts") >= cut)
        .join(broadcast(tr), Seq("event_type", "h"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_test"),
          expr("CAST(sum(abs(1000 * c - f_milli)) DIV count(1) AS BIGINT)")
            .as("mae_milli"))
    },

    // ── Welch two-sample t statistic (A/B-test primitive, unequal
    //    variances): urgent vs low-priority order values. All sufficient
    //    statistics (n, Σx, Σx² per arm) are exact BIGINTs over cents from
    //    ONE conditional-aggregation scan; only the final t touches floats
    //    — sample means and variances derived in doubles from exact
    //    integers through one identically-spelled IEEE sequence, output
    //    floored to micro-units. ──
    q("a29_ab_welch",
      """WITH s AS (SELECT
        |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n1,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN CAST(floor(o_totalprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN CAST(floor(o_totalprice + 0.5) AS BIGINT)
        |         * CAST(floor(o_totalprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS q1,
        |    sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS n2,
        |    CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |      THEN CAST(floor(o_totalprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |      THEN CAST(floor(o_totalprice + 0.5) AS BIGINT)
        |         * CAST(floor(o_totalprice + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS q2
        |  FROM orders)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  CAST(s1 * 1000 // n1 AS BIGINT) AS mean1_milli,
        |  CAST(s2 * 1000 // n2 AS BIGINT) AS mean2_milli,
        |  CAST(floor(1000000.0 *
        |    (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |    / sqrt(
        |      (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) / n1
        |      + (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) / n2))
        |    AS BIGINT) AS t_micro
        |FROM s""".stripMargin) { (s, dir) =>
      // whole DOLLARS: the sum of squared cents overflows BIGINT at sf0.1
      // (n·c² past 2^63); dollars hold the exact path to ~3e7 rows/arm
      val cents = floor(col("o_totalprice") + 0.5).cast("long")
      def arm(p: String, suffix: String) = Seq(
        sum(when(col("o_orderpriority") === p, 1L).otherwise(0L)).as(s"n$suffix"),
        sum(when(col("o_orderpriority") === p, cents).otherwise(0L))
          .cast("long").as(s"s$suffix"),
        sum(when(col("o_orderpriority") === p, cents * cents).otherwise(0L))
          .cast("long").as(s"q$suffix"))
      val aggs = arm("1-URGENT", "1") ++ arm("5-LOW", "2")
      Td.table(s, dir, "orders")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          expr("CAST(s1 * 1000 DIV n1 AS BIGINT)").as("mean1_milli"),
          expr("CAST(s2 * 1000 DIV n2 AS BIGINT)").as("mean2_milli"),
          floor(lit(1000000.0) *
            (col("s1").cast("double") / col("n1") - col("s2").cast("double") / col("n2"))
            / sqrt(
              (col("q1").cast("double") - col("s1").cast("double") * col("s1") / col("n1"))
                / (col("n1") - 1) / col("n1")
              + (col("q2").cast("double") - col("s2").cast("double") * col("s2") / col("n2"))
                / (col("n2") - 1) / col("n2")))
            .cast("long").as("t_micro"))
    }
  )
}
