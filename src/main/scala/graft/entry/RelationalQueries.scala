package graft.entry

import graft.entry.Inputs.t
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational shell: aggregation, joins, windows, top-n, pushdown and
  * set operations over the TPC-H-style tables, all Catalyst built-ins. */
private[graft] object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q01_agg",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    },
    Query("q02_join_broadcast",
      """SELECT n_name, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },
    Query("q03_window",
      """SELECT event_id, user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        | lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |FROM events""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .select("event_id", "user_id", "rn", "prev_type")
    },
    Query("q04_topn",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    },
    Query("q05_filter_pushdown",
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_quantity < 25
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
          col("l_quantity") < 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"))
    },
    Query("q06_distinct",
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem") { (s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    },
    Query("q07_semi_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").select("c_custkey", "c_name")
    },
    Query("q08_anti_join",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey", "c_name")
    },
    Query("q09_set_union",
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey AS nationkey FROM supplier""".stripMargin) { (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }
  )
}
