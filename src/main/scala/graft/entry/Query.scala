package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator query: its name, the DuckDB SQL that computes the same rows
  * over the sf tables (its oracle), and its Spark body, which takes the
  * session and the sf directory. The oracle is required, so a query without
  * one does not compile. `SparkEntry` collects every area's `all` into its
  * `queries` and `oracleSql` maps. */
final case class Query(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)
