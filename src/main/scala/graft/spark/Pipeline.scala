package graft.spark

import graft.core.{ExtractedTurn, Turn}
import graft.functions.TextHashes.extract_turn
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The production extraction job, Spark-first:
  *
  *   scan (Iceberg/parquet, column-pruned, partition-pruned)
  *     → repartitionByRange(lead, conv_id, turn_idx)  // skew-safe: a mega-conversation
  *                                                  // splits across partitions by
  *                                                  // turn_idx ranges, no salt needed
  *                                                  // for this stateless map stage
  *     → select(lead, extract_turn(text).*)         // one Catalyst expression around
  *                                                  // the hot per-row state machines
  *     → sortWithinPartitions(lead, conv_id, turn_idx)  // stable turn ordering
  *     → sink (idempotent MERGE-keyed on (conv_id, turn_idx) in Iceberg; parquet
  *       write partitioned by the lead key + manifest in this sandbox)
  *
  * `lead` is empty for a plain extraction; `app.Main` leads with its output
  * bucket, so each task owns a contiguous run of buckets and the sort already
  * meets the bucketed write's required ordering: the executed write has no
  * Sort of its own. (A write Sort on the bucket alone makes Catalyst's
  * `EliminateSorts` drop a (conv_id, turn_idx) sort below it, and the files
  * come out unordered.) The sort runs after extraction, not before: before,
  * the sorter buffers each task's raw payloads, which are larger than their
  * extracted text and spans, and the job's peak heap measured 30–45 % higher.
  *
  * Because turns are independent (the reference's page loop is sequential only as
  * an artifact of its promise chain — pdfToSvg.js:65-89), the only cross-row
  * requirement is *ordering* of the output, which range partitioning + within-
  * partition sort provides without a global sort barrier. At 100 TB the plan is:
  * one shuffle (the range exchange), then a single pipelined map stage; AQE
  * coalesces small partitions and splits skewed ones. The extraction is a
  * projection, so column pruning keeps `role`, `tool` and `ts` off the exchange
  * and no object deserialize/serialize pair surrounds the kernel.
  */
object Pipeline {

  /** The schema every turn table is read with, batch and streaming alike.
    * Every column is nullable, as parquet stores them; `extract` asserts the
    * key columns non-null, so a null `turn_idx` fails the job. Reading with
    * a given schema also spares the batch read a schema-inference job. */
  val turnReadSchema: StructType = StructType.fromDDL(
    "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")

  def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    requireTurnColumns(spark, path)
    spark.read.schema(turnReadSchema).parquet(path).as[Turn]
  }

  /** A turn table must hold every column of [[turnReadSchema]]: a read with
    * a given schema fills a missing column with nulls, and every row would
    * then come back quarantined. Checks the footer of the table's first data
    * file on the driver, the file Spark's schema inference would read. */
  private def requireTurnColumns(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    root.getFileSystem(conf).listStatus(root).map(_.getPath).sortBy(_.getName)
      .find(f => !f.getName.startsWith("_") && !f.getName.startsWith(".") && f.getName.endsWith(".parquet"))
      .foreach { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
        val footer = try reader.getFileMetaData.getSchema finally reader.close()
        val missing = turnReadSchema.fieldNames.filterNot(footer.containsField)
        require(missing.isEmpty, s"turn table $path lacks column(s): ${missing.mkString(", ")}")
      }
  }


  /** Core extraction: ordered, skew-safe, one shuffle. `payload` is a per-row
    * step on `text` that runs AFTER the range exchange (guide §2.3/§8): the
    * exchange carries the raw text instead of the expanded payload, and the
    * RangePartitioner's sampling pass never evaluates it. */
  def extractTurns(ds: Dataset[Turn], numPartitions: Option[Int] = None,
      payload: Column => Column = identity): Dataset[ExtractedTurn] = {
    import ds.sparkSession.implicits._
    extractSorted(ds, numPartitions, payload = payload).as[ExtractedTurn]
  }

  /** The one batch plan: range exchange on `lead ++ (conv_id, turn_idx)`, the
    * [[extract]] projection keeping `lead`, then a within-partition sort on
    * the same key. `lead` names columns already on `turns`. */
  def extractSorted(turns: Dataset[_], numPartitions: Option[Int] = None, lead: Seq[String] = Nil,
      payload: Column => Column = identity): DataFrame = {
    val parts = numPartitions.getOrElse(turns.sparkSession.sessionState.conf.numShufflePartitions)
    val key = lead ++ Seq("conv_id", "turn_idx")
    extract(turns.repartitionByRange(parts, key.map(col): _*), key, payload)
      .sortWithinPartitions(key.map(col): _*)
  }

  private lazy val turnSchema = Encoders.product[Turn].schema

  /** The extraction projection batch and streaming share: the `keep` columns,
    * then `extract_turn(payload(text))` expanded to extracted_text, spans and
    * metrics. The struct is computed in its own projection, which Catalyst
    * does not collapse into the three field reads, so each row is extracted
    * once. Kept `Turn` columns take the nullability the `Turn` encoder gives
    * them: a null `turn_idx` fails the job rather than writing a null key.
    * Other kept columns pass through as they are. */
  def extract(turns: Dataset[_], keep: Seq[String] = Seq("conv_id", "turn_idx"),
      payload: Column => Column = identity): DataFrame = {
    val kept = keep.map { c =>
      if (turnSchema.find(_.name == c).forall(_.nullable)) col(c)
      else column(AssertNotNull(expression(col(c)))).as(c)
    }
    turns.select(kept :+ extract_turn(payload(col("text"))).as("__turn"): _*)
      .select(kept :+ col("__turn.*"): _*)
  }

  /** Ordering invariant check (BASELINE.json north_rule): row_number over
    * (conv_id ORDER BY turn_idx) must equal the dense per-conversation index.
    * Returns the violation count — 0 on a healthy table. */
  def orderingViolations(ds: Dataset[ExtractedTurn]): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    ds.toDF()
      .withColumn("rn", row_number().over(w))
      .withColumn("expected", dense_rank().over(w))
      .filter(col("rn") =!= col("expected"))
      .count()
  }
}
