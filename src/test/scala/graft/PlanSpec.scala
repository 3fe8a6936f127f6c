package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions: the 100 TB story depends on the physical plans, not
  * just results. These pin the properties that must survive refactors:
  * predicate/column pushdown to the parquet scan, broadcast joins for small
  * dims, map-side partial aggregation, and a single exchange in the extraction
  * pipeline.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q05: filters and projection pushed to the parquet scan") {
    val p = plan("q05_filter_pushdown")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
    // pruned read schema: only the three referenced columns
    assert(p.contains("l_returnflag") && !p.contains("l_extendedprice"), p)
  }

  test("q02: dimension joins are broadcast, aggregation is partial+final") {
    val p = plan("q02_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q01: whole-stage codegen covers scan→partial agg") {
    // AQE finalizes the plan at execution; run the query, then inspect
    val df = SparkEntry.queries("q01_agg")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the plan printer marks whole-stage-codegen spans with "*(n)" prefixes
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("extraction pipeline: exactly one exchange (the range repartition)") {
    import spark.implicits._
    val turns = spark.createDataset(Seq(
      graft.core.Turn("c1", 0, "user", "plain", "", new java.sql.Timestamp(0))))
    val p = graft.spark.Pipeline.extractTurns(turns).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert("rangepartitioning".r.findAllIn(p).length == 1, p)
    Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions").foreach { op =>
      assert(!p.contains(op), s"$op in:\n$p")
    }
    // printed top-down: above the exchange means the post-shuffle map stage,
    // so the RangePartitioner's sampling pass never runs the kernel
    assert("ExtractTurnKernel.extract".r.findAllIn(p).length == 1, p)
    assert(p.indexOf("ExtractTurnKernel.extract") < p.indexOf("Exchange"), p)
  }

  test("app.Main: one write pass — bucket-led range exchange, one sort above extract_turn, observed metrics") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(s"graft-plan-$n").toString + s"/$n"
    val (in, out, mf) = (tmp("in"), tmp("out"), tmp("mf"))
    spark.createDataset((0 until 64).map(i => graft.core.Turn(f"c${i % 9}%02d", i / 9, "user",
      s"plain $i", "", new java.sql.Timestamp(i.toLong)))).write.parquet(in)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def run(manifest: String, mode: String): Unit = graft.app.Main.run(spark, Array("--input", in,
      "--output", out, "--manifest", manifest, "--mode", mode, "--buckets", "8", "--partitions", "3"))
    spark.listenerManager.register(listener)
    try {
      run(mf, "full")
      // a resume with one bucket pending: the plan also filters by bucket
      val mf2 = tmp("mf2")
      spark.read.parquet(mf).filter($"part" =!= "1").write.parquet(mf2)
      run(mf2, "resume")
      org.apache.spark.sql.ListenerDrain(spark)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val plans = seen.asScala.toSeq.map(_.executedPlan)

    // no query reads the output back
    def local(p: org.apache.hadoop.fs.Path) = p.toUri.getPath.stripSuffix("/")
    val outScans = plans.flatMap(p => Plans.collectWithSubqueries(p) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(local(_).startsWith(out)) => s
    })
    assert(outScans.isEmpty, outScans.mkString("\n"))

    val writes = plans.filter(p => Plans.collect(p) {
      case w: DataWritingCommandExec => w.cmd
    }.exists {
      case c: InsertIntoHadoopFsRelationCommand => local(c.outputPath) == out
      case _ => false
    })
    assert(writes.length == 2, plans.mkString("\n\n")) // the full and the resume run
    writes.foreach { w =>
      val exchanges = Plans.collect(w) { case e: ShuffleExchangeLike => e }
      assert(exchanges.length == 1, w)
      exchanges.head.outputPartitioning match {
        case RangePartitioning(order, _) =>
          assert(order.map(_.child.references.head.name) == Seq("bucket", "conv_id", "turn_idx"), w)
        case other => fail(s"expected range partitioning, got $other")
      }
      val sorts = Plans.collect(w) { case s: SortExec => s }
      assert(sorts.length == 1, w)
      assert(sorts.head.sortOrder.map(_.child.references.head.name) == Seq("bucket", "conv_id", "turn_idx"), w)
      assert(Plans.find(sorts.head.child)(
        _.expressions.exists(_.toString.contains("ExtractTurnKernel.extract"))).nonEmpty, w)
      assert(Plans.collect(w) { case c: CollectMetricsExec => c }.length == 1, w)
    }
  }

  test("q30 ANN: query side broadcast — corpus never shuffles for the join") {
    val p = plan("q30_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("SQL function surface: extensions wiring + registered functions") {
    // the extensions class must inject cleanly into a SparkSessionExtensions
    // (config-time path: spark.sql.extensions=graft.functions.GraftExtensions)
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
    // runtime path: same expressions through the session's function registry
    val s2 = spark.newSession()
    graft.functions.TextHashes.register(s2)
    val r = s2.sql(
      "SELECT extract_text('<body><p>hi</p></body>') AS t, simhash64('a b c') AS h")
      .collect()(0)
    assert(r.getString(0) == "hi")
    val turn = s2.sql("SELECT extract_turn('<body><p>hi</p></body>') AS x")
    assert(turn.schema("x").dataType == graft.functions.ExtractTurn.dataType)
    val x = turn.select("x.extracted_text", "x.metrics.chars").collect()(0)
    assert(x.getString(0) == "hi" && x.getInt(1) == 2)
    // null quarantines to the empty turn, as in batch and streaming
    assert(s2.sql("SELECT extract_text(CAST(NULL AS STRING))").head().getString(0) == "")
    // selecting two fields of one payload extracts once per row: the kernel
    // call appears once in the generated code (a non-literal payload, so
    // constant folding does not evaluate it at planning time)
    val both = s2.range(2)
      .selectExpr("concat('<body><p>hi ', CAST(id AS STRING), '</p></body>') AS p")
      .selectExpr("extract_text(p) AS t", "extract_spans(p) AS s")
    assert(both.collect().map(_.getString(0)).toSeq == Seq("hi 0", "hi 1"))
    val code = both.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert("ExtractTurnKernel".r.findAllIn(code).length == 1, code)
    val spans = s2.sql(
      "SELECT explode(extract_spans('<body><p>hi</p></body>')) AS s")
      .select("s.start", "s.end", "s.label").collect()
    assert(spans.length == 1 && spans(0).getInt(0) == 0 && spans(0).getInt(1) == 2)
    assert(r.getLong(1) == graft.functions.TextSketch.simhash(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c")))
    // round-4 kernels through SQL: positional grams + span clip
    val sub = s2.sql(
      "SELECT size(token_gram_hashes('a b c')) AS n, " +
        "drop_token_spans('a b c d', array(1), array(3)) AS kept")
      .collect()(0)
    assert(sub.getInt(0) == 0) // 3 tokens < default l=50 -> no grams
    assert(sub.getString(1) == "a d")
  }

  test("q20 exact dedup: single shuffle with partial aggregation below it") {
    val p = plan("q20_dedup_exact")
    val idx = p.indexOf("Exchange")
    assert(idx > 0, p)
    // a HashAggregate (partial) must appear below (after, in printed order) the exchange
    assert(p.indexOf("HashAggregate", idx) > idx, p)
  }

  test("exact128: winner-election exchange carries only (hash, id), never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.ops.Dedup.exact128(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    val planned = df.queryExecution.executedPlan
    val root = planned match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, planned.toString)
    // the hash-partitioned winner election must not move the text column; only
    // the id-keyed semi-join side may carry it
    val hashed = exchanges.filter(_.outputPartitioning.toString.contains("__h1"))
    assert(hashed.nonEmpty, planned.toString)
    hashed.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"), e.child.output.mkString(","))
    }
  }

  test("q36 substring dedup: gram exchanges carry (hash, id, pos) only, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.ops.Dedup.substringDedup(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", l = 15)
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, root.toString)
    // every shuffle in the operator is narrow: the gram dup-count exchange and
    // the per-doc span-merge exchange move ids/hashes/positions, NEVER text —
    // the text rides only the final broadcast/id-keyed join back to the source
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        e.child.output.mkString(","))
    }
  }

  test("q25 winnow pairs: candidate exchanges carry (fp, id) only, never text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = graft.ops.Dedup.fingerprintNearDups(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, root.toString)
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"), e.child.output.mkString(","))
    }
  }

  test("q34 IVF-PQ: probe join broadcast; ADC stage ranks codes, not vectors") {
    val p = plan("q34_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    // the kernel calls appear in the plan (static kernel calls, not HOFs)
    assert(p.contains("PqVector.adc"), p)
    assert(p.contains("PqVector.encode"), p)
  }

  /** MD5 of `schema.json` per registry query over `sfDir`. The queries left
    * out need the reference checkout mounted and do not build without it.
    * A kernel column that reaches a query's output must carry an alias: its
    * generated name is the kernel call, constants included. */
  private val schemaPins: Map[String, String] = Map(
    "q01_agg" -> "4e3e63c02a9f67fdb5736edd2c5a6720",
    "q02_join_broadcast" -> "adad5f395a0e519bf159cf1d5614db73",
    "q03_window" -> "db8ab10effedcbb41ed89c9fbac2999f",
    "q04_topn" -> "121a95ebedb2347f0769cea65d89a5b7",
    "q05_filter_pushdown" -> "7d180ce99f090a17772f0c6df3726191",
    "q06_distinct" -> "89940a303413f84f88059b7a2123c527",
    "q07_semi_join" -> "e98dd27fad16ef160e0da10a09c69b13",
    "q08_anti_join" -> "e98dd27fad16ef160e0da10a09c69b13",
    "q09_set_union" -> "5c5501151eb72a8772cad8bcc48e1584",
    "q10_extract_html" -> "33ed7c9760d503a25089b8c94c2dc02c",
    "q11_extract_svg" -> "33ed7c9760d503a25089b8c94c2dc02c",
    "q12_extract_pdf" -> "33ed7c9760d503a25089b8c94c2dc02c",
    "q13_pipeline_e2e" -> "85c3543e6dc2b3f948bd7ca34f23bda4",
    "q14_spans" -> "eb2b421c8faa1f9aad00c1c420a3fbc5",
    "q15_ordering" -> "3fd066fe06ba3da9422a80637573c933",
    "q16_sql_extract" -> "33ed7c9760d503a25089b8c94c2dc02c",
    "q17_conv_rollup" -> "deab3e127b33b5e53f1e065b54f8145c",
    "q20_dedup_exact" -> "49c522fd3df8710c34746d27b8d13127",
    "q21_dedup_minhash" -> "7b189717d8d6c454a6ab416c7f08396e",
    "q22_simhash_pairs" -> "7b189717d8d6c454a6ab416c7f08396e",
    "q23_ngram_jaccard" -> "bdc037aeb18ce0b713841a8af85a7e37",
    "q24_dedup_norm" -> "e0bcfeaa25051762c9fa98720a9211f2",
    "q25_fingerprint_pairs" -> "8d554d98f3ed278aa059a3827870abb1",
    "q26_dedup_clusters" -> "bf7757c45654f596315320efc7224e43",
    "q26b_dedup_clusters_dist" -> "61501b54a0a128ed2cdd2af3a6fb1b57",
    "q27_stratified_sample" -> "2f64cf6b9425155055368dd11e805934",
    "q28_pack_sequences" -> "c214e342951bcd7c7241b4c5dd987e43",
    "q29_oov_rate" -> "ec04e316d9ffa79cc4e89bd7c25f24d7",
    "q30_ann_bruteforce" -> "0fcd39c9ff1f9b7526f04bfb0f3269b9",
    "q31_ann_lsh" -> "0fcd39c9ff1f9b7526f04bfb0f3269b9",
    "q32_cosine_neardup" -> "7b189717d8d6c454a6ab416c7f08396e",
    "q33_ann_ivf" -> "48213baa5e6dc24115a6b752785bc491",
    "q34_ann_ivfpq" -> "48213baa5e6dc24115a6b752785bc491",
    "q35_ann_lsh_multiprobe" -> "0fcd39c9ff1f9b7526f04bfb0f3269b9",
    "q36_substring_dedup" -> "d1fac0b476df3c021d2bd009826df9d2",
    "q37_semantic_dedup" -> "afebb1d0044185796ed5e6f6b8937420",
    "q40_textstats" -> "a401603748d403dfb841089ede4f3787",
    "q41_quality" -> "d85d6892dc0c80e76161d4a29b9932f7",
    "q42_langid" -> "7a019a825879d79b4111f7bc9b404613",
    "q43_fingerprint" -> "5600cb78ee74b8f13d43818cc781882f",
    "q44_chunking" -> "bcb1827f54d00a960f6d6dc9e60cc40c",
    "q45_redact" -> "086846472eecbbd5936e422eef9170bf",
    "q46_clean_pipeline" -> "bcb1827f54d00a960f6d6dc9e60cc40c",
    "q47_decontaminate" -> "983d330176a26cddd7e71f056e39bd16",
    "q48_repetition" -> "8a838e28c5f89d7a9c7ef474fde79081",
    "q49_extract_markdown" -> "33ed7c9760d503a25089b8c94c2dc02c",
    "q50_events_window" -> "d8d7510467ba1b6a020c27fa031c9316",
    "q51_sessionize" -> "0c278e4be3d897e9803b57188d31ac0a",
    "q52_events_minmax" -> "54c5602b4922d16312d5454f730d3c39",
    "q53_rollup" -> "a1e917a90cc8d93eca1853dda1fcbb7a",
    "q58_salted_join" -> "d0cfbd1b1094a21e3b7d8a7524045f80",
    "q59_asof_join" -> "78db2e31545b55597e82cc7d95cdfa2e",
    "q60_multimodal" -> "538a53fdf5abefbe99cdd124bfe6ddb4",
    "q71_streaming_sessions" -> "a7595a9d36e1331516f17a91d052d11a",
    "q72_streaming_dedup" -> "2936cdbb78a4d57757d7869923a0f7e7",
    "q73_streaming_windows" -> "b86ea71fcad6456181bd227398ef6c87")

  test("schema pin: every runnable registry query keeps its output schema") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    val diff = schemaPins.toSeq.sortBy(_._1).flatMap { case (n, m) =>
      val got = scala.util.Try(md5(SparkEntry.queries(n)(spark, sfDir).schema.json))
      if (got.toOption.contains(m)) None else Some(s"$n: pinned $m, got $got")
    }
    assert(diff.isEmpty, diff.mkString("\n"))
  }
}
