package graft

import graft.core.Turn
import graft.spark.{Manifest, Pipeline}
import graft.testgen.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def synthTurns(convs: Int, avg: Int, mega: Int) = {
    import spark.implicits._
    val rows = Synth.corpus(seed = 42L, convs = convs, avgTurns = avg, megaTurns = mega).toVector
    val turns = rows.map(r => Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool,
      new java.sql.Timestamp(r.tsMillis)))
    val expected = rows.map(r => (r.conv_id, r.turn_idx, r.expected))
    (spark.createDataset(turns), expected.toDF("conv_id", "turn_idx", "expected"))
  }

  test("per-turn equality on a mixed-dialect corpus with a mega-conversation") {
    val (ds, expected) = synthTurns(convs = 12, avg = 8, mega = 300)
    val out = Pipeline.extractTurns(ds)
    val mismatches = out.toDF()
      .join(expected, Seq("conv_id", "turn_idx"))
      .filter(col("extracted_text") =!= col("expected"))
    val bad = mismatches.count()
    if (bad > 0) mismatches.select("conv_id", "turn_idx", "extracted_text", "expected").show(5, false)
    assert(bad == 0)
    assert(out.count() == ds.count()) // no row lost, no row duplicated
  }

  test("a null-text turn comes out as exactly one quarantined row") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0)
    val ds = spark.createDataset(Seq(
      Turn("c1", 0, "user", "hello", "", ts), Turn("c1", 1, "user", null, "", ts)))
    val out = Pipeline.extractTurns(ds).collect().sortBy(_.turn_idx)
    assert(out.length == 2)
    assert(out(0).extracted_text == "hello")
    assert(out(1).extracted_text == "")
    assert(out(1).spans == Seq(graft.core.Span(0, 0, "error")))
    assert(out(1).metrics.dropped_nodes == 1)
  }

  test("stable ordering invariant (window row_number vs turn_idx)") {
    val (ds, _) = synthTurns(convs = 6, avg = 5, mega = 50)
    val out = Pipeline.extractTurns(ds)
    assert(Pipeline.orderingViolations(out) == 0)
    // and within partitions, rows are physically sorted by (conv_id, turn_idx)
    import spark.implicits._
    val perPartition = out.toDF()
      .mapPartitions { it =>
        var ok = true
        var prev: (String, Int) = null
        it.foreach { r =>
          val k = (r.getString(0), r.getInt(1))
          if (prev != null && (k._1 < prev._1 || (k._1 == prev._1 && k._2 < prev._2))) ok = false
          prev = k
        }
        Iterator.single(ok)
      }
    assert(perPartition.collect().forall(identity))
  }

  test("extraction result is invariant under input shuffling") {
    val (ds, _) = synthTurns(convs = 5, avg = 4, mega = 20)
    val a = Pipeline.extractTurns(ds).select("conv_id", "turn_idx", "extracted_text")
    val b = Pipeline.extractTurns(ds.orderBy(rand(7))).select("conv_id", "turn_idx", "extracted_text")
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  test("salted conv rollup equals unsalted groupBy") {
    val (ds, _) = synthTurns(convs = 5, avg = 4, mega = 40)
    val out = Pipeline.extractTurns(ds)
    val salted = graft.spark.ConvRollup.salted(out, salt = 8)
      .orderBy("conv_id").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val plain = out.toDF().groupBy(col("conv_id"))
      .agg(count(lit(1)).as("turns"), sum(length(col("extracted_text"))).as("chars"))
      .orderBy("conv_id").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("skew: a 100k-turn mega-conversation splits across partitions") {
    import spark.implicits._
    // plain-text payloads: this test exercises partitioning, not the parsers
    val mega = (0 until 100000).map(i =>
      Turn("mega", i, "user", s"turn text $i", "", new java.sql.Timestamp(i.toLong)))
    val small = (0 until 50).flatMap(c => (0 until 10).map(i =>
      Turn(f"c$c%03d", i, "user", s"small $c $i", "", new java.sql.Timestamp(i.toLong))))
    val ds = spark.createDataset(scala.util.Random.shuffle(mega ++ small))
    val out = Pipeline.extractTurns(ds, Some(8))
    val sizes = out.toDF().mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.sum == 100500)
    // the mega conversation must not land on one reducer: no partition holds
    // more than ~40% of the rows (range partitioner splits it by turn_idx)
    assert(sizes.max < 40000, sizes.mkString(","))
    assert(Pipeline.orderingViolations(out) == 0)
  }

  test("manifest: append, latest-wins read") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    Manifest.append(
      Seq(("p1", "s1", 10L, 100L, "done", ts1), ("p2", "s1", 5L, 50L, "failed", ts1))
        .toDF("part", "snapshot_id", "rows", "chars", "status", "run_ts"), dir)
    Manifest.append(
      Seq(("p2", "s2", 5L, 50L, "done", ts2))
        .toDF("part", "snapshot_id", "rows", "chars", "status", "run_ts"), dir)
    val m = Manifest.read(spark, dir)
    assert(m.count() == 2) // latest wins per part
    assert(m.filter(col("part") === "p2" && col("status") === "done").count() == 1)
  }

  test("driver entry() smoke: rows > 0 with the full output schema") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("conv_id", "turn_idx", "extracted_text", "spans", "metrics"))
  }

  test("manifest read on missing path yields empty frame") {
    val m = Manifest.read(spark, "/tmp/graft-no-such-manifest-xyz")
    assert(m.count() == 0)
  }
}
