package graft

import graft.functions.{ExtractTurn, PqFunctions, PqVector, TextHashes => T}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst binding of every kernel: each column function and each SQL
  * function gives the same rows generated as interpreted, on a fixed input
  * with a null row, a pinned result type and nullability, and, unaliased,
  * a column named after the function, as SQL shows it.
  * (`PlanSpec` pins the registry's output schemas.) */
class KernelBindingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "a b c d e f g",
    "héllo 😀 wörld, punct! ok? (yes) 42 1st",
    "",
    null)

  private val vecs: Seq[Array[Double]] = Seq(
    Array(1.0, 0.5, -0.25, 2.0), Array(0.0, 0.0, 0.0, 0.0), Array(-1.5, 3.0, 0.125, -0.5),
    Array(0.25, -0.75, 1.0, 1.0))
  private val centroids = Array(Array(1.0, 0.0, 0.0, 1.0), Array(0.0, 1.0, 1.0, 0.0))
  private val codebooks = PqVector.train(vecs.toArray, m = 2, ksub = 2)
  private val luts = Array(Array(0.5, -1.0, 2.0, 0.25), Array(1.5, 0.0, -0.5, 1.0))

  /** The fixed input, through parquet so no projection is folded into a
    * local relation at planning time. Every column of the last row is null. */
  private lazy val inputDir: String = {
    val rows = texts.zipWithIndex.map { case (t, i) =>
      if (t == null) Row.fromSeq(Seq.fill(10)(null))
      else {
        val v = vecs(i)
        Row(t, i.toLong * 7919L, v.map(_.toFloat).toSeq, v.toSeq,
          PqVector.encode(new org.apache.spark.sql.catalyst.util.GenericArrayData(v), codebooks, false),
          i % 2, luts(i % 2).toSeq, Seq(0, 3).take(i % 3), Seq(1, 5).take(i % 3),
          s"<body><p>turn $i ${t.take(20)}</p></body>")
      }
    }
    val schema = StructType.fromDDL("text STRING, id BIGINT, vf ARRAY<FLOAT>, vd ARRAY<DOUBLE>, " +
      "code BINARY, list INT, lut ARRAY<DOUBLE>, starts ARRAY<INT>, ends ARRAY<INT>, payload STRING")
    val dir = java.nio.file.Files.createTempDirectory("graft-kernels").toString + "/in"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(dir)
    dir
  }

  /** Rows of `q` with generated code only, then interpreted only. Each mode
    * plans its own DataFrame: whole-stage codegen is decided at planning. */
  private def bothModes(s: SparkSession)(q: DataFrame => DataFrame): (DataFrame, Seq[Row], Seq[Row]) = {
    def run(factory: String, wholeStage: Boolean): (DataFrame, Seq[Row]) = {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val prev = keys.map(k => k -> s.conf.getOption(k))
      s.conf.set(keys(0), factory)
      s.conf.set(keys(1), wholeStage.toString)
      try {
        val df = q(s.read.parquet(inputDir)).orderBy("__k")
        (df, df.collect().toSeq)
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
    val (df, generated) = run("CODEGEN_ONLY", wholeStage = true)
    val (_, interpreted) = run("NO_CODEGEN", wholeStage = false)
    (df, generated, interpreted)
  }

  private val ArrLong = ArrayType(LongType, containsNull = false)
  private val ArrDouble = ArrayType(DoubleType, containsNull = false)

  /** (name, column over the input, pinned result type, pinned nullability). */
  private def columnCases: Seq[(String, Column, DataType, Boolean)] = {
    val text = col("text")
    Seq(
      ("minhash_signature", T.minhash_signature(text, 2, 8), ArrLong, true),
      ("simhash64", T.simhash64(text), LongType, true),
      ("winnow_fingerprint", T.winnow_fingerprint(text, 5), LongType, true),
      ("winnow_set", T.winnow_set(text, 4, 3), ArrLong, true),
      ("mix64_col", T.mix64_col(col("id")), LongType, true),
      ("shingle_hashes", T.shingle_hashes(text, 2), ArrLong, true),
      ("token_gram_hashes", T.token_gram_hashes(text, 2), ArrLong, true),
      ("drop_token_spans", T.drop_token_spans(text, col("starts"), col("ends")), StringType, true),
      ("lsh_signature_f", T.lsh_signature(col("vf"), 16), LongType, true),
      ("lsh_signature_d", T.lsh_signature(col("vd"), 16), LongType, true),
      ("nearest_centroid_f", T.nearest_centroid(col("vf"), centroids), IntegerType, true),
      ("nearest_centroid_d", T.nearest_centroid(col("vd"), centroids), IntegerType, true),
      ("cosine_sim_ff", T.cosine_sim(col("vf"), reverse(col("vf"))), DoubleType, true),
      ("cosine_sim_fd", T.cosine_sim(col("vf"), col("vd")), DoubleType, true),
      ("cosine_sim_dd", T.cosine_sim(col("vd"), reverse(col("vd"))), DoubleType, true),
      ("token_set_count", T.token_set_count(text, Seq("the", "fox", "b")), IntegerType, true),
      ("token_set_count_letters", T.token_set_count(text, Seq("punct", "yes", "st"), byLetters = true),
        IntegerType, true),
      ("ws_word_count", T.ws_word_count(text), IntegerType, true),
      ("token_in_vocab", T.token_in_vocab(text, Seq("quick", "lazy", "c", "ok?")), IntegerType, true),
      ("bpeish_word_tokens", T.bpeish_word_tokens(text), LongType, true),
      ("ws_token_count", T.ws_token_count(text), IntegerType, true),
      ("punct_count", T.punct_count(text), IntegerType, true),
      ("chunk_words", T.chunk_words(text, 3, 2), ArrayType(StringType, containsNull = true), true),
      ("top_bigram_share", T.top_bigram_share(text), DoubleType, true),
      ("extract_turn", T.extract_turn(col("payload")), ExtractTurn.dataType, false),
      ("pq_encode_f", PqFunctions.pq_encode(col("vf"), codebooks), BinaryType, true),
      ("pq_encode_d", PqFunctions.pq_encode(col("vd"), codebooks), BinaryType, true),
      ("pq_code_norm_sq", PqFunctions.pq_code_norm_sq(col("code"), codebooks), DoubleType, true),
      ("pq_lut_f", PqFunctions.pq_lut(col("vf"), codebooks), ArrDouble, true),
      ("pq_lut_d", PqFunctions.pq_lut(col("vd"), codebooks), ArrDouble, true),
      ("pq_adc", PqFunctions.pq_adc(col("code"), col("lut")), DoubleType, true),
      ("centroid_residual_f",
        PqFunctions.centroid_residual(col("vf"), col("list"), centroids), ArrDouble, true),
      ("centroid_residual_d",
        PqFunctions.centroid_residual(col("vd"), col("list"), centroids), ArrDouble, true),
      ("pq_adc_indexed", PqFunctions.pq_adc_indexed(col("code"), col("list"), luts), DoubleType, true))
  }

  test("every column function: generated rows equal interpreted rows; pinned type and nullability") {
    val cases = columnCases
    val (df, generated, interpreted) = bothModes(spark)(in =>
      in.select(col("id").as("__k") +: cases.map { case (n, c, _, _) => c.as(n) }: _*))
    assert(generated.length == texts.length)
    assert(generated == interpreted)
    // the null row is null in every column but extract_turn, which quarantines it
    val nullRow = generated.find(_.isNullAt(0)).get
    cases.zipWithIndex.foreach { case ((n, _, _, nullable), i) =>
      assert(nullRow.isNullAt(i + 1) == nullable, n)
    }
    cases.foreach { case (n, _, t, nullable) =>
      assert(df.schema(n).dataType == t, n)
      assert(df.schema(n).nullable == nullable, n)
    }
    // unaliased, a column is named after its function, constants left out
    val names = spark.read.parquet(inputDir).select(cases.map(_._2): _*).columns.toSeq
    assert(names == Seq(
      "minhash_signature(text)", "simhash64(text)", "winnow_fingerprint(text)", "winnow_set(text)",
      "mix64(id)", "shingle_hashes(text)", "token_gram_hashes(text)",
      "drop_token_spans(text, starts, ends)", "lsh_signature(vf)", "lsh_signature(vd)",
      "nearest_centroid(vf)", "nearest_centroid(vd)", "cosine_sim(vf, reverse(vf))",
      "cosine_sim(vf, vd)", "cosine_sim(vd, reverse(vd))", "token_set_count(text)",
      "token_set_count(text)", "ws_word_count(text)", "token_in_vocab(text)",
      "bpeish_word_tokens(text)", "ws_token_count(text)", "punct_count(text)", "chunk_words(text)",
      "top_bigram_share(text)", "extract_turn(payload)", "pq_encode(vf)", "pq_encode(vd)",
      "pq_code_norm_sq(code)", "pq_lut(vf)", "pq_lut(vd)", "pq_adc(code, lut)",
      "centroid_residual(vf, list)", "centroid_residual(vd, list)", "pq_adc_indexed(code, list)"))
  }

  test("every SQL function: generated rows equal interpreted rows; pinned type and nullability") {
    val s = spark.newSession()
    T.register(s)
    val cases = Seq(
      ("extract_turn", "extract_turn(payload)", ExtractTurn.dataType, false),
      ("extract_text", "extract_text(payload)", StringType, true),
      ("extract_spans", "extract_spans(payload)", ExtractTurn.dataType("spans").dataType, true),
      ("minhash_signature", "minhash_signature(text)", ArrLong, true),
      ("simhash64", "simhash64(text)", LongType, true),
      ("shingle_hashes", "shingle_hashes(text)", ArrLong, true),
      ("winnow_fingerprint", "winnow_fingerprint(text)", LongType, true),
      ("token_gram_hashes", "token_gram_hashes(text)", ArrLong, true),
      ("drop_token_spans", "drop_token_spans(text, starts, ends)", StringType, true))
    assert(cases.map(_._1).toSet == T.sqlFunctions.map(_._1).toSet)
    val (df, generated, interpreted) = bothModes(s)(in =>
      in.selectExpr("id AS __k" +: cases.map { case (n, e, _, _) => s"$e AS $n" }: _*))
    assert(generated.length == texts.length)
    assert(generated == interpreted)
    cases.foreach { case (n, _, t, nullable) =>
      assert(df.schema(n).dataType == t, n)
      assert(df.schema(n).nullable == nullable, n)
    }
    // unaliased, a column is named as it was called
    val names = s.read.parquet(inputDir).selectExpr(cases.map(_._2): _*).columns.toSeq
    assert(names == cases.map(_._2).map {
      case "extract_text(payload)" => "extract_turn(payload).extracted_text"
      case "extract_spans(payload)" => "extract_turn(payload).spans"
      case e => e
    })
  }

  test("one way to bind a kernel: KernelCall is the only Catalyst expression in graft.functions") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val expr = classOf[org.apache.spark.sql.catalyst.expressions.Expression]
    val loader = getClass.getClassLoader
    // the compiled classes of the package, from the main classes directory
    val dir = Path.of(Class.forName("graft.functions.KernelCall", false, loader)
      .getProtectionDomain.getCodeSource.getLocation.toURI).resolve("graft/functions")
    val names = Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".class")).map("graft.functions." + _.stripSuffix(".class")).toSeq
    assert(names.length > 20, names)
    val expressions = names.filter(n => expr.isAssignableFrom(Class.forName(n, false, loader)))
    assert(expressions == Seq("graft.functions.KernelCall"), expressions)
  }
}
