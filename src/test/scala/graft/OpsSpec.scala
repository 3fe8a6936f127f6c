package graft

import graft.ops.{Dedup, Multimodal, Similarity, TextStats}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.DataFrame

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // near dup of 0
      (3L, "completely different content about spark catalyst optimizer internals and codegen"),
      (4L, "der hund läuft über die straße und das ist nicht gut für ihn"),
      (5L, "short text")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min id per content group") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 2L, 3L, 4L, 5L))
  }

  test("exact128 hash-first path keeps the same survivors as the byte-exact path") {
    val by128 = Dedup.exact128(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val byBytes = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(by128 == byBytes)
    // all original columns survive the semi-join
    assert(Dedup.exact128(docs, "doc_id", "text").columns.toSeq == Seq("doc_id", "text"))
  }

  test("sketch kernels fold codepoints, not UTF-16 units (oracle parity off the BMP)") {
    import graft.functions.TextSketch
    import org.apache.spark.unsafe.types.UTF8String
    // U+1D11E (musical G clef) is a surrogate pair in UTF-16 but one codepoint;
    // the DuckDB oracles (unicode()/len()) see codepoints, so the kernels must too.
    val s = "a𝄞b" // "a𝄞b"
    def mix64(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // whole string is one word -> single-shingle path = mix64(fold over codepoints)
    var h = 1125899906842597L
    for (c <- Seq(0x61, 0x1D11E, 0x62)) h = 31 * h + c
    val expected = mix64(h)
    // wordCount=1 < k=2 -> whole-string single shingle; minhash slot 0 applies
    // the per-slot universal hash mix64(h + 0) = mix64(h), so sig(0) exposes it
    val sig = TextSketch.minhash(UTF8String.fromString(s), 2, 1)
    assert(sig.toSeq == Seq(mix64(expected + 0L)))
    // fingerprint window counts codepoints: n=3 <= window=3 -> same fold
    assert(TextSketch.fingerprint(UTF8String.fromString(s), 3) == expected)
  }

  test("decontaminate flags corpus docs sharing an 8-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "prefix words alpha beta gamma delta epsilon zeta eta theta tail"), // shares an 8-gram
      (1L, "completely different words with no overlap at all whatsoever here"),
      (2L, "alpha beta gamma") // shares words but no full 8-gram
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text", shingleK = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 1L, 1L -> 0L, 2L -> 0L))
  }

  test("top_bigram_share: repetition signal, hand-computed") {
    import graft.functions.TextScan
    import org.apache.spark.unsafe.types.UTF8String
    def share(s: String) = TextScan.topBigramShare(UTF8String.fromString(s))
    assert(share("") == 0.0)
    assert(share("one") == 0.0)
    assert(share("a b") == 1.0) // single bigram
    // "a b" x3 among 5 bigrams: a b, b a, a b, b a, a b -> 3/5
    assert(share("a b a b a b") == 3.0 / 5.0)
    assert(share("w x y z") == 1.0 / 3.0) // all distinct
    assert(share("a  b") == 1.0) // double space: empty tokens skipped
  }

  test("minhash LSH finds near-dups, skips unrelated") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup always found
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never pairs
  }

  test("simhash hamming-near pairs") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical text → identical fingerprint
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash wide-key scheme (blocks=6) finds the same pairs as blocks=4") {
    val p4 = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p6 = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3, blocks = 6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both schemes are pigeonhole-complete for Hamming <= 3, so identical
    assert(p4 == p6)
  }

  test("bucket caps bound adversarial hot buckets (near-identical corpus)") {
    import spark.implicits._
    // 200 identical docs + one distinct pair: uncapped LSH joins the identical
    // block quadratically; a cap excludes the hot bucket but keeps cold ones
    val adversarial = ((0L until 200L).map(i => (i, "same same same same same text " * 3)) ++
      Seq((900L, "rare pair of documents alpha beta gamma delta"),
        (901L, "rare pair of documents alpha beta gamma delta epsilon"))).toDF("doc_id", "text")
    val capped = Dedup.minhashNearDups(adversarial, "doc_id", "text",
      threshold = 0.5, maxBucket = 50)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((900L, 901L))) // cold bucket survives the cap
    assert(!capped.exists(p => p._1 < 200L)) // hot bucket excluded, not exploded
    // simhash: identical cold pair (Hamming 0) — the near-pair above is not
    // guaranteed within radius 3 for so few tokens
    val cappedSim = Dedup.simhashNearDups(adversarial, "doc_id", "text",
      maxHamming = 3, blocks = 6, maxBucket = 50)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cappedSim.exists(p => p._1 < 200L)) // hot buckets excluded
    val withTwin = adversarial.union(
      Seq((902L, "rare pair of documents alpha beta gamma delta")).toDF("doc_id", "text"))
    val twinPairs = Dedup.simhashNearDups(withTwin, "doc_id", "text",
      maxHamming = 3, blocks = 6, maxBucket = 50)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twinPairs.contains((900L, 902L))) // identical cold pair survives
  }

  private def vectors: DataFrame = {
    import spark.implicits._
    // deterministic unit-ish vectors: id 0/1 nearly parallel, id 9 orthogonal-ish
    (0L until 10L).map { i =>
      val v = Array.tabulate(8)(d =>
        (math.sin(i * 0.1 + d) + (if (i < 2) 2.0 else 0.0)).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k matches in-memory computation") {
    val rows = vectors.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val expected = rows.filter(_._1 < 3).flatMap { case (qid, qv) =>
      rows.filter(_._1 != qid).map { case (nid, nv) => (qid, nid, cos(qv, nv)) }
        .sortBy { case (_, nid, sim) => (-sim, nid) }.take(3)
        .zipWithIndex.map { case ((q, nb, _), r) => (q, nb, r + 1) }
    }.toSet
    val got = Similarity.bruteForceTopK(
      vectors.filter(col("vec_id") < 3), vectors, "vec_id", "embedding", k = 3)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
  }

  test("lsh ANN: same-signature buckets contain the parallel pair") {
    val out = Similarity.lshTopK(
      vectors.filter(col("vec_id") === 0), vectors, "vec_id", "embedding", k = 3, bits = 4)
      .select("nid").collect().map(_.getLong(0)).toSet
    assert(out.contains(1L)) // nearly-parallel vector lands in the same bucket
  }

  test("IVF ANN: exhaustive probe equals brute force; pruned probe stays sane") {
    val bf = Similarity.bruteForceTopK(
      vectors.filter(col("vec_id") < 3), vectors, "vec_id", "embedding", k = 3)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // nprobe = nlist probes every inverted list → must reproduce brute force
    // exactly (validates assignment, probing, scoring, ranking end to end)
    val exhaustive = Similarity.ivfTopK(
      vectors.filter(col("vec_id") < 3), vectors, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4)
      .select("qid", "nid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exhaustive == bf, s"ivf=$exhaustive bf=$bf")
    // pruned probing returns a nonempty, deterministic candidate subset
    val pruned = Similarity.ivfTopK(
      vectors.filter(col("vec_id") < 3), vectors, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.nonEmpty)
    assert(pruned.forall { case (q, n) => q < 3 && n < 10 && q != n })
  }

  test("cosine near-dup pairs above threshold") {
    val pairs = Similarity.cosineNearDups(vectors, "vec_id", "embedding", threshold = 0.999, bits = 4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("cosine near-dup maxBucket caps a degenerate signature bucket") {
    import spark.implicits._
    // 64 identical embeddings — one signature bucket — plus one distinct pair
    // elsewhere: uncapped the hot bucket yields C(64,2)=2016 pairs; capped it
    // contributes ZERO (excluded from candidate generation), bounding the
    // self-join fan-out by the cap instead of N².
    val hot = (0L until 64L).map(i => (i, Array.tabulate(8)(d => (d + 1).toFloat)))
    val pair = Seq(
      (100L, Array.tabulate(8)(d => -(d + 1).toFloat)),
      (101L, Array.tabulate(8)(d => -(d + 1).toFloat)))
    val df = (hot ++ pair).toDF("vec_id", "embedding")
    val uncapped = Similarity.cosineNearDups(df, "vec_id", "embedding",
      threshold = 0.999, bits = 4).count()
    assert(uncapped >= 2016L)
    val capped = Similarity.cosineNearDups(df, "vec_id", "embedding",
      threshold = 0.999, bits = 4, maxBucket = 16)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, _) => a < 64L }) // hot bucket excluded
    assert(capped.contains((100L, 101L))) // cold pair survives the cap
  }

  test("substring dedup clips planted cross-doc spans and merges overlaps") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"dup$i").mkString(" ") // 8-token duplicated run
    val fixture = Seq(
      (0L, s"alpha beta $shared gamma delta"),
      (1L, s"one two three $shared four five six seven"),
      (2L, "totally unrelated words that repeat nothing from the others at all"),
      (3L, "tiny doc") // below l tokens: no grams, passes through
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(fixture, "doc_id", "text", l = 6, minDocs = 2)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // grams of length 6 inside the 8-token shared run appear in docs 0 and 1;
    // doc 0: positions 2..4 flag -> merged span [2, 10) = the shared run exactly
    assert(out(0L) == ((1L, 8L, "alpha beta gamma delta")))
    assert(out(1L) == ((1L, 8L, "one two three four five six seven")))
    assert(out(2L) == ((0L, 0L, "totally unrelated words that repeat nothing from the others at all")))
    assert(out(3L) == ((0L, 0L, "tiny doc")))
  }

  test("substring dedup maxDocs cap excludes boilerplate grams") {
    import spark.implicits._
    val boiler = (1 to 7).map(i => s"b$i").mkString(" ") // in EVERY doc
    val fixture = (0L until 6L).map(i =>
      (i, s"$boiler unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e unique${i}f")
    ).toDF("doc_id", "text")
    // uncapped: the 7-token boilerplate head is flagged in all 6 docs
    val uncapped = Dedup.substringDedup(fixture, "doc_id", "text", l = 6, minDocs = 2)
      .filter(col("n_spans") > 0).count()
    assert(uncapped == 6L)
    // capped at 4 docs: the 6-doc gram is boilerplate, nothing flags
    val capped = Dedup.substringDedup(fixture, "doc_id", "text", l = 6, minDocs = 2, maxDocs = 4)
      .filter(col("n_spans") > 0).count()
    assert(capped == 0L)
  }

  test("substringDedup matches a brute-force reference on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 24).map(i => s"w$i")
    for (trial <- 0 until 3) {
      val l = 4 + trial // gram lengths 4, 5, 6
      val base = (0L until 18L).map { id =>
        val n = 3 + rnd.nextInt(30)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // plant shared spans: doc 100 gets doc 0's middle, doc 101 gets doc 1's tail
      val extra = Seq(
        (100L, ("x0 " + base(0)._2.split(" ").slice(2, 2 + l + 3).mkString(" ") + " y0")),
        (101L, base(1)._2.split(" ").takeRight(l + 2).mkString(" ") + " z1 z2"))
      val docs = base ++ extra
      // brute force: gram string -> distinct docs; flag positions; merge; clip
      val gramDocs = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.Set[Long]]
      val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }.toMap
      toks.foreach { case (id, ws) =>
        (0 to ws.length - l).foreach { p =>
          gramDocs.getOrElseUpdate(ws.slice(p, p + l).mkString(" "),
            scala.collection.mutable.Set.empty) += id
        }
      }
      val expected = docs.map { case (id, t) =>
        val ws = toks(id)
        val flagged = (0 to ws.length - l).filter(p =>
          ws.length >= l && gramDocs(ws.slice(p, p + l).mkString(" ")).size >= 2)
        val dropped = Array.fill(ws.length)(false)
        flagged.foreach(p => (p until p + l).foreach(i => dropped(i) = true))
        // spans = maximal dropped runs (overlap-or-adjacent merged by construction)
        var spans = 0
        var i = 0
        while (i < ws.length) {
          if (dropped(i) && (i == 0 || !dropped(i - 1))) spans += 1
          i += 1
        }
        val kept = ws.zipWithIndex.collect { case (w, j) if !dropped(j) => w }.mkString(" ")
        id -> ((spans.toLong, dropped.count(identity).toLong,
          if (flagged.isEmpty) t else kept))
      }.toMap
      val got = Dedup.substringDedup(docs.toDF("doc_id", "text"), "doc_id", "text",
        l = l, minDocs = 2)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == expected, s"trial $trial l=$l")
    }
  }

  test("packer: budget invariant holds on random instances") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map(i => (i % 4, i, 1L + rnd.nextInt(14)))
    val df = rows.toDF("conv", "doc_id", "tokens")
    val tok = rows.map(r => (r._1, r._2) -> r._3).toMap
    val out = graft.ops.Sampling.packSequences(df, "conv", "doc_id", "tokens", budget = 20L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3)))
    assert(out.length == 60)
    // per (conv, bin): token sum <= budget unless the bin is one oversized doc
    out.groupBy { case ((c, _), b) => (c, b) }.foreach { case (_, members) =>
      val s = members.map { case (k, _) => tok(k) }.sum
      assert(s <= 20L || members.length == 1)
    }
  }

  test("substring dedup drop_token_spans kernel handles edges") {
    import graft.functions.TextSketchMore
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def drop(t: String, ss: Array[Int], es: Array[Int]): String =
      TextSketchMore.dropTokenSpans(UTF8String.fromString(t),
        new GenericArrayData(ss), new GenericArrayData(es)).toString
    assert(drop("a b c d e", Array(1), Array(3)) == "a d e")
    assert(drop("a b c", Array(0), Array(3)) == "") // whole doc clipped
    assert(drop("a  b   c", Array(1), Array(2)) == "a c") // empty tokens dropped
    assert(drop("a b c", Array[Int](), Array[Int]()) == "a b c")
    // two disjoint spans incl. tail
    assert(drop("t0 t1 t2 t3 t4 t5", Array(1, 3), Array(2, 6)) == "t0 t2")
  }

  test("semantic clusters: twins cluster to min id, survivors elected") {
    import spark.implicits._
    // pairwise-orthogonal one-hots (cosine 0 across ids) + scaled twins of
    // ids 0 and 1 (cosine exactly 1 with their originals)
    val base = (0L until 4L).map(i =>
      (i, Array.tabulate(8)(d => if (d == i) 1.0f else 0.0f)))
    val twins = (0L until 2L).map(i =>
      (i + 100L, Array.tabulate(8)(d => if (d == i) 2.0f else 0.0f)))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val out = Dedup.semanticClusters(df, "vec_id", "embedding",
      threshold = 0.9999, bits = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L)._1 == 0L && out(100L)._1 == 0L) // scaled twin joins its original
    assert(out(1L)._1 == 1L && out(101L)._1 == 1L)
    assert(out(0L)._2 == 1L && out(100L)._2 == 0L) // min-id survivor election
    assert(out(2L) == ((2L, 1L))) // singleton: own cluster, survivor
    assert(out.size == 6)
  }

  test("as-of join attaches the latest prior right value") {
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val left = Seq((1L, "u1", ts(10)), (2L, "u1", ts(20)), (3L, "u2", ts(15)), (4L, "u3", ts(5)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(("u1", ts(8), 1.5), ("u1", ts(20), 2.5), ("u2", ts(16), 9.9))
      .toDF("user_id", "ts", "value")
    val out = graft.ops.Joins.asOf(left, right, "user_id", "ts", Seq("value"))
      .select("event_id", "value_asof").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L) == 1.5) // latest right <= ts(10) is ts(8)
    assert(out(2L) == 2.5) // equal ts included
    assert(out(3L) == null) // right at ts(16) is in the future
    assert(out(4L) == null) // no right rows for u3
  }

  test("as-of join: null right value is carried as null (review regression)") {
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val left = Seq((1L, "u1", ts(25))).toDF("event_id", "user_id", "ts")
    val right = Seq(("u1", ts(8), Some(1.5)), ("u1", ts(20), Option.empty[Double]))
      .toDF("user_id", "ts", "value")
    val out = graft.ops.Joins.asOf(left, right, "user_id", "ts", Seq("value")).collect()(0)
    assert(out.isNullAt(out.fieldIndex("value_asof"))) // latest row's null, not older 1.5
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = (1L to 500L).map(i => (i % 7, i)).toDF("k", "v")
    val small = (0L to 6L).map(i => (i, s"dim$i")).toDF("k", "name")
    val a = graft.ops.Joins.salted(big, small, "k", salt = 4)
      .groupBy("k", "name").count().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val b = big.join(small, "k").groupBy("k", "name").count().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(a == b)
  }

  test("text stats: token counts, quality, langid, fingerprint") {
    val out = docs.select(
      col("doc_id"),
      TextStats.wsTokenCount(col("text")).as("ws"),
      TextStats.bpeishTokenCount(col("text")).as("bpe"),
      TextStats.langId(col("text")).as("lang"),
      TextStats.fingerprint(col("text")).as("fp"),
      TextStats.qualityX10(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Int]("ws") == 14)
    assert(out(5L).getAs[Int]("ws") == 2)
    assert(out(0L).getAs[String]("lang") == "en")
    assert(out(4L).getAs[String]("lang") == "de")
    assert(out(0L).getAs[Long]("fp") == out(1L).getAs[Long]("fp")) // identical text
    assert(out(0L).getAs[Int]("q") == 10) // long, stopword-rich, low punct
  }

  test("r7 byte-scan kernels equal their declarative formulations (fuzz)") {
    import spark.implicits._
    // texts exercising every boundary: empty, all-spaces, consecutive/leading/
    // trailing spaces, multibyte (é, CJK, emoji incl. supplementary plane),
    // punctuation classes, and random word soups
    val rng = new java.util.Random(7L)
    val alphabet = "ab c.,;!?()[]{}#@é世🌍界 -_~`^|\\\"'<>&%$ xyz"
    val fixed = Seq("", " ", "   ", "a", " a ", "a  b", "a b c", "é 世界 🌍🌍",
      "!!!", "tab\tnewline\nmix", "..a..b..")
    val rand = (0 until 300).map { _ =>
      val n = rng.nextInt(120)
      (0 until n).map(_ => alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    }
    val df = (fixed ++ rand).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // ws_token_count == length - length(remove spaces) + 1 (0 for empty)
    // punct_count == length - length(strip \p{Punct})
    val counts = df.select(
      graft.functions.TextHashes.ws_token_count(col("text")).as("ws_new"),
      when(length(col("text")) === 0, lit(0))
        .otherwise(length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
        .as("ws_old"),
      graft.functions.TextHashes.punct_count(col("text")).as("p_new"),
      (length(col("text")) - length(regexp_replace(col("text"), "[\\p{Punct}]", "")))
        .as("p_old")).collect()
    counts.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"ws mismatch: $r")
      assert(r.getInt(2) == r.getInt(3), s"punct mismatch: $r")
    }
    // chunk_words == split -> transform(sequence) -> slice -> array_join
    for ((size, stride) <- Seq((32, 24), (4, 3), (1, 1), (5, 5))) {
      val neu = graft.ops.Chunking.chunkWords(df, "id", "text", size, stride)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
      val words = split(col("text"), " ")
      val n = org.apache.spark.sql.functions.size(words)
      val starts = transform(sequence(lit(0), ((n - 1) / stride).cast("int")), i => i * stride)
      val alt = df.select(col("id"), posexplode(
          transform(starts, s => array_join(slice(words, s + 1, lit(size)), " ")))
          .as(Seq("chunk_idx", "chunk_text")))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
      assert(neu == alt, s"chunk mismatch at size=$size stride=$stride")
    }
  }

  test("token-window chunking: coverage with overlap; redaction hits PII shapes") {
    import spark.implicits._
    val d = Seq((1L, (1 to 100).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = graft.ops.Chunking.chunkWords(d, "doc_id", "text", size = 32, stride = 24)
      .orderBy("chunk_idx").collect().map(_.getString(2))
    assert(chunks.length == 5) // starts 0,24,48,72,96
    assert(chunks.head.startsWith("w1 ") && chunks.head.endsWith(" w32"))
    assert(chunks(1).startsWith("w25 ")) // 8-word overlap
    assert(chunks.last == "w97 w98 w99 w100") // short tail window
    // every word appears in at least one chunk
    val covered = chunks.flatMap(_.split(" ")).toSet
    assert(covered.size == 100)

    val red = Seq((1L, "mail me at jo.doe@example.com or call +1 (415) 555-0117 now"))
      .toDF("doc_id", "text")
      .select(graft.ops.Chunking.redactPii(col("text")).as("r"))
      .collect()(0).getString(0)
    assert(red == "mail me at <EMAIL> or call <PHONE> now", red)
  }

  test("multimodal plumbing: deterministic stub features, size-ranged partitions") {
    import spark.implicits._
    val media = docs.select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("media"),
      lit(16).as("width"), lit(16).as("height"), lit(0L).as("duration_ms"))
      .as[Multimodal.MediaRow]
    val f1 = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f.features.toSeq).toMap
    val f2 = Multimodal.extractFeatures(media).collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(f1 == f2) // deterministic
    assert(f1(0L) == f1(1L)) // same bytes → same features
    assert(f1(0L) != f1(3L))
    assert(f1.values.forall(_.length == 8))
  }

  test("multimodal real audio lane: WAV decode, features carry true format/frames") {
    import spark.implicits._
    // real WAV round trip without Spark first
    val wav = Multimodal.encodeTestWav(frames = 1600, sampleRate = 8000, seed = 3L)
    val info = Multimodal.decodeAudio(wav).get
    assert(info.sampleRate == 8000 && info.channels == 1 && info.frames == 1600L)
    // a 12000-amplitude sine has mean |s| = 12000*(2/pi) ≈ 7639 → ×1000/32768 ≈ 233
    assert(info.meanAbsX1000 > 150 && info.meanAbsX1000 < 300, info.meanAbsX1000.toString)
    // 8-bit PCM WAV: converted to PCM16 by the JDK, decodes instead of AIOOBE
    val dataSize8 = 800
    val b8 = java.nio.ByteBuffer.allocate(44 + dataSize8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b8.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize8).put("WAVE".getBytes("US-ASCII"))
    b8.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
    b8.put("data".getBytes("US-ASCII")).putInt(dataSize8)
    (0 until dataSize8).foreach(i => b8.put(((math.sin(i / 10.0) * 100) + 128).toInt.toByte))
    val info8 = Multimodal.decodeAudio(b8.array()).get
    assert(info8.sampleRate == 8000 && info8.channels == 1 && info8.frames == 800L)
    assert(info8.meanAbsX1000 > 0, info8.toString)
    // big-endian AIFF (JDK-written from the same PCM): the PCM16-LE
    // conversion path must yield the same frames and amplitude — an
    // unconverted read would compute byte-swapped garbage
    val aiffBytes = {
      val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(src,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
      out.toByteArray
    }
    val infoA = Multimodal.decodeAudio(aiffBytes).get
    assert(infoA.frames == 1600L && infoA.sampleRate == 8000)
    assert(math.abs(infoA.meanAbsX1000 - info.meanAbsX1000) <= 2,
      s"aiff ${infoA.meanAbsX1000} vs wav ${info.meanAbsX1000}")
    // through the Spark pipeline: audio rows report decoded format
    val media = docs.limit(3).select(
      col("doc_id").as("media_id"), lit("audio").as("kind"),
      lit(wav).as("media"),
      lit(0).as("width"), lit(0).as("height"), lit(200L).as("duration_ms"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).collect()
    feats.foreach { f =>
      assert(f.features(0) == 8000.0f && f.features(1) == 1.0f && f.features(2) == 1600.0f,
        f.features.toSeq)
    }
    // garbage bytes in an audio row fall back to the stub, never throw
    val junk = docs.limit(1).select(
      col("doc_id").as("media_id"), lit("audio").as("kind"),
      encode(col("text"), "UTF-8").as("media"),
      lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms"))
      .as[Multimodal.MediaRow]
    assert(Multimodal.extractFeatures(junk).collect().length == 1)
  }

  test("multimodal real image lane: JPEG decode, features carry true dims") {
    import spark.implicits._
    // real JPEG round trip without Spark first
    val jpg = Multimodal.encodeTestJpeg(48, 32, seed = 7L)
    val info = Multimodal.decodeImage(jpg).get
    assert((info.width, info.height) == (48, 32))
    assert(info.channels >= 3)
    assert(info.mean.forall(m => m >= 0.0 && m <= 1.0))
    // through the Spark pipeline: image rows report decoded dimensions
    val media = docs.limit(3).select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      lit(jpg).as("media"),
      lit(48).as("width"), lit(32).as("height"), lit(0L).as("duration_ms"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).collect()
    feats.foreach { f =>
      assert(f.features(0) == 48.0f && f.features(1) == 32.0f, f.features.toSeq)
    }
    // garbage bytes in an image row fall back to the stub, never throw
    val junk = docs.limit(1).select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("media"),
      lit(1).as("width"), lit(1).as("height"), lit(0L).as("duration_ms"))
      .as[Multimodal.MediaRow]
    assert(Multimodal.extractFeatures(junk).collect().length == 1)
  }
}
