package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the 100 TB training-data pipeline.
  *
  * All are declarative DataFrame plans (Catalyst-optimized, codegen'd built-ins —
  * no UDF in the candidate-generation hot path except the documented signature
  * steps), with shuffle structure chosen for scale:
  *
  *  - exact128: one narrow shuffle on a 128-bit content hash (map-side partial
  *    agg first); `exact` is its byte-exact reference;
  *  - MinHash+LSH: shingle→minhash→band — the only shuffle is the band-bucket
  *    self-join, whose fan-out is bounded by bucket size, not corpus size;
  *  - SimHash: 64-bit fingerprints; near-dup candidates via block-permutation
  *    (4×16-bit keys) so candidates shuffle on short keys;
  *  - n-gram Jaccard verification over candidate pairs only.
  */
object Dedup {

  /** Exact dedupe, the byte-exact reference: survivors = min id per
    * byte-identical text. Map-side combine makes this one shuffle, but the
    * exchange carries the text itself as the group key, so production callers
    * use [[exact128]], which elects the same survivors over 24-byte rows.
    * This path stays as the reference that q20's oracle and the exact128 test
    * compare against. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol)).agg(min(col(idCol)).as(idCol)).select(idCol, textCol)

  /** Scale-default exact dedupe: 128-bit hash-first, narrow shuffles only.
    *
    * `exact`'s groupBy(text) exchange carries the corpus text as both key
    * and payload — at 100 TB the sort keys are the documents
    * themselves and the aggregation hash map holds full texts. Here the
    * winner election shuffles 24-byte rows: a 128-bit content key built from
    * two independent xxhash64 variants (plain text, and the text with a salt
    * column prepended — seeding via an extra hashed column makes the variants
    * independent for ALL inputs, where the earlier reverse(text) variant
    * degenerated to h2 == h1 on palindromes, including every length ≤ 1
    * string; a collision must defeat both hashes simultaneously; expected
    * collisions at 10^12 rows ≈ (10^12)²/2^129 ≈ 10^-15, vs ~27 for a single
    * 64-bit hash). The
    * text is then recovered by a left-semi join of the column-pruned source
    * against the winner ids — that exchange moves the surviving corpus once,
    * keyed by an 8-byte id instead of the text, and Catalyst prunes the scan
    * to exactly the output columns.
    *
    * Same result as `exact` (min id per byte-identical text) modulo the
    * ~2^-64-per-pair collision odds; q46 runs this path and its byte-exact
    * oracle stays green.
    */
  def exact128(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = df
      .select(col(idCol),
        xxhash64(col(textCol)).as("__h1"),
        xxhash64(lit(1L), col(textCol)).as("__h2"))
      .groupBy(col("__h1"), col("__h2"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * k-shingle with an evaluation/benchmark set — the n-gram-collision rule
    * public LLM pipelines use for train/test hygiene (8-13 gram overlap).
    * Scale shape: eval sets are tiny, so their distinct shingle hashes
    * broadcast; the corpus side is a broadcast semi-join on 8-byte hashes —
    * the corpus never shuffles and the scan prunes to (id, text). */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 8): DataFrame = {
    import graft.functions.TextHashes.shingle_hashes
    val bh = benchmark
      .select(explode(shingle_hashes(col(textCol), shingleK)).as("__h"))
      .distinct()
    val hits = corpus
      .select(col(idCol), explode(shingle_hashes(col(textCol), shingleK)).as("__h"))
      .join(broadcast(bh), Seq("__h"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__hit", lit(1L))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__hit"), lit(0L)).as("contaminated"))
  }

  /** Word k-shingles as an array column (codegen'd split + transform). */
  def shingles(textCol: Column, k: Int): Column = {
    val words = split(textCol, " ")
    val n = size(words)
    // positions 0 .. n-k; each shingle = words[i..i+k-1] joined
    filter(
      transform(sequence(lit(0), greatest(n - k, lit(0))),
        i => when(i <= n - k, array_join(slice(words, i + 1, lit(k)), " "))),
      x => x.isNotNull)
  }

  /** MinHash signature — the single-pass `graft.functions.TextSketch.minhash`
    * kernel: shingle hashes computed once per row, k slots derived
    * with long arithmetic. Replaces a 64-aggregate formulation whose generated
    * code re-hashed every shingle per slot (measured 40s/1k rows → ~ms). */
  def minhashSignature(textCol: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.TextHashes.minhash_signature(textCol, shingleK, numHashes)

  /** LSH banding: signature → `bands` bucket keys (hash of each band's rows).
    * Near-dup candidate pairs = ids sharing any bucket.
    *
    * `maxBucket > 0` caps the per-bucket self-join: buckets holding more rows
    * are excluded from candidate generation (and counted in the plan as a
    * side-output filter). A hot bucket of near-identical documents otherwise
    * goes quadratic at corpus scale; production callers run exact dedup first
    * and set a cap sized to the acceptable candidate fan-out. 0 = uncapped
    * (exact semantics, used by the oracle-verified queries). */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 0): DataFrame = {
    val rows = numHashes / bands
    val withSig = df
      .select(col(idCol), minhashSignature(col(textCol), shingleK, numHashes).as("__sig"))
    val withBuckets = withSig.select(
      col(idCol),
      posexplode(
        array((0 until bands).map(b =>
          xxhash64(concat_ws(",",
            (0 until rows).map(r => col("__sig")(b * rows + r)): _*), lit(b))): _*))
        .as(Seq("__band", "__bucket")))
    // materialize the (id, band, bucket) keys once: both self-join legs would
    // otherwise re-run the whole signature subtree (measured 2-2.5x on the
    // cold path); the checkpointed set is narrow — 3 longs x bands per doc
    val bounded = capBuckets(withBuckets, Seq("__band", "__bucket"), maxBucket)
      .localCheckpoint(true)
    val left = bounded.select(col(idCol).as("a"), col("__band"), col("__bucket"))
    val right = bounded.select(col(idCol).as("b"), col("__band"), col("__bucket"))
    left.join(right, Seq("__band", "__bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exclude join buckets above `maxBucket` rows (no-op when maxBucket <= 0).
    * One extra narrow aggregation on the bucket key — the same shuffle key the
    * join uses, so AQE reuses the exchange. */
  private[ops] def capBuckets(df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket <= 0) df
    else {
      val hot = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > maxBucket)
        .select(keys.map(col): _*)
      df.join(broadcast(hot), keys, "left_anti")
    }

  /** Verified near-dups: candidates filtered by exact n-gram Jaccard ≥ threshold.
    * The verification join is narrow (candidate pairs ≪ corpus²). */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3,
      numHashes: Int = 64, bands: Int = 16, maxBucket: Int = 0): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleK, numHashes, bands, maxBucket)
    // exact Jaccard over hashed shingles (array<long>): same set semantics as the
    // string shingles, but the verification join shuffles 8-byte elements
    val sh = df.select(col(idCol),
      graft.functions.TextHashes.shingle_hashes(col(textCol), shingleK).as("__sh"))
    cands
      .join(sh.select(col(idCol).as("a"), col("__sh").as("__sha")), "a")
      .join(sh.select(col(idCol).as("b"), col("__sh").as("__shb")), "b")
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Substring-overlap near-dup candidates via winnowing fingerprint SETS
    * (Schleimer/Wilkerson/Aiken winnowing, set semantics — the MOSS scheme):
    * pairs of documents sharing ≥ `minShared` selected k-gram window minima.
    * Complements MinHash (whole-document resemblance) with partial-overlap
    * detection — a paragraph copied between otherwise-different documents
    * still shares its local fingerprints.
    *
    * Scale shape: the self-join shuffles (8-byte fp, id) only; the pair count
    * aggregates map-side before the `minShared` filter. Hot fingerprints are
    * boilerplate by definition (a snippet occurring in millions of documents),
    * so `maxBucket` both bounds the quadratic fan-out AND de-noises the
    * signal; oracle-verified queries run uncapped for exact semantics.
    *
    * `k` is the match granularity and the dominant cost knob: ~24 chars
    * (≈4 words) matches deliberate substring reuse, while small k floods the
    * join with common-phrase collisions (measured on the synthetic corpus at
    * sf0.1: k=12 → 2.3M noise pairs / 6 s, k=24 → 589 real pairs / 0.6 s). */
  def fingerprintNearDups(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, w: Int = 12, minShared: Int = 2, maxBucket: Int = 0): DataFrame = {
    val fps = df.select(col(idCol),
      explode(graft.functions.TextHashes.winnow_set(col(textCol), k, w)).as("__fp"))
    // one materialization of the exploded (id, fp) set — see minhashCandidates
    val bounded = capBuckets(fps, Seq("__fp"), maxBucket).localCheckpoint(true)
    val l = bounded.select(col(idCol).as("id_a"), col("__fp"))
    val r = bounded.select(col(idCol).as("id_b"), col("__fp"))
    l.join(r, Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact substring-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022 — the ExactSubstr discipline):
    * any `l`-token gram occurring in ≥ `minDocs` DISTINCT documents marks its
    * token span as duplicated; overlapping-or-adjacent flagged spans merge per
    * document, and the merged spans are clipped out of the text. Like the
    * published ExactSubstr implementation, EVERY occurrence of a duplicated
    * span is removed (symmetric and deterministic — no survivor election);
    * whole-document dedup (exact128) runs first in a real pipeline so full
    * duplicates don't reach this operator.
    *
    * Spark-first shape (the reference algorithm is a single-node suffix
    * array, which does not distribute): positional gram hashing. The gram
    * exchange carries (8-byte hash, id, int pos) rows — ~20 bytes per corpus
    * token, the same asymptotic footprint as the suffix array but fully
    * shuffle-parallel. The duplicated-gram set (distinct grams seen in ≥
    * minDocs docs) is usually corpus-tiny; the flagged-position set after the
    * semi-join is tiny too, so the per-document window (span merge) and the
    * final id-keyed join + clip touch only documents that actually contain a
    * duplicated span — everything else passes through untouched. Both gram
    * legs recompute the scan+kernel subtree (cheaper than materializing every
    * gram, same trade as the LSH generators); the clip itself is one codegen'd
    * kernel pass.
    *
    * Output: (id, n_spans, dropped_tokens, kept_text) for every input row;
    * kept_text for clipped documents is the surviving tokens joined by single
    * spaces (the normalized surface the DuckDB oracle reconstructs), untouched
    * documents keep their text verbatim. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      l: Int = 50, minDocs: Int = 2, maxDocs: Long = 0L): DataFrame = {
    import graft.functions.TextHashes.{drop_token_spans, token_gram_hashes}
    import org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol),
      posexplode(token_gram_hashes(col(textCol), l)).as(Seq("__pos", "__h")))
    // `maxDocs > 0` excludes grams present in MORE than maxDocs documents
    // from span flagging — the capBuckets discipline for this operator: a
    // boilerplate gram (license header, template banner) shared by millions
    // of documents would otherwise flood the flagged-position set with
    // corpus-sized fan-out, and clipping boilerplate is a different operation
    // (quality filtering) than removing duplicated content. 0 = uncapped
    // (exact Lee et al. semantics, used by the oracle-verified query).
    val dup = grams.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= minDocs &&
        (if (maxDocs > 0) col("__d") <= maxDocs else lit(true)))
      .select(col("__h"))
    val flagged = grams.join(dup, Seq("__h"), "left_semi")
    // gaps-and-islands span merge: a flagged position starts a new span iff it
    // lies beyond every earlier span end (pos > max(prev pos + l)); adjacent
    // spans merge (their union is the same contiguous dropped-token range)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val spans = flagged
      .withColumn("__new",
        when(col("__pos") > coalesce(max(col("__pos") + l).over(wPrev), lit(-1)), 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("__s"), (max(col("__pos")) + l).as("__e"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__s"))).as("__ss"),
        sort_array(collect_list(col("__e"))).as("__es"),
        count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s")).cast("long").as("dropped_tokens"))
    df.select(col(idCol), col(textCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dropped_tokens"), lit(0L)).as("dropped_tokens"),
        when(col("__ss").isNull, col(textCol))
          .otherwise(drop_token_spans(col(textCol), col("__ss"), col("__es")))
          .as("kept_text"))
  }

  /** Semantic dedup clusters (SemDeDup, Abbas et al. 2023 — embedding-space
    * duplicate pruning): cosine near-dup pairs → connected components →
    * min-id survivor election, composing the capped LSH pair generator with
    * the size-adaptive component labeler. Every input id gets a cluster label
    * (its component minimum; singletons label themselves) and a survivor
    * flag (id == cluster). Keeping `survivor = 1` rows is the SemDeDup prune. */
  def semanticClusters(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, maxBucket: Int = 0,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val pairs = Similarity.cosineNearDups(df, idCol, vecCol, threshold, bits, maxBucket)
    val comps = connectedComponents(pairs, "a", "b", driverEdgeLimit = driverEdgeLimit)
      .withColumnRenamed("id", idCol)
    df.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster"),
        when(coalesce(col("component"), col(idCol)) === col(idCol), lit(1L))
          .otherwise(lit(0L)).as("survivor"))
  }

  /** Connected components over a near-dup PAIR graph — the step that turns
    * candidate pairs (MinHash/SimHash/winnowing output) into dedup clusters:
    * every node gets the minimum id reachable from it as its component label,
    * so `id == component` elects one deterministic survivor per cluster.
    *
    * Distributed algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each half-round re-points nodes at their neighborhood
    * minimum (one groupBy + one join on 16-byte edge rows), converging in
    * O(log n) rounds REGARDLESS of graph diameter (min-label propagation
    * needs diameter rounds and silently truncates on adversarial chains).
    * Every round is localCheckpoint'ed so lineage stays flat. At 10^12-row
    * corpus scale the pair graph is orders of magnitude smaller than the
    * corpus (it only contains docs with a near-dup).
    *
    * Size-adaptive: a pair graph at or below `driverEdgeLimit` edges is
    * collected and union-found on the driver (O(E·α), one job) — per-round
    * distributed join overhead swamps tiny graphs, and near-dup pair graphs
    * are usually tiny relative to the corpus. The probe and the collect are
    * ONE limited execution (CollectLimit short-circuits on big graphs, and a
    * small graph's pairs subtree runs exactly once). The driver path holds
    * the edge list plus a boxed parent map in driver heap — size
    * `driverEdgeLimit` to the driver memory you can spare (the 1M default is
    * ~hundreds of MB worst case); it is also clamped to Int range, and
    * `driverEdgeLimit = 0` forces the distributed path.
    *
    * `exactWitness = true` replaces the probabilistic (count, hash-xor)
    * convergence check with a set-equality anti-join proof — one extra join
    * per round; use it when the labels gate a production merge.
    *
    * Output: (id, component) for every id that appears in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20, driverEdgeLimit: Long = 1000000L,
      exactWitness: Boolean = false): DataFrame = {
    val e = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    if (driverEdgeLimit > 0) {
      // one limited execution answers BOTH the size question and (when small)
      // supplies the edge array — the pairs subtree never runs twice for the
      // fast path; clamp keeps limit() in Int range and the guard meaningful
      val lim = math.min(driverEdgeLimit, Int.MaxValue - 1L)
      val head = e.limit(lim.toInt + 1).collect()
      if (head.length <= lim) {
        val spark = e.sparkSession
        return unionFindLocal(spark, head.map(r => (r.getLong(0), r.getLong(1))))
      }
      // large graph: fall through (the limited probe stopped early; the full
      // subtree runs once below for the checkpoint)
    }
    // materialize the pairs subtree EXACTLY once: the symmetric edge view and
    // the self-loop singleton scan both derive from this checkpoint (deriving
    // either from `e` would re-run the upstream candidate join per action)
    val eChk = e.localCheckpoint(true)
    val noLoop = eChk.filter(col("u") =!= col("v"))
    // symmetric directed view of the undirected edge set; self-loops dropped
    // from BOTH legs (a surviving (x,x) would cost one extra convergence
    // round — round outputs never contain self-loops)
    var edges = noLoop
      .union(noLoop.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true)

    /** One star half-round: point each qualifying neighbor v of u at
      * m(u) = min(Γ(u) ∪ {u}). Large-star re-points the strictly larger
      * neighbors, small-star the not-larger ones plus u itself. */
    def starRound(large: Boolean): DataFrame = {
      val mins = edges.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = edges.join(mins, "u")
      val repointed =
        if (large) joined.filter(col("v") > col("u")).select(col("v").as("a"), col("m").as("b"))
        else joined.filter(col("v") <= col("u")).select(col("v").as("a"), col("m").as("b"))
          .union(mins.select(col("u").as("a"), col("m").as("b")))
      val undirected = repointed.filter(col("a") =!= col("b"))
      undirected.select(col("a").as("u"), col("b").as("v"))
        .union(undirected.select(col("b").as("u"), col("a").as("v")))
        .distinct()
    }

    // a round's edge SET is the convergence witness: stable (count, hash-xor)
    // across a full large+small round ⇒ the graph is a union of min-centered
    // stars. bit_xor is overflow-free under ANSI mode and order-independent.
    // The default witness is PROBABILISTIC: two equal-count edge sets can
    // xor-collide (~2^-64 per round), declaring convergence one round early.
    // `exactWitness` swaps in a set-equality proof: equal counts plus an
    // empty one-sided anti-join (|A| = |B| ∧ A \ B = ∅ ⇒ A = B for the
    // distinct sets both rounds produce) — one extra join per round over the
    // two checkpointed edge sets, for pipelines that gate a production merge
    // on the labels. O(log n) rounds by the star-contraction bound either
    // way, so maxIters is a backstop, not a correctness knob.
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def sameEdgeSet(prev: DataFrame, next: DataFrame,
        prevCount: Long, nextCount: Long): Boolean =
      prevCount == nextCount &&
        prev.join(next, Seq("u", "v"), "left_anti").limit(1).count() == 0L
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val prev = edges
      edges = starRound(large = true).localCheckpoint(true)
      edges = starRound(large = false).localCheckpoint(true)
      val next = signature(edges)
      converged =
        if (exactWitness) sameEdgeSet(prev, edges, sig._1, next._1)
        else next == sig
      sig = next
      iter += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] connectedComponents: star contraction not stable after $maxIters " +
          "rounds — labels may split components; raise maxIters")
    // stars center on the component minimum: label(u) = min(u, min neighbor)
    val labeled = edges.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("component"))
      .select(col("u").as("id"), col("component"))
    // nodes that appeared only in self-pairs are singletons (the driver
    // union-find path emits them too)
    val loops = eChk.filter(col("u") === col("v")).select(col("u").as("id")).distinct()
    labeled.union(
      loops.join(labeled, Seq("id"), "left_anti").withColumn("component", col("id")))
  }

  /** Driver-side union-find with path halving + union-by-smaller-root:
    * the small-graph fast path of `connectedComponents` (labels = min id per
    * component, identical semantics to the distributed propagation). */
  private def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val ru = find(u)
      val rv = find(v)
      // union by MIN root so the representative is the component minimum
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toSeq.sorted
      .map(id => (id, find(id)))
      .toDF("id", "component")
  }

  /** SimHash: 64-bit fingerprint — sign of the per-bit vote sum of token hashes;
    * the single-pass `graft.functions.TextSketch.simhash` kernel. */
  def simhash(textCol: Column): Column =
    graft.functions.TextHashes.simhash64(textCol).as("simhash")

  /** Hamming-near SimHash pairs: generalized block-permutation candidate
    * generation (the Manku/Jain/Das Sarma near-dup scheme). The 64-bit
    * fingerprint splits into `blocks` nearly-equal bit blocks; each candidate
    * table keys on a COMBINATION of `blocks - maxHamming` blocks, so any pair
    * within the radius shares at least one fully-clean combination
    * (pigeonhole) — completeness holds by construction for every `blocks`.
    *
    * `blocks = 4, maxHamming = 3` keys on single 16-bit blocks (4 tables,
    * ≤ 2^16 distinct buckets — fine at test scale, quadratic hot buckets at
    * corpus scale). At 100 TB use `blocks = 6` (C(6,3) = 20 tables keyed on
    * ~32 bits of fingerprint → 2^32 bucket space) plus `maxBucket`; candidates
    * shuffle on short keys either way. */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      blocks: Int = 4, maxBucket: Int = 0): DataFrame = {
    val arity = blocks - maxHamming
    require(arity >= 1, s"need blocks > maxHamming for a complete scheme (blocks=$blocks, maxHamming=$maxHamming)")
    // nearly-equal block boundaries over the 64 fingerprint bits
    val bounds = (0 to blocks).map(i => i * 64 / blocks)
    def blockVal(fp: Column, b: Int): Column = {
      val lo = bounds(b)
      val width = bounds(b + 1) - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1
      shiftright(fp, lo).bitwiseAND(lit(mask))
    }
    val combos = (0 until blocks).combinations(arity).toSeq
    val withFp = df.select(col(idCol), simhash(col(textCol)))
    val keyed = withFp.select(
      col(idCol), col("simhash"),
      posexplode(array(combos.map(c =>
        concat_ws(":", c.map(b => blockVal(col("simhash"), b)): _*)): _*))
        .as(Seq("__tbl", "__key")))
    // one materialization of the keyed fingerprints — see minhashCandidates
    val bounded = capBuckets(keyed, Seq("__tbl", "__key"), maxBucket).localCheckpoint(true)
    val l = bounded.select(col(idCol).as("a"), col("simhash").as("__fa"), col("__tbl"), col("__key"))
    val r = bounded.select(col(idCol).as("b"), col("simhash").as("__fb"), col("__tbl"), col("__key"))
    l.join(r, Seq("__tbl", "__key"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("__fa").bitwiseXOR(col("__fb"))))
      .filter(col("hamming") <= maxHamming)
      .select("a", "b", "hamming").distinct()
  }
}
