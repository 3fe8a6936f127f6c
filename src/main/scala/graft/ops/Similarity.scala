package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set, one
  * pipelined pass over the corpus, per-query top-k via window rank. All vector
  * math is `zip_with`/`aggregate` column expressions (whole-stage codegen; no
  * UDF, no explode).
  *
  * Scale path: random-hyperplane LSH bucketing — queries probe only their own
  * bucket (and optionally neighboring buckets), so the corpus scan becomes a
  * bucket-pruned join on a short signature key. At 100 TB the corpus side is
  * bucketed/partitioned by signature at write time, so probes touch only
  * matching files (partition pruning), not the full table.
  */
object Similarity {

  /** dot(a, b) in double precision, deterministic left-to-right order. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the `VectorKernels.cosineSim` kernel, called
    * directly by generated code. The previous aggregate(zip_with) formulation
    * ran interpreted (HOFs are CodegenFallback); the kernel accumulates in the
    * identical left-to-right double order, so scores are bit-for-bit
    * unchanged. */
  def cosine(a: Column, b: Column): Column = graft.functions.TextHashes.cosine_sim(a, b)

  /** Brute-force top-k cosine neighbors for each query vector.
    * Output: (qid, nid, sim) with rank ≤ k per qid; ties broken by nid for
    * determinism. Queries are broadcast — the corpus never shuffles. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv"))
    val scored = c.join(q, col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Random-hyperplane signature: `bits` deterministic pseudo-hyperplanes; bit i
    * = sign of dot(v, h_i). Hyperplane components are ±1 from the parity of
    * mix64(dim, plane) — seed-stable across executors with no broadcast of
    * plane matrices, computed by one kernel call per row
    * (`graft.functions.VectorSketch.lshSignature`) and exactly mirrored by the
    * DuckDB oracle. */
  def lshSignature(vecCol: Column, bits: Int): Column =
    graft.functions.TextHashes.lsh_signature(vecCol, bits)

  /** LSH-bucketed ANN: candidates share the signature bucket; exact cosine rank
    * within bucket. `bits` trades recall (fewer) vs. candidate count (more). */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      lshSignature(col(vecCol), bits).as("__sig")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv"),
      lshSignature(col(vecCol), bits).as("__sig"))
    val scored = c.join(q, Seq("__sig"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned to their nearest
    * centroid (coarse quantizer); queries probe only the `nprobe` nearest
    * centroid lists. Centroids here are a deterministic corpus sample refined
    * by one Lloyd iteration — at 100 TB the centroid table is tiny and
    * broadcast, the corpus is written partitioned by `__list` so probes prune
    * partitions/files instead of scanning the table.
    */
  /** Per-row scores against every centroid, as ONE array expression: the
    * centroid matrix is a single `typedlit` constant (array<array<double>>), so
    * codegen sees one literal and a higher-order-function loop — no per-centroid
    * expression fan-out, works at nlist=256+ where per-centroid `lit()` arrays
    * blew up generated code. Scores are dot / centroid-norm (cosine argmax: the
    * row norm is constant across centroids and drops out) — the SAME scoring is
    * used for corpus assignment and query probing, so probes land where the
    * neighbors were assigned. Query-side only (a handful of rows): Spark's
    * higher-order array functions are interpreted (CodegenFallback), so the
    * corpus-side assignment calls the `VectorKernels.nearestCentroid` kernel
    * instead. */
  private def centroidScores(cents: Array[Array[Double]], v: Column): Column = {
    val centsCol = typedlit(cents.map(_.toSeq).toSeq)
    val normsCol = typedlit(graft.functions.VectorKernels.centroidNorms(cents).toSeq)
    zip_with(centsCol, normsCol, (c, n) => dot(v, c) / n)
  }

  /** Corpus-side assignment: the `VectorKernels.nearestCentroid` argmax
    * with the identical normalized-dot scoring and first-index tie-break. */
  private def assignList(cents: Array[Array[Double]], v: Column): Column =
    graft.functions.TextHashes.nearest_centroid(v, cents)

  /** Coarse-quantizer training over the narrow (nid, __cv) projection:
    * deterministic seed centroids (nlist lowest xxhash64(id) vectors) + one
    * Lloyd refinement (mean of assigned vectors per list). Two eager passes
    * over the column-pruned scan (r7: uncached — see ivfTopK). */
  private def trainCoarse(base: DataFrame, nlist: Int): Array[Array[Double]] =
    lloydRefine(base, lowestHashVectors(base, nlist))

  /** The `n` lowest-xxhash64(id) vectors, in hash order — the deterministic
    * sampling primitive shared by coarse seeding and PQ training. One
    * TakeOrdered pass over the column-pruned projection. */
  private def lowestHashVectors(base: DataFrame, n: Int): Array[Array[Double]] =
    base.withColumn("__h", xxhash64(col("nid")))
      .orderBy("__h").limit(n)
      .select(col("__cv")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** One Lloyd refinement of the given seed centroids (mean of assigned
    * vectors per list). */
  private def lloydRefine(base: DataFrame, seeds: Array[Array[Double]]): Array[Array[Double]] = {
    val dims = seeds.headOption.map(_.length).getOrElse(0)
    val sums = base
      .select(assignList(seeds, col("__cv")).as("__list"),
        posexplode(col("__cv")).as(Seq("__d", "__x")))
      .groupBy("__list", "__d").agg(avg(col("__x")).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val out = seeds.map(_.clone())
    sums.foreach { case (l, d, m) => if (l < out.length && d < dims) out(l)(d) = m }
    out
  }

  /** Query-side probe-list expansion: each query row explodes to its `nprobe`
    * highest-scoring lists, scored identically to the corpus assignment
    * (normalized dot), so probes land where the neighbors were assigned. */
  private def probeLists(queries: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], nprobe: Int): DataFrame =
    queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"))
      .withColumn("__scores", centroidScores(cents, col("__qv")))
      .withColumn("__structs",
        zip_with(col("__scores"), sequence(lit(0), lit(cents.length - 1)),
          (s, i) => struct(s.as("s"), i.as("i"))))
      .withColumn("__list",
        explode(transform(slice(reverse(array_sort(col("__structs"))), 1, nprobe),
          p => p.getField("i"))))
      .drop("__scores", "__structs")

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    // the index build makes two eager passes (seed + Lloyd refinement), each
    // over the narrow column-pruned (id, vec) scan. r7: the .cache() that
    // used to bridge them is gone — for a scan this small the
    // InMemoryRelation build cost more than the re-scan it saved, and at
    // 100 TB a memory-resident corpus projection was never the plan anyway:
    // the corpus is written partitioned by __list at index build time, so
    // probes prune files and no repeated full scan happens.
    val base = corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv"))
    val refined = trainCoarse(base, nlist)

    val c = base.withColumn("__list", assignList(refined, col("__cv")))
    val q = broadcast(probeLists(queries, idCol, vecCol, refined, nprobe))
    val scored = c.join(q, Seq("__list"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Multi-probe LSH ANN (Lv et al., "Multi-Probe LSH", VLDB'07 — the
    * single-bit-flip probe sequence): each query probes its own bucket plus
    * the `bits` buckets one bit-flip away, closing the recall hole of exact
    * bucket matching (a near neighbor on the far side of one hyperplane is
    * found instead of lost). A (query, corpus) pair can match at most ONE
    * probe — the signature xor is a fixed value — so candidates need no
    * dedup. The corpus still computes one signature per row and shuffles
    * nothing (probes ride the broadcast query side). */
  def lshMultiProbeTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int = 8): DataFrame = {
    val q0 = queries.select(col(idCol).as("qid"), col(vecCol).as("__qv"),
      lshSignature(col(vecCol), bits).as("__sig0"))
    val probeSigs = array(
      (Seq(col("__sig0")) ++
        (0 until bits).map(b => col("__sig0").bitwiseXOR(lit(1L << b)))): _*)
    val q = broadcast(q0
      .withColumn("__sig", explode(probeSigs))
      .drop("__sig0"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv"),
      lshSignature(col(vecCol), bits).as("__sig"))
    val scored = c.join(q, Seq("__sig"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** IVF-PQ (Jégou et al. 2011, by_residual=false variant): coarse quantizer
    * prunes lists, product-quantized codes rank candidates by ADC table
    * lookups, then an exact-cosine refine pass re-ranks the short candidate
    * list against raw vectors.
    *
    * Scale story — this is the memory-resident path at 10^12 rows: the index
    * row is (id, list, M-byte code, norm) ≈ 33 bytes at M=16 vs 256 bytes of
    * raw float32×64 — the ADC scan touches ONLY codes; raw vectors are read
    * by the refine step's candidate join alone (k·refine rows per query, a
    * broadcast-able set). Queries broadcast with their per-query lookup
    * tables; the corpus never shuffles (probe join on the broadcast side,
    * window rank per qid over candidate-sized data).
    */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 16, trainN: Int = 256, refine: Int = 8,
      byResidual: Boolean = true): DataFrame = {
    import graft.functions.{PqFunctions, PqVector, VectorKernels}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val base = corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv"))
    // ONE lowest-hash pass serves both trainings (r7): the coarse seeds
    // (nlist lowest-xxhash64 vectors) are exactly the PQ sample's prefix
    // under the same hash ordering, so a single TakeOrdered collect replaces
    // the two separate sampling scans — one fewer full pass over the corpus
    // at index-build time, identical seeds/sample hence identical results.
    // Only the bounded max(nlist, trainN) rows are collected, the same
    // discipline at any corpus scale.
    val pool = lowestHashVectors(base, math.max(nlist, trainN))
    val coarse = lloydRefine(base, pool.take(nlist))
    val sample = pool.take(trainN)

    // by_residual (the FAISS IVFPQ default): codebooks quantize x − c(list),
    // which is far smaller than x when the coarse quantizer is any good, so
    // the same code budget buys more precision. Training residuals use the
    // SAME assignment rule as the corpus (normalized dot, first-index ties).
    val coarseNorms = VectorKernels.centroidNorms(coarse)
    val trainVecs =
      if (byResidual) sample.map { v =>
        val l = VectorKernels.nearestCentroid(new GenericArrayData(v), coarse, coarseNorms, false)
        v.zip(coarse(l)).map { case (a, b) => a - b }
      }
      else sample
    val codebooks = PqVector.train(trainVecs, m, ksub)

    // the encoded index: at 100 TB these four columns are written partitioned
    // by __list (file-pruned probes) and fit in memory where raw vectors don't
    val assigned = base.select(col("nid"),
      assignList(coarse, col("__cv")).as("__list"), col("__cv"))
    val c =
      if (byResidual) {
        // ‖x‖² ≈ ‖c‖² + 2·dot(c, x_r) + ‖x_r‖², all corpus-side constants:
        // per-list centroid norms ride as a literal array, dot(c, x_r) is an
        // ADC against the per-list centroid LUT table
        val cNormSq = coarse.map(cc => cc.map(x => x * x).sum)
        val lutC = coarse.map(cc => PqVector.lut(new GenericArrayData(cc), codebooks, isFloat = false))
        assigned
          .withColumn("__code", PqFunctions.pq_encode(
            PqFunctions.centroid_residual(col("__cv"), col("__list"), coarse), codebooks))
          .withColumn("__pqnorm",
            element_at(typedlit(cNormSq.toSeq), col("__list") + 1) +
              lit(2.0) * PqFunctions.pq_adc_indexed(col("__code"), col("__list"), lutC) +
              PqFunctions.pq_code_norm_sq(col("__code"), codebooks))
          .drop("__cv")
      } else {
        assigned
          .withColumn("__code", PqFunctions.pq_encode(col("__cv"), codebooks))
          .withColumn("__pqnorm", PqFunctions.pq_code_norm_sq(col("__code"), codebooks))
          .drop("__cv")
      }

    // query-side LUT is list-independent in both modes (dot(q, x) =
    // dot(q, c) + dot(q, x_r) — the second term is the ADC over q's LUT, the
    // first is a per-probe constant computed on the broadcast side below)
    val q0 = probeLists(queries, idCol, vecCol, coarse, nprobe)
      .withColumn("__lut", PqFunctions.pq_lut(col("__qv"), codebooks))
    val q = broadcast(
      if (byResidual) {
        val centsCol = typedlit(coarse.map(_.toSeq).toSeq)
        q0.withColumn("__dotqc", dot(col("__qv"), element_at(centsCol, col("__list") + 1)))
      } else q0) // raw mode has no dot(q,c) term — don't ship a dead column

    // ADC scan: codes only. The query norm is constant per qid and drops out
    // of the per-query ranking, so approx-cosine ~ (dot(q,c) + adc) / ||x~||.
    val adcNumerator =
      if (byResidual) col("__dotqc") + PqFunctions.pq_adc(col("__code"), col("__lut"))
      else PqFunctions.pq_adc(col("__code"), col("__lut"))
    val approx = c.join(q, Seq("__list"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("__approx",
        adcNumerator / sqrt(greatest(col("__pqnorm"), lit(1e-12))))
    val wA = Window.partitionBy(col("qid")).orderBy(col("__approx").desc, col("nid"))
    val cands = approx.withColumn("__r", row_number().over(wA))
      .filter(col("__r") <= k * refine)
      .select(col("qid"), col("nid"), col("__qv"))

    // refine: exact cosine on the candidate ids only — a narrow join back to
    // raw vectors (candidate set ≪ corpus; broadcastable at any scale)
    val exact = cands
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("__cv")), Seq("nid"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold, LSH-
    * bucketed so the self-join never goes quadratic in the corpus.
    *
    * `maxBucket > 0` excludes signature buckets holding more rows from
    * candidate generation (same [[Dedup.capBuckets]] discipline as every text
    * candidate generator): a degenerate bucket — a mass of near-zero or
    * templated embeddings sharing one signature — otherwise makes this join
    * quadratic at corpus scale. The excluded-bucket key set is an aggregation
    * on the join key itself, broadcast-sized by construction. 0 = uncapped
    * (exact semantics, used by the oracle-verified queries). */
  def cosineNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, maxBucket: Int = 0): DataFrame = {
    // NOTE: both legs re-run the scan + signature kernel; unlike Dedup's
    // candidate joins (narrow id+key rows, checkpointed) this subtree carries
    // the full vector column, where a second column-pruned parquet scan is
    // cheaper at corpus scale than materializing every embedding
    val sigs = Dedup.capBuckets(
      df.select(col(idCol), col(vecCol).as("__v"),
        lshSignature(col(vecCol), bits).as("__sig")),
      Seq("__sig"), maxBucket)
    val l = sigs.select(col(idCol).as("a"), col("__v").as("__va"), col("__sig"))
    val r = sigs.select(col(idCol).as("b"), col("__v").as("__vb"), col("__sig"))
    l.join(r, Seq("__sig"))
      .filter(col("a") < col("b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= threshold)
      .select("a", "b", "sim")
  }
}
