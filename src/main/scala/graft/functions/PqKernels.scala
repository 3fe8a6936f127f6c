package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou/Douze/Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): vectors split into M subspaces,
  * each encoded as the index of its nearest sub-centroid, distances
  * approximated by table lookups (ADC). Every hot-path kernel is a static
  * method that generated code calls directly ([[PqFunctions]] binds it
  * through [[Kernel]]); codebooks ride as constants in the generated code's
  * `references[]`, the same discipline as `VectorKernels.nearestCentroid`
  * (higher-order functions are CodegenFallback and must stay out of
  * corpus-wide scans).
  *
  * Scale shape: an encoded corpus row is M bytes + one precomputed norm —
  * a 64-dim float vector compresses 16× at M=16, which is what makes the
  * index memory-resident at 10^12 rows while raw vectors stay on disk for
  * the refine step only.
  */
object PqVector {

  /** Nearest sub-centroid per subspace by L2 (the PQ objective: minimal
    * reconstruction error). codebooks(m)(c) is a dsub-dim sub-centroid. */
  def encode(vec: ArrayData, codebooks: Array[Array[Array[Double]]], isFloat: Boolean): Array[Byte] = {
    val m = codebooks.length
    val out = new Array[Byte](m)
    var sub = 0
    var off = 0
    while (sub < m) {
      val cb = codebooks(sub)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = (if (isFloat) vec.getFloat(off + i).toDouble else vec.getDouble(off + i)) - cent(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // first-index tie-break
        c += 1
      }
      out(sub) = best.toByte
      off += dsub
      sub += 1
    }
    out
  }

  /** Reconstructed squared norm of a code: sum of its sub-centroid norms².
    * Corpus-side constant per code — computed once at index time. */
  def codeNormSq(code: Array[Byte], normSq: Array[Array[Double]]): Double = {
    var s = 0.0
    var m = 0
    while (m < code.length) {
      s += normSq(m)(code(m) & 0xff)
      m += 1
    }
    s
  }

  /** Query-side ADC lookup table: lut(m*ksub + c) = dot(q_m, codebook(m)(c)).
    * Computed once per query row (queries are broadcast and few). */
  def lut(q: ArrayData, codebooks: Array[Array[Array[Double]]], isFloat: Boolean): Array[Double] = {
    val m = codebooks.length
    val ksub = if (m == 0) 0 else codebooks(0).length
    val out = new Array[Double](m * ksub)
    var sub = 0
    var off = 0
    while (sub < m) {
      val cb = codebooks(sub)
      val dsub = if (cb.isEmpty) 0 else cb(0).length
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          d += (if (isFloat) q.getFloat(off + i).toDouble else q.getDouble(off + i)) * cent(i)
          i += 1
        }
        out(sub * ksub + c) = d
        c += 1
      }
      off += dsub
      sub += 1
    }
    out
  }

  /** ADC: approximate dot(q, x) = Σ_m lut(m*ksub + code(m)). ksub is derived
    * from the table and code lengths, so the expression carries no params. */
  def adc(code: Array[Byte], lut: ArrayData): Double = {
    val m = code.length
    if (m == 0) return 0.0
    val ksub = lut.numElements() / m
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += lut.getDouble(sub * ksub + (code(sub) & 0xff))
      sub += 1
    }
    s
  }

  /** Deterministic Lloyd k-means per subspace over a driver-side sample (the
    * training set is a bounded deterministic sample at any corpus scale).
    * Init: first ksub distinct subvectors in sample order; empty clusters
    * keep their previous centroid. */
  def train(sample: Array[Array[Double]], m: Int, ksub: Int, iters: Int = 5): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "PQ training needs a non-empty sample")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { sub =>
      val subVecs = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      val init = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
      subVecs.iterator.takeWhile(_ => init.size < ksub).foreach(v => init += v.toSeq)
      var cents = init.iterator.map(_.toArray).toArray
      // lut/adc assume a UNIFORM ksub per subspace (the table is indexed
      // sub*ksub + code); a subspace with fewer distinct subvectors pads by
      // repeating centroids — encode's first-index tie-break never selects a
      // duplicate, so padding is invisible to codes and scores
      if (cents.length < ksub) {
        val padded = new Array[Array[Double]](ksub)
        var i = 0
        while (i < ksub) { padded(i) = cents(i % cents.length); i += 1 }
        cents = padded
      }
      (0 until iters).foreach { _ =>
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Int](cents.length)
        subVecs.foreach { v =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0
            var i = 0
            while (i < dsub) { val x = v(i) - cents(c)(i); d += x * x; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }
}

object PqResidual {
  /** vec − centroids(list): the residual a by_residual IVF-PQ encodes.
    * An out-of-range list id is an invariant violation (mismatched centroid
    * table) and fails loudly — clamping would silently corrupt every code. */
  def subtract(vec: ArrayData, list: Int, centroids: Array[Array[Double]],
      isFloat: Boolean): Array[Double] = {
    require(list >= 0 && list < centroids.length,
      s"list $list outside centroid table of ${centroids.length}")
    val c = centroids(list)
    val n = math.min(vec.numElements(), c.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = (if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)) - c(i)
      i += 1
    }
    out
  }

  /** ADC against a per-list constant table: Σ_m lut(list)(m·ksub + code(m)).
    * The table is corpus-wide constant (nlist × m·ksub doubles) and rides in
    * the generated code's `references[]`. The loop intentionally mirrors
    * PqVector.adc rather than sharing a core: adc reads a per-row ArrayData column and
    * must not copy it to an array per row; a PqSpec identity test pins the
    * two to each other. Out-of-range list ids fail loudly (see subtract). */
  def adcIndexed(code: Array[Byte], list: Int, luts: Array[Array[Double]]): Double = {
    require(list >= 0 && list < luts.length,
      s"list $list outside LUT table of ${luts.length}")
    val lut = luts(list)
    val m = code.length
    if (m == 0) return 0.0
    val ksub = lut.length / m
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += lut(sub * ksub + (code(sub) & 0xff))
      sub += 1
    }
    s
  }
}

/** Column wrappers: each one a call of its kernel method through [[Kernel]].
  * The vector kernels read float or double elements, as the input column
  * holds. */
object PqFunctions {
  import Kernel.{call, isFloat, primitiveArray}

  def pq_encode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Kernel("pq_encode", v)(x => call(PqVector, "encode", BinaryType)(x, codebooks, isFloat(x)))
  /** The per-subspace squared sub-centroid norms are computed here, once. */
  def pq_code_norm_sq(code: Column, codebooks: Array[Array[Array[Double]]]): Column = {
    val normSq = codebooks.map(_.map(c => c.map(x => x * x).sum))
    Kernel("pq_code_norm_sq", code)(call(PqVector, "codeNormSq", DoubleType)(_, normSq))
  }
  def pq_lut(q: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Kernel("pq_lut", q)(x => primitiveArray(PqVector, "lut", DoubleType)(x, codebooks, isFloat(x)))
  def pq_adc(code: Column, lut: Column): Column =
    Kernel("pq_adc", code, lut)(call(PqVector, "adc", DoubleType)(_, _))
  def centroid_residual(vec: Column, list: Column, centroids: Array[Array[Double]]): Column =
    Kernel("centroid_residual", vec, list)((v, l) =>
      primitiveArray(PqResidual, "subtract", DoubleType)(v, l, centroids, isFloat(v)))
  def pq_adc_indexed(code: Column, list: Column, luts: Array[Array[Double]]): Column =
    Kernel("pq_adc_indexed", code, list)(call(PqResidual, "adcIndexed", DoubleType)(_, _, luts))
}
