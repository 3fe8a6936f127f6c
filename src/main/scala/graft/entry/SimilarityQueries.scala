package graft.entry

import graft.entry.Inputs.t
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity search over the embeddings table: brute force, LSH
  * (exact bucket and multi-probe), IVF, IVF-PQ and cosine near-duplicates. */
private[graft] object SimilarityQueries {

  /** (vec_id, embedding) plus a 1.5×-scaled twin (id + 100000) of each of the
    * first 20 embeddings: random embeddings have no near-dups, and a scaled
    * twin has cosine exactly 1 with its original. The planted pairs of q32
    * and q37, whose oracles build the same `un` union. */
  private[entry] def withScaledTwins(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    emb.union(emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), v => v * lit(1.5f)).as("embedding")))
  }

  /** The in-query recall gate of q33 and q34: recall_ok = 1 for each query
    * whose approximate top-5 (`approx`: qid, nid) recovers at least 2 of the
    * exact brute-force top-5.
    * NOTE (r7): explicit broadcast() hints on these bounded gate joins
    * were tried (guide §3.1) and MEASURED 1.35-1.4x slower against an
    * interleaved untouched control: the broadcast build serializes the
    * whole top-k subtree into a separate build job, costing more than the
    * 50-row sort-merge exchanges it saves; AQE already rewrites to
    * broadcast at runtime when profitable. Kept as SMJ-planned. */
  private def recallGate(emb: DataFrame, q: DataFrame, approx: DataFrame): DataFrame = {
    val bf = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
    val hits = approx.select("qid", "nid")
      .join(bf.select("qid", "nid"), Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    q.select(col("vec_id").as("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"), (coalesce(col("hits"), lit(0L)) >= 2).cast("int").as("recall_ok"))
      .orderBy("qid")
  }

  val all: Seq[Query] = Seq(
    Query("q30_ann_bruteforce",
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT qid, nid,
        |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
        |        ELSE list_dot_product(qv, cv) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
        |      FROM q, c WHERE qid <> nid)
        |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
        |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
        |  FROM s) WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    },
    Query("q31_ann_lsh", {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, sig FROM sigs WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, sig FROM sigs),
         |s AS (SELECT qid, nid,
         |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
         |        ELSE list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
         |      FROM q JOIN c USING (sig) WHERE qid <> nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
         |  FROM s) WHERE rnk <= 5""".stripMargin
    }) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5, bits = 6)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    },
    Query("q32_cosine_neardup", {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH un AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000 AS vec_id,
         |    list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) AS embedding
         |  FROM embeddings WHERE vec_id < 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM un),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e)
         |SELECT l.vec_id AS a, r.vec_id AS b
         |FROM sigs l JOIN sigs r ON l.sig = r.sig AND l.vec_id < r.vec_id
         |WHERE list_dot_product(l.v, l.v) > 0 AND list_dot_product(r.v, r.v) > 0
         |  AND list_dot_product(l.v, r.v) /
         |      (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) >= 0.999
         |ORDER BY a, b""".stripMargin
    }) { (s, dir) =>
      Similarity.cosineNearDups(withScaledTwins(s, dir), "vec_id", "embedding",
        threshold = 0.999, bits = 6)
        .select("a", "b").orderBy("a", "b")
    },
    Query("q33_ann_ivf",
      "SELECT vec_id AS qid, 1 AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY qid") { (s, dir) =>
      // IVF is approximate by construction (the Lloyd iteration is not SQL-
      // expressible), so the hard gate is in-query: every query's IVF top-5
      // must recover >= 2 of the exact brute-force top-5 at nprobe=6/16 — the
      // oracle expects recall_ok = 1 for every query, making recall
      // regressions hash-visible. (Random uniform embeddings are IVF's worst
      // case; measured per-query hits at sf0.01 are 2-5.)
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      recallGate(emb, q,
        Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 6))
    },
    Query("q34_ann_ivfpq",
      "SELECT vec_id AS qid, 1 AS recall_ok FROM embeddings WHERE vec_id < 10 ORDER BY qid") { (s, dir) =>
      // IVF-PQ (by_residual, the FAISS default: codes quantize x − c(list),
      // measured 37/50 exact-top-5 hits vs 35/50 for raw encoding here) with
      // exact-cosine refine (q33's gate pattern): ADC ranks 16-byte codes
      // inside probed lists via dot(q,c) + ADC(code, LUT_q) over a
      // reconstructed norm, the top k·refine candidates re-rank against raw
      // vectors — returned sims are EXACT cosines, so quantization noise
      // never leaves the candidate stage. The gate is the same >= 2-of-top-5
      // as q33 because recall is bounded by LIST PROBING, not PQ: one
      // query's remaining true neighbors sit in unprobed lists at nprobe=6/16
      // regardless of code quality. Uniform random embeddings are the worst
      // case for both quantizers.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      recallGate(emb, q, Similarity.ivfPqTopK(q, emb, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 6, m = 16, ksub = 32, refine = 8))
    },
    Query("q35_ann_lsh_multiprobe", {
      val sig = graft.oracle.SketchSql.lshSignatureExpr("v", 6)
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sigs AS (SELECT vec_id, v, $sig AS sig FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, sig AS qsig FROM sigs WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, sig AS csig FROM sigs),
         |s AS (SELECT qid, nid,
         |        CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0 THEN 0
         |        ELSE list_dot_product(qv, cv) /
         |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END AS sim
         |      FROM q JOIN c ON bit_count(xor(qsig, csig)) <= 1 AND qid <> nid)
         |SELECT qid, nid, CAST(rnk AS BIGINT) AS rank FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
         |  FROM s) WHERE rnk <= 5""".stripMargin
    }) { (s, dir) =>
      // multi-probe LSH: q31's exact-bucket join misses queries whose true
      // neighbors sit one hyperplane away (46/50 result rows at sf0.01);
      // probing the `bits` one-flip buckets recovers them. The oracle is the
      // Hamming<=1 join — a pair matches exactly one probe, so the probe
      // expansion and the distance predicate are the same set.
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      Similarity.lshMultiProbeTopK(q, emb, "vec_id", "embedding", k = 5, bits = 6)
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
        .orderBy("qid", "rank")
    }
  )
}
