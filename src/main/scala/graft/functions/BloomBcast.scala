package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.LongType
import org.apache.spark.util.sketch.BloomFilter

/** Bloom membership test whose filter bytes ride a TorrentBroadcast instead
  * of an expression `Literal`.
  *
  * Spark's own `BloomFilterMightContain` requires the filter as a foldable
  * binary expression, which embeds the serialized bloom in every task
  * closure. At the 8 MB default that is tolerable; a 100 TB-corpus sizing
  * (~1 G bits = 128 MB) must be fetched once per executor, not shipped per
  * task — so `substringDedupTwoPass` broadcasts the bytes and tests through
  * this expression. The filter deserializes lazily once per executor JVM
  * (the `@transient lazy val`), and codegen stays whole-stage via a
  * reference-object call. It is the one hand-written kernel expression in
  * `graft.functions`: the other kernels are static methods bound through
  * `Kernel`'s one generic `KernelCall`, but this one holds per-executor
  * state behind a broadcast handle, which a static call cannot carry.
  */
case class BloomMightContainBcast(bloom: Broadcast[Array[Byte]],
    child: Expression)
    extends UnaryExpression with Predicate {

  override def prettyName: String = "might_contain_bcast"
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a LongType hash input, got ${child.dataType}")

  @transient private lazy val filter: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bloom.value))

  def test(h: Long): Boolean = filter.mightContainLong(h)

  override protected def nullSafeEval(v: Any): Any =
    test(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMc", this,
      classOf[BloomMightContainBcast].getName)
    defineCodeGen(ctx, ev, c => s"$ref.test($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainBcast =
    copy(child = newChild)
}
