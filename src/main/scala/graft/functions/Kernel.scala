package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** `name(inputs)` as SQL, column names and analyzed plans see it. The
  * optimizer replaces it by `bind(inputs)`, its kernel's `StaticInvoke`,
  * bound after analysis so a kernel can read its inputs' resolved types. */
private[functions] case class KernelCall(
    name: String, inputs: Seq[Expression], bind: Seq[Expression] => Expression)
    extends Expression with RuntimeReplaceable {
  override def children: Seq[Expression] = inputs
  override lazy val replacement: Expression = bind(inputs)
  override def prettyName: String = name
  override def stringArgs: Iterator[Any] = inputs.iterator
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): KernelCall =
    copy(inputs = cs)
}

/** The one way a kernel reaches Catalyst. Generated code calls the static
  * method directly, interpreted evaluation by reflection. `Int` and `Boolean`
  * constants become literals, any other constant (word lists, vocab sets,
  * centroids, codebooks) an `ObjectType` literal in codegen's `references[]`.
  * A null input gives a null result without a call, unless `nullIn` lets it
  * through to a kernel that never returns null. */
private[functions] object Kernel {

  /** The column `name(a)`, `name(a, b)` or `name(a, b, c)`, bound to its
    * kernel by `bind` over the inputs' expressions. */
  def apply(name: String, a: Column)(bind: Expression => Expression): Column =
    column(KernelCall(name, Seq(expression(a)), es => bind(es(0))))
  def apply(name: String, a: Column, b: Column)(bind: (Expression, Expression) => Expression): Column =
    column(KernelCall(name, Seq(a, b).map(expression), es => bind(es(0), es(1))))
  def apply(name: String, a: Column, b: Column, c: Column)(
      bind: (Expression, Expression, Expression) => Expression): Column =
    column(KernelCall(name, Seq(a, b, c).map(expression), es => bind(es(0), es(1), es(2))))

  /** Whether a resolved vector input holds floats (else doubles). */
  def isFloat(vec: Expression): Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def arg(a: Any): Expression = a match {
    case e: Expression => e
    case i: Int => Literal(i)
    case b: Boolean => Literal(b)
    case o: AnyRef => Literal(o, ObjectType(o.getClass))
  }

  /** `kernel.method(args)`, whose result is a Catalyst value of `dataType`. */
  def call(kernel: AnyRef, method: String, dataType: DataType, nullIn: Boolean = false)(
      args: Any*): Expression =
    StaticInvoke(kernel.getClass, dataType, method, args.map(arg),
      propagateNull = !nullIn, returnNullable = false)

  /** A kernel that returns a primitive array, as a Catalyst array without
    * null elements, wrapped the way Spark's encoders wrap one. */
  def primitiveArray(kernel: AnyRef, method: String, element: DataType)(args: Any*): Expression = {
    val cls = element match {
      case LongType => classOf[Array[Long]]
      case DoubleType => classOf[Array[Double]]
    }
    StaticInvoke(classOf[UnsafeArrayData], ArrayType(element, containsNull = false),
      "fromPrimitiveArray", Seq(call(kernel, method, ObjectType(cls))(args: _*)),
      returnNullable = false)
  }
}
