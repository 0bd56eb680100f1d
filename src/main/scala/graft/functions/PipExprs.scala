package graft.functions

import graft.ops.PipTreeCache
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** kernel wrapper for the broadcast point-in-polygon probe — delegates to
  * [[PipTreeCache.probe]] (per-thread prepared-polygon grids,
  * thread-confined probe state) */
final class PipProbeKernel(bcId: Long, bc: Broadcast[Array[(Long, Array[Byte])]])
  extends Serializable {
  def apply(x: Double, y: Double): GenericArrayData =
    new GenericArrayData(PipTreeCache.probe(bcId, bc, x, y))
}

/** The flagship PIP probe as a native expression (round 6): the round-5
  * spelling was a ScalaUDF, which keeps whole-stage codegen but pays
  * Double boxing on both arguments and a Catalyst converter on the
  * returned id array — per scanned row, i.e. 80 M times per flagship
  * pass. This expression receives PRIMITIVE doubles in generated code
  * and returns ArrayData directly; the probe kernel itself is unchanged
  * ([[PipTreeCache.probe]]), so hit sets are identical. */
case class PipProbe(left: Expression, right: Expression,
                    bcId: Long, bc: Broadcast[Array[(Long, Array[Byte])]])
  extends BinaryExpression {

  @transient private lazy val kernel = new PipProbeKernel(bcId, bc)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pip_probe needs two double arguments, got ${l.simpleString} and ${r.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pip_probe"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    kernel.apply(a.asInstanceOf[Double], b.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kern = ctx.addReferenceObj("pipKern", new PipProbeKernel(bcId, bc),
      classOf[PipProbeKernel].getName)
    nullSafeCodeGen(ctx, ev, (x, y) => s"${ev.value} = $kern.apply($x, $y);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PipExprs {
  /** matching poly ids of a point against the broadcast polygon layer */
  def pipProbe(x: Column, y: Column, bcId: Long,
               bc: Broadcast[Array[(Long, Array[Byte])]]): Column =
    Bridge.column(PipProbe(Bridge.expression(x), Bridge.expression(y), bcId, bc))
}
