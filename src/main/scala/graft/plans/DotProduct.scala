package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float/double-array dot product —
  * the hot inner loop of every similarity operator.
  *
  * The portable formulation (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * runs INTERPRETED: Spark's higher-order array functions don't take
  * part in whole-stage codegen, so each of the 64 elements pays lambda
  * dispatch and boxing per row (the same effect measured in the
  * minhash A/B). This expression generates a
  * straight `for` loop over the unsafe array data.
  *
  * Semantics match the fold bit for bit: left-to-right accumulation
  * starting at 0.0 (identical IEEE754 sequence, so the DuckDB oracle
  * text stays exact), floats widened per element, NULL when either
  * array is NULL, contains a NULL element, or the lengths differ
  * (zip_with would emit a NULL product in those positions).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    // any fixed-width numeric element widens exactly like the fold's
    // per-element cast-to-double did (Decimal stays on the portable
    // fold path)
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType |
          ShortType | ByteType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two arrays of fixed-width numeric elements, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val la = l.asInstanceOf[ArrayData]; val ra = r.asInstanceOf[ArrayData]
    val n = la.numElements()
    if (n != ra.numElements()) return null
    def getter(e: Expression): (ArrayData, Int) => Double = elemType(e) match {
      case DoubleType => (a, i) => a.getDouble(i)
      case FloatType  => (a, i) => a.getFloat(i).toDouble
      case LongType   => (a, i) => a.getLong(i).toDouble
      case IntegerType => (a, i) => a.getInt(i).toDouble
      case ShortType  => (a, i) => a.getShort(i).toDouble
      case _          => (a, i) => a.getByte(i).toDouble
    }
    val getL = getter(left); val getR = getter(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += getL(la, i) * getR(ra, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, ra) => {
      def get(arr: String, e: Expression, i: String): String = elemType(e) match {
        case DoubleType  => s"$arr.getDouble($i)"
        case FloatType   => s"(double) $arr.getFloat($i)"
        case LongType    => s"(double) $arr.getLong($i)"
        case IntegerType => s"(double) $arr.getInt($i)"
        case ShortType   => s"(double) $arr.getShort($i)"
        case _           => s"(double) $arr.getByte($i)"
      }
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $la.numElements();
        if ($n != $ra.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($la.isNullAt($i) || $ra.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += ${get(la, left, i)} * ${get(ra, right, i)};
          }
          if (!${ev.isNull}) ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Register `graft_dot` on the session's function registry —
    * idempotent AND silent on re-registration; `Similarity` calls it
    * before every `call_function`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    NativeFunctions.registerOnce(spark, "graft_dot", builder)

  private[plans] def builder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
    DotProduct(exprs(0), exprs(1))
  }
}
