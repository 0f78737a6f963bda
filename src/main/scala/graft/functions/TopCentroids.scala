package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Static kernel of [[TopCentroids]] (the [[AdcMath]] pattern). */
object CentroidMath {

  /** Ids of the `count` centroids with the largest dot product against
    * `v`, best first; equal scores rank the lower id first. Scores order
    * as Spark orders doubles (NaN above every number, -0.0 equal to 0.0).
    * A null `v` scores null everywhere, which leaves the ids in order. */
  def top(v: ArrayData, cents: Array[Array[Double]], count: Int): ArrayData = {
    val k = math.min(count, cents.length)
    val ids = new Array[Int](k)
    if (v == null) {
      var i = 0
      while (i < k) { ids(i) = i; i += 1 }
      return new GenericArrayData(ids)
    }
    val best = new Array[Double](k)
    val n = v.numElements()
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val w = cents(c)
      if (n != w.length) {
        throw new IllegalArgumentException(
          s"graft_dot: dimension mismatch $n vs ${w.length}")
      }
      // DoubleDot's ascending-index fold, so scores are bit-equal
      var s = 0.0
      var i = 0
      while (i < n) {
        s += v.getDouble(i) * w(i)
        i += 1
      }
      // centroids arrive in id order, so a tie never displaces
      var p = filled
      while (p > 0 && SQLOrderingUtil.compareDoubles(s, best(p - 1)) > 0) {
        p -= 1
      }
      if (p < k) {
        val last = math.min(filled, k - 1)
        System.arraycopy(best, p, best, p + 1, last - p)
        System.arraycopy(ids, p, ids, p + 1, last - p)
        best(p) = s
        ids(p) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    new GenericArrayData(ids)
  }
}

/** The `count` centroid ids nearest a vector by dot product, best first,
  * ties to the lower id: the IVF probe and soft-assignment list choice.
  *
  * Equal on every input, a null vector included, to the composed form
  *   transform(slice(sort_array(array(struct(dot(v, c_i) as cs, -i as nl)
  *     ...), false), 1, count), s -> -s.nl)
  * without its higher-order lambda, which would keep the plan node out of
  * whole-stage codegen (see [[WordTrigrams]]). Scores use [[DoubleDot]]'s
  * summation order and its dimension-mismatch error. The centroids ride as
  * a codegen reference, so the generated source does not depend on them.
  */
case class TopCentroids(
    child: Expression, centroids: Array[Array[Double]], count: Int)
    extends UnaryExpression {
  require(count >= 0, s"top centroid count must be >= 0, got $count")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    CentroidMath.top(
      child.eval(input).asInstanceOf[ArrayData], centroids, count)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = child.genCode(ctx)
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    ev.copy(code = code"""
      |${v.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.CentroidMath.top(
      |    ${v.isNull} ? null : ${v.value}, $ref, $count);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
