package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static shingling kernels: a top-level object with no companion class
  * compiles to static forwarders, so generated code calls them directly
  * (the [[AdcMath]] pattern). */
object ShingleMath {

  private val space = UTF8String.fromString(" ")

  /** Seed of Spark's `xxhash64` function. */
  val XxHashSeed = 42L

  /** Distinct word trigrams of `s` in first-occurrence order; the whole
    * text is the single shingle below 3 tokens. See [[WordTrigrams]]. */
  def wordTrigrams(s: UTF8String): ArrayData = {
    val toks = s.split(space, -1)
    val out = new mutable.LinkedHashSet[UTF8String]
    if (toks.length >= 3) {
      var i = 0
      while (i <= toks.length - 3) {
        out.add(UTF8String.concatWs(space, toks(i), toks(i + 1), toks(i + 2)))
        i += 1
      }
    } else {
      out.add(UTF8String.concatWs(space, toks: _*))
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** `pmod(xxhash64(t), prime)` of each string element, bit-identical to
    * Spark's functions: `xxhash64` hashes a string's UTF-8 bytes with seed
    * 42 and leaves the seed as the hash of a null. */
  def foldedHashes(shingles: ArrayData, prime: Long): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val h =
        if (shingles.isNullAt(i)) XxHashSeed
        else {
          val t = shingles.getUTF8String(i)
          XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset,
            t.numBytes, XxHashSeed)
        }
      val r = h % prime
      out(i) = if (r < 0) (r + prime) % prime else r
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Distinct word-trigram shingles of a single-space-tokenized string.
  *
  * Exact semantic twin of the composable form
  *   array_distinct(transform(sequence(0, size(t)-3),
  *     i -> concat_ws(" ", t[i+1], t[i+2], t[i+3])))
  * (with the whole text as the single shingle when < 3 tokens), but
  * evaluated as ONE native call per row instead of dozens of interpreted
  * higher-order-lambda invocations per shingle — shingling is the inner
  * loop of every near-dup operator, so it carries its own expression.
  * First-occurrence order is preserved (as array_distinct does).
  *
  * The generated code is one static call per row. It must not be a
  * `CodegenFallback`: Spark keeps any plan node whose expressions hold a
  * non-leaf fallback out of whole-stage codegen, so the node would run as
  * a standalone projection and split its pipeline into two whole-stage
  * classes. Those extra generated classes, not the per-row call, were the
  * cost: each compiles once per class loader and competes for Spark's
  * 100-entry code-gen cache.
  */
case class WordTrigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleMath.wordTrigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleMath.wordTrigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `transform(shingles, t -> pmod(xxhash64(t), prime))` as one native call
  * per row: the folded shingle hashes [[MinHashRow]] takes, without a
  * higher-order lambda (which would keep its plan node out of whole-stage
  * codegen, see [[WordTrigrams]]). */
case class ShingleHashes(child: Expression, prime: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleMath.foldedHashes(input.asInstanceOf[ArrayData], prime)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleMath.foldedHashes($c, ${prime}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
