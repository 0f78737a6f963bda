package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel of [[TokenSetCount]] (the [[AdcMath]] pattern). */
object TokenMath {

  /** Number of single-space-separated tokens of `s` (empty tokens
    * included, as `split(s, " ")` yields them) that equal one of `words`.
    * Scans the UTF-8 bytes in place: a space byte never occurs inside a
    * multi-byte character, so the tokens are those of the split. */
  def countIn(s: UTF8String, words: Array[UTF8String]): Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var hits = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' ') {
        val len = i - start
        var j = 0
        var found = false
        while (!found && j < words.length) {
          val w = words(j)
          found = w.numBytes == len && ByteArrayMethods.arrayEquals(
            base, off + start, w.getBaseObject, w.getBaseOffset, len)
          j += 1
        }
        if (found) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }
}

/** `size(filter(split(text, " "), w -> w IN (words)))` as one native call
  * per row: how many of a text's single-space tokens are in a word set.
  *
  * The composed form splits the text and runs an interpreted lambda per
  * token, and its higher-order function keeps its plan node out of
  * whole-stage codegen (see [[WordTrigrams]]); the language-ID and
  * quality screens evaluate five of them per row.
  *
  * `legacySizeOfNull` mirrors `size`: a null text counts -1 when it is set
  * and null otherwise. Build it from the session's
  * `SQLConf.legacySizeOfNull`, as `size` does.
  */
case class TokenSetCount(
    child: Expression, words: Seq[String], legacySizeOfNull: Boolean)
    extends UnaryExpression {

  @transient private lazy val wordBytes: Array[UTF8String] =
    words.map(UTF8String.fromString).toArray

  override def dataType: DataType = LongType

  override def nullable: Boolean = !legacySizeOfNull && child.nullable

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) { if (legacySizeOfNull) -1L else null }
    else TokenMath.countIn(s.asInstanceOf[UTF8String], wordBytes)
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("words", wordBytes,
      "org.apache.spark.unsafe.types.UTF8String[]")
    if (!legacySizeOfNull) {
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TokenMath.countIn($c, $ref)")
    } else {
      val t = child.genCode(ctx)
      ev.copy(code = code"""
        |${t.code}
        |long ${ev.value} = ${t.isNull} ? -1L
        |  : graft.functions.TokenMath.countIn(${t.value}, $ref);""".stripMargin,
        isNull = FalseLiteral)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
