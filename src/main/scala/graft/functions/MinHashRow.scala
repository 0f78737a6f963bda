package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Static MinHash kernel for generated code (the [[AdcMath]] pattern). */
object MinHashMath {

  /** Per-permutation minimum of `(a·h + b) mod prime` over the non-null
    * hashes; `Long.MaxValue` where there are none. */
  def signature(hashes: ArrayData, permA: Array[Long], permB: Array[Long],
      prime: Long): ArrayData = {
    val k = permA.length
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < hashes.numElements()) {
      if (!hashes.isNullAt(i)) {
        val h = hashes.getLong(i)
        var j = 0
        while (j < k) {
          val x = (permA(j) * h + permB(j)) % prime
          if (x < sig(j)) sig(j) = x
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** One (band, bucket hash) row per band of `rows` signature values:
    * `xxhash64(slice(sig, band·rows + 1, rows))`, which folds Spark's
    * 64-bit xxHash over the slice's longs from seed 42 (a null signature
    * or an empty slice hashes to the seed). */
  def bands(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = ShingleMath.XxHashSeed
      var i = b * rows
      val end = math.min(n, i + rows)
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, h))
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Row-level MinHash signature over an array of pre-folded hashes (values
  * already in [0, prime)) — the SAME permutation family, constants, and
  * update arithmetic as [[MinHashSketch]], so a signature computed per row
  * is bit-identical to one aggregated over the exploded hash column.
  *
  * Exists for STREAMING near-dup: an append-mode stream cannot run the
  * groupBy the sketch aggregate needs, but each document's shingle set
  * arrives whole on its row, so the signature is computable without any
  * shuffle at all. Batch callers keep the aggregate (map-side partial
  * merge); both paths land in the same banding, so stream candidates equal
  * batch candidates exactly.
  */
case class MinHashRow(
    child: Expression,
    permA: Array[Long],
    permB: Array[Long],
    prime: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    MinHashMath.signature(input.asInstanceOf[ArrayData], permA, permB, prime)

  /** The permutation arrays ride as references, not as source text: the
    * generated code is one static call per row. */
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("permA", permA, "long[]")
    val b = ctx.addReferenceObj("permB", permB, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashMath.signature($c, $a, $b, ${prime}L)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The LSH band buckets of a MinHash signature: `bands` structs
  * `(band, bh)` with `bh = xxhash64(slice(sig, band·rows + 1, rows))`.
  *
  * Bit-identical to the composed `array(struct(lit(b), xxhash64(slice(..)))
  * ...)`, a null signature included, as one static call per row: the
  * composed form inlines every band's slice and hash into each whole-stage
  * class that computes bands (over 2,000 generated lines each at 32
  * bands), and every such class is compiled again on each cache miss. */
case class LshBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    MinHashMath.bands(child.eval(input).asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sig = child.genCode(ctx)
    ev.copy(code = code"""
      |${sig.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.functions.MinHashMath.bands(
      |    ${sig.isNull} ? null : ${sig.value}, $bands, $rows);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
