package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

/** Native dot product over two array<double> columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — is a
  * higher-order function chain: interpreted lambda calls per element plus an
  * intermediate array allocation per row. For the similarity operators the
  * dot product is the innermost loop over |pairs|×dim elements, so it gets
  * a real Catalyst expression with whole-stage codegen.
  *
  * Accumulation is a sequential ascending-index fold — bit-identical to the
  * HOF form and to the oracle's formulation, so certified results are
  * unchanged.
  *
  * `failOnMismatch = true` (the engine's own callers): a length mismatch
  * is a data bug, throw loudly. `failOnMismatch = false` (the
  * [[graft.plans.DotProductRewrite]] optimizer rule): reproduce the HOF
  * chain's semantics exactly — mismatched lengths zip a null into the
  * products and the fold propagates it, so the result is null; a null
  * ELEMENT likewise nulls the result (checked only when the child type
  * admits element nulls, so the strict hot path stays branch-free).
  */
case class DoubleDot(left: Expression, right: Expression,
    failOnMismatch: Boolean = true)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = !failOnMismatch || super.nullable

  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(_, n) => n
    case _ => true
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) {
      if (failOnMismatch) {
        throw new IllegalArgumentException(
          s"graft_dot: dimension mismatch $n vs ${y.numElements()}")
      }
      return null
    }
    val checkNulls =
      !failOnMismatch && (elementsNullable(left) || elementsNullable(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not fixed locals: two DoubleDots in one generated
      // function (e.g. a fused filter evaluating cosine twice) would
      // otherwise redefine `i`/`n`/`s`, fail janino compilation, and drop
      // the whole predicate to interpreter mode
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val mismatch =
        if (failOnMismatch) {
          s"""throw new IllegalArgumentException(
             |    "graft_dot: dimension mismatch " + $n + " vs "
             |      + $b.numElements());""".stripMargin
        } else {
          s"${ev.isNull} = true;"
        }
      val nullCheck =
        if (!failOnMismatch
          && (elementsNullable(left) || elementsNullable(right))) {
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
             |    ${ev.isNull} = true; break;
             |  }""".stripMargin
        } else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  $mismatch
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  /** MinHash family size and universal-hash constants (Mersenne prime
    * 2^31-1 keeps a·x+b under 2^62 — no long overflow). Deterministic
    * fixed-seed LCG, identical across runs and executors. */
  val NumHashes = 128
  val HashPrime = 2147483647L
  val (permA: Array[Long], permB: Array[Long]) = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def mod(x: Long, m: Long): Long = ((x % m) + m) % m
    val a = Array.fill(NumHashes)(mod(next(), HashPrime - 1) + 1)
    val b = Array.fill(NumHashes)(mod(next(), HashPrime))
    (a, b)
  }

  /** Expression-level twin of [[graft.operators.Layout.part1By1]]: spread
    * the low 16 bits of a (long-cast) expression so one zero bit separates
    * each data bit. Composed from the same Catalyst nodes the Column form
    * produces; ExtensionsSpec pins the two bit-equal. */
  private def part1By1Expr(c: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft}
    def and(a: Expression, m: Long) = BitwiseAnd(a, Literal(m))
    def spread(x: Expression, bits: Int, m: Long) =
      and(BitwiseOr(x, ShiftLeft(x, Literal(bits))), m)
    val x0 = and(Cast(c, org.apache.spark.sql.types.LongType), 0xFFFFL)
    val x3 = spread(spread(spread(x0, 8, 0x00FF00FFL), 4, 0x0F0F0F0FL),
      2, 0x33333333L)
    and(BitwiseOr(x3, ShiftLeft(x3, Literal(1))), 0x55555555L)
  }

  /** 2-D Morton code as a raw Catalyst expression (SQL-surface twin of
    * [[graft.operators.Layout.zValue2]]). */
  private[graft] def zValue2Expr(x: Expression, y: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      BitwiseOr, Literal, ShiftLeft}
    BitwiseOr(part1By1Expr(x), ShiftLeft(part1By1Expr(y), Literal(1)))
  }

  /** The engine's SQL function surface: one (name, builder) row per
    * expression. Shared by [[register]] (Scala-side temp functions) and
    * [[graft.GraftExtensions]] (config-driven `spark.sql.extensions`
    * injection), so the two surfaces cannot drift. */
  private[graft] val descriptors:
      Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DoubleDot(exprs.head, exprs(1))),
    "graft_trigrams" -> (exprs => WordTrigrams(exprs.head)),
    "graft_minhash" -> (exprs =>
      MinHashSketch(exprs.head, permA, permB, HashPrime)
        .toAggregateExpression()),
    "graft_simhash" -> (exprs =>
      SimHashSketch(exprs.head).toAggregateExpression()),
    "graft_minhash_row" -> (exprs =>
      MinHashRow(exprs.head, permA, permB, HashPrime)),
    "graft_freq" -> (exprs => {
      require(exprs(1).foldable,
        "graft_freq(item, capacity): capacity must be an integer literal")
      val cap = exprs(1).eval(null) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long    => l.toInt
        case s: java.lang.Short   => s.intValue
        case other => throw new IllegalArgumentException(
          s"graft_freq: capacity must be an integral literal, got $other")
      }
      FrequentItemsSketch(exprs.head, cap).toAggregateExpression()
    }),
    "graft_bottomk" -> (exprs => {
      require(exprs(2).foldable,
        "graft_bottomk(pri, item, k): k must be an integer literal")
      val k = exprs(2).eval(null) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long    => l.toInt
        case s: java.lang.Short   => s.intValue
        case other => throw new IllegalArgumentException(
          s"graft_bottomk: k must be an integral literal, got $other")
      }
      BottomKSketch(exprs.head, exprs(1), k).toAggregateExpression()
    }),
    "graft_kmv" -> (exprs => {
      require(exprs(1).foldable,
        "graft_kmv(hash, k): k must be an integer literal")
      val k = exprs(1).eval(null) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long    => l.toInt
        case s: java.lang.Short   => s.intValue
        case other => throw new IllegalArgumentException(
          s"graft_kmv: k must be an integral literal, got $other")
      }
      KmvSketch(exprs.head, k).toAggregateExpression()
    }),
    "graft_zvalue2" -> (exprs => zValue2Expr(exprs.head, exprs(1))),
    "graft_hilbert" -> (exprs => {
      require(exprs.head.foldable,
        "graft_hilbert(bits, x0, ..): bits must be an integer literal")
      val bits = exprs.head.eval(null) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long    => l.toInt
        case s: java.lang.Short   => s.intValue
        case other => throw new IllegalArgumentException(
          s"graft_hilbert: bits must be an integral literal, got $other")
      }
      HilbertIndex(bits, exprs.tail.map(e =>
        org.apache.spark.sql.catalyst.expressions.Cast(e,
          org.apache.spark.sql.types.LongType)))
    }),
    "graft_wordpiece" -> (exprs => {
      // args 1/2 must be foldable literals (the vocab array and maxPiece)
      // — fail with a usable message, not a ClassCastException mid-eval
      require(exprs(1).foldable && exprs(2).foldable,
        "graft_wordpiece(text, vocab, maxPiece): vocab and maxPiece must " +
          "be literals (e.g. array('ab','c'), 16), not columns")
      val vocab = exprs(1).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val maxPiece = exprs(2).eval(null) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long    => l.toInt
        case s: java.lang.Short   => s.intValue
        case other => throw new IllegalArgumentException(
          s"graft_wordpiece: maxPiece must be an integral literal, got " +
            s"$other")
      }
      WordpieceTokens(exprs.head, vocab, maxPiece)
    }),
    "graft_fhir_pivot" -> (exprs => {
      // arg 1 is a foldable string literal carrying the schema registry
      // as DataType JSON (field order = output column order)
      val registryJson = exprs(1).eval(null).toString
      FhirBundlePivot(exprs.head,
        DataType.fromJson(registryJson).asInstanceOf[StructType])
    }),
    // the URL family reuses the Column compositions verbatim through the
    // classic Column<->Expression bridge, so the SQL surface cannot
    // drift from graft.operators.TextAnalysis (one definition each)
    "graft_canonical_url" -> (exprs =>
      columnExpr(graft.operators.TextAnalysis.canonicalUrl(
        org.apache.spark.sql.graft.ColumnBridge.column(exprs.head)))),
    "graft_url_host" -> (exprs =>
      columnExpr(graft.operators.TextAnalysis.urlHost(
        org.apache.spark.sql.graft.ColumnBridge.column(exprs.head)))),
    "graft_registered_domain" -> (exprs =>
      columnExpr(graft.operators.TextAnalysis.registeredDomain(
        org.apache.spark.sql.graft.ColumnBridge.column(exprs.head)))),
    // the perceptual-hash surface for SQL clients: binary payload →
    // nullable 64-bit fingerprint (null = undecodable). Deliberately
    // ScalaUDF-backed — the per-row cost is the media decode itself, so
    // codegen'd expression plumbing would buy nothing. The video hashes
    // resolve the SampleDecoder snapshot on the EXECUTOR: ServiceLoader
    // provider jars work; driver-side programmatic registrations do not
    // reach this SQL surface on a multi-node cluster — use the operator
    // forms (videoTemporalDHashes etc.), which capture driver-side
    "graft_image_dhash" ->
      mediaHash(graft.operators.Multimodal.imageDHash),
    "graft_image_phash" ->
      mediaHash(graft.operators.Multimodal.imagePHash),
    "graft_audio_fingerprint" ->
      mediaHash(graft.operators.Multimodal.audioFingerprint),
    "graft_audio_spectral_hash" ->
      mediaHash(b => graft.operators.Multimodal.audioSpectralHash(b)),
    "graft_video_dhash" ->
      mediaHash(graft.operators.Multimodal.videoDHash),
    "graft_video_temporal_hash" ->
      mediaHash(graft.operators.Multimodal.videoTemporalDHash))

  private def mediaHash(
      f: Array[Byte] => Option[Long]): Seq[Expression] => Expression = {
    val u = org.apache.spark.sql.functions.udf(f)
    exprs => columnExpr(u(
      org.apache.spark.sql.graft.ColumnBridge.column(exprs.head)))
  }

  private def columnExpr(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Register engine expressions in the session's function registry;
    * idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    descriptors.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Column-level dot product. Registers on the active session if there is
    * one (operators also register explicitly on their own session). */
  def doubleDot(a: Column, b: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_dot", a, b)
  }

  /** Column-level distinct word-trigram shingles. */
  def wordTrigrams(text: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_trigrams", text)
  }

  /** MinHash signature aggregate over a pre-hashed long column (values
    * already folded into [0, HashPrime)). */
  def minHashSketch(h: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_minhash", h)
  }

  /** SimHash signature aggregate over raw 64-bit hash values. */
  def simHashSketch(h: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_simhash", h)
  }

  /** Row-level MinHash signature over an array of pre-folded hashes —
    * bit-identical to [[minHashSketch]] over the exploded column (see
    * [[MinHashRow]]); the streaming near-dup path uses this. */
  def minHashRow(hashes: Column): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_minhash_row", hashes)
  }

  /** `pmod(xxhash64(t), HashPrime)` of each element of a shingle array,
    * as one codegen'd call (see [[ShingleHashes]]): the input
    * [[minHashRow]] takes. */
  def shingleHashes(shingles: Column): Column =
    nativeColumn(ShingleHashes(columnExpr(shingles), HashPrime))

  /** Ids of the `count` centroids with the largest dot product against
    * `v`, best first, ties to the lower id (see [[TopCentroids]]). */
  def topCentroids(
      v: Column, centroids: Array[Array[Double]], count: Int): Column =
    nativeColumn(TopCentroids(columnExpr(v), centroids, count))

  /** How many single-space tokens of `text` are in `words` (see
    * [[TokenSetCount]]); a null text counts as `size` counts a null. */
  def tokenSetCount(text: Column, words: Seq[String]): Column =
    nativeColumn(TokenSetCount(columnExpr(text), words,
      org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull))

  private def nativeColumn(e: Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)

  /** Misra–Gries frequent-items summary aggregate (see
    * [[FrequentItemsSketch]]): array<struct<item,cnt>> of at most
    * `capacity` undercount estimates, heaviest first. */
  def frequentItemsSketch(item: Column, capacity: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_freq", item,
      org.apache.spark.sql.functions.lit(capacity))
  }

  /** KMV distinct-count sketch (see [[KmvSketch]]): the k smallest
    * DISTINCT hashes, unsigned-ascending. */
  def kmvSketch(hash: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_kmv", hash,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Greedy longest-match subword pieces over a fixed vocab (see
    * [[WordpieceTokens]]). */
  def wordpieceTokens(
      text: Column, vocab: Seq[String], maxPiece: Int = 16): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_wordpiece", text,
      org.apache.spark.sql.functions.array(
        vocab.map(org.apache.spark.sql.functions.lit): _*),
      org.apache.spark.sql.functions.lit(maxPiece))
  }

  /** N-D Hilbert distance (see [[HilbertIndex]]): one codegen'd static
    * call per row instead of the (bits−1)·n-stage Column fold. */
  def hilbertIndex(bits: Int, dims: Seq[Column]): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_hilbert",
      org.apache.spark.sql.functions.lit(bits) +: dims: _*)
  }

  /** One-tokenization FHIR bundle pivot (see [[FhirBundlePivot]]); the
    * registry StructType's field order fixes the output column order. */
  def fhirBundlePivot(value: Column, registry: StructType): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function("graft_fhir_pivot", value,
      org.apache.spark.sql.functions.lit(registry.json))
  }
}
