package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, InputAdapter,
  ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType,
  StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.{Curation, Decontaminate, Dedup, Similarity, TextAnalysis}

/** The LLM-corpus operators keep their row work inside whole-stage codegen.
  *
  * Spark leaves out of whole-stage codegen any plan node whose expressions
  * hold a non-leaf `CodegenFallback`, such as a higher-order lambda. Such
  * a node runs as a standalone generated class and splits its pipeline in
  * two, and every extra class competes for the code-gen cache. The first
  * tests walk every plan the operators execute and find no `Project`,
  * `Filter` or `Generate` outside a whole-stage stage. The rest pin each
  * native expression equal to the lambda form it replaced, on generated
  * inputs, with generated code required (no interpreted fallback) and with
  * code generation off.
  */
class CodegenShapeSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  // ---------------------------------------------------------------- plans

  /** Executed plans of every query `body` runs. Listener events arrive in
    * order on Spark's bus, so a sentinel query run after `body` marks the
    * point where all of its plans have been seen. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val token = s"codegen-shape-${System.nanoTime()}"
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkPlan]())
    @volatile var done = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.logical.toString.contains(token)) done = true
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(token)).collect()
      val deadline = System.nanoTime() + 30000000000L
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, "the sentinel query's listener event never arrived")
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.ListHasAsScala(plans).asScala.toSeq
  }

  /** Row-level plan nodes that run outside a whole-stage codegen stage. */
  private def outsideCodegen(plan: SparkPlan): Seq[SparkPlan] = {
    def walk(p: SparkPlan, inStage: Boolean): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
      case q: QueryStageExec => walk(q.plan, inStage = false)
      case r: ReusedExchangeExec => walk(r.child, inStage = false)
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      case _ =>
        val here = p match {
          case _: ProjectExec | _: FilterExec | _: GenerateExec if !inStage =>
            Seq(p)
          case _ => Nil
        }
        here ++ p.children.flatMap(walk(_, inStage)) ++
          p.subqueries.flatMap(walk(_, inStage = false))
    }
    walk(plan, inStage = false)
  }

  private def assertFused(what: String)(body: => Unit): Unit = {
    val plans = executedPlans(body)
    assert(plans.nonEmpty, s"$what ran no query")
    val split = plans.flatMap(outsideCodegen)
    assert(split.isEmpty,
      s"$what runs ${split.size} row node(s) outside whole-stage codegen:\n" +
        split.map(_.simpleString(400)).mkString("\n"))
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val words = Vector("the", "a", "of", "and", "to", "river", "stone",
      "market", "quiet", "signal", "harbor", "winter", "engine", "paper",
      "garden", "copper", "meadow", "lantern", "orbit", "canvas")
    val base = (1 to 40).map { i =>
      i.toLong -> Seq.fill(30 + rnd.nextInt(20))(
        words(rnd.nextInt(words.size))).mkString(" ")
    }
    // near duplicates: one word changed in a copy of an earlier document
    val near = (41 to 50).map { i =>
      val toks = base(i - 41)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = "changed"
      i.toLong -> toks.mkString(" ")
    }
    (base ++ near).toDF("id", "text")
  }

  private lazy val probes: DataFrame = {
    import spark.implicits._
    docs.filter(col("id") <= 3).as[(Long, String)].collect().toSeq
      .map { case (i, t) => (1000L + i, t.split(" ").take(12).mkString(" ")) }
      .toDF("id", "text")
  }

  test("minHashLshPairs runs its row work inside whole-stage codegen") {
    assertFused("minHashLshPairs") {
      val pairs = Dedup.minHashLshPairs(docs, "id", "text", 0.8)
        .select("doc_a", "doc_b").collect()
      assert(pairs.nonEmpty, "fixture: the planted near duplicates pair")
    }
  }

  test("Curation.pipeline with probes runs its row work inside " +
    "whole-stage codegen") {
    assertFused("Curation.pipeline") {
      val r = Curation.pipeline(docs, "id", "text",
        Curation.Config(minQuality = 0.0), probes = Some(probes))
      r.df.collect()
    }
  }

  private lazy val emb = Tables.embeddings(spark, GraftSpark.sf)

  test("IVF-PQ build, append and top-k join run their row work inside " +
    "whole-stage codegen") {
    var index: Similarity.IvfPqIndex = null
    assertFused("ivfPqIndexBuild") {
      index = Similarity.ivfPqIndexBuild(
        emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding")
    }
    assertFused("ivfPqIndexAppend") {
      index = Similarity.ivfPqIndexAppend(index,
        emb.filter(col("vec_id") % 5 === 0), "vec_id", "embedding")
      index.codedLists.count()
    }
    assertFused("ivfPqTopKJoin") {
      val got = Similarity.ivfPqTopKJoin(index,
        emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding", 5)
        .collect()
      assert(got.nonEmpty)
    }
  }

  test("contamination: probe rows sharing an id pool their shingles") {
    import spark.implicits._
    // probe 900 is two rows. Their shingles count once per row in both
    // the overlap and the probe size, so a probe size taken per row (one
    // size per probe row, no aggregate) would give another containment;
    // the probe sizes therefore stay an aggregate by probe id
    val corpus = Seq(
      (1L, "a b c d e f", false),
      (900L, "a b c d", true),
      (900L, "x y z w", true))
      .toDF("id", "text", "probe")
    val got = Decontaminate.contamination(corpus, "id", "text",
      col("probe"), minContainment = 0.0)
      .select("doc_id", "probe_id", "overlap", "containment")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1 holds both trigrams of the first row, none of the second
    assert(got == Seq((1L, 900L, 2L, 2.0 / 4)))
  }

  // --------------------------------------------- native vs lambda forms

  private val modes = Seq(
    "generated code" -> Map(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A frame over an RDD, so the optimizer cannot fold the expressions
    * under test into a local relation on the driver. */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** Doubles by bit pattern, so NaN and -0.0 compare exactly. */
  private def canon(x: Any): Any = x match {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  /** Asserts `native` equals `lambda` on every row of `df`, in each mode. */
  private def assertSame(df: DataFrame, native: Column, lambda: Column): Unit =
    modes.foreach { case (mode, conf) =>
      withConf(conf) {
        val got = df.select(col("i"), native.as("native"), lambda.as("lambda"))
          .collect()
        assert(got.length == df.count())
        got.foreach { r =>
          assert(canon(r.get(1)) == canon(r.get(2)),
            s"$mode, row ${r.get(0)}: native ${r.get(1)} vs lambda ${r.get(2)}")
        }
      }
    }

  private val stopwords = TextAnalysis.LangMarkers.flatMap(_._2)

  /** Texts over a small vocabulary (so tokens and trigrams repeat) with
    * stopwords of every marker language, multi-byte words, empty tokens
    * from doubled spaces, and null, empty and one- or two-token texts. */
  private val textGen: Gen[String] = {
    val word = Gen.frequency(
      4 -> Gen.oneOf(stopwords),
      4 -> Gen.oneOf("river", "stone", "año", "straße", "日本", "b"),
      1 -> Gen.const(""))
    Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const(""),
      2 -> Gen.choose(1, 2).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")),
      6 -> Gen.choose(3, 24).flatMap(Gen.listOfN(_, word))
        .map(_.mkString(" ")))
  }

  private lazy val texts: DataFrame = {
    val cases = Gen.listOfN(400, textGen)
      .apply(Gen.Parameters.default, Seed(20261020L)).get
    frame(StructType(Seq(StructField("i", LongType, nullable = false),
      StructField("text", StringType))),
      cases.zipWithIndex.map { case (t, i) => Row(i.toLong, t) } ++
        Seq(Row(400L, "a a a a a a"), Row(401L, "the the")))
  }

  test("wordTrigrams equals its composed form") {
    val t = split(col("text"), " ")
    val composed = when(col("text").isNull, lit(null))
      .when(size(t) >= 3, array_distinct(transform(
        sequence(lit(0), size(t) - 3),
        i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
          element_at(t, i + 3)))))
      .otherwise(array(concat_ws(" ", t)))
    assertSame(texts, Dedup.wordTrigrams(col("text")), composed)
  }

  test("shingle hashes and signatures equal the transform(pmod(xxhash64)) " +
    "form") {
    val prime = GraftFunctions.HashPrime
    val shingles = Dedup.wordTrigrams(col("text"))
    val lambda = transform(shingles, t => pmod(xxhash64(t), lit(prime)))
    assertSame(texts, GraftFunctions.shingleHashes(shingles), lambda)
    assertSame(texts,
      GraftFunctions.minHashRow(GraftFunctions.shingleHashes(shingles)),
      GraftFunctions.minHashRow(lambda))
  }

  test("LSH bands equal the array(struct(band, xxhash64(slice))) form") {
    def composed(sig: Column, bands: Int, rows: Int): Column =
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(sig, b * rows + 1, rows)).as("bh"))
      }: _*)
    val sig = GraftFunctions.minHashRow(
      GraftFunctions.shingleHashes(Dedup.wordTrigrams(col("text"))))
    assertSame(texts, Dedup.bandStructs(sig),
      composed(sig, Dedup.Bands, Dedup.RowsPerBand))
    // short, null-holding and null signatures: slices past the end hash
    // to the seed, null elements are skipped
    val value = Gen.frequency(
      6 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Long.valueOf),
      1 -> Gen.const(null: java.lang.Long))
    val cases = Gen.listOfN(200, Gen.choose(0, 11).flatMap(Gen.listOfN(_, value)))
      .apply(Gen.Parameters.default, Seed(3L)).get
    val longs = frame(StructType(Seq(StructField("i", LongType, nullable = false),
      StructField("sig", ArrayType(LongType)))),
      cases.zipWithIndex.map { case (s, i) =>
        Row(i.toLong, if (i % 13 == 0) null else s)
      })
    assertSame(longs,
      org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.LshBands(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("sig")), 3, 4)),
      composed(col("sig"), 3, 4))
  }

  test("MinHashRow equals the signature computed in Scala") {
    val prime = GraftFunctions.HashPrime
    modes.foreach { case (mode, conf) =>
      withConf(conf) {
        val rows = texts.filter(col("text").isNotNull)
          .select(GraftFunctions.shingleHashes(Dedup.wordTrigrams(col("text"))),
            GraftFunctions.minHashRow(
              GraftFunctions.shingleHashes(Dedup.wordTrigrams(col("text")))))
          .collect()
        rows.foreach { r =>
          val hs = r.getSeq[Long](0)
          val want = GraftFunctions.permA.indices.map { j =>
            hs.map(h => (GraftFunctions.permA(j) * h + GraftFunctions.permB(j))
              % prime).min
          }
          assert(r.getSeq[Long](1) == want, s"$mode: signature of $hs")
        }
      }
    }
  }

  test("stopwordCount equals size(filter(split, isInCollection)) for every " +
    "marker language") {
    (TextAnalysis.LangMarkers.map(_._2) :+ Seq("", "b", "日本")).foreach { ws =>
      val lambda = size(filter(split(col("text"), " "),
        w => w.isInCollection(ws))).cast("long")
      assertSame(texts, TextAnalysis.stopwordCount(col("text"), ws), lambda)
    }
  }

  /** Vectors and centroids with small integer components, so dot products
    * tie often; some vectors are null, some hold NaN or -0.0. */
  private def vectors(seed: Long, n: Int, dim: Int): Seq[Array[Double]] = {
    val comp = Gen.frequency(
      12 -> Gen.choose(-2, 2).map(_.toDouble),
      1 -> Gen.oneOf(-0.0, Double.NaN, 0.5))
    Gen.listOfN(n, Gen.listOfN(dim, comp).map(_.toArray))
      .apply(Gen.Parameters.default, Seed(seed)).get
  }

  private def lambdaTopLists(
      v: Column, cents: Array[Array[Double]], count: Int): Column =
    transform(
      slice(sort_array(array(cents.toIndexedSeq.zipWithIndex.map {
        case (c, i) =>
          struct(Similarity.dot(v, typedlit(c.toSeq)).as("cs"),
            lit(-i).as("nl"))
      }: _*), asc = false), 1, count),
      s => (s.getField("nl") * lit(-1)).cast("int"))

  test("topLists equals the sort_array form, ties and null vectors " +
    "included") {
    val dim = 4
    val vs = vectors(7L, 300, dim)
    val df = frame(StructType(Seq(StructField("i", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType)))),
      vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, if (i % 29 == 0) null else v.toSeq)
      })
    val cents = vectors(11L, 9, dim).toArray
    // a repeated centroid ties on every vector
    val withDup = cents :+ cents(2)
    Seq(0, 1, 2, 3, 8, 12).foreach { k =>
      assertSame(df, GraftFunctions.topCentroids(col("v"), withDup, k),
        lambdaTopLists(col("v"), withDup, k))
    }
  }

  test("topLists fails on a dimension mismatch as the dot product does") {
    val df = frame(StructType(Seq(StructField("i", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType)))),
      Seq(Row(0L, Seq(1.0, 2.0, 3.0))))
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    modes.foreach { case (_, conf) =>
      withConf(conf) {
        Seq(GraftFunctions.topCentroids(col("v"), cents, 1),
            lambdaTopLists(col("v"), cents, 1)).foreach { c =>
          val e = intercept[Exception](df.select(c).collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
          assert(msgs.exists(_.contains("graft_dot: dimension mismatch 3 vs 2")),
            s"unexpected failure: $e")
        }
      }
    }
  }

  test("normed's cast equals transform(vec, x -> double(x))") {
    val comp = Gen.frequency(
      8 -> Gen.choose(-3.0f, 3.0f).map(java.lang.Float.valueOf),
      1 -> Gen.oneOf(Float.NaN, -0.0f, Float.MaxValue)
        .map(java.lang.Float.valueOf),
      1 -> Gen.const(null: java.lang.Float))
    val cases = Gen.listOfN(200, Gen.choose(0, 6).flatMap(Gen.listOfN(_, comp)))
      .apply(Gen.Parameters.default, Seed(5L)).get
    val df = frame(StructType(Seq(StructField("i", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType)))),
      cases.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, if (i % 17 == 0) null else v)
      }).withColumnRenamed("i", "id")
    val n = Similarity.normed(df, "id", "vec")
    val lambda = df.select(col("id").as("i"),
      transform(col("vec"), x => x.cast("double")).as("lambda"))
    assert(n.schema("v").dataType ==
      lambda.schema("lambda").dataType)
    modes.foreach { case (mode, conf) =>
      withConf(conf) {
        val got = n.join(lambda, col("vec_id") === col("i"))
          .select("i", "v", "lambda").collect()
        assert(got.length == cases.length)
        got.foreach { r =>
          assert(canon(r.get(1)) == canon(r.get(2)),
            s"$mode, row ${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
        }
      }
    }
  }
}
