package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** [[Curation.pipeline]] keeps the rows and the funnel of the stage-by-
  * stage composition it fuses: repetition screen, near-duplicate losers
  * removed, contaminated documents removed, then the final screens. The
  * reference below applies each verdict set on the driver, one stage
  * after the other, from the same operators the pipeline calls. The
  * fixture repeats ids inside the verdict sets (a document that loses
  * to two keepers, a document that holds two probe passages), where an
  * inner join would multiply rows and an existence test must not. */
class CurationFunnelSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private val words = Vector("river", "stone", "market", "quiet",
    "signal", "harbor", "winter", "engine", "paper", "garden", "copper",
    "meadow", "lantern", "orbit", "canvas", "thunder", "velvet", "pocket",
    "island", "mirror", "candle", "forest", "ladder", "marble", "needle",
    "saddle", "timber", "violet", "walnut", "yellow")
  private val stop = Vector("the", "a", "of", "and", "to")

  private def text(rnd: scala.util.Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(
      if (rnd.nextDouble() < 0.35) stop(rnd.nextInt(stop.size))
      else words(rnd.nextInt(words.size)))

  private val probeTexts: Seq[String] = {
    val rnd = new scala.util.Random(5)
    Seq.fill(2)(text(rnd, 20).mkString(" "))
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // the near-duplicate sources are long, so one edit keeps the copies
    // well above the Jaccard threshold of each other
    val plain = (1 to 40).map(i => i.toLong -> text(rnd,
      if (i == 10 || i == 20) 120 else 50 + rnd.nextInt(60)))
    val base = plain.toMap
    def edit(src: Long, at: Int): IndexedSeq[String] =
      base(src).updated(at, "changed")
    val rows = plain.map { case (i, t) => i -> t.mkString(" ") } ++ Seq(
      // 41 and 42 are near duplicates of 10 and of each other: 42 loses
      // to both 10 and 41, so its id appears twice among the losers
      41L -> edit(10, 3).mkString(" "),
      42L -> edit(10, 5).mkString(" "),
      43L -> edit(20, 7).mkString(" "),
      // both probe passages in one document: two contamination rows
      50L -> (text(rnd, 30) ++ Seq(probeTexts(0)) ++ text(rnd, 10) ++
        Seq(probeTexts(1))).mkString(" "),
      51L -> (text(rnd, 40) ++ Seq(probeTexts(0))).mkString(" "),
      // fails the repetition screen
      60L -> Seq.fill(40)("river stone").mkString(" "),
      // unscoreable: one token
      61L -> "harbor",
      // not English by the marker heuristic
      62L -> Seq.fill(12)("el la los que y mesa casa").mkString(" "),
      // short: low quality
      63L -> "the river and the stone")
    rows.toDF("id", "text")
  }

  private lazy val probes: DataFrame = {
    import spark.implicits._
    probeTexts.zipWithIndex.map { case (t, i) => (1000L + i) -> t }
      .toDF("id", "text")
  }

  private def ids(df: DataFrame, c: String): Seq[Long] =
    df.select(c).collect().map(_.getLong(0)).toSeq

  /** The stage-by-stage reference: (kept ids, funnel counts). */
  private def reference(cfg: Curation.Config)
      : (Set[Long], Seq[Long], Seq[Long], Seq[Long]) = {
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rep = texts.collect { case (i, t)
      if TextAnalysis.repetitionJudgment(t, cfg.repetitionDropAt)
        .exists(_._3) => i }.toSet
    val loserRows = ids(Dedup.minHashLshPairs(docs, "id", "text",
      cfg.nearDupThreshold), "doc_b")
    val tagged = docs.withColumn("__probe", lit(false))
      .unionByName(probes.withColumn("__probe", lit(true)))
    val contRows = ids(Decontaminate.contamination(tagged, "id", "text",
      col("__probe"), cfg.decontamMinContainment, n = cfg.decontamNgram),
      "doc_id")
    val lmKeep = cfg.lmXentMax.map(cap => ids(
      TextAnalysis.lmScore(docs, "id", "text", minCount = 2)
        .filter(col("xent") <= cap), "id").toSet)
    val screens = docs.select(col("id"),
      TextAnalysis.qualityScore(col("text")) >= cfg.minQuality &&
        TextAnalysis.langId(col("text")) === cfg.lang &&
        (if (cfg.gopherScreen)
          TextAnalysis.gopherVerdict(col("text")) === "keep"
        else lit(true)))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val s1 = rep
    val s2 = s1 -- loserRows
    val s3 = s2 -- contRows
    val s4 = s3.filter(i => screens(i) && lmKeep.forall(_(i)))
    (s4, Seq(s1, s2, s3, s4).map(_.size.toLong), loserRows, contRows)
  }

  private def check(cfg: Curation.Config): Unit = {
    val (want, funnel, loserRows, contRows) = reference(cfg)
    // the fixture exercises what it claims to
    assert(loserRows.diff(loserRows.distinct).nonEmpty,
      s"no loser id repeats: $loserRows")
    assert(contRows.diff(contRows.distinct).nonEmpty,
      s"no contaminated id repeats: $contRows")
    assert(funnel.zip(funnel.tail).exists { case (a, b) => b < a })
    val r = Curation.pipeline(docs, "id", "text", cfg, Some(probes))
    val got = ids(r.df, "id")
    assert(got.size == got.distinct.size, s"duplicate rows: $got")
    assert(got.toSet == want)
    assert(r.stageRows.map(_._1) == Curation.Stages)
    assert(r.stageRows.map(_._2) == funnel,
      s"funnel ${r.stageRows} vs reference $funnel")
  }

  test("default screens: same rows and funnel as the stage-by-stage form") {
    check(Curation.Config())
  }

  test("a contaminated document with no id changes no other verdict") {
    import spark.implicits._
    // a null among the contaminated ids: an SQL `IN` over a set holding
    // null would read null for every other id and drop it, where the
    // left-anti form kept it. The existence test reads false.
    val rnd = new scala.util.Random(31)
    val noId = Seq((Option.empty[Long],
      (text(rnd, 30) ++ Seq(probeTexts(1))).mkString(" ")))
      .toDF("id", "text")
    val withNoId = docs.unionByName(noId)
    val tagged = withNoId.withColumn("__probe", lit(false))
      .unionByName(probes.withColumn("__probe", lit(true)))
    val cfg = Curation.Config()
    assert(Decontaminate.contamination(tagged, "id", "text", col("__probe"),
      cfg.decontamMinContainment, n = cfg.decontamNgram)
      .filter(col("doc_id").isNull).count() == 1)
    val want = Curation.pipeline(docs, "id", "text", cfg, Some(probes))
    val got = Curation.pipeline(withNoId, "id", "text", cfg, Some(probes))
    assert(ids(got.df, "id").sorted == ids(want.df, "id").sorted)
    assert(got.stageRows == want.stageRows)
  }

  test("LM and Gopher screens: same rows and funnel as the stage-by-stage " +
    "form") {
    val xents = TextAnalysis.lmScore(docs, "id", "text", minCount = 2)
      .select("xent").collect().map(_.getDouble(0)).sorted
    check(Curation.Config(lmXentMax = Some(xents(xents.length / 2)),
      gopherScreen = true, minQuality = 0.0))
  }
}
