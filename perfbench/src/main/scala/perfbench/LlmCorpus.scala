package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, Similarity}

/** The LLM training-data operators: exact and MinHash near-duplicate
  * detection and the curation pipeline over a generated JSONL corpus, and
  * IVF-PQ index build, save, load, append and top-k join over generated
  * embeddings. No FHIR code runs here. */
final class LlmCorpus(spark: SparkSession, dir: File, seed: Long)
    extends Workload {
  import LlmCorpus._

  private val docsPath = new File(dir, "docs.jsonl").getPath
  private val probesPath = new File(dir, "probes.jsonl").getPath
  private val basePath = new File(dir, "base.jsonl").getPath
  private val appendPath = new File(dir, "append.jsonl").getPath
  private val queryPath = new File(dir, "queries.jsonl").getPath
  val truth: LlmTruth = LlmGen.write(dir, new Gen(seed))

  val opsPerPass = 8

  private def docs = spark.read.schema(DocSchema).json(docsPath)
  private def probes = spark.read.schema(DocSchema).json(probesPath)
  private def vectors(p: String) = spark.read.schema(VecSchema).json(p)

  def pass(h: Harness, out: File): Unit = {
    h.op("dedup.exact") {
      Dedup.exactGroups(docs, "id", "text").filter(col("cnt") > 1)
        .select("cnt", "keeper").collect()
        .map(r => r.getLong(1) -> r.getLong(0)).toMap
    } { got =>
      Check.equal("exact-duplicate groups (keeper -> size)", got,
        truth.exactGroups.map(g => g.min -> g.size.toLong).toMap)
    }

    h.op("dedup.minhash") {
      Dedup.minHashLshPairs(docs, "id", "text", NearDupThreshold)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    } { got =>
      val missing = truth.nearPairs -- got
      Check(missing.isEmpty,
        s"${missing.size} planted pairs at Jaccard >= $NearDupThreshold not " +
          s"found, e.g. ${missing.take(3)}")
      got.foreach { case (a, b) =>
        val j = LlmGen.jaccard(truth.texts(a), truth.texts(b))
        Check(j >= NearDupThreshold,
          s"reported pair ($a, $b) has Jaccard $j < $NearDupThreshold")
      }
    }

    h.op("curation.pipeline") {
      val r = Curation.pipeline(docs, "id", "text", Curation.Config(),
        probes = Some(probes))
      val kept = r.df.select("id").collect().map(_.getLong(0)).toSet
      (kept, r.stageRows)
    } { case (kept, funnel) =>
      val leaked = kept intersect truth.contaminated
      Check(leaked.isEmpty, s"contaminated documents survived: $leaked")
      val counts = truth.texts.size.toLong +: funnel.map(_._2)
      Check(counts.zip(counts.tail).forall { case (a, b) => b <= a },
        s"curation funnel rises: $funnel")
      Check.equal("rows emitted vs last funnel stage", kept.size.toLong,
        funnel.last._2)
      Check(kept.nonEmpty, "curation kept nothing")
    }

    val base = vectors(basePath)
    val extra = vectors(appendPath)
    val queries = vectors(queryPath)

    val pqDir = new File(out, "ivf_pq").getPath
    val pq = h.op("ann.pq.build") {
      Similarity.ivfPqIndexBuild(base, "id", "vec")
    } { ix => Check.equal("IVF-PQ lists", ix.centroids.length, Similarity.IvfLists) }
    h.op("ann.pq.save")(Similarity.ivfPqIndexSave(pq, pqDir))(_ => ())
    val pqLoaded = h.op("ann.pq.load")(Similarity.ivfPqIndexLoad(spark, pqDir)) {
      ix => Check(ix.codebooks.length == pq.codebooks.length,
        "IVF-PQ codebooks changed in the save/load round trip")
    }
    val pqAll = h.op("ann.pq.append") {
      Similarity.ivfPqIndexAppend(pqLoaded, extra, "id", "vec")
    }(_ => ())
    h.op("ann.pq.topk") {
      topK(Similarity.ivfPqTopKJoin(pqAll, queries, "id", "vec", K))
    } { got => checkRecall(h, "IVF-PQ", got, PqRecallFloor) }
  }

  private def topK(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "cand_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def checkRecall(h: Harness, kind: String,
      got: Map[Long, Set[Long]], floor: Double): Unit = {
    Check(got.values.forall(_.size <= K), s"$kind returned more than $K per query")
    val hits = truth.exactTopK.map { case (q, want) =>
      (got.getOrElse(q, Set.empty) intersect want).size }.sum
    val recall = hits.toDouble / (truth.exactTopK.size * K)
    h.note("ann.recall_at_k", recall)
    Check(recall >= floor, f"$kind recall@$K $recall%.3f below floor $floor")
  }

  def layerMetrics(t: TraceView): Map[String, Metric] = {
    val topk = t.selfSeconds("ann.pq.topk")
    Map(
      "dedup.exact_s" -> t.selfSeconds("dedup.exact"),
      "dedup.minhash_s" -> t.selfSeconds("dedup.minhash"),
      "curation.pipeline_s" -> t.selfSeconds("curation.pipeline"),
      "ann.build_s" -> t.selfSeconds("ann.pq.build"),
      "ann.save_s" -> t.selfSeconds("ann.pq.save"),
      "ann.load_s" -> t.selfSeconds("ann.pq.load"),
      "ann.append_s" -> t.selfSeconds("ann.pq.append"),
      "ann.topk_s" -> topk,
      "ann.queries_per_s" -> Metric(
        if (topk.value > 0) Queries / topk.value else 0.0, "1/s"),
      "ann.recall_at_k" -> Metric(t.noteMin("ann.recall_at_k"), "ratio"))
  }
}

object LlmCorpus {
  val Docs = 600
  val Base = 1500
  val Appended = 150
  val Queries = 40
  val Dim = 64
  val Clusters = 24
  val K = 10
  val NearDupThreshold = 0.8
  /** The floor RecallSpec holds IVF-PQ to. */
  val PqRecallFloor = 0.6

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(DoubleType))))
}

/** Expected values, all computed by the generator without the program. */
final case class LlmTruth(
    texts: Map[Long, String],
    exactGroups: Seq[Set[Long]],
    /** every pair (a < b) whose word-trigram Jaccard reaches the threshold */
    nearPairs: Set[(Long, Long)],
    contaminated: Set[Long],
    exactTopK: Map[Long, Set[Long]])

/** A text corpus with planted exact duplicates, near-duplicates (above and
  * below the threshold) and documents that contain a probe passage, and
  * embeddings drawn around planted cluster centres. */
object LlmGen {
  import LlmCorpus._

  private val Stop = IndexedSeq("the", "a", "of", "and", "to")

  /** Distinct word trigrams, the whole text when it has fewer than three
    * words: the shingles the near-duplicate threshold is defined on. */
  def trigrams(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set(text) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (trigrams(a), trigrams(b))
    val inter = (x intersect y).size.toDouble
    inter / (x.size + y.size - inter)
  }

  def write(dir: File, g: Gen): LlmTruth = {
    val vocab = IndexedSeq.fill(3000) {
      val syl = IndexedSeq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
        "ve", "zu", "bri", "dan", "fel", "gor", "hin", "jus")
      Seq.fill(g.between(2, 4))(g.pick(syl)).mkString
    }.distinct
    def words(n: Int): IndexedSeq[String] = IndexedSeq.fill(n) {
      if (g.chance(0.3)) g.pick(Stop)
      // a skewed draw: low ranks are common, as in natural text
      else vocab((vocab.size * math.pow(g.double(), 2.0)).toInt)
    }
    val texts = scala.collection.mutable.LinkedHashMap[Long, String]()
    var next = 0L
    def add(t: String): Long = { next += 1; texts(next) = t; next }

    val originals = IndexedSeq.fill(Docs * 3 / 4)(add(words(g.between(70, 140))
      .mkString(" ")))
    // exact duplicates: groups of 2-4 identical documents
    val exactGroups = (0 until Docs / 30).map { i =>
      val src = originals(i)
      (src +: Seq.fill(g.between(1, 3))(add(texts(src)))).toSet
    }
    // near duplicates: a few words replaced; some land below the threshold
    val nearSrc = originals.slice(Docs / 30, Docs / 30 + Docs / 10)
    val planted = nearSrc.map { src =>
      val t = texts(src).split(" ")
      val edits = if (g.chance(0.7)) g.between(1, 2) else g.between(6, 12)
      for (_ <- 0 until edits) t(g.int(t.length)) = g.pick(vocab)
      (src, add(t.mkString(" ")))
    }
    // contamination: a probe passage pasted into an otherwise clean document
    val probes = IndexedSeq.fill(20)(words(30).mkString(" "))
    val contaminated = (0 until Docs / 25).map { _ =>
      val t = words(g.between(60, 100))
      val at = g.int(t.length)
      add((t.take(at) ++ Seq(g.pick(probes)) ++ t.drop(at)).mkString(" "))
    }.toSet
    while (next < Docs) add(words(g.between(70, 140)).mkString(" "))

    // the pairs that must be found: all pairs inside an exact group and
    // every planted near pair that stayed at or above the threshold
    // (independent random documents share almost no trigrams)
    val nearPairs = exactGroups.flatMap(g =>
      for (a <- g; b <- g if a < b) yield (a, b)).toSet ++
      planted.filter { case (a, b) =>
        jaccard(texts(a), texts(b)) >= NearDupThreshold }

    val lines = new StringBuilder
    texts.foreach { case (id, t) =>
      lines ++= s"""{"id":$id,"text":"$t"}""" += '\n'
    }
    Fs.write(new File(dir, "docs.jsonl"), lines.result())
    Fs.write(new File(dir, "probes.jsonl"), probes.zipWithIndex.map {
      case (t, i) => s"""{"id":${1000000 + i},"text":"$t"}"""
    }.mkString("", "\n", "\n"))

    // embeddings around planted centres
    val centres = IndexedSeq.fill(Clusters)(Array.fill(Dim)(g.gaussian()))
    def vec(): Array[Double] = {
      val c = g.pick(centres)
      Array.tabulate(Dim)(j => c(j) + 0.45 * g.gaussian())
    }
    def writeVecs(name: String, from: Long, n: Int): IndexedSeq[(Long, Array[Double])] = {
      val vs = IndexedSeq.tabulate(n)(i => (from + i) -> vec())
      Fs.write(new File(dir, name), vs.map { case (id, v) =>
        s"""{"id":$id,"vec":[${v.mkString(",")}]}""" }.mkString("", "\n", "\n"))
      vs
    }
    val corpus = writeVecs("base.jsonl", 0L, Base) ++
      writeVecs("append.jsonl", Base.toLong, Appended)
    val queries = writeVecs("queries.jsonl", 10000000L, Queries)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val unitCorpus = corpus.map { case (id, v) => id -> unit(v) }
    val exactTopK = queries.map { case (q, v) =>
      val u = unit(v)
      q -> unitCorpus.map { case (id, c) =>
        var s = 0.0
        var j = 0
        while (j < Dim) { s += u(j) * c(j); j += 1 }
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1).toSet
    }.toMap

    LlmTruth(texts.toMap, exactGroups, nearPairs, contaminated, exactTopK)
  }
}
