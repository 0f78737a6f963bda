package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** [[IndexIO]]'s model-array files: a bit-exact round trip for every
  * double (NaN payloads, −0.0, subnormals, infinities), ragged and empty
  * shapes, no Spark job for either direction, and a clear refusal of a
  * version-1 index directory. */
class IndexIOSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_indexio_$tag").toString

  private val odd: Array[Double] = Array(
    java.lang.Double.longBitsToDouble(0x7ff8000000000123L), // quiet NaN, payload
    java.lang.Double.longBitsToDouble(0x7ff0000000000001L), // signalling NaN
    java.lang.Double.longBitsToDouble(0xfff8000000000000L), // negative NaN
    -0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.longBitsToDouble(0x000fffffffffffffL), // largest subnormal
    Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, -1.5, 1e-300, math.Pi)

  private def bits(m: Array[Array[Double]]): Seq[Seq[Long]] =
    m.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))

  /** Job ids Spark started on this thread while `body` ran. */
  private def jobsDuring(body: => Unit): Seq[Int] = {
    val group = s"indexio-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "IndexIOSpec")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("matrix round trip is bit-exact, ragged and empty rows included") {
    val m = Array(odd, Array.empty[Double], odd.reverse, Array(42.0))
    val path = s"${tmp("matrix")}/weights"
    var back: Array[Array[Double]] = null
    val jobs = jobsDuring {
      IndexIO.saveMatrix(spark, path, m)
      back = IndexIO.loadMatrix(spark, path)
    }
    assert(jobs.isEmpty, s"model arrays ran Spark jobs $jobs")
    assert(bits(back) == bits(m))
    val empty = s"${tmp("empty")}/m"
    IndexIO.saveMatrix(spark, empty, Array.empty[Array[Double]])
    assert(IndexIO.loadMatrix(spark, empty).isEmpty)
  }

  test("tensor round trip is bit-exact and keeps every shape") {
    val t = Array(
      Array(odd, odd.take(3)),
      Array.empty[Array[Double]],
      Array(Array.empty[Double], Array(-0.0)))
    val path = s"${tmp("tensor")}/codebooks"
    IndexIO.saveTensor(spark, path, t)
    val back = IndexIO.loadTensor(spark, path)
    assert(back.length == t.length)
    back.zip(t).foreach { case (b, w) => assert(bits(b) == bits(w)) }
    // a rank-3 file is not a matrix
    val e = intercept[IllegalArgumentException](IndexIO.loadMatrix(spark, path))
    assert(e.getMessage.contains("rank-3"))
  }

  test("a truncated or corrupt file fails with a clear message") {
    val dir = tmp("corrupt")
    val path = s"$dir/m"
    IndexIO.saveMatrix(spark, path, Array(odd))
    // edited bytes no longer match the local file system's checksum
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".m.crc"))
    val f = java.nio.file.Paths.get(path)
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.write(f, bytes.dropRight(8))
    val short = intercept[IllegalArgumentException](
      IndexIO.loadMatrix(spark, path))
    assert(short.getMessage.contains("corrupt"), short.getMessage)
    // a row count no file could hold: refused before any allocation
    val huge = bytes.clone()
    java.nio.ByteBuffer.wrap(huge).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(12, Int.MaxValue)
    java.nio.file.Files.write(f, huge)
    val e = intercept[IllegalArgumentException](IndexIO.loadMatrix(spark, path))
    assert(e.getMessage.contains("corrupt"), e.getMessage)
  }

  test("saving over an existing path replaces it, a parquet table included") {
    val dir = tmp("replace")
    spark.range(3).write.parquet(s"$dir/centroids")
    IndexIO.saveMatrix(spark, s"$dir/centroids", Array(Array(1.0, 2.0)))
    assert(bits(IndexIO.loadMatrix(spark, s"$dir/centroids")) ==
      bits(Array(Array(1.0, 2.0))))
  }

  test("an IVF-PQ index reads its quantizers without Spark jobs and " +
    "answers identically after a round trip") {
    val emb = graft.Tables.embeddings(spark, GraftSpark.sf)
    val idx = Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding")
    val dir = tmp("ivfpq")
    Similarity.ivfPqIndexSave(idx, dir)
    val jobs = jobsDuring {
      IndexIO.loadMatrix(spark, s"$dir/centroids")
      IndexIO.loadTensor(spark, s"$dir/codebooks")
    }
    assert(jobs.isEmpty, s"reading the quantizers ran Spark jobs $jobs")
    val loaded = Similarity.ivfPqIndexLoad(spark, dir)
    assert(bits(loaded.centroids) == bits(idx.centroids))
    loaded.codebooks.zip(idx.codebooks).foreach { case (a, b) =>
      assert(bits(a) == bits(b))
    }
    val queries = emb.filter(col("vec_id") % 11 === 0)
    def rows(i: Similarity.IvfPqIndex) = Similarity
      .ivfPqTopKJoin(i, queries, "vec_id", "embedding", 5)
      .collect().map(_.toString).toSet
    assert(rows(loaded) == rows(idx))
  }

  test("a version-1 index directory is refused with both versions named") {
    val emb = graft.Tables.embeddings(spark, GraftSpark.sf)
    val dir = tmp("v1")
    Similarity.ivfPqIndexSave(
      Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding"), dir)
    // rewrite the sidecar as a version-1 build wrote it (and drop the
    // local file system's checksum of the old bytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "._graft_index.json.crc"))
    val sidecar = java.nio.file.Paths.get(dir, "_graft_index.json")
    val json = new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8")
    assert(json.contains(s""""version":${IndexIO.Version}"""))
    java.nio.file.Files.write(sidecar, json.replace(
      s""""version":${IndexIO.Version}""", """"version":1""").getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexLoad(spark, dir)
    }
    assert(e.getMessage.contains("version 1") &&
      e.getMessage.contains(s"version ${IndexIO.Version}"), e.getMessage)
  }
}
