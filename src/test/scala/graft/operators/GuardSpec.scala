package graft.operators

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** [[Guard.atMost]]: the same answer as counting, at the bound and on
  * either side of it, and a probe Spark's code-gen cache can reuse. */
class GuardSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private val maxRows = 25L

  test("atMost answers as a count does around the bound") {
    Seq(0L, maxRows - 1, maxRows, maxRows + 1, 3 * maxRows).foreach { n =>
      Seq(1, 4).foreach { parts =>
        val df = spark.range(0, n, 1, parts).toDF("id")
        assert(Guard.atMost(df, maxRows) == (n <= maxRows),
          s"$n rows in $parts partitions")
      }
    }
    // rows spread unevenly, some partitions empty
    val filtered = spark.range(0, 200, 1, 8).toDF().filter(col("id") % 7 === 3)
    val n = filtered.count()
    Seq(n - 1, n, n + 1).foreach { bound =>
      assert(Guard.atMost(filtered, bound) == (n <= bound), s"bound $bound")
    }
    assert(Guard.atMost(spark.emptyDataFrame, 0L))
    assert(!Guard.atMost(spark.range(1).toDF(), 0L))
    assert(Guard.atMost(spark.range(10).toDF(), Long.MaxValue))
  }

  test("a repeated probe compiles no new class") {
    val df = spark.range(0, 100, 1, 4).toDF().filter(col("id") % 3 === 0)
    assert(!Guard.atMost(df, 10L))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(!Guard.atMost(df, 10L))
    assert(Guard.atMost(df, 40L))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before,
      "each call generated a class the code-gen cache had not seen")
  }
}
