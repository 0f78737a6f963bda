package graft.operators

import org.apache.spark.sql.DataFrame

/** Cardinality guards for operators whose cost is super-linear in input
  * rows. The probe counts each partition only up to `maxRows + 1` rows, so
  * refusing an oversized input costs O(maxRows) rows read per task — not a
  * full scan of the corpus the guard exists to protect. (Earlier rounds
  * used a full `count()`, which on the 100 TB input the guard is for would
  * itself have been the scan.)
  *
  * The probe runs over the frame's own row RDD with no columns, not as
  * `limit(maxRows + 1).count()`: a `LocalLimit` names its counter from a
  * process-wide sequence, so each call generated a new class Spark's
  * code-gen cache could never reuse, and the limit added a single-partition
  * exchange.
  */
private[operators] object Guard {

  /** True iff `df` has at most `maxRows` rows, established by reading at
    * most `maxRows + 1` of them in each partition. Runs one small eager
    * Spark job. */
  def atMost(df: DataFrame, maxRows: Long): Boolean =
    maxRows == Long.MaxValue || {
      val cap = maxRows + 1
      df.select().queryExecution.toRdd
        .mapPartitions { rows =>
          var n = 0L
          while (n < cap && rows.hasNext) { rows.next(); n += 1 }
          Iterator.single(n)
        }
        .fold(0L)((a, b) => if (a >= cap - b) cap else a + b) <= maxRows
    }
}
