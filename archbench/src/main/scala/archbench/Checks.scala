package archbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The correctness rules every workload applies outside its timed
  * window. Each takes the observed result and the expected one, so the
  * self-test can hand them a corrupted result and see it rejected.
  */
object Checks {
  /** A served response against the engine's own answer: byte for byte. */
  def sameBytes(want: String, got: String): Boolean = want == got

  /** Rows of `got` missing from `want` plus rows of `want` missing from
    * `got`, as multisets. */
  def diffRows(got: DataFrame, want: DataFrame): Long =
    got.exceptAll(want).count() + want.exceptAll(got).count()

  /** Sample ids that occur more than once. */
  def duplicateIds(df: DataFrame): Long =
    df.groupBy("sample_id").count().where(col("count") > 1).count()
}
