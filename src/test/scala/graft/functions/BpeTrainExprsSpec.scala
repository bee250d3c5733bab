package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge.native

/** The BPE trainer's symbol-fold expressions reject nullable symbol arrays
  * at analysis time instead of NPE-ing on a null element in an executor.
  */
class BpeTrainExprsSpec extends SparkSpec {
  import spark.implicits._

  private val merges = Array(("a", "b"))

  test("nullable array<string> symbols are rejected at analysis time") {
    val df = Seq(Seq("a", null, "b")).toDF("sym")
    assert(df.schema("sym").dataType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = true))
    val fold = intercept[AnalysisException](
      df.select(native(col("sym"))(BpeFoldMerges(_, merges))).collect())
    assert(fold.getMessage.contains(
      "bpe_fold_merges expects array<string> with non-null elements"), fold.getMessage)
    val deltas = intercept[AnalysisException](
      df.select(native(col("sym"))(BpeMergeDeltas(_, Array.empty, "a", "b"))).collect())
    assert(deltas.getMessage.contains(
      "bpe_merge_deltas expects array<string> with non-null elements"), deltas.getMessage)
  }

  test("non-null symbol arrays fold as before") {
    val df = Seq("a b c a b").toDF("t").select(split(col("t"), " ").as("sym"))
    val got = df.select(native(col("sym"))(BpeFoldMerges(_, merges))).head().getSeq[String](0)
    assert(got == Seq("ab", "c", "ab"))
  }
}
