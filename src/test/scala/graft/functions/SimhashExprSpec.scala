package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native `simhash` expression vs the declarative higher-order-function
  * formulation (the DuckDB-oracle semantics): bit-identical output.
  */
class SimhashExprSpec extends SparkSpec {
  import spark.implicits._

  test("simhash matches the higher-order-function formulation bit-for-bit") {
    val docs = Seq(
      "The quick brown fox jumps over the lazy dog",
      "the quick brown fox jumped over a lazy dog",
      "completely different content here",
      "  Mixed   CASE and    extra whitespace  ",
      "single",
      "",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z"
    ).toDF("text")
    val cmp = docs.select(
      call_function("simhash", col("text"), lit(32)).as("fast"),
      Declarative.simhash(col("text"), 32).as("slow"))
    assert(cmp.filter(col("fast") =!= col("slow")).count() === 0)
    // null text -> null hash
    val n = Seq[Option[String]](None, Some("x")).toDF("text")
      .select(call_function("simhash", col("text"), lit(32)).as("h"))
    assert(n.filter(col("h").isNull).count() === 1)
  }

  test("Dedup.simhash routes through the native expression and keeps semantics") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "unrelated words"))
      .toDF("doc_id", "text")
    val h = docs.select(col("doc_id"), graft.pipeline.Dedup.simhash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
  }
}
