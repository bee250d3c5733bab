package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native `dup_line_ratio` / `top_word_ratio` vs the declarative HOF
  * formulations (the DuckDB-oracle semantics): bit-identical doubles.
  */
class RepetitionExprsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    "nav\ncontent one\nnav\ncontent two\nnav",        // repeated chrome lines
    "a\n\n\n a \n  a\nb",                             // blank lines + space-trim dups
    "unique lines\nonly here\nno repeats",
    "word word word word",                            // total repetition
    "The the THE tHe differs only by case",
    "single",
    "",
    "   ",                                            // whitespace-only
    "tab\tseparated\ttokens tab",
    "line with trailing spaces   \nline with trailing spaces"
  ).toDF("text")

  test("dup_line_ratio matches the HOF formulation bit-for-bit") {
    val cmp = docs.select(
      call_function("dup_line_ratio", col("text")).as("fast"),
      Declarative.dupLineRatio(col("text")).as("slow"))
    assert(cmp.filter(not(col("fast") <=> col("slow"))).count() === 0)
  }

  test("top_word_ratio matches the HOF formulation bit-for-bit") {
    val cmp = docs.select(
      call_function("top_word_ratio", col("text")).as("fast"),
      Declarative.topWordRatio(col("text")).as("slow"))
    assert(cmp.filter(not(col("fast") <=> col("slow"))).count() === 0)
  }

  test("TextOps routes through the native expressions; known values hold") {
    val out = docs.limit(1).select(
      graft.pipeline.TextOps.dupLineRatio(col("text")).as("d"),
      graft.pipeline.TextOps.topWordRatio(col("text")).as("t"))
    assert(out.queryExecution.analyzed.toString.contains("dup_line_ratio"))
    assert(out.queryExecution.analyzed.toString.contains("top_word_ratio"))
    val r = out.collect()(0)
    assert(r.getDouble(0) === 2.0 / 5.0) // "nav" x3 -> 2 duplicate lines of 5
    // null text -> null ratios (parity with the HOF null propagation)
    val nn = Seq[Option[String]](None).toDF("text").select(
      call_function("dup_line_ratio", col("text")).as("d"),
      call_function("top_word_ratio", col("text")).as("t"),
      Declarative.dupLineRatio(col("text")).as("hd"),
      Declarative.topWordRatio(col("text")).as("ht")).collect()(0)
    assert(nn.isNullAt(0) && nn.isNullAt(1) && nn.isNullAt(2) && nn.isNullAt(3))
  }

  test("documents fixture: native and HOF repetition signals agree end-to-end") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = d.select(
      call_function("dup_line_ratio", col("text")).as("fd"),
      Declarative.dupLineRatio(col("text")).as("sd"),
      call_function("top_word_ratio", col("text")).as("ft"),
      Declarative.topWordRatio(col("text")).as("st"))
    assert(cmp.filter(not(col("fd") <=> col("sd")) || not(col("ft") <=> col("st"))).count() === 0)
  }
}
