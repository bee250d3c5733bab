package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Declarative
import graft.pipeline.TextOps
import graft.plans.CoPartitionedUnionStrategy
import graft.time.AsOfJoin

/** Library calls depend on the DataFrame they are applied to, not on
  * whichever session is active: a same-named temp function cannot hijack a
  * native operator, and the as-of layer plans its co-partitioned union in a
  * session that never had the strategy configured.
  */
class SessionIndependenceSpec extends SparkSpec {

  test("a temp function named quality_score does not hijack TextOps.qualityScore") {
    val s = spark.newSession()
    import s.implicits._
    s.udf.register("quality_score", (_: String) => -1.0)
    SparkSession.setActiveSession(s)
    try {
      val df = Seq("the quick brown fox jumps over the lazy dog and runs off to the hills")
        .toDF("text")
      val r = df.select(TextOps.qualityScore(col("text")), Declarative.qualityScore(col("text")))
        .head()
      assert(r.getDouble(0) != -1.0, "temp function hijacked the native expression")
      assert(r.getDouble(0) == r.getDouble(1))
    } finally SparkSession.setActiveSession(spark)
  }

  test("AsOfJoin installs the co-partitioned union strategy on demand, exactly once") {
    val s = spark.newSession()
    import s.implicits._
    def ts(x: Long) = new Timestamp(x * 1000L)
    val left = Seq(("a", ts(10), 1), ("a", ts(20), 2), ("b", ts(15), 3)).toDF("k", "ts", "idx")
    val right = Seq(("a", ts(10), 2.0), ("a", ts(15), 9.0), ("b", ts(1), 1.0)).toDF("k", "ts", "v")
    for (_ <- 1 to 2) {
      val out = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
      assert(out.queryExecution.executedPlan.toString.contains("CoPartitionedUnion"),
        "custom union not planned")
      assert(out.orderBy("idx").select("asof_v").as[Double].collect().toSeq == Seq(2.0, 9.0, 1.0))
    }
    assert(s.experimental.extraStrategies.count(_ eq CoPartitionedUnionStrategy) == 1)
  }
}
