package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object DebugAsof {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val left = Seq(("a", 10L, 1), ("a", 20L, 2), ("b", 15L, 3))
      .toDF("k", "tsx", "idx").withColumn("ts", timestamp_seconds(col("tsx"))).drop("tsx")
    val right = Seq(("a", 10L, 2.0), ("a", 15L, 9.0), ("b", 1L, 1.0))
      .toDF("k", "tsx", "v").withColumn("ts", timestamp_seconds(col("tsx"))).drop("tsx")
    val out = graft.time.AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
    out.orderBy("idx").show()
    println("PLANS_CO_PARTITIONED_UNION=" +
      out.queryExecution.executedPlan.toString.contains("CoPartitionedUnion"))
    out.explain("formatted")
    spark.stop()
  }
}
