package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CoPartitionedUnionSpec extends SparkSpec {
  import spark.implicits._

  test("output nullability is the per-position OR of both sides") {
    // left: non-nullable literal column; right: genuinely null values there
    val l = Seq(("a", 1)).toDF("k", "i").select(col("k"), col("i"), lit(7.0).as("v"))
    val r = Seq(("b", 2)).toDF("k", "i").select(col("k"), col("i"),
      lit(null).cast("double").as("v"))
    assert(!l.schema("v").nullable && r.schema("v").nullable)
    val u = CoPartitionedUnion.union(l, r, "k")
    // misdeclared non-nullable v would let codegen read the right row's v
    // without a null check and fabricate a value
    assert(u.schema("v").nullable, "right-side nullability not merged into output")
    val rows = u.select("k", "v").collect().map(x => (x.getString(0), x.isNullAt(1))).toSet
    assert(rows == Set(("a", false), ("b", true)), rows.toString)
  }

  test("positional dataType mismatch is rejected at construction") {
    val l = Seq(("a", 1.0)).toDF("k", "v")
    val r = Seq(("b", 2)).toDF("k", "v") // v: int vs double
    val e = intercept[IllegalArgumentException] { CoPartitionedUnion.union(l, r, "k").collect() }
    assert(e.getMessage.contains("type mismatch"), e.getMessage)
  }
}
