package graft.time

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Window-based oracle: join all r.ts <= l.ts, keep rank-1 by r.ts desc. */
  private def oracle(left: DataFrame, right: DataFrame, pay: String): DataFrame = {
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val j = l.join(right.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk"),
      col("k") === col("rk") && col("rts") <= col("ts"), "left")
    val w = Window.partitionBy("__lid").orderBy(desc("rts"))
    j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("k"), col("ts"), col(pay).as(s"asof_$pay"))
  }

  private def randomCase(seed: Int, nKeys: Int, nLeft: Int, nRight: Int,
                         skewThreshold: Long = 2000000L): Unit = {
    val rng = new scala.util.Random(seed)
    val left = (0 until nLeft).map { _ =>
      (s"k${rng.nextInt(nKeys)}", ts(rng.nextInt(100000).toLong))
    }.toDF("k", "ts")
    val right = (0 until nRight).map { i =>
      (s"k${rng.nextInt(nKeys)}", ts(rng.nextInt(100000).toLong), i.toDouble)
    }.toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      skewThreshold = skewThreshold, salts = 4)
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    val exp = oracle(left, right, "v")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
  }

  test("matches window oracle on random tables") {
    randomCase(1, nKeys = 7, nLeft = 500, nRight = 200)
    randomCase(2, nKeys = 1, nLeft = 300, nRight = 300)
    randomCase(3, nKeys = 50, nLeft = 400, nRight = 50)
  }

  test("salted path (forced) matches oracle, including the mega key") {
    randomCase(4, nKeys = 3, nLeft = 2000, nRight = 100, skewThreshold = 10L)
  }

  test("tie semantics: right row at exactly l.ts is taken") {
    val left = Seq(("a", ts(100)), ("a", ts(99))).toDF("k", "ts")
    val right = Seq(("a", ts(100), 1.0), ("a", ts(50), 2.0)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
      .orderBy("ts").select("asof_v").as[Double].collect()
    assert(got.toSeq == Seq(2.0, 1.0))
  }

  test("left rows before any right row get null payload") {
    val left = Seq(("a", ts(10)), ("a", ts(60))).toDF("k", "ts")
    val right = Seq(("a", ts(50), 7.0)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
      .orderBy("ts").select("asof_v").collect()
    assert(got(0).isNullAt(0) && got(1).getDouble(0) == 7.0)
  }

  test("caller-supplied skew keys skip the pre-scan and match the oracle") {
    val rng = new scala.util.Random(21)
    // k0 is hot (1500 rows), the rest are light
    val left = ((0 until 1500).map(_ => ("k0", ts(rng.nextInt(100000).toLong))) ++
      (0 until 300).map(_ => (s"k${1 + rng.nextInt(4)}", ts(rng.nextInt(100000).toLong)))).toDF("k", "ts")
    val right = (0 until 120).map(i =>
      (s"k${rng.nextInt(5)}", ts(rng.nextInt(100000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val exp = oracle(left, right, "v")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    for (sk <- Seq(Some(Seq("k0")), Some(Seq.empty[String]), None)) {
      val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        skewThreshold = 100L, salts = 4, skewKeys = sk)
        .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
      assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0, s"skewKeys=$sk")
    }
  }

  test("skew salting forces the built-in union so hot keys spread across salts") {
    val left = (0 until 400).map(i => ("hot", ts(i.toLong))).toDF("k", "ts")
    val right = Seq(("hot", ts(10), 1.0)).toDF("k", "ts", "v")
    // salted path: the custom union must NOT be planned (its key-only
    // partitioning would satisfy the window's (key, salt) distribution by
    // the subset rule and collapse all salts of a hot key into one task)
    val salted = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Seq("hot")))
    assert(!salted.queryExecution.executedPlan.toString.contains("CoPartitionedUnion"),
      "custom union planned on the salted path")
    assert(salted.count() == 400)
    // unsalted path keeps the shuffle-eliminating custom union
    val plain = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Nil))
    assert(plain.queryExecution.executedPlan.toString.contains("CoPartitionedUnion"))
  }

  test("right-side-heavy key: ts-range salting with carry-in matches the unsalted join") {
    val rng = new scala.util.Random(31)
    // one key with a 3000-row right timeline (distinct ts -> deterministic
    // payload pick on both paths) + normal keys
    val hotTs = rng.shuffle((0 until 100000).toVector).take(3000)
    val right = (hotTs.zipWithIndex.map { case (t, i) => ("hot", ts(t.toLong), i.toDouble) } ++
      (0 until 100).map(i => (s"k${i % 5}", ts(rng.nextInt(100000).toLong), 10000.0 + i)))
      .toDF("k", "ts", "v")
    val left = ((0 until 400).map(_ => ("hot", ts(rng.nextInt(100000).toLong))) ++
      (0 until 200).map(_ => (s"k${rng.nextInt(5)}", ts(rng.nextInt(100000).toLong)))).toDF("k", "ts")
    def g(df: DataFrame) = df.groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    for (dir <- Seq("backward", "forward"); tol <- Seq[Option[Double]](None, Some(500.0))) {
      val plain = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        direction = dir, toleranceSecs = tol, skewKeys = Some(Nil))
      val salted = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
        direction = dir, toleranceSecs = tol, skewKeys = Some(Nil),
        rightSkewKeys = Some(Seq("hot")), salts = 4)
      assert(g(salted).exceptAll(g(plain)).count() == 0 &&
        g(plain).exceptAll(g(salted)).count() == 0, s"dir=$dir tol=$tol")
    }
    // detection scan (rightSkewKeys = None) finds the hot key and agrees too
    val detected = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      skewKeys = Some(Nil), rightSkewKeys = None, skewThreshold = 500L, salts = 4)
    val plainB = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(Nil))
    assert(g(detected).exceptAll(g(plainB)).count() == 0 &&
      g(plainB).exceptAll(g(detected)).count() == 0)
    // the hot key genuinely SPREADS across salts: percentile boundaries are
    // strictly increasing and each ts-range holds a balanced share
    val bounds = AsOfJoin.rangeBounds(left, right, "k", "ts", Seq("hot"), 4)
    val bs = bounds("hot")
    assert(bs.size == 3 && bs == bs.sorted && bs.distinct.size == 3, bs.toString)
    val cnts = (0 until 4).map(s => hotTs.count(t => bs.count(b => t.toDouble >= b) == s))
    info(s"per-salt right rows: $cnts")
    assert(cnts.forall(c => c > 450 && c < 1100), cnts.toString)
  }

  test("forward direction matches a forward window oracle, ties included") {
    val rng = new scala.util.Random(33)
    val left = (0 until 500).map(_ =>
      (s"k${rng.nextInt(6)}", ts(rng.nextInt(100000).toLong))).toDF("k", "ts")
    val right = (0 until 150).map(i =>
      (s"k${rng.nextInt(6)}", ts(rng.nextInt(100000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val got = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), direction = "forward")
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    // oracle: earliest right with r.ts >= l.ts
    val l = left.withColumn("__lid", monotonically_increasing_id())
    val j = l.join(right.withColumnRenamed("ts", "rts").withColumnRenamed("k", "rk"),
      col("k") === col("rk") && col("rts") >= col("ts"), "left")
    val w = Window.partitionBy("__lid").orderBy(asc("rts"))
    val exp = j.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("k"), col("ts"), col("v").as("asof_v"))
      .groupBy("k", "ts").agg(sort_array(collect_list("asof_v")).as("vs"))
    assert(got.exceptAll(exp).count() == 0 && exp.exceptAll(got).count() == 0)
    // tie: a right row at exactly l.ts is taken in forward mode too
    val lt = Seq(("a", ts(100))).toDF("k", "ts")
    val rt = Seq(("a", ts(100), 1.0), ("a", ts(150), 2.0)).toDF("k", "ts", "v")
    assert(AsOfJoin.asof(lt, rt, "k", "ts", Seq("v"), direction = "forward")
      .select("asof_v").as[Double].head() == 1.0)
  }

  test("tolerance nulls matches staler than the bound (both directions)") {
    val left = Seq(("a", ts(100)), ("a", ts(200))).toDF("k", "ts")
    val right = Seq(("a", ts(95), 1.0), ("a", ts(130), 2.0)).toDF("k", "ts", "v")
    // backward, tol=10s: l@100 matches r@95 (5s, kept); l@200's match r@130
    // is 70s stale -> null
    val b = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), toleranceSecs = Some(10.0))
      .orderBy("ts").select("asof_v").collect()
    assert(b(0).getDouble(0) == 1.0 && b(1).isNullAt(0), b.mkString(","))
    // forward, tol=10s: l@100's next is r@130 (30s ahead -> null); l@200 has
    // no forward match -> null
    val f = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      direction = "forward", toleranceSecs = Some(10.0))
      .orderBy("ts").select("asof_v").collect()
    assert(f(0).isNullAt(0) && f(1).isNullAt(0), f.mkString(","))
    // and with a generous tolerance forward matches appear
    val f2 = AsOfJoin.asof(left, right, "k", "ts", Seq("v"),
      direction = "forward", toleranceSecs = Some(60.0))
      .orderBy("ts").select("asof_v").collect()
    assert(f2(0).getDouble(0) == 2.0 && f2(1).isNullAt(0))
  }

  test("CoPartitionedUnion and built-in union formulations agree exactly") {
    // the default path plans the custom union; salting every key ships the
    // built-in union (the skew rule), with identical results
    val rng = new scala.util.Random(11)
    val left = (0 until 600).map(_ =>
      (s"k${rng.nextInt(9)}", ts(rng.nextInt(50000).toLong))).toDF("k", "ts")
    val right = (0 until 150).map(i =>
      (s"k${rng.nextInt(9)}", ts(rng.nextInt(50000).toLong), i.toDouble)).toDF("k", "ts", "v")
    val fast = AsOfJoin.asof(left, right, "k", "ts", Seq("v"))
    val allKeys = (0 until 9).map(i => s"k$i")
    val slow = AsOfJoin.asof(left, right, "k", "ts", Seq("v"), skewKeys = Some(allKeys))
    assert(fast.exceptAll(slow).count() == 0 && slow.exceptAll(fast).count() == 0)
    // and the custom node is in the default plan only
    val planStr = fast.queryExecution.executedPlan.toString
    assert(planStr.contains("CoPartitionedUnion"), "custom union not planned")
    assert(!slow.queryExecution.executedPlan.toString.contains("CoPartitionedUnion"),
      "salted path must ship the built-in union")
  }
}
