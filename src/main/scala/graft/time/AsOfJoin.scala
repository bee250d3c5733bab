package graft.time

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sort-merge as-of join (SURVEY.md §2.10): for each left row (key, ts),
  * attach the payload of the latest right row with r.ts <= l.ts and the same
  * key. Spark has no built-in as-of join; composing join+window explodes
  * (every left row matches all earlier right rows before ranking).
  *
  * Physical shape: union-tag both sides, then forward-fill the right payload
  * with `last(_, ignoreNulls).over(key, salt | ts, tag)` and keep the left
  * rows — ONE hash exchange + ONE sort, all inside native WindowExec
  * (whole-stage-codegen-friendly, no Row materialization; a custom
  * mapPartitions merge measured ~2x slower at local[32] from GC pressure).
  *
  * Skew: keys whose LEFT row count exceeds `skewThreshold` are salted into
  * `salts` sub-partitions; the right side is replicated to every salt of a
  * skewed key (correct because each salted partition then sees the full
  * right timeline for the key). Keys whose RIGHT row count exceeds the
  * threshold instead use TS-RANGE salting (see `rightSkewKeys`): both sides
  * of the key are routed by which of `salts` time ranges (approx-percentile
  * boundaries over the key's combined timeline) their ts falls into, and
  * each range's extremal right row is COPIED into the ranges that need it
  * as boundary carry-in — every salted partition still holds a complete
  * prefix (backward) / suffix (forward) view of the right timeline, so
  * results are identical to the unsalted join while no single task ever
  * sorts the key's full right side.
  */
object AsOfJoin {

  /** Numeric view of a ts column for range comparisons: TIMESTAMP_NTZ has
    * no direct double cast (ANSI), so it routes through TIMESTAMP (session
    * tz — pinned to UTC by this library's sessions); everything else casts
    * directly.
    */
  private def tsDouble(df: DataFrame, tsCol: String): Column = {
    val c = col(s"`${tsCol.replace("`", "``")}`")
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType => c.cast("timestamp").cast("double")
      case _ => c.cast("double")
    }
  }

  /** Approx-percentile ts boundaries per right-heavy key over the COMBINED
    * left+right timeline (so a key heavy on both sides splits both evenly):
    * salts-1 interior boundaries; range of ts = #boundaries <= ts.
    */
  private[time] def rangeBounds(left: DataFrame, right: DataFrame, keyCol: String,
                                tsCol: String, keys: Seq[String], salts: Int): Map[String, Seq[Double]] = {
    if (keys.isEmpty || salts <= 1) return Map.empty
    def side(df: DataFrame) = df
      .filter(col(keyCol).cast("string").isin(keys: _*))
      .select(col(keyCol).cast("string").as("__k"), tsDouble(df, tsCol).as("__t"))
    val pcts = array((1 until salts).map(i => lit(i.toDouble / salts)): _*)
    side(left).union(side(right))
      .groupBy("__k")
      .agg(percentile_approx(col("__t"), pcts, lit(1000)).as("__b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
  }

  /** Column: which ts-range of `boundsMap` (a map-literal column
    * key -> array<double>) the row falls into; only meaningful for keys
    * present in the map.
    */
  private[time] def rangeSaltExpr(boundsMap: Column, keyC: Column, tsC: Column): Column =
    size(filter(element_at(boundsMap, keyC), b => tsC.cast("double") >= b)).cast("int")

  def asof(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
           rightPayload: Seq[String], prefix: String = "asof_",
           skewThreshold: Long = 2000000L, salts: Int = 8,
           numPartitions: Int = 0,
           /** Caller-supplied skew knowledge: `Some(keys)` salts exactly
             * those keys and SKIPS the detection scan; `Some(Nil)` asserts
             * "no skew" and also skips it. `None` (default) runs the
             * bounded groupBy-count pre-scan. At 10^12 rows that scan is an
             * extra full pass + aggregate per asof() call, so production
             * pipelines that already know their mega-conversations (or
             * cache one detection result across many joins) should pass it
             * in.
             */
           skewKeys: Option[Seq[String]] = None,
           /** "backward" (default): latest right row with r.ts <= l.ts;
             * "forward": earliest right row with r.ts >= l.ts — the same
             * one-exchange window plan over a mirrored sort order.
             */
           direction: String = "backward",
           /** Bounded staleness (feature-store semantics): a match further
             * than this many seconds from l.ts (in the join direction)
             * yields NULL payload instead — evaluated per row after the
             * forward-fill, zero extra plan nodes.
             */
           toleranceSecs: Option[Double] = None,
           /** Keys whose RIGHT side is heavy enough that one task sorting
             * the key's full right timeline would bottleneck (e.g. as-of
             * against a per-turn rather than per-session table). These keys
             * use ts-range salting with boundary carry-in. `Some(Nil)`
             * (default) asserts no right-heavy keys — the right side is
             * typically the small summary side, so detection is OPT-IN via
             * `None` (one groupBy-count scan of the right side per call),
             * unlike `skewKeys` whose default scans.
             */
           rightSkewKeys: Option[Seq[String]] = Some(Nil)): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got $direction")
    val fwd = direction == "forward"

    // top skewed keys on the left (bounded collect), unless supplied
    val leftSkewedAll: Seq[String] = skewKeys.getOrElse(
      left.groupBy(col(keyCol).cast("string").as("__k")).count()
        .filter(col("count") > skewThreshold)
        .orderBy(desc("count")).limit(1000)
        .collect().map(_.getString(0)).toSeq)
    val rightHeavy: Seq[String] = rightSkewKeys.getOrElse(
      right.groupBy(col(keyCol).cast("string").as("__k")).count()
        .filter(col("count") > skewThreshold)
        .orderBy(desc("count")).limit(1000)
        .collect().map(_.getString(0)).toSeq)
    // a key heavy on BOTH sides goes to ts-range salting (its boundaries
    // come from the combined timeline, so both sides split evenly)
    val skewedKeys = leftSkewedAll.filterNot(rightHeavy.toSet)
    val isSkewed = if (skewedKeys.isEmpty) lit(false)
    else col(keyCol).cast("string").isin(skewedKeys: _*)
    val isRightHeavy = if (rightHeavy.isEmpty) lit(false)
    else col(keyCol).cast("string").isin(rightHeavy: _*)
    val bounds = rangeBounds(left, right, keyCol, tsCol, rightHeavy, salts)
    // map-literal key -> array<double> of interior boundaries (bounded:
    // <= 1000 keys x (salts-1) doubles)
    val boundsMap: Column =
      if (bounds.isEmpty) lit(null).cast("map<string,array<double>>")
      else map(bounds.toSeq.sortBy(_._1).flatMap { case (kk, bs) =>
        Seq(lit(kk), array(bs.map(lit): _*))
      }: _*)

    val lCols = left.columns.toSeq
    def q(c: String) = col(s"`${c.replace("`", "``")}`")

    // aligned union: [__k, __ts, __salt, __tag, leftCols..., payload...]
    val keyStr = col(keyCol).cast("string")
    val rangeSaltL = rangeSaltExpr(boundsMap, keyStr, tsDouble(left, tsCol))
    val rangeSaltR = rangeSaltExpr(boundsMap, keyStr, tsDouble(right, tsCol))
    val lFrame = left.select(
      Seq(keyStr.as("__k"), col(tsCol).as("__ts"),
        when(isRightHeavy, rangeSaltL)
          .when(isSkewed, pmod(xxhash64(col(tsCol)), lit(salts)).cast("int"))
          .otherwise(lit(0)).as("__salt"),
        lit(1).as("__tag")) ++
        lCols.map(q) ++
        rightPayload.map(c => lit(null).cast(right.schema(c).dataType).as(prefix + c)): _*)
    val saltArr = array((0 until salts).map(lit): _*)
    val rFrame0 = right.select(
      Seq(keyStr.as("__k"), col(tsCol).as("__ts"),
        explode(when(isRightHeavy, array(rangeSaltR))
          .when(isSkewed, saltArr).otherwise(array(lit(0)))).as("__salt"),
        lit(0).as("__tag")) ++
        lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightPayload.map(c => q(c).as(prefix + c)): _*)
    // Boundary carry-in for ts-range-salted keys: each range's extremal
    // right row (latest for backward, earliest for forward) is COPIED into
    // every range that could need it as its out-of-range match — at most
    // keys x salts² tiny rows. A copy keeps its ORIGINAL ts, so it sorts
    // before all in-range rows of its target partition and competes
    // correctly with other carries (the window's last() picks the max-ts
    // one), and the tolerance gate sees the true matched ts.
    val rFrame =
      if (rightHeavy.isEmpty) rFrame0
      else {
        val heavyR = right.filter(keyStr.isin(rightHeavy: _*))
          .select(keyStr.as("__k"), col(tsCol).as("__ts"), rangeSaltR.as("__s0"),
            struct(rightPayload.map(q): _*).as("__all"))
        val perRange = heavyR.groupBy("__k", "__s0").agg(
          (if (fwd) min_by(col("__all"), col("__ts")) else max_by(col("__all"), col("__ts"))).as("__all"),
          (if (fwd) min(col("__ts")) else max(col("__ts"))).as("__ts"))
        val targets =
          if (fwd) when(col("__s0") > 0, sequence(lit(0), col("__s0") - 1))
            .otherwise(array().cast("array<int>"))
          else when(col("__s0") < salts - 1, sequence(col("__s0") + 1, lit(salts - 1)))
            .otherwise(array().cast("array<int>"))
        val carry = perRange.select(
          Seq(col("__k"), col("__ts"), explode(targets).as("__salt"),
            lit(0).as("__tag")) ++
            lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
            rightPayload.map(c => col("__all").getField(c).as(prefix + c)): _*)
        rFrame0.unionByName(carry)
      }

    // right rows (tag 0) sort before left rows at equal ts => r.ts == l.ts
    // is visible to the left row, matching "latest right with r.ts <= l.ts".
    // Forward direction mirrors the scan: ts DESC, so the carried value is
    // the latest right row SEEN while descending = the EARLIEST right row
    // with r.ts >= l.ts (equal-ts rights still sort before the left row).
    val w = Window.partitionBy(col("__k"), col("__salt"))
      .orderBy(if (fwd) col("__ts").desc else col("__ts").asc, col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // union the tagged frames. The custom CoPartitionedUnion keeps the left
    // side's hash partitioning visible to the window (built-in UnionExec
    // reports UnknownPartitioning, forcing a full reshuffle of base +
    // summaries even when the left side — the big one — is already
    // partitioned by the key, e.g. fresh out of the point-in-time window
    // layer). EnsureRequirements still inserts the exchanges needed to make
    // each side key-clustered, so semantics are identical either way.
    //
    // Skewed keys force the BUILT-IN union: salting only helps if the
    // window's ClusteredDistribution(__k, __salt) actually materializes as a
    // (key, salt) exchange, and any partitioning on __k alone satisfies that
    // distribution by the subset rule — so above the key-partitioned custom
    // union NO exchange is inserted and every salt of a hot key would land
    // in one task's sort, silently un-doing the mitigation. The built-in
    // union reports UnknownPartitioning, which guarantees the (__k, __salt)
    // exchange that spreads each hot key across `salts` partitions. The
    // shuffle-elimination fast path and the skew path are mutually
    // exclusive by construction.
    val unioned: DataFrame =
      if (skewedKeys.isEmpty && rightHeavy.isEmpty)
        graft.plans.CoPartitionedUnion.union(lFrame, rFrame, "__k")
      else lFrame.unionByName(rFrame)

    // the payload struct is null on left rows, so last(ignoreNulls=true)
    // carries the latest RIGHT payload forward into each left row; the
    // matched row's own ts (__mts) rides inside the struct for the
    // tolerance gate
    val filled = unioned
      .withColumn("__pay",
        when(col("__tag") === 0,
          struct(rightPayload.map(c => q(prefix + c)) :+ col("__ts").as("__mts"): _*)))
      .withColumn("__carry", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val withinTol: Column = toleranceSecs match {
      case None => lit(true)
      case Some(tol) =>
        val dist =
          if (fwd) col("__carry").getField("__mts").cast("double") - col("__ts").cast("double")
          else col("__ts").cast("double") - col("__carry").getField("__mts").cast("double")
        dist <= lit(tol)
    }
    filled.select(lCols.map(q) ++
      rightPayload.map { c =>
        when(withinTol, col("__carry").getField(prefix + c)).as(prefix + c)
      }: _*)
  }
}
