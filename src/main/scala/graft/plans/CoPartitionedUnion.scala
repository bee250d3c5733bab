package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Partitioning-preserving union of two schema-aligned, co-clustered
  * frames (custom LogicalPlan + Strategy + SparkPlan; build it with
  * [[CoPartitionedUnion.union]], which installs the strategy on the
  * frames' session).
  *
  * Why it exists: Spark's `UnionExec` reports `UnknownPartitioning` even
  * when both children are hash-partitioned on the same key, so a window
  * right after a union ALWAYS reshuffles the whole unioned table. The
  * as-of join's union-tag formulation (AsOfJoin.scala) pays that shuffle
  * on the entire left table even when it is already partitioned by the
  * join key (the common flagship case: the windowed base features). This
  * operator declares `ClusteredDistribution(keys)` for both children —
  * EnsureRequirements inserts exchanges only for sides that are NOT yet
  * clustered (typically just the small summary side) — and concatenates
  * partition-wise with `zipPartitions`, preserving the left child's
  * partitioning, so the downstream window needs a sort but NO exchange.
  *
  * Contract: children must have identical schemas (positional — the caller
  * aligns columns, as AsOfJoin's tagged frames already do) and their keys
  * must hash identically (same data types), so equal keys land in equal
  * partition indices.
  */
final case class CoPartitionedUnion(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression]) extends BinaryNode {
  // like Union: the merged schema is nullable wherever EITHER side is —
  // reusing left.output verbatim would misdeclare right-side rows (a
  // non-nullable left attribute read on a right row skips null checks in
  // codegen and yields garbage). Types must match exactly for the
  // positional zipPartitions concat to be sound.
  override def output: Seq[Attribute] = CoPartitionedUnion.mergedOutput(left.output, right.output)
  // the node reads EVERY column of BOTH children positionally (output lists
  // only the left attributes) — without this, ColumnPruning sees the right
  // child's columns as unreferenced and prunes them, silently misaligning
  // the positional concat
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output ++ right.output ++ leftKeys.flatMap(_.references) ++
        rightKeys.flatMap(_.references))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): CoPartitionedUnion =
    copy(left = newLeft, right = newRight)
}

final case class CoPartitionedUnionExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression]) extends BinaryExecNode {
  override def output: Seq[Attribute] = CoPartitionedUnion.mergedOutput(left.output, right.output)
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override protected def doExecute(): RDD[InternalRow] = {
    val l = left.execute()
    val r = right.execute()
    require(l.getNumPartitions == r.getNumPartitions,
      s"co-partitioned union requires equal partition counts, " +
        s"got ${l.getNumPartitions} vs ${r.getNumPartitions}")
    l.zipPartitions(r)((a, b) => a ++ b)
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): CoPartitionedUnionExec =
    copy(left = newLeft, right = newRight)
}

object CoPartitionedUnionStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CoPartitionedUnion(l, r, lk, rk) =>
      CoPartitionedUnionExec(planLater(l), planLater(r), lk, rk) :: Nil
    case _ => Nil
  }
}

object CoPartitionedUnion {
  /** Co-partitioned union of two column-aligned frames clustered on
    * `keyCol`. Installs [[CoPartitionedUnionStrategy]] into the left
    * frame's session (idempotent), so the node plans in any session.
    */
  def union(left: DataFrame, right: DataFrame, keyCol: String): DataFrame = {
    val spark = left.sparkSession
    install(spark)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    require(lp.output.map(_.name) == rp.output.map(_.name),
      "co-partitioned union sides must be column-aligned")
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark, CoPartitionedUnion(lp, rp,
      lp.output.filter(_.name == keyCol), rp.output.filter(_.name == keyCol)))
  }

  private def install(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(CoPartitionedUnionStrategy))
        ex.extraStrategies = ex.extraStrategies :+ CoPartitionedUnionStrategy
    }
  }

  /** Union-style output merge: left attributes (identity/exprIds preserved)
    * widened to `nullable` wherever the right side is nullable; positional
    * dataTypes must match exactly.
    */
  def mergedOutput(l: Seq[Attribute], r: Seq[Attribute]): Seq[Attribute] = {
    require(l.length == r.length,
      s"co-partitioned union arity mismatch: ${l.length} vs ${r.length}")
    l.zip(r).map { case (la, ra) =>
      require(la.dataType == ra.dataType,
        s"co-partitioned union type mismatch at '${la.name}': ${la.dataType} vs ${ra.dataType}")
      la.withNullability(la.nullable || ra.nullable)
    }
  }
}
