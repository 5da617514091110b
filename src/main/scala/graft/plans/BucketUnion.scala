package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.PlanBridge

/** Partition-aligned union: concatenates two relations that are both
  * hash-clustered on the same key into the same partition count,
  * WITHOUT losing the clustering the way `Union` can.
  *
  * Since Spark 4.1 (`spark.sql.unionOutputPartitioning`, default on)
  * `UnionExec` reports its children's common hash partitioning and
  * zips them, so a keyed aggregate over a plain union plans no
  * Exchange. It stops at a filter that makes the key non-nullable,
  * such as the `IsNotNull` an inner join infers: each child's output
  * key is then non-nullable while its partitioning still names the
  * scan's nullable key, the union's match fails, its partitioning is
  * unknown, and the join re-shuffles BOTH sides (BucketingSpec pins
  * this; when Spark keeps the layout there, this node can go).
  *
  * For the durable state backend's delta-chained tables (base
  * generation ∪ delta rows, both bucketed by the state key) that
  * re-shuffle is exactly the cost the bucket layout exists to avoid:
  * the reference's RocksDB state stays key-indexed after WriteBatch
  * puts (reference state/RocksDBState.java:570-636), and a
  * delta-composed parquet state table should too.
  *
  * This node instead ZIPS partition i of the left with partition i of
  * the right. Both children are required to be clustered on `keyName`
  * into exactly `numPartitions` partitions — when they already are
  * (bucketed scans, or anything that preserves their partitioning,
  * e.g. a broadcast anti-join), EnsureRequirements inserts NO
  * Exchange and the zipped output keeps the clustering, so downstream
  * keyed operators plan shuffle-free (BucketingSpec). When a child
  * arrives partitioned any other way, EnsureRequirements shuffles
  * just that child — the node degrades to correctness, never to a
  * wrong answer, because both children then share one hash layout.
  *
  * Scale note: the node is opaque to the GENERIC optimizer, but
  * [[BucketUnionPushdown]] (registered alongside the strategy)
  * distributes deterministic filters and projections into both
  * children — cascading down nested composes — so selective
  * ad-hoc scans over a composed view reach the leaf parquet scans as
  * `PushedFilters` + pruned `ReadSchema` (asserted in BucketingSpec).
  */
case class BucketUnionPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    keyName: String,
    numPartitions: Int) extends BinaryNode {
  require(left.output.map(a => (a.name, a.dataType)) ==
    right.output.map(a => (a.name, a.dataType)),
    s"BucketUnion children must agree on schema: " +
      s"${left.output.map(_.name)} vs ${right.output.map(_.name)}")

  /** Like `Union`, nullability is OR-ed across the children: adopting
    * left's attributes verbatim would declare non-nullable output over
    * a nullable right child, letting downstream optimization (pruned
    * IsNotNull filters, null-intolerant expression rewrites) miscompile
    * against rows the right side actually emits. */
  override def output: Seq[Attribute] =
    left.output.zip(right.output).map { case (l, r) =>
      l.withNullability(l.nullable || r.nullable)
    }

  /** The node holds no expressions, so the default (derived) reference
    * set is empty — generic ColumnPruning would then prune each child
    * independently to the PARENT's references, which name only left's
    * exprIds: the right child collapses to an empty projection and the
    * zip breaks. Claiming every child attribute keeps the GENERIC rule
    * above the node; the safe per-side version (positional remap, key
    * retained) is [[BucketUnionPushdown]]. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output ++ right.output)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BucketUnionPlan =
    copy(left = newLeft, right = newRight)
}

case class BucketUnionExec(
    keyName: String,
    numPartitions: Int,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output.zip(right.output).map { case (l, r) =>
      l.withNullability(l.nullable || r.nullable)
    }

  private def keyOf(p: SparkPlan): Attribute =
    p.output.find(_.name == keyName).getOrElse(throw new IllegalStateException(
      s"BucketUnion key '$keyName' missing from ${p.output.map(_.name)}"))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(keyOf(left)),
      requiredNumPartitions = Some(numPartitions)),
    ClusteredDistribution(Seq(keyOf(right)),
      requiredNumPartitions = Some(numPartitions)))

  /** Rows for key k sit in partition hash(k) on both sides, so the
    * zipped output is clustered exactly like the left child. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    left.execute().zipPartitions(right.execute())((a, b) => a ++ b)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BucketUnionExec =
    copy(left = newLeft, right = newRight)
}

object BucketUnionStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BucketUnionPlan(l, r, key, n) =>
      BucketUnionExec(key, n, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object BucketUnion {

  /** Idempotently register the planner strategy + pushdown rule on a
    * live session. */
  def register(spark: SparkSession): Unit = {
    PlanBridge.addStrategy(spark, BucketUnionStrategy)
    PlanBridge.addOptimizerRule(spark, BucketUnionPushdown)
  }

  /** True when `df`'s plan is a partition-aligned compose on
    * (`keyName`, `numPartitions`): a caller about to write `df` back
    * out bucketed by the same key into the same count can skip its
    * pre-write repartition — partition i already holds exactly bucket
    * i's keys (the zip preserves HashPartitioning, and bucketed writes
    * derive bucket ids from the same Murmur3-pmod function). */
  def isAligned(df: DataFrame, keyName: String, numPartitions: Int): Boolean =
    PlanBridge.analyzed(df) match {
      case b: BucketUnionPlan =>
        b.keyName == keyName && b.numPartitions == numPartitions
      case _ => false
    }

  /** Partition-aligned union of two frames clustered on `keyName` into
    * `numPartitions` partitions (right's columns are realigned to
    * left's order by name). */
  def apply(left: DataFrame, right: DataFrame, keyName: String,
      numPartitions: Int): DataFrame = {
    val spark = left.sparkSession
    register(spark)
    val alignedRight =
      right.select(left.columns.map(org.apache.spark.sql.functions.col): _*)
    PlanBridge.ofRows(spark, BucketUnionPlan(
      PlanBridge.analyzed(left), PlanBridge.analyzed(alignedRight),
      keyName, numPartitions))
  }
}
