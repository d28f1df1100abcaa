package graft.plans

import graft.seen.ShardSketch
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Cast, Expression, GenericInternalRow, JoinedRow, Literal, Pmod, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** The wave's seen-set step as one physical operator: first-wins
  * in-batch dedupe fused with the sharded bloom+cuckoo probe (SURVEY §3
  * J2/W3/G5) — the crawl loop's hottest non-extraction stage.
  *
  * Physics: both children are required ClusteredDistribution on the
  * SAME int shard key (`pmod(url_hash, nShards)` on the frontier side,
  * the stored `shard` column on the sketch side), so EnsureRequirements
  * co-locates a frontier slice with exactly its shards' sketch rows —
  * the sketch state reaches executors through the exchange, never a
  * broadcast, never the driver (the 10^10 contract). Murmur3 may map
  * several shard ids to one partition; the per-partition sketches are
  * MERGED, which can only widen `maybe` (bloom/cuckoo merge has no false
  * negatives) — safe because every maybe is exactly-confirmed
  * downstream.
  *
  * Ordering: the frontier side is required sorted by
  * (url_hash, priority, kind, url), so EnsureRequirements plans Spark's
  * external `SortExec` under the operator — a partition larger than task
  * memory spills instead of failing the wave — and the operator itself
  * only streams: the first row per url_hash wins, then one sketch lookup.
  * The sort compares strings as UTF-8 bytes, the same order as
  * [[graft.frontier.Wave.dedupeInBatch]]'s window, so the winners are
  * identical to it for any url, ASCII or not.
  */
final case class ShardedProbe(
    left: LogicalPlan,
    right: LogicalPlan,
    nShards: Int,
    /** Output attr passed in the constructor so plan copies during
      * analysis/optimization keep a stable exprId. */
    maybeAttr: AttributeReference)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ maybeAttr
  // __maybe is born here, not read from a child
  override def producedAttributes: AttributeSet = AttributeSet(maybeAttr)
  // consume EVERY child column: output mirrors left.output, so column
  // pruning below this node would silently change the operator's own
  // schema (and drop the url_hash/priority/kind/url keys the exec
  // needs). The frontier is slim; opacity costs nothing.
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ShardedProbe =
    copy(left = newLeft, right = newRight)
}

object ShardedProbe {
  /** Columns the exec resolves by name — the construction-time contract.
    * The frontier side's order is also the first-wins sort order. */
  val FrontierKeyCols: Seq[String] = Seq("url_hash", "priority", "kind", "url")
  val SketchCols: Seq[String] = Seq("shard", "bytes")
}

final case class ShardedProbeExec(
    nShards: Int,
    maybeAttr: AttributeReference,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ maybeAttr
  override def producedAttributes: AttributeSet = AttributeSet(maybeAttr)
  override def references: AttributeSet = AttributeSet(left.output ++ right.output)

  private def leftAttr(name: String): Attribute = left.output.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"frontier side must carry $name: ${left.output.map(_.name)}"))

  /** Frontier side clusters on pmod(url_hash, n) cast to INT so its
    * values murmur-hash identically to the sketch side's INT `shard`
    * column — the co-partitioning contract. */
  override def requiredChildDistribution: Seq[Distribution] = {
    val shardExpr: Expression =
      Cast(Pmod(leftAttr("url_hash"), Literal(nShards.toLong)), IntegerType)
    val shardAttr = right.output(right.output.indexWhere(_.name == "shard"))
    // NO requiredNumPartitions: co-partitioning is the contract, the
    // width follows the session's shuffle parallelism (EnsureRequirements
    // makes both sides compatible). Several shard ids sharing a partition
    // just means their sketches merge — probe-safe (no false negatives),
    // and stage width tracks the cluster size instead of nShards.
    Seq(
      ClusteredDistribution(Seq(shardExpr)),
      ClusteredDistribution(Seq(shardAttr)))
  }

  /** First-wins order on the frontier side; Spark plans (and spills)
    * the sort. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    ShardedProbe.FrontierKeyCols.map(n => SortOrder(leftAttr(n), Ascending)),
    Nil)

  override protected def doExecute(): RDD[InternalRow] = {
    val hashIdx = left.output.indexOf(leftAttr("url_hash"))
    val bytesIdx = right.output.indexWhere(_.name == "bytes")
    require(bytesIdx >= 0, s"sketch side must carry bytes: ${right.output.map(_.name)}")
    val outTypes = output.map(_.dataType).toArray

    left.execute().zipPartitions(right.execute()) { (sortedIt, sketchIt) =>
      val sketch = sketchIt
        .map(r => ShardSketch.deserialize(r.getBinary(bytesIdx)))
        .reduceOption(_.merge(_))
      val joined = new JoinedRow
      val flagRow = new GenericInternalRow(1)
      // consumers (shuffle writers, SparkPlan.collect) expect UnsafeRow
      val toUnsafe = UnsafeProjection.create(outTypes)
      var lastHash = 0L
      var first = true
      // filter's lookahead holds one row and map projects it before the
      // sorter advances, so the sorter's reused row buffer is safe
      sortedIt.filter { r =>
        val h = r.getLong(hashIdx)
        val keep = first || h != lastHash
        first = false; lastHash = h
        keep
      }.map { r =>
        flagRow.update(0, sketch.exists(_.mightContain(r.getLong(hashIdx))))
        toUnsafe(joined(r, flagRow))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ShardedProbeExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[ShardedProbe]] → [[ShardedProbeExec]]; installed on the
  * frontier's session by [[GraftPlanner.probeDedupe]] (public
  * `experimental.extraStrategies` API). */
object ShardedProbeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: ShardedProbe =>
      ShardedProbeExec(p.nShards, p.maybeAttr, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

object GraftPlanner {
  /** Idempotently install the strategy on a live session. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(ShardedProbeStrategy))
      exp.extraStrategies = exp.extraStrategies :+ ShardedProbeStrategy
  }

  /** The probe+dedupe DataFrame over the custom operator: one row per
    * url_hash (the [[graft.frontier.Wave.dedupeInBatch]] winner) with
    * the frontier columns + `__maybe`. */
  def probeDedupe(frontier: DataFrame, shards: DataFrame, nShards: Int): DataFrame = {
    val spark = frontier.sparkSession
    install(spark)
    // fail at PLAN CONSTRUCTION, not mid-execute: the exec resolves
    // these columns by name, so a renamed/projected-away column is
    // rejected here, before any job runs (round-3 advice). The check
    // lives at this single construction point rather than in the node's
    // constructor because Catalyst canonicalization clones the node
    // with normalized ("none") attribute names.
    require(ShardedProbe.FrontierKeyCols.forall(frontier.columns.contains),
      s"ShardedProbe frontier side must carry ${ShardedProbe.FrontierKeyCols.mkString("/")}; " +
        s"got ${frontier.columns.mkString(", ")}")
    require(ShardedProbe.SketchCols.forall(shards.columns.contains),
      s"ShardedProbe sketch side must carry ${ShardedProbe.SketchCols.mkString("/")}; " +
        s"got ${shards.columns.mkString(", ")}")
    val node = ShardedProbe(
      org.apache.spark.sql.graft.ColumnBridge.logicalPlan(frontier),
      org.apache.spark.sql.graft.ColumnBridge.logicalPlan(shards),
      nShards,
      AttributeReference("__maybe", BooleanType, nullable = false)())
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, node)
  }

  /** Kept only for the frozen benchmark's per-layer replay
    * (`perfbench/.../Layers.scala`), which passes a buffer bound the
    * operator no longer has; forwards to the 3-argument form. */
  def probeDedupe(frontier: DataFrame, shards: DataFrame, nShards: Int,
      maxBufferRows: Long): DataFrame = probeDedupe(frontier, shards, nShards)
}
