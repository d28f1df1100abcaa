package graft.model

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** Fixed schemas for every snapshot table (SURVEY.md §2.1).
  *
  * The snapshot layer imposes these on read (`spark.read.schema(...)`)
  * instead of inferring from parquet footers: schema inference opens a
  * footer per read — a per-wave driver-latency tax the crawl loop pays
  * on its critical path (the crawl's fixed per-wave cost is what caps
  * N→4N scaling efficiency, BASELINE.json north_rule). Known schemas
  * make every snapshot read plan-only.
  *
  * Drift safety: an imposed schema silently nulls a column missing from
  * the files, so SnapshotCatalogSpec pins committed-file schemas against
  * this registry.
  */
object Tables {

  private def of[T: org.apache.spark.sql.Encoder]: StructType =
    implicitly[org.apache.spark.sql.Encoder[T]].schema

  /** `fetched`: CrawlOrder + lineage columns + the fetch's event time
    * (see Wave.run fetchedTbl) — the event time feeds the streaming
    * telemetry adapter ([[graft.streaming.StreamingMetrics]]). */
  val fetched: StructType = of[CrawlOrder](Encoders.product[CrawlOrder])
    .add("host", StringType).add("partition_id", IntegerType)
    .add("discovered_ts", TimestampType)

  /** `denied`: the robots-denied delta (url identity + host only). */
  val denied: StructType = StructType(Seq(
    StructField("url_hash", LongType),
    StructField("url", StringType),
    StructField("host", StringType)))

  /** `retracted`: re-crawl retraction delta. */
  val retracted: StructType = StructType(Seq(
    StructField("url_hash", LongType),
    StructField("wave", IntegerType)))

  val byName: Map[String, StructType] = Map(
    "frontier" -> of[FrontierEntry](Encoders.product[FrontierEntry]),
    "fetched" -> fetched,
    // the fetched-log compaction (CrawlDriver.compactedFetched): same
    // row shape as the deltas it folds
    "fetched_base" -> fetched,
    "articles_delta" -> of[Article](Encoders.product[Article]),
    "articles_base" -> of[Article](Encoders.product[Article]),
    "denied" -> denied,
    "retracted" -> retracted,
    "robots" -> of[RobotsRule](Encoders.product[RobotsRule]),
    "budgets" -> of[HostBudget](Encoders.product[HostBudget]),
    "accounts" -> of[Account](Encoders.product[Account]),
    "metrics" -> of[CrawlMetrics](Encoders.product[CrawlMetrics]),
    "seen_sketch" -> of[SketchShardSchema](Encoders.product[SketchShardSchema]))

  /** Imposed schemas are nullable-relaxed: nullability is a hint the
    * parquet reader must not enforce against older files. */
  def forRead(name: String): Option[StructType] =
    byName.get(name).map(s => StructType(s.map(_.copy(nullable = true))))
}

/** Structural twin of [[graft.seen.SketchShard]] (kept here so the model
  * package has no dependency on the seen package). */
final case class SketchShardSchema(shard: Int, bytes: Array[Byte])
