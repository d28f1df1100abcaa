package graft.plans

import graft.SparkSpec
import graft.frontier.Wave
import graft.seen.ShardedSeen
import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.{SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.unsafe.types.UTF8String

/** A frontier partition larger than the probe's sort memory spills
  * through Spark's external sort instead of failing the wave, and the
  * spilled run keeps exactly [[Wave.dedupeInBatch]]'s winners. */
class ShardedProbeSpillSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val ForceSpill = "spark.shuffle.spill.numElementsForceSpillThreshold"

  test("probe sort spills and keeps dedupeInBatch's winners, non-ASCII urls included") {
    val nShards = 4
    val ts = new java.sql.Timestamp(0L)
    // 999 keys × 2 rows with priority/kind ties broken by url
    val dupes = (1L to 999L).flatMap { i =>
      val h = i * 0x9e3779b97f4a7c15L
      Seq((s"https://h/a$i", h, "h", "b", "detail", 0, i % 3, ts),
        (s"https://h/b$i", h, "h", "b", if (i % 2 == 0) "list" else "detail", 0,
          (i + 1) % 3, ts))
    }
    // one url_hash, two urls that UTF-16 and UTF-8 order differently:
    // U+FF21 sorts after the surrogate pair of U+1F600 as UTF-16 code
    // units, before it as UTF-8 bytes (the order the crawl uses)
    val (fullwidthA, emoji) = ("https://h/x\uFF21", "https://h/x\uD83D\uDE00") // Ａ, 😀
    assert(fullwidthA.compareTo(emoji) > 0)
    assert(UTF8String.fromString(fullwidthA).compareTo(UTF8String.fromString(emoji)) < 0)
    val pair = Seq(emoji, fullwidthA).map(u => (u, 42L, "h", "b", "detail", 0, 0L, ts))
    val frontier = (dupes ++ pair)
      .toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")
    val seen = (1L to 500L).map(_ * 0x9e3779b97f4a7c15L)
    val shards = ShardedSeen.updatedShards(ShardedSeen.emptyShards(spark),
      seen.toDF("url_hash"), spark.range(0).selectExpr("id as url_hash"), 4000, nShards)
      .toDF()

    // UnsafeExternalRowSorter reads the threshold per sorter, so setting
    // it on the live conf forces the probe's sort to spill every 64 rows
    val conf = SparkEnv.get.conf
    val prev = conf.getOption(ForceSpill)
    conf.set(ForceSpill, "64")
    val probed = GraftPlanner.probeDedupe(frontier, shards, nShards)
    val got = try probed.collect() finally prev.fold(conf.remove(ForceSpill))(conf.set(ForceSpill, _))

    val sorts = collect(probed.queryExecution.executedPlan) { case p: ShardedProbeExec => p.left }
    assert(sorts.size === 1)
    val sort = sorts.head match {
      case s: SortExec => s
      case WholeStageCodegenExec(s: SortExec) => s
      case other => fail(s"probe's frontier child must be Spark's sort, got ${other.nodeName}")
    }
    assert(sort.metrics("spillSize").value > 0, "the probe's sort must have spilled")

    val want = Wave.dedupeInBatch(frontier).collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val winners = got.map(_.toSeq.init.mkString("|")).sorted.toSeq // drop __maybe
    assert(winners === want, "spilled probe must keep dedupeInBatch's winners")
    assert(winners.size === 1000)
    assert(got.exists(_.getAs[String]("url") == fullwidthA) &&
      !got.exists(_.getAs[String]("url") == emoji), "UTF-8 byte order picks U+FF21")
    // no false negatives through the spilled path
    val flags = got.map(r => r.getAs[Long]("url_hash") -> r.getAs[Boolean]("__maybe")).toMap
    seen.foreach(h => assert(flags(h), s"false negative on $h"))
  }
}
