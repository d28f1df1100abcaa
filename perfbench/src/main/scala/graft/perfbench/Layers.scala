package graft.perfbench

import scala.collection.mutable

import graft.CrawlDriver
import graft.checkpoint.SnapshotCatalog
import graft.extract.Extract
import graft.frontier.{ArticleStore, Wave}
import graft.plans.GraftPlanner
import graft.seen.{ShardedSeen, SketchShard}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The traced run's per-layer replays over a finished crawl.
  *
  * For each replayed wave k the inputs are read from committed snapshot k
  * (and k+1 where the layer consumes the wave's own output) and cached;
  * then the layer's public function runs once into the `noop` sink, so
  * each timing covers that layer alone. Times are means per replayed
  * wave; ratios are over all replayed rows. */
object Replay {
  private val Mem = StorageLevel.MEMORY_AND_DISK

  def crawl(spark: SparkSession, catalog: SnapshotCatalog, prep: Crawl.Prepared, waves: Seq[Int],
      workDir: java.nio.file.Path, res: Result, tracer: Tracer): Unit = tracer.span("replay") {
    import spark.implicits._
    val acc = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.persist(Mem); c.count(); cached += c; c }
    def time(metric: String, span: String)(body: => Unit): Unit =
      acc(metric) += Main.timed(tracer.span(span)(body))._2

    val robots = keep(catalog.readTable(0, "robots"))
    val budgets = keep(catalog.readTable(0, "budgets"))
    waves.foreach { k => tracer.span(s"replay-wave-$k") {
      val frontier = keep(catalog.readTable(k, "frontier"))
      val shards = keep(catalog.readTable(k, "seen_sketch"))
      val seenExact = keep(CrawlDriver.seenKeys(catalog, k))

      val (allowed0, denied0) = Wave.robotsGate(frontier, robots)
      time("frontier.robots_gate_s", "Wave.robotsGate") { Main.noop(allowed0); Main.noop(denied0) }
      val allowed = keep(allowed0)
      acc("frontier_rows") += frontier.count()
      acc("denied_rows") += denied0.count()

      def probe = GraftPlanner.probeDedupe(allowed, shards, prep.rc.nShards,
        ShardedSeen.DefaultMaxShardBufferRows)
      time("seen.probe_s", "GraftPlanner.probeDedupe")(Main.noop(probe))
      val probed = keep(probe)
      val maybe = probed.filter(col("__maybe"))
      acc("seen.probe_rows") += probed.count()
      val nMaybe = maybe.count()
      acc("maybe_rows") += nMaybe
      acc("wasted_rows") += maybe.join(seenExact, Seq("url_hash"), "left_anti").count()

      time("seen.confirm_s", "ShardedSeen.confirmFlag")(Main.noop(ShardedSeen.confirmFlag(probed, seenExact)))
      val fresh = keep(ShardedSeen.confirmFlag(probed, seenExact).filter(!col("__dup")).drop("__dup"))

      def decide = Wave.enforceBudgets(fresh, budgets, prep.rc.waveCfg, saltSource = Some(frontier)).toDF()
      time("frontier.budgets_s", "Wave.enforceBudgets")(Main.noop(decide))
      val decisions = keep(decide)
      acc("decision_rows") += decisions.count()
      acc("deferred_rows") += decisions.filter(!col("fetched")).count()

      // the wave's fetch join: the frontier slice against the cached page
      // index, split by endpoint kind (as in Wave.run)
      val toFetch = keep(decisions.filter(col("fetched")))
      def pageText(kind: String) =
        prep.pagesIdx.filter(col("kind") === kind).select(col("url_hash"), col("text"))
      def detailJoin = toFetch.filter(col("kind") === "detail").hint("shuffle_hash")
        .join(pageText("detail"), Seq("url_hash"), "inner")
      def listJoin = toFetch.filter(col("kind") === "list").hint("shuffle_hash")
        .join(pageText("list"), Seq("url_hash"), "inner").select(col("url"), col("text"), col("wave"))
      time("frontier.fetch_join_s", "fetch join")({ Main.noop(detailJoin); Main.noop(listJoin) })
      val detail = keep(detailJoin)
      val lists = keep(listJoin)
      acc("detail_pages") += detail.count()
      acc("detail_bytes") += detail.agg(coalesce(sum(octet_length(col("text"))), lit(0L))).head().getLong(0)

      time("extract.article_s", "Extract.articlesIdentified")(Main.noop(Extract.articlesIdentified(detail)))
      acc("article_rows") += Extract.articlesIdentified(detail).count()
      time("extract.discover_s", "Extract.discovered")(Main.noop(Extract.discovered(lists)))

      val nextIn = keep(frontier.unionByName(catalog.readTable(k + 1, "frontier")))
      time("frontier.next_dedupe_s", "Wave.dedupeInBatch")(Main.noop(Wave.dedupeInBatch(nextIn)))

      val inserts = keep(catalog.readTable(k + 1, "fetched").select("url_hash"))
      val noDeletes = spark.range(0).select(col("id").as("url_hash"))
      time("seen.update_s", "ShardedSeen.updatedShards")(Main.noop(ShardedSeen.updatedShards(
        shards.as[SketchShard], inserts, noDeletes, prep.rc.seenCapacity, prep.rc.nShards).toDF()))

      time("frontier.article_view_s", "ArticleStore.articles")(Main.noop(ArticleStore.articles(catalog, k + 1)))
      // compaction is the merged view written as the next base
      val base = workDir.resolve(s"articles_base-$k").toString
      time("frontier.compact_s", "ArticleStore.compacted")(
        ArticleStore.compacted(catalog, k + 1).write.mode("overwrite").parquet(base))
      Main.deleteTree(java.nio.file.Paths.get(base))

      cached.foreach(_.unpersist())
      cached.clear()
    }}

    val n = waves.size.toDouble
    Seq("frontier.robots_gate_s", "frontier.budgets_s", "frontier.fetch_join_s",
      "frontier.next_dedupe_s", "frontier.article_view_s", "frontier.compact_s",
      "seen.probe_s", "seen.confirm_s", "seen.update_s", "extract.article_s",
      "extract.discover_s").foreach(m => res.layers(m) = acc(m) / n)
    res.layers("seen.probe_rows") = acc("seen.probe_rows") / n
    def ratio(a: String, b: String) = if (acc(b) > 0) acc(a) / acc(b) else 0.0
    res.layers("frontier.denied_frac") = ratio("denied_rows", "frontier_rows")
    res.layers("frontier.deferred_frac") = ratio("deferred_rows", "decision_rows")
    res.layers("seen.maybe_frac") = ratio("maybe_rows", "seen.probe_rows")
    res.layers("seen.wasted_confirm_frac") = ratio("wasted_rows", "maybe_rows")
    res.layers("extract.ok_frac") = ratio("article_rows", "detail_pages")
    res.layers("extract.mb_per_s") =
      if (acc("extract.article_s") > 0) acc("detail_bytes") / 1e6 / acc("extract.article_s") else 0.0
    res.layers("seen.sketch_bytes") = catalog.readTable(catalog.latest.get, "seen_sketch")
      .agg(coalesce(sum(length(col("bytes"))), lit(0L))).head().getLong(0).toDouble

    // page-index build over the cached flat corpus
    val flat = prep.flat.persist(Mem)
    val rows = flat.count()
    val (_, s) = Main.timed(tracer.span("Wave.pageIndex")(Main.noop(Wave.pageIndex(flat))))
    res.layers("url.index_build_s") = s
    res.layers("url.rows_per_s") = rows / s
    flat.unpersist()
  }
}

/** Per-layer numbers taken from the traced run's [[JobListener]]. */
object Layers {
  private val LoopTables = Set("frontier", "fetched", "seen_sketch", "budget_state")
  private val Commit = "commit-(\\d+)/(.+)".r

  private def finished(l: JobListener, windows: Seq[(Double, Double)]): Seq[JobRec] =
    windows.flatMap { case (a, b) => l.jobsIn(a, b).filterNot(_.endMs.isNaN) }.distinct

  /** The crawl loop's numbers over `windows`, the (start, end) of every
    * CrawlDriver.run call of one iteration that committed `waves` waves. */
  def crawlDriver(l: JobListener, windows: Seq[(Double, Double)], waves: Int, cores: Int,
      res: Result): Unit = {
    val jobs = finished(l, windows)
    val wallMs = windows.map { case (a, b) => b - a }.sum
    val busyMs = windows.map { case (a, b) =>
      Intervals.covered(l.jobsIn(a, b).filterNot(_.endMs.isNaN).map(j => (math.max(j.startMs, a), math.min(j.endMs, b))))
    }.sum
    res.layers("CrawlDriver.driver_gap_s") = (wallMs - busyMs) / 1000.0
    res.layers("CrawlDriver.jobs_per_wave") = jobs.size.toDouble / waves
    res.layers("CrawlDriver.chain_warm_s") =
      jobs.filter(_.desc.endsWith("/chain-warm")).map(j => j.endMs - j.startMs).sum / 1000.0
    res.layers("CrawlDriver.core_idle_frac") = 1.0 - jobs.map(_.taskRunMs).sum.toDouble / (cores * wallMs)

    // commit phases: wall of each snapshot's loop-table and bulk writes
    val commits = jobs.flatMap(j => j.desc match {
      case Commit(id, t) => Some((id.toInt, LoopTables(t), j))
      case _ => None
    })
    def phase(loop: Boolean) = commits.filter(_._2 == loop).groupBy(_._1).values
      .map(js => Intervals.covered(js.map(j => (j._3.startMs, j._3.endMs)))).sum / 1000.0
    res.layers("checkpoint.loop_commit_s") = phase(loop = true)
    res.layers("checkpoint.bulk_commit_s") = phase(loop = false)
    spark(l, windows, 1, res)
  }

  /** Task sums over the jobs started in `windows`, per iteration. */
  def spark(l: JobListener, windows: Seq[(Double, Double)], iterations: Int, res: Result): Unit = {
    val jobs = finished(l, windows)
    res.layers("spark.task_cpu_s") = jobs.map(_.cpuNs).sum / 1e9 / iterations
    res.layers("spark.gc_s") = jobs.map(_.gcMs).sum / 1000.0 / iterations
    res.layers("spark.shuffle_write_mb") = jobs.map(_.shuffleWriteBytes).sum / 1e6 / iterations
    res.layers("spark.spill_mb") = jobs.map(_.spillBytes).sum / 1e6 / iterations
  }
}
