package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable

import graft.CrawlDriver
import graft.checkpoint.{Expiry, SnapshotCatalog}
import graft.frontier.{ArticleStore, Wave}
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** crawl_deep: ~1 KB pages in the `SynthConfig.forTargetRows` shape (deep
  * list pagination) under the binding `Synth.budgets`. Phase 1 runs
  * [[Phase1Waves]] waves while the deferred backlog grows; phase 2 runs
  * [[RefreshCycles]] re-crawl cycles (enqueueRefresh on a seeded sample of
  * fetched articles, one wave, an article read, then expiry), with
  * compaction every 3 snapshots. Per-wave fixed cost dominates. */
object Crawl {
  val Rows = 1200
  val Phase1Waves = 7
  val RefreshCycles = 2
  val RefreshSample = 16
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  val NShards = 16

  def config(seed: Long): SynthConfig = SynthConfig.forTargetRows(Rows).copy(seed = seed)

  final case class Prepared(pagesIdx: DataFrame, ckpt0: Path, rc: CrawlDriver.RunConfig,
      flat: DataFrame, dir: Path)

  /** Corpus and page-index build plus snapshot-0 init, into `dir`. */
  def setup(spark: SparkSession, cfg: SynthConfig, dir: Path, tracer: Tracer): Prepared = {
    Files.createDirectories(dir)
    // the corpus carries each host's /robots.txt; the crawl ingests its
    // own gating rules from it (as CrawlDriver.main does)
    val flat = Synth.pages(spark, cfg).toDF().unionByName(Synth.robotsPages(spark).toDF())
    val idx = tracer.span("url.index") {
      val i = Wave.pageIndex(flat).persist(StorageLevel.MEMORY_AND_DISK)
      val n = i.count()
      val want = cfg.totalRows + Synth.NLongTailHosts + 1
      require(n == want, s"page index must hold one row per url: $n vs $want")
      i
    }
    val ckpt0 = dir.resolve("ckpt0")
    val rc = CrawlDriver.RunConfig(ckpt0.toString, nWaves = Phase1Waves,
      seenCapacity = math.max(cfg.totalRows * 4L, 100000L), nShards = NShards, compactEvery = 3)
    tracer.span("CrawlDriver.init") {
      CrawlDriver.init(spark, new SnapshotCatalog(ckpt0.toString, spark),
        Synth.seedFrontier(spark, cfg).toDF(), Synth.robotsFromPages(flat),
        Synth.budgets(spark, cfg).toDF(), rc, accounts = Some(Synth.accounts(spark, cfg).toDF()))
    }
    Prepared(idx, ckpt0, rc, flat, dir)
  }

  /** What one crawl iteration measured and found. */
  final case class Iter(
      ok: Boolean,
      ops: Int,
      phase1S: Double,
      phase1Fetched: Long,
      waveIntervals: Seq[Double],
      iterS: Double,
      readS: Double,
      refreshS: Seq[Double],
      expireS: Double,
      bytesFreed: Long,
      ckptBytes: Long,
      writtenBytes: Long,
      writtenFiles: Int,
      digest: String,
      /** (start, end) of every CrawlDriver.run call */
      runWindows: Seq[(Double, Double)],
      /** copy of the checkpoint after phase 1, before any expiry: what the
        * per-layer replays read (traced runs only) */
      replayDir: Path,
      replayWaves: Seq[Int])

  def run(spark: SparkSession, a: Args, res: Result, tracer: Tracer): Unit = {
    val cfg = config(a.seed)
    val setupS = mutable.ArrayBuffer.empty[Double]
    var prep: Prepared = null
    (0 until Setups).foreach { i =>
      if (prep != null) { prep.pagesIdx.unpersist(true); Main.deleteTree(prep.dir) }
      val (p, s) = Main.timed(tracer.span(s"setup-$i")(setup(spark, cfg, a.work.resolve(s"setup-$i"), tracer)))
      prep = p; setupS += s
    }
    res.e2e("setup_s") = Main.median(setupS.toSeq)
    res.info("setup_samples_s", setupS.map(Json.num).mkString("[", ",", "]"))
    res.info("corpus", s"""{"pages":${cfg.totalRows},"accounts":${cfg.nAccounts},""" +
      s""""list_pages_per_account":${cfg.pagesPerAccount},"long_tail":${cfg.longTail}}""")

    // the JIT warm-up is part of every iteration alike, and one iteration
    // outlasts the measured time
    val listener = if (a.trace) Some(new JobListener(tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    HeapPeak.reset()
    val it = tracer.span("iteration")(iteration(spark, cfg, prep, a, res, tracer))
    val (heapPeak, heapLive) = HeapPeak.close()
    res.layers("jvm.heap_peak_mb") = heapPeak
    res.layers("jvm.heap_live_mb") = heapLive
    listener.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    res.attempted += it.ops
    if (!it.ok) res.failed += it.ops
    Digests.record(a, res, it.digest)

    res.e2e("throughput_per_s") = it.phase1Fetched / it.phase1S
    res.e2e("step_s") = Main.median(it.waveIntervals)
    res.e2e("iteration_s") = it.iterS
    res.info("waves", it.waveIntervals.size.toString)
    res.info("phase1_fetched", it.phase1Fetched.toString)
    res.info("ckpt_bytes", it.ckptBytes.toString)

    // crawl-level numbers that cannot be end-to-end metrics, because every
    // workload must report every end-to-end metric
    res.layers("crawl.article_read_s") = it.readS
    res.layers("crawl.refresh_s") = Main.median(it.refreshS)
    res.layers("crawl.ckpt_bytes_per_url") = it.ckptBytes.toDouble / it.phase1Fetched
    listener.foreach { l =>
      Layers.crawlDriver(l, it.runWindows, it.waveIntervals.size, a.cores, res)
      res.layers("checkpoint.bytes_written") = it.writtenBytes.toDouble
      res.layers("checkpoint.files_written") = it.writtenFiles.toDouble
      res.layers("checkpoint.expire_s") = it.expireS
      res.layers("checkpoint.bytes_freed") = it.bytesFreed.toDouble
      Replay.crawl(spark, new SnapshotCatalog(it.replayDir.toString, spark), prep,
        it.replayWaves, a.work, res, tracer)
      l.emitSpans()
    }
    Main.deleteTree(it.replayDir)
  }

  // -------------------------------------------------------------- iteration

  /** Commit intervals of snapshots (from, to], the first measured from the
    * start of the run call. */
  private def intervals(catalog: SnapshotCatalog, from: Int, to: Int, startMs: Double): Seq[Double] = {
    var prev = startMs
    ((from + 1) to to).map { s =>
      val m = Files.getLastModifiedTime(catalog.snapshotPath(s).resolve("manifest.json"))
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
      val d = (m - prev) / 1000.0
      prev = m
      d
    }
  }

  /** One CrawlDriver.run call: (fetched, seconds, wave intervals, window). */
  private def runTimed(spark: SparkSession, catalog: SnapshotCatalog, prep: Prepared,
      rc: CrawlDriver.RunConfig, tracer: Tracer): (Long, Double, Seq[Double], (Double, Double)) = {
    val from = catalog.latest.get
    val startMs = Clock.nowMs
    val (waves, s) = Main.timed(tracer.span("CrawlDriver.run")(CrawlDriver.run(spark, catalog, prep.pagesIdx, rc)))
    (waves.map(_._2).sum, s, intervals(catalog, from, catalog.latest.get, startMs), (startMs, Clock.nowMs))
  }

  /** Order-independent digest of a table: rows, xor and sum of row hashes. */
  private def digestOf(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** Every parquet file seen under the checkpoint so far, with its size:
    * files are immutable once committed, so the union over walks taken
    * before each expiry is everything the crawl wrote. */
  private def collectFiles(dir: Path, into: mutable.Map[String, Long]): Unit = {
    val s = Files.walk(dir)
    try s.iterator().forEachRemaining { p =>
      if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        into(p.toString) = Files.size(p)
    } finally s.close()
  }

  private def iteration(spark: SparkSession, cfg: SynthConfig, prep: Prepared, a: Args,
      res: Result, tracer: Tracer): Iter = {
    import spark.implicits._
    val dir = a.work.resolve("crawl")
    Main.copyTree(prep.ckpt0, dir)
    val catalog = new SnapshotCatalog(dir.toString, spark)
    val written = mutable.Map.empty[String, Long]
    val checks = mutable.ArrayBuffer.empty[Boolean]

    // ---- phase 1
    val (fetched1, phase1S, iv1, w1) = runTimed(spark, catalog, prep, prep.rc, tracer)
    val p1 = catalog.latest.get
    collectFiles(dir, written)
    val f1 = catalog.readDeltasUpTo(p1, "fetched")
    val fr = f1.agg(count(lit(1)), countDistinct(col("url_hash"))).head()
    checks += res.check("phase 1: no url fetched twice", fr.getLong(1) == fr.getLong(0) &&
      fr.getLong(0) == fetched1, s"distinct=${fr.getLong(1)} rows=${fr.getLong(0)} run=$fetched1")
    checks += res.check(s"phase 1: $Phase1Waves waves committed", p1 == Phase1Waves, s"latest=$p1")
    val overBudget = f1.groupBy("wave", "host").count()
      .join(Synth.budgets(spark, cfg).toDF(), Seq("host"), "left")
      .filter(col("count") > coalesce(col("tokens_per_round"), lit(prep.rc.waveCfg.defaultTokens)))
      .count()
    checks += res.check("phase 1: per-host fetches within the politeness budget", overBudget == 0,
      s"$overBudget (wave, host) pairs over budget")
    // every 13th long-tail host's robots.txt disallows /page/ (Synth.robots)
    val deniedHosts = (0 until Synth.NLongTailHosts).filter(_ % 13 == 0).map(k => s"host$k.example")
    val deniedFetched = f1.filter(col("host").isin(deniedHosts: _*) && col("url").contains("/page/")).count()
    checks += res.check("phase 1: no robots-denied url fetched", deniedFetched == 0, s"$deniedFetched")
    val digestP1 = digestOf(f1.select("url_hash", "wave"))
    // phase 2 expires the snapshots the per-layer replays read
    val replayDir = a.work.resolve("phase1")
    if (a.trace) Main.copyTree(dir, replayDir)

    // ---- phase 2: re-crawl cycles
    val ivs = mutable.ArrayBuffer.empty[Double] ++= iv1
    val refreshS = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer(w1)
    var expireS = 0.0
    var freed = 0L
    (0 until RefreshCycles).foreach { c =>
      val k = catalog.latest.get
      // seeded sample of hot-host articles, FrontierEntry-shaped; priority 0
      // puts them ahead of the backlog inside the host's budget
      val sample = ArticleStore.articles(catalog, k)
        .filter(col("url").contains(Synth.HotHost))
        .orderBy(xxhash64(col("url_hash"), lit(a.seed), lit(c)), col("url_hash"))
        .limit(RefreshSample)
        .select(col("url"), col("url_hash"), lit(Synth.HotHost).as("host"), col("biz"),
          lit("detail").as("kind"), lit(0).as("wave"), lit(0L).as("priority"),
          lit(new Timestamp(Synth.BaseUnix * 1000L)).as("discovered_ts"))
        .localCheckpoint()
      val keys = sample.select("url_hash").as[Long].collect().toSeq
      val seenBefore = catalog.readWithBase(k, "fetched", "fetched_base").select("url_hash").distinct()
        .localCheckpoint()
      val t0 = System.nanoTime()
      val (cycleIv, window) = tracer.span(s"refresh-$c") {
        tracer.span("CrawlDriver.enqueueRefresh")(CrawlDriver.enqueueRefresh(spark, catalog, sample, prep.rc))
        val (_, _, civ, w) = runTimed(spark, catalog, prep, prep.rc.copy(nWaves = catalog.latest.get + 1), tracer)
        tracer.span("ArticleStore.articles")(Main.noop(ArticleStore.articles(catalog, catalog.latest.get)))
        (civ, w)
      }
      refreshS += Main.secs(t0)
      windows += window
      ivs ++= cycleIv
      val latest = catalog.latest.get
      collectFiles(dir, written)

      // each refreshed key re-fetched exactly once in this cycle, nothing
      // else fetched twice, one article row per key
      val delta = catalog.readTable(latest, "fetched")
      val d = delta.agg(count(lit(1)), countDistinct(col("url_hash")),
        sum(when(col("url_hash").isin(keys: _*), 1).otherwise(0))).head()
      val refetchedOthers = delta.filter(!col("url_hash").isin(keys: _*))
        .join(seenBefore, Seq("url_hash"), "left_semi").count()
      checks += res.check(s"cycle $c: each refreshed url re-fetched exactly once",
        keys.size == RefreshSample && d.getLong(2) == keys.size && d.getLong(1) == d.getLong(0),
        s"sample=${keys.size} refetched=${d.getLong(2)} rows=${d.getLong(0)} distinct=${d.getLong(1)}")
      checks += res.check(s"cycle $c: no other url fetched twice", refetchedOthers == 0,
        s"$refetchedOthers")
      val ar = ArticleStore.articles(catalog, latest).agg(count(lit(1)), countDistinct(col("url_hash"))).head()
      checks += res.check(s"cycle $c: articles view has one row per key",
        ar.getLong(0) == ar.getLong(1), s"rows=${ar.getLong(0)} distinct=${ar.getLong(1)}")

      val (st, es) = Main.timed(tracer.span("Expiry") {
        Expiry.expire(catalog) + Expiry.removeOrphans(catalog)
      })
      expireS += es
      freed += st.bytesFreed
    }
    val k = catalog.latest.get
    val (_, readS) = Main.timed(tracer.span("ArticleStore.read") {
      Main.noop(ArticleStore.articles(catalog, k))
      Main.noop(ArticleStore.accountStats(catalog, k))
    })
    val iterS = phase1S + refreshS.sum + expireS + readS
    val bytes = Main.dirBytes(dir)
    val digest = s"phase1=$digestP1;articles=${digestOf(ArticleStore.articles(catalog, k))}"
    Main.deleteTree(dir)
    Iter(checks.forall(identity), iv1.size + RefreshCycles, phase1S, fetched1, ivs.toSeq, iterS,
      readS, refreshS.toSeq, expireS, freed, bytes, written.values.sum, written.size,
      digest, windows.toSeq, replayDir, (0 until p1).filter(_ % 3 == 0))
  }
}

/** Output digests per seed, kept across runs of one build of the program:
  * every run of a seed must produce the same crawl. */
object Digests {
  def record(a: Args, res: Result, digest: String): Unit = {
    val stamp = sys.props.getOrElse("perfbench.stamp", "unstamped")
    val f = a.state.resolve("digests").resolve(stamp).resolve(s"${a.workload}-seed${a.seed}.txt")
    if (Files.exists(f)) {
      val prev = new String(Files.readAllBytes(f), "UTF-8")
      res.check("output digest equals earlier runs of this seed", prev == digest,
        s"$digest vs $prev")
    } else {
      Files.createDirectories(f.getParent)
      Files.write(f, digest.getBytes("UTF-8"))
    }
    res.info("digest", Json.str(digest))
  }
}
