package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** query_battery: every registered query of `SparkEntry.queries` over the
  * committed sf0.01 tables, one query at a time. The seed sets the query
  * order of every pass. One untimed warm pass (JIT and codegen cache),
  * then timed passes until the measured time is up, at least [[MinPasses]];
  * a query's time is its median over the timed passes. */
object Battery {
  val Setups = 3
  val MinPasses = 1
  /** Queries backed by the program's fused codegen kernels. */
  val KernelFamilies = Seq("minhash", "simhash", "winnow", "embed", "ann_", "robots_prefix")

  /** Prefix of `Ivf.indexedTopK`'s index cache for a corpus path (the
    * cache lives in tmpfs and outlives the process, so every set-up
    * removes it and rebuilds it). */
  def ivfPrefix(dir: String): String = {
    val key = s"$dir/embeddings.parquet"
    val h = java.lang.Long.toHexString(scala.util.hashing.MurmurHash3.stringHash(key).toLong & 0xffffffffL)
    s"graft-ivf-index-$h-"
  }

  private def ivfBases: Seq[Path] =
    Seq(Paths.get("/dev/shm"), Paths.get(System.getProperty("java.io.tmpdir"))).filter(Files.isDirectory(_))

  def dropIvf(dir: String): Unit = ivfBases.foreach { b =>
    val s = Files.list(b)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(ivfPrefix(dir)))
      .toList.foreach(Main.deleteTree)
    finally s.close()
  }

  def run(spark: SparkSession, a: Args, res: Result, tracer: Tracer): Unit = {
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val src = a.data
    val tables = {
      val s = Files.list(src)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList.sortBy(_.toString)
      finally s.close()
    }
    require(tables.nonEmpty, s"no input tables under $src")

    // ---- set-up: input tables into the run's space, IVF index rebuilt
    val setupS = mutable.ArrayBuffer.empty[Double]
    var dir: String = null
    (0 until Setups).foreach { i =>
      if (dir != null) { dropIvf(dir); Main.deleteTree(Paths.get(dir)) }
      val d = a.work.resolve(s"battery-$i").resolve("sf")
      dropIvf(d.toString)
      val (_, s) = Main.timed(tracer.span(s"setup-$i") {
        Files.createDirectories(d)
        tables.foreach(t => Files.copy(t, d.resolve(t.getFileName.toString)))
        tracer.span("Ivf.index")(Main.noop(SparkEntry.queries("q_ann_ivf_topk")(spark, d.toString)))
      })
      setupS += s
      dir = d.toString
    }
    res.e2e("setup_s") = Main.median(setupS.toSeq)
    res.info("setup_samples_s", setupS.map(Json.num).mkString("[", ",", "]"))

    val oracle = SparkEntry.oracleSql
    val out = a.work.resolve("oracle")
    Files.createDirectories(out)
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val windows = mutable.ArrayBuffer.empty[(Double, Double)]
    def pass(p: Int): Unit = {
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(queries)
      val startMs = Clock.nowMs
      val t0 = System.nanoTime()
      tracer.span(s"pass-$p") {
        order.foreach { case (name, fn) =>
          res.attempted += 1
          val q0 = System.nanoTime()
          try {
            tracer.span(s"query:$name") {
              // the warm pass keeps the oracle-checked answers for the
              // DuckDB compare; timed passes discard every answer
              if (p == 0 && oracle.contains(name))
                fn(spark, dir).write.mode("overwrite").parquet(out.resolve(name).toString)
              else Main.noop(fn(spark, dir))
            }
            if (p > 0) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Main.secs(q0)
          } catch {
            case NonFatal(e) =>
              res.failed += 1
              res.check(s"query $name runs", ok = false, e.toString.take(300))
          }
        }
      }
      if (p > 0) { passWall += Main.secs(t0); windows += ((startMs, Clock.nowMs)) }
    }

    pass(0) // untimed warm pass
    val listener = if (a.trace) Some(new JobListener(tracer)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    HeapPeak.reset()
    val t0 = System.nanoTime()
    var p = 1
    // the traced run times every query at least three times
    while (p <= (if (a.trace) 3 else MinPasses) || Main.secs(t0) < a.seconds) { pass(p); p += 1 }
    val (heapPeak, heapLive) = HeapPeak.close()
    res.layers("jvm.heap_peak_mb") = heapPeak
    res.layers("jvm.heap_live_mb") = heapLive
    listener.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

    val med = samples.map { case (n, xs) => n -> Main.median(xs.toSeq) }
    res.check("every query has a timed answer", med.size == queries.size,
      s"${med.size} of ${queries.size}")
    val batteryS = med.values.sum
    res.e2e("throughput_per_s") = med.size / batteryS
    res.e2e("step_s") = Main.geomean(med.values.toSeq)
    res.e2e("iteration_s") = Main.median(passWall.toSeq)
    res.info("timed_passes", passWall.size.toString)
    res.info("query_order_pass1", new scala.util.Random(a.seed * 1000003L + 1).shuffle(queries)
      .map(q => Json.str(q._1)).mkString("[", ",", "]"))

    res.layers("queries.battery_s") = batteryS
    med.foreach { case (n, s) => res.layers(s"queries.${n}_s") = s }
    res.layers("functions.kernel_queries_s") =
      med.filter { case (n, _) => KernelFamilies.exists(n.contains) }.values.sum
    listener.foreach { l =>
      Layers.spark(l, windows.toSeq, windows.size, res)
      l.emitSpans()
    }

    Files.write(out.resolve("oracle_sql.json"), oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}").getBytes("UTF-8"))
    res.info("oracle_dir", Json.str(out.toString))
    res.info("tables_dir", Json.str(dir))
    dropIvf(dir)
  }
}
