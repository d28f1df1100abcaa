package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run inside one JVM. `run.py` builds the program, starts
  * this main and turns the result file it writes into the benchmark's
  * output line.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *       --cores N --state DIR --data DIR */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    /** working space of this run, empty at start, deleted by run.py */
    work: Path,
    /** where the result file goes */
    out: Path,
    cores: Int,
    /** files kept across runs: span files and per-seed output digests */
    state: Path,
    /** the query battery's input tables */
    data: Path)

object Main {
  val Workloads = Seq("crawl_deep", "query_battery")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      need("cores").toInt, Paths.get(need("state")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val res = new Result
    val tracer = new Tracer(a.trace, s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}")
    HeapPeak.install()
    val spark = session(a)
    try {
      tracer.span(a.workload) {
        a.workload match {
          case "query_battery" => Battery.run(spark, a, res, tracer)
          case _ => Crawl.run(spark, a, res, tracer)
        }
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        res.check("no uncaught error", ok = false, e.toString)
    } finally {
      try spark.stop() catch { case NonFatal(_) => () }
    }
    if (a.trace) {
      val f = a.state.resolve("trace").resolve(s"${a.workload}-seed${a.seed}.spans.jsonl")
      tracer.write(f)
      res.info("span_file", Json.str(a.state.getParent.relativize(f).toString))
    }
    res.write(a.out)
  }

  /** local[cores], one JVM. AQE follows the program's own choice per
    * workload: off for the crawl loop (explicit, data-derived
    * partitioning; see `CrawlDriver.main`), on for the query battery. */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", (a.workload == "query_battery").toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "128m")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftPlanner.install(s)
    s
  }

  // ---------------------------------------------------------- helpers

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  /** Run a plan to completion without keeping its output. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Bytes of every regular file under `p`. */
  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) graft.checkpoint.SnapshotCatalog.deleteRecursively(p)
}

/** What one run found: the checks, the operation counts and the metrics. */
final class Result {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  private val infos = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $name $detail")
    ok
  }

  /** `json` is a JSON value, already encoded. */
  def info(key: String, json: String): Unit = infos(key) = json

  def write(p: Path): Unit = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")
    val is = infos.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val body = s"""{"attempted":$attempted,"failed":$failed,"checks":$cs,""" +
      s""""e2e":${obj(e2e)},"layers":${obj(layers)},"info":$is}"""
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
