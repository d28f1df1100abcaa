package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock shared by spans and listener events: epoch milliseconds as a
  * double, with nanosecond resolution for spans taken on this JVM. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Intervals {
  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (s, e) => total += e - s }
    total
  }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory spans around the benchmark's calls into each layer; written out
  * once, at the end of the run. A disabled tracer only runs the body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](0)
  private var nextId = 1

  /** Innermost span open on the benchmark thread (0 = the run itself). */
  @volatile var current: Int = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = stack.top
    val start = Clock.nowMs
    stack.push(id); current = id
    try body
    finally {
      stack.pop(); current = stack.top
      add(Span(id, parent, name, start, Clock.nowMs))
    }
  }

  /** A span recorded elsewhere (a Spark job seen by the listener). */
  def add(s: Span): Unit = synchronized { spans += s }

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time: duration minus the union of the child spans' intervals,
    * each clipped to the parent. */
  def selfMs(s: Span, children: Seq[Span]): Double =
    s.durMs - Intervals.covered(children.map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      .filter { case (a, b) => b > a })

  def write(path: java.nio.file.Path): Unit = {
    val ss = all.sortBy(_.startMs)
    val kids = ss.groupBy(_.parent)
    val t0 = if (ss.isEmpty) 0.0 else ss.map(_.startMs).min
    val lines = ss.map { s =>
      f"""{"run_id":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        f""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs - t0)},""" +
        f""""end_ms":${Json.num(s.endMs - t0)},"dur_ms":${Json.num(s.durMs)},""" +
        f""""self_ms":${Json.num(selfMs(s, kids.getOrElse(s.id, Nil)))}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-job record kept by [[JobListener]]. Task sums cover every task of
  * every stage the job submitted. */
final class JobRec(val id: Int, val desc: String, val startMs: Double, val parentSpan: Int) {
  @volatile var endMs: Double = Double.NaN
  var taskRunMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** The traced run's SparkListener: job intervals keyed by the job
  * descriptions the crawl loop already sets (`wave-k/chain-warm`,
  * `commit-k/<table>`), plus task CPU, GC, shuffle-write and spill sums. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, desc, e.time.toDouble, tracer.current))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
      r.synchronized {
        r.taskRunMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Finished jobs whose start lies in [fromMs, toMs]. */
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] =
    jobs.values().asScala.toSeq.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .sortBy(_.startMs)

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.startMs)

  /** Hand every finished job to the tracer as a span under the span that
    * was open on the benchmark thread when the job started. */
  def emitSpans(): Unit = allJobs.filterNot(_.endMs.isNaN).foreach { j =>
    val name = if (j.desc.nonEmpty) s"job:${j.desc}" else "job"
    tracer.add(Span(tracer.newId(), j.parentSpan, name, j.startMs, j.endMs))
  }
}

/** Peak heap use right after a collection, over a window. */
object HeapPeak {
  @volatile private var peak = 0L
  private var installed = false
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = synchronized {
    if (installed) return
    installed = true
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            HeapPeak.synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ => ()
    }
  }

  def reset(): Unit = synchronized { peak = 0L }

  /** Ends a window: one full collection so the window always holds a
    * post-GC reading. Returns (peak, live after that collection) in MiB. */
  def close(): (Double, Double) = {
    System.gc()
    Thread.sleep(200)
    val p: Long = synchronized { peak }
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (p.toDouble / (1024.0 * 1024.0), live.toDouble / (1024.0 * 1024.0))
  }
}
