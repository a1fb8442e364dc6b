package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One node of the span tree: workload → pass / query / request /
  * micro-batch → Spark job → stage. Times are epoch milliseconds, the
  * clock Spark's listener events carry. */
final case class Span(id: String, parent: String, name: String, layer: String,
    start: Long, end: Long)

/** What the listener keeps per job and per stage. */
final class JobRec(val id: Int, val start: Long, val span: String,
    val batch: String, val stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int) {
  var start = 0L
  var end = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var records = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Sums over a set of jobs. `busyS` is the wall covered by at least one
  * running job, so `wall - busyS` is driver time between jobs. */
final case class JobAgg(jobs: Int, jobWallS: Double, busyS: Double,
    taskRunS: Double, taskCpuS: Double, shuffleReadMb: Double,
    shuffleWriteMb: Double, spillMb: Double, maxTaskRatio: Double,
    recordsRead: Long) {
  def shuffleMb: Double = shuffleReadMb + shuffleWriteMb
}

/** In-memory tracer for `--trace 1` runs. Spans are opened by the
  * benchmark; jobs are tied to them through the `perfbench.span` local
  * property (queries on the benchmark's own thread), through
  * `streaming.sql.batchId` (micro-batches) or by time window (requests
  * served on the endpoint's threads). Everything is written out at exit. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  /** Nanoseconds spent inside this listener's callbacks. */
  val selfNanos = new LongAdder()

  sc.addSparkListener(this)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally selfNanos.add(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val p = Option(e.properties)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time,
      p.map(_.getProperty(Tracer.SpanKey)).orNull,
      p.map(_.getProperty("streaming.sql.batchId")).orNull, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  private def stage(id: Int): StageRec = stages.computeIfAbsent(id, new StageRec(_))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.taskMs += e.taskInfo.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.records += m.inputMetrics.recordsRead
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.start = e.stageInfo.submissionTime.getOrElse(0L)
      s.end = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  /** Run `body` as a span; jobs started on this thread meanwhile carry
    * the span's id. Returns the body's value and the span. */
  def span[T](name: String, layer: String, parent: String = Tracer.Root)(body: => T): (T, Span) = {
    val id = "s" + ids.incrementAndGet()
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id)
    val t0 = System.currentTimeMillis()
    try {
      val v = body
      val sp = Span(id, parent, name, layer, t0, System.currentTimeMillis())
      spans.add(sp)
      (v, sp)
    } finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }

  /** Record a span timed elsewhere (requests, micro-batches). */
  def record(name: String, layer: String, start: Long, end: Long,
      id: String = "s" + ids.incrementAndGet()): Span = {
    val sp = Span(id, Tracer.Root, name, layer, start, end)
    spans.add(sp)
    sp
  }

  /** Jobs tied to a span by time window rather than by property. */
  private val adopted = new ConcurrentHashMap[Int, String]()
  def adopt(span: Span, js: Seq[JobRec]): Unit = js.foreach(j => adopted.put(j.id, span.id))

  /** Wait until every posted event has been seen. */
  def drain(): Unit = PerfbenchBus.drain(sc)

  def jobsWhere(p: JobRec => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.end >= 0 && p(j)).toSeq.sortBy(_.id)

  def jobsOfSpan(id: String): Seq[JobRec] = jobsWhere(_.span == id)

  def jobsIn(from: Long, to: Long): Seq[JobRec] =
    jobsWhere(j => j.start >= from && j.start <= to)

  def agg(js: Seq[JobRec]): JobAgg = {
    val ss = js.flatMap(_.stages).distinct.flatMap(i => Option(stages.get(i)))
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    js.map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    val ratio = ss.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      val med = math.max(1L, sorted(sorted.size / 2))
      sorted.last.toDouble / med
    }.foldLeft(1.0)(math.max)
    val mb = 1024.0 * 1024.0
    JobAgg(js.size, js.map(j => j.end - j.start).sum / 1e3, busy / 1e3,
      ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.shuffleRead).sum / mb, ss.map(_.shuffleWrite).sum / mb,
      ss.map(_.spill).sum / mb, ratio, ss.map(_.records).sum)
  }

  /** The span tree with jobs and stages as leaves, plus self time per
    * layer (a span's duration minus its children's). */
  def writeTree(path: java.nio.file.Path, workload: String, extra: Map[String, Double]): Unit = {
    val all = mutable.ArrayBuffer.empty[Span] ++ spans.asScala
    jobs.values.asScala.filter(_.end >= 0).foreach { j =>
      val parent = Option(j.span)
        .orElse(Option(j.batch).map("batch" + _))
        .orElse(Option(adopted.get(j.id)))
        .getOrElse(Tracer.Root)
      all += Span("job" + j.id, parent, "job " + j.id, "spark", j.start, j.end)
      j.stages.flatMap(i => Option(stages.get(i))).filter(_.end > 0).foreach { s =>
        all += Span(s"job${j.id}.stage${s.id}", "job" + j.id, "stage " + s.id,
          "spark.stage", s.start, s.end)
      }
    }
    all += Span(Tracer.Root, "", workload, "workload", all.map(_.start).min, all.map(_.end).max)
    // the part of a span's interval its children cover (their union)
    val childWall = all.groupBy(_.parent).view.mapValues { cs =>
      cs.map(c => (c.start, c.end)).sorted.foldLeft((0L, Long.MinValue)) {
        case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1
    }.toMap
    val selfByLayer = all.groupBy(_.layer).view.mapValues(_.map { s =>
      math.max(0L, (s.end - s.start) - childWall.getOrElse(s.id, 0L))
    }.sum / 1e3).toMap
    val sb = new StringBuilder("{\"self_s\":")
    sb.append(Json.obj(selfByLayer.toSeq.sortBy(_._1)))
    sb.append(",\"metrics\":").append(Json.obj(extra.toSeq.sortBy(_._1)))
    sb.append(",\"spans\":[")
    sb.append(all.sortBy(s => (s.start, s.id)).map { s =>
      s"""{"id":${Json.str(s.id)},"parent":${Json.str(s.parent)},"name":${Json.str(s.name)},""" +
        s""""layer":${Json.str(s.layer)},"start":${s.start},"end":${s.end}}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Id of the workload span, the root of the tree. */
  val Root = "workload"
}

/** Streaming progress as the public listener reports it. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Process-level counters read at window edges. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Heap still in use after a full collection, MiB: what the engine
    * retains, independent of how far the JVM let its heap grow. */
  def retainedHeapMb(): Double = {
    collect()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Full collections before a measured window, so no window pays for
    * garbage its set-up left. */
  def collect(): Unit = { System.gc(); System.gc() }

  /** Whole-stage codegen compiles so far and their total time (ms). */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
}
