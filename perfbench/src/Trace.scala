package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.sources.Side
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** One timed call into a layer of graft. `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory. A disabled tracer runs each body and records
  * nothing. Every span runs its Spark jobs under the job group
  * `span-<id>`, which is how [[StageListener]] attributes stage metrics
  * to spans.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = ArrayBuffer.empty[Span]
  private val current = ThreadLocal.withInitial[Integer](() => 0)
  @volatile var sc: SparkContext = _

  def currentId: Int = current.get

  /** Runs `body` as a span named `name`, a child of `parent` (default: the
    * span open on this thread).
    */
  def span[T](name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer: Int = current.get
      val ctx = Option(sc).filterNot(_.isStopped)
      val prevGroup = ctx.map(_.getLocalProperty(Tracer.GroupKey)).orNull
      val prevDesc = ctx.map(_.getLocalProperty(Tracer.DescKey)).orNull
      current.set(id)
      ctx.foreach(_.setJobGroup(Tracer.group(id), name))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.synchronized { done += Span(id, if (parent >= 0) parent else outer, name, t0, t1) }
        current.set(outer)
        ctx.foreach { c =>
          if (prevGroup == null) c.clearJobGroup() else c.setJobGroup(prevGroup, prevDesc)
        }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"

  def group(spanId: Int): String = s"span-$spanId"

  /** `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Int): Seq[Span] = {
    val children = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] = children.getOrElse(id, Nil).flatMap(s => s +: walk(s.id))
    spans.filter(_.id == root) ++ walk(root)
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((s0, e0) <- intervals.map { case (s, e) => (s max lo, e min hi) }.filter(i => i._1 < i._2)
           .sortBy(_._1)) {
      if (e0 > end) { total += e0 - (s0 max end); end = e0 }
    }
    total
  }

  /** Self time of each span: its duration minus the part of it its
    * children cover (children may run in parallel, so their union counts).
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
    }.toMap
  }
}

/** A side whose catalog calls are spans: `sources.list`, `sources.schema`
  * and `sources.table` (which resolves the relation on first use).
  */
final class TracedSide(inner: Side, tr: Tracer) extends Side {
  override def id: String = inner.id
  override def listTables(): Seq[String] = tr.span("sources.list")(inner.listTables())
  override def table(name: String): DataFrame = tr.span("sources.table")(inner.table(name))
  override def schema(name: String): StructType = tr.span("sources.schema")(inner.schema(name))
}

/** Task metrics summed over a set of stages. */
final class StageTotals {
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var reduceTasks = 0L
  var inputRecords = 0L
}

/** Stage metrics per job, with each job's job group and interval. Kept in
  * the benchmark's files: graft itself installs no listener.
  */
final class StageListener extends SparkListener {
  private final class Stage(val job: Int, val reduce: Boolean) {
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input = 0L
  }
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobEnd = new ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
    jobGroup.put(e.jobId, group.getOrElse(""))
    jobStart.put(e.jobId, e.time)
    e.stageInfos.foreach(s => stages.putIfAbsent(s.stageId, new Stage(e.jobId, s.parentIds.nonEmpty)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stages.get(e.stageId)
    if (m != null && s != null) s.synchronized {
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.recordsRead
    }
  }

  /** Totals over the stages of the jobs run under any of `groups`. */
  def totals(groups: Set[String]): StageTotals = {
    val t = new StageTotals
    stages.asScala.values.filter(s => s.tasks > 0 && groups.contains(jobGroup.get(s.job)))
      .foreach { s =>
        s.synchronized {
          t.stages += 1
          t.tasks += s.tasks
          t.runMs += s.runMs
          t.cpuNs += s.cpuNs
          t.gcMs += s.gcMs
          t.shuffleWrite += s.shuffleWrite
          t.shuffleRead += s.shuffleRead
          t.spill += s.spill
          t.inputRecords += s.input
          if (s.reduce) t.reduceTasks += s.tasks
        }
      }
    t
  }

  /** Ids and wall-clock intervals (ms) of the jobs run under `groups`. */
  def jobs(groups: Set[String]): Seq[(Int, Long, Long)] =
    jobGroup.asScala.toSeq.collect {
      case (id, g) if groups.contains(g) && jobEnd.containsKey(id) =>
        (id, jobStart.get(id), jobEnd.get(id))
    }
}
