package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftSession
import org.apache.spark.PerfbenchListenerBus

/** Closed loop with one client: one operation at a time, each started when
  * the previous one has returned, as a user of `graft run` waits for it.
  *
  * A run builds the session once, cold, and opens the inputs (set-up),
  * times the first operation of the process, checks it, does the
  * workload's warm-ups, then measures operations for `--seconds`. With
  * `--trace 1` it instead records spans around each call into graft, stage
  * metrics and GC readings, and reports per-layer metrics; its end-to-end
  * times are not reported.
  *
  * Arguments (all `--name value`): workload, cores, seconds, trace (0|1),
  * work (a working directory), result (JSON written at the end), and
  * either fixture (diff workloads) or data plus expected (registry_hot).
  */
object Main {
  val MinOps = 3
  /** CPUs' worth of time the hypervisor may give other guests during an
    * operation that [[undisturbed]] counts as undisturbed.
    */
  val MaxStealShare = 0.1
  /** Untraced operations a traced run times to measure tracing overhead. */
  val Reference = 2

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val cores = opt("cores").toInt
    val trace = opt.get("trace").contains("1")
    val work = Paths.get(opt("work")).toAbsolutePath
    val workload: Workload = name match {
      case "registry_hot" =>
        val pinned = mapper.readTree(new File(opt("expected"))).fields().asScala
          .map(e => e.getKey -> e.getValue.asText).toMap
        new RegistryWorkload(opt("data"), pinned)
      case "diff_sf01" =>
        val fx = opt("fixture")
        new DiffWorkload(s"$fx/db1", s"$fx/db2", mapper.readTree(new File(s"$fx/expected.json")),
          work.resolve("out"))
      case other => sys.error(s"unknown workload: $other")
    }

    val tr = new Tracer(trace)
    val untraced = new Tracer(false)
    val t0 = System.nanoTime()
    val spark = tr.span("session.build") {
      GraftSession.builder("perfbench", cores.toString)
        .master(s"local[$cores]")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .getOrCreate()
    }
    val build = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    tr.sc = spark.sparkContext
    tr.span("sources.open")(workload.open(spark, tr))
    val setup = (System.nanoTime() - t0) / 1e9

    val listener = new StageListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val loads = ArrayBuffer.empty[Double]
    val steals = ArrayBuffer.empty[Double]
    val gcBean = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds = gcBean.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    def loadAvg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val done = ArrayBuffer.empty[OpResult]
    def op(t: Tracer): OpResult = {
      val steal0 = stealSeconds
      val r = workload.run(spark, t)
      steals += stealSeconds - steal0
      System.err.println(f"perfbench: op ${done.size}%d ${r.seconds}%.3f s steal ${steals.last}%.2f s " +
        r.units.toSeq.sorted.map { case (u, x) => f"$u=$x%.3f" }.mkString(" "))
      done += r
      loads += loadAvg
      r
    }

    val first = op(untraced)
    val (checked, checkFailed) = workload.check(spark)
    // a wrong result fails the run, and nothing after it is timed
    val timed = first.failed.isEmpty && checkFailed.isEmpty
    if (timed) (1 to workload.warmups).foreach(_ => op(untraced))
    val measured = ArrayBuffer.empty[OpResult]
    val reference = ArrayBuffer.empty[OpResult]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    def more = measured.size < MinOps || (System.nanoTime() - start) / 1e9 < opt("seconds").toDouble
    if (!timed) ()
    else if (!trace) while (more) measured += op(untraced)
    else {
      (1 to Reference).foreach(_ => reference += op(untraced))
      while (more) {
        val gc0 = gcSeconds
        val ms0 = System.currentTimeMillis()
        val r = op(tr)
        val ms1 = System.currentTimeMillis()
        val gc = gcSeconds - gc0
        tr.span("probe")(workload.probe(spark, tr))
        PerfbenchListenerBus.drain(spark.sparkContext)
        val spans = tr.spans
        val root = spans.filter(s => s.name == "op" && s.parent == 0).last
        val probe = spans.filter(s => s.name == "probe" && s.parent == 0).lastOption
        measured += r
        layers += workload.layerMetrics(spans, root, probe, listener) ++
          engine(listener, Tracer.subtree(spans, root.id), ms0, ms1, cores) + ("jvm.gc_s" -> gc)
      }
    }

    val attempted = checked + done.map(_.attempted).sum
    val failedUnits = checkFailed ++ done.flatMap(_.failed)
    val opSeconds = measured.map(_.seconds).toSeq
    val opSteal = steals.takeRight(measured.size).toSeq

    val metrics: Map[String, Double] =
      if (!timed) Map.empty
      else if (!trace) {
        val run = undisturbed(opSeconds, opSteal)
        Map(
          "setup_s" -> setup,
          "first_run_s" -> first.seconds,
          "run_s" -> run,
          "rows_per_s" -> workload.inputRows / run,
          "peak_rss_mb" -> peakRssMb,
          "out_bytes" -> median(measured.map(r => workload.outBytes(r).toDouble).toSeq))
      } else {
        val keys = layers.flatMap(_.keys).distinct
        keys.map(k => k -> median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
          "session.build_s" -> build,
          "trace.overhead_s" -> (median(opSeconds) - median(reference.map(_.seconds).toSeq)))
      }
    spark.stop()

    val out = mapper.createObjectNode()
    out.put("correct", failedUnits.isEmpty)
    out.put("attempted", attempted)
    out.put("failed", failedUnits.size)
    val m = out.putObject("metrics")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    val ctx = out.putObject("context")
    ctx.put("workload", name)
    ctx.put("cores", cores)
    ctx.put("warmups", done.size - measured.size + (if (checked > 0) 1 else 0))
    ctx.put("measured_ops", measured.size)
    ctx.put("traced", trace)
    failedUnits.distinct.sorted.foreach(ctx.withArray("failed_units").add(_))
    opSeconds.foreach(ctx.withArray("op_seconds").add(_))
    ctx.put("median_op_s", median(opSeconds))
    loads.foreach(ctx.withArray("load_avg_per_op").add(_))
    steals.foreach(ctx.withArray("steal_s_per_op").add(_))
    if (trace) writeTrace(tr.spans, Paths.get(opt("result") + ".spans.json"))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(opt("result")), out)
  }

  /** Spark engine metrics of one operation, from the jobs its spans ran. */
  private def engine(listener: StageListener, spans: Seq[Span], ms0: Long, ms1: Long,
                     cores: Int): Map[String, Double] = {
    val groups = Workload.groups(spans)
    val t = listener.totals(groups)
    val jobs = listener.jobs(groups)
    val wall = (ms1 - ms0) / 1e3
    val busy = Tracer.covered(jobs.map(j => (j._2, j._3)), ms0, ms1) / 1e3
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.executor_run_s" -> t.runMs / 1e3,
      "spark.executor_cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.shuffle_bytes" -> t.shuffleWrite.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.slot_util" -> (if (wall > 0) t.runMs / 1e3 / (wall * cores) else 0.0),
      "spark.driver_only_s" -> (wall - busy))
  }

  /** Every span, with its self time, and totals per span name. */
  private def writeTrace(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val self = Tracer.selfSeconds(spans)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val root = mapper.createObjectNode()
    val list = root.putArray("spans")
    spans.sortBy(_.startNs).foreach { s =>
      val n = list.addObject()
      n.put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_s", (s.startNs - t0) / 1e9).put("end_s", (s.endNs - t0) / 1e9)
        .put("self_s", self(s.id))
    }
    val byName = root.putObject("by_name")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      byName.putObject(name).put("count", ss.size).put("total_s", ss.map(_.seconds).sum)
        .put("self_s", ss.map(s => self(s.id)).sum)
    }
    Files.createDirectories(path.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }

  /** CPU time the hypervisor gave to other guests, summed over this
    * machine's CPUs, from /proc/stat (in USER_HZ ticks, 100 per second).
    */
  private def stealSeconds: Double = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100 else 0.0
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Median time of the operations the host left alone: those during which
    * the hypervisor gave other guests less than a tenth of a CPU, or, if
    * that is fewer than half of them, the least disturbed half. On a shared
    * host such phases last a minute or more and stretch every thread
    * hand-off of an operation, by up to twice; that is the host's time, not
    * the program's.
    */
  def undisturbed(seconds: Seq[Double], steal: Seq[Double]): Double = {
    val byShare = seconds.zip(steal).map { case (t, s) => (t, s / t) }.sortBy(_._2)
    val quiet = byShare.count(_._2 <= MaxStealShare).max((byShare.size + 1) / 2)
    median(byShare.take(quiet).map(_._1))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
