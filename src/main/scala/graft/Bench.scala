package graft

import scala.collection.mutable

import graft.RootFormat._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * A query that throws is reported as failed, never timed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    // r19: session config centralized in GraftSession (one definition
    // site shared with Verify/ExplainQ/GraftApp; the r18 AQE rationale
    // comments live there). Identical settings to the r18 bench.
    val spark = GraftSession.builder("graft-bench", cpus)
      .master(s"local[$cpus]")
      .getOrCreate()
    // uncounted warmup: JIT/codegen + parquet footer reads, not query work
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.t(spark, sfDir, "lineitem").limit(1).collect()
    // fault in the shuffle write/read path once: this host's first-touch
    // pages are ~10x slower than reuse (see NOTES), so an uncounted
    // shuffle keeps that cost out of the first measured queries
    spark.range(4000000L).selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").count().count()
    // median of N runs per query, taken as INTERLEAVED ROUNDS (run every
    // query once, then sweep again) rather than back-to-back repeats:
    // this host's noise comes in multi-second contention windows, so
    // back-to-back repeats of one query share a window and its median
    // still inflates, while interleaving decorrelates host noise from
    // query identity. The median over rounds absorbs one bad window.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional comma-separated query filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // wall-clock budget: a full 140-query round is ~90-120 s here; later
    // rounds start only while the budget holds, so exhaustion degrades
    // every query to the SAME smaller round count (never a single-run
    // tail while head queries got three, as the per-query loop did)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "420").toDouble
    // r18 settle gate: the driver runs the correctness gate immediately
    // before the bench and its tail contends with round 1 (r17b
    // load_per_round [5.07, 2.92, 2.97] — round 1 carried the gate
    // tail, making min-of-3 a repair mechanism). Wait UNCOUNTED until
    // the 1-minute load decays under the target or the settle budget
    // runs out; the 1-min average decays with a ~60 s time constant, so
    // the default 120 s cap covers a 5.1 → 3.5 decay with margin.
    val settleMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE", "120").toDouble
    val settleTarget =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_LOAD", "3.5").toDouble
    val osBean0 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val settleStart = System.nanoTime()
    while (osBean0.getSystemLoadAverage > settleTarget &&
        (System.nanoTime() - settleStart) / 1e9 < settleMax)
      Thread.sleep(5000)
    val settleSec = (System.nanoTime() - settleStart) / 1e9
    val benchStart = System.nanoTime()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val record = new Record(queries.map(_._1))
    // host-load marker taken before and after the sweep: lets a reader
    // adjudicate "was the host noisy?" without re-running (r12 published a
    // 0.6 s query as 130 s because nothing recorded contention)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    // r17: load sampled at every round boundary (not just before/after
    // the sweep) so a contention window is attributable to the round it
    // hit — the r16 q_naive_bayes burst took a separate quiescent rerun
    // to adjudicate; with per-round load the artifact self-documents it
    val loadPerRound = mutable.ListBuffer.empty[Double]
    var round = 0
    var roundsDone = 0
    var firstRoundSec = 0.0
    // the run's context fields, closing both JSON lines
    def context(): String = {
      val loadRounds = loadPerRound.map(l => rf"$l%.2f").mkString("[", ",", "]")
      rf""""sf":"$sfDir","rounds":$roundsDone,"load_avg_before":$loadBefore%.2f,"load_avg_after":${osBean.getSystemLoadAverage}%.2f,"load_per_round":$loadRounds,"settle_sec":$settleSec%.1f}"""
    }
    // written after EVERY round (not just at exit): a harness that kills
    // a long multi-round run still finds the last completed round's
    // artifact on disk — partial progress is never lost
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    def persist(json: String): Unit =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outPath),
          (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"bench_out write failed: ${e.getMessage}")
      }
    // min-of-N is the whole point of interleaved rounds: a single sample
    // cannot distinguish host noise from a plan regression (BENCH_r12 ran
    // one round at 223 queries because the fixed 420 s budget was smaller
    // than one round's wall). So round 2 ALWAYS runs, and from round 3 on
    // the gate uses an effective budget scaled to the measured first-round
    // wall (>= 2.5x) so growth in query count can never re-create the
    // single-sample artifact.
    while (round < runs && {
      val elapsed = (System.nanoTime() - benchStart) / 1e9
      val effBudget = math.max(budgetSec, 2.5 * firstRoundSec)
      round < 2 || elapsed < effBudget
    }) {
      record.round(spark, sfDir, queries)
      round += 1
      roundsDone = round
      loadPerRound += osBean.getSystemLoadAverage
      if (round == 1) firstRoundSec = (System.nanoTime() - benchStart) / 1e9
      persist(record.fullLine(context()))
    }
    val json = record.fullLine(context())
    // full map first (archival; also persisted to bench_out.json below) …
    println(json)
    persist(json)
    // … then a COMPACT (≤1.5 KB) one-line JSON as the FINAL stdout line
    // (r19, VERDICT item 1): the driver keeps only the last ~2000 chars
    // of stdout, and the full 402-query line is ~33 KB — its opening
    // brace never reached the capture window, so BENCH_r16..r18 all
    // parsed as null and PERF ran blind. The compact line carries the
    // totals plus the top-20 queries by min-of-rounds (median and min
    // maps, same value semantics as the full line); the complete
    // per-query map stays in bench_out.json.
    println(record.compactLine(s""""full_map":"$outPath",""" + context()))
    spark.stop()
  }

  /** The hard cap on the compact line, the last stdout line: a reader
    * that keeps only a ~2000-char tail of stdout still gets all of it.
    */
  val compactCap = 1500

  /** The middle sample, or the mean of the two middle samples of an even count. */
  def median(xs: Seq[Double]): Double = {
    val ts = xs.sorted
    val m = ts.length / 2
    if (ts.length % 2 == 1) ts(m) else (ts(m - 1) + ts(m)) / 2
  }

  /** Per-query timings over the bench's rounds. A query that throws is
    * recorded as failed (its error goes to stderr), is not run again, and
    * is left out of every timing map and total: a failure is not a fast
    * query.
    */
  final class Record(names: Seq[String]) {
    private val samples = mutable.Map.empty[String, List[Double]]
    private val failures = mutable.LinkedHashSet.empty[String]

    /** Times each query that has not failed once, with `.count()`. */
    def round(spark: SparkSession, sfDir: String,
              queries: Seq[(String, (SparkSession, String) => DataFrame)]): Unit =
      queries.foreach { case (name, fn) =>
        if (!failures(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            samples(name) = (System.nanoTime() - t0) / 1e9 :: samples.getOrElse(name, Nil)
          } catch { case e: Throwable =>
            System.err.println(s"bench: $name failed: $e")
            failures += name
            samples -= name
          }
        }
      }

    /** Failed queries, in the order they failed. */
    def failed: Seq[String] = failures.toSeq

    private def timed: Seq[String] = names.filter(samples.contains)
    private def medians = timed.map(n => n -> median(samples(n)))
    // min-of-rounds published alongside the median: single runs on this
    // shared host spike 10-25x in noisy-neighbor windows (NOTES r11), so
    // a per-query median >> min flags noise, not a plan regression — the
    // artifact self-documents which spikes to distrust
    private def mins = timed.map(n => n -> samples(n).min)

    private def secs(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + rf"$v%.3f" }.mkString("{", ",", "}")

    /** The line's head: totals over the timed queries, the `shown` ones'
      * medians and mins, and `n_failed` with the first `nFailed` names.
      */
    private def head(shown: String => Boolean, nFailed: Int): String = {
      val (med, min) = (medians, mins)
      def pick(kv: Seq[(String, Double)]) = secs(kv.filter { case (k, _) => shown(k) })
      val names = failed.take(nFailed).map("\"" + _ + "\"").mkString("[", ",", "]")
      rf"""{"metric":"total","value":${med.map(_._2).sum}%.3f,"unit":"sec","queries":${pick(med)},"value_min":${min.map(_._2).sum}%.3f,"queries_min":${pick(min)},"n_failed":${failed.size},"failed":$names,"""
    }

    /** Every query's median, min and samples (newest-first, so a reader can
      * tell noise from a regression from the artifact alone) and every
      * failed name; `context` closes the object.
      */
    def fullLine(context: String): String = {
      val qsSamples = timed.map { n =>
        "\"" + n + "\":" + samples(n).map(t => rf"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      head(_ => true, failed.size) + s""""samples":$qsSamples,""" + context
    }

    /** The totals, as many failed names as fit, and the top (at most 20)
      * queries by min-of-rounds, within [[compactCap]] chars; `context`
      * closes the object. `top` is the count shown.
      */
    def compactLine(context: String): String = {
      val slowest = mins.sortBy(-_._2).map(_._1)
      def line(nFailed: Int, top: Int): String = {
        val shown = slowest.take(top).toSet
        head(shown, nFailed) +
          s""""n_queries":${names.length},"top":${shown.size},""" + context
      }
      def fit(hi: Int)(f: Int => String): String =
        (hi to 0 by -1).iterator.map(f).find(_.length <= compactCap).getOrElse(f(0))
      fit(failed.size)(nf => fit(20)(top => line(nf, top)))
    }
  }
}
