package graft

import graft.RootFormat._
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
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
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // host-load marker taken before and after the sweep: lets a reader
    // adjudicate "was the host noisy?" without re-running (r12 published a
    // 0.6 s query as 130 s because nothing recorded contention)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadBefore = osBean.getSystemLoadAverage
    // r17: load sampled at every round boundary (not just before/after
    // the sweep) so a contention window is attributable to the round it
    // hit — the r16 q_naive_bayes burst took a separate quiescent rerun
    // to adjudicate; with per-round load the artifact self-documents it
    val loadPerRound = scala.collection.mutable.ListBuffer.empty[Double]
    var round = 0
    var roundsDone = 0
    var firstRoundSec = 0.0
    // min-of-N is the whole point of interleaved rounds: a single sample
    // cannot distinguish host noise from a plan regression (BENCH_r12 ran
    // one round at 223 queries because the fixed 420 s budget was smaller
    // than one round's wall). So round 2 ALWAYS runs, and from round 3 on
    // the gate uses an effective budget scaled to the measured first-round
    // wall (>= 2.5x) so growth in query count can never re-create the
    // single-sample artifact.
    def render(): String = {
      val loadNow = osBean.getSystemLoadAverage
      val results = names.map { case (name, _) =>
        val ts = samples(name).sorted
        name -> ts(ts.length / 2)
      }
      val qs = results.map { case (k, v) => "\"" + k + "\":" + rf"$v%.3f" }
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      // min-of-rounds published alongside the median: single runs on this
      // shared host spike 10-25x in noisy-neighbor windows (NOTES r11), so
      // a per-query median >> min flags noise, not a plan regression — the
      // artifact self-documents which spikes to distrust
      val mins = names.map { case (name, _) => name -> samples(name).min }
      val qsMin = mins.map { case (k, v) => "\"" + k + "\":" + rf"$v%.3f" }
        .mkString("{", ",", "}")
      val totalMin = mins.map(_._2).sum
      // full per-query sample lists (newest-first) so a future reader can
      // adjudicate noise vs regression from the artifact alone
      val qsSamples = names.map { case (name, _) =>
        "\"" + name + "\":[" +
          samples(name).map(t => rf"$t%.3f").mkString(",") + "]"
      }.mkString("{", ",", "}")
      val loadRounds = loadPerRound.map(l => rf"$l%.2f").mkString("[", ",", "]")
      rf"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"value_min":$totalMin%.3f,"queries_min":$qsMin,"samples":$qsSamples,"sf":"$sfDir","rounds":$roundsDone,"load_avg_before":$loadBefore%.2f,"load_avg_after":$loadNow%.2f,"load_per_round":$loadRounds,"settle_sec":$settleSec%.1f}"""
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
    // compact summary (≤1.5 KB): totals + top-20 queries by min-of-rounds;
    // emitted as the very last stdout line so the driver's 2000-char
    // stdout tail always contains one complete, parseable JSON object
    def renderCompact(): String = {
      val loadNow = osBean.getSystemLoadAverage
      val med = names.map { case (name, _) =>
        val ts = samples(name).sorted
        name -> ts(ts.length / 2)
      }
      val mins = names.map { case (name, _) => name -> samples(name).min }
      val top = mins.sortBy(-_._2).take(20).map(_._1).toSet
      def m(kv: Seq[(String, Double)]): String = kv
        .filter { case (k, _) => top.contains(k) }
        .map { case (k, v) => "\"" + k + "\":" + rf"$v%.3f" }
        .mkString("{", ",", "}")
      val loadRounds = loadPerRound.map(l => rf"$l%.2f").mkString("[", ",", "]")
      rf"""{"metric":"total","value":${med.map(_._2).sum}%.3f,"unit":"sec","queries":${m(med)},"value_min":${mins.map(_._2).sum}%.3f,"queries_min":${m(mins)},"n_queries":${names.length},"top":20,"full_map":"$outPath","sf":"$sfDir","rounds":$roundsDone,"load_avg_before":$loadBefore%.2f,"load_avg_after":$loadNow%.2f,"load_per_round":$loadRounds,"settle_sec":$settleSec%.1f}"""
    }
    while (round < runs && {
      val elapsed = (System.nanoTime() - benchStart) / 1e9
      val effBudget = math.max(budgetSec, 2.5 * firstRoundSec)
      round < 2 || elapsed < effBudget
    }) {
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name)
      }
      round += 1
      roundsDone = round
      loadPerRound += osBean.getSystemLoadAverage
      if (round == 1) firstRoundSec = (System.nanoTime() - benchStart) / 1e9
      persist(render())
    }
    val json = render()
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
    println(renderCompact())
    spark.stop()
  }
}
