package graft

import graft.operators.{Dedup, Materialize, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

class WeightedSampleSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs(n: Int) = (1L to n.toLong).map(i => (i, i.toDouble))
    .toDF("doc_id", "w")

  test("weightedSample is deterministic, exact-k, and excludes nonpositive weights") {
    val df = docs(200).withColumn("w",
      when($"doc_id" <= 10, lit(0.0)).otherwise($"w"))
    val s1 = Sampling.weightedSample(df, "doc_id", col("w"), 50)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val s2 = Sampling.weightedSample(df, "doc_id", col("w"), 50)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == s2) // content-addressed: stable across runs
    assert(s1.size == 50)
    assert(s1.forall(_ > 10)) // zero-weight rows never sampled
  }

  test("weightedSample takes everything when k >= eligible rows") {
    val out = Sampling.weightedSample(docs(5), "doc_id", col("w"), 100)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == (1L to 5L).toSeq)
  }

  test("weightedSample favors heavy rows (A-ES inclusion ~ weight)") {
    // one row with 10_000x the weight of the rest must be included
    val df = docs(500).withColumn("w",
      when($"doc_id" === 42, lit(1e6)).otherwise(lit(100.0)))
    val out = Sampling.weightedSample(df, "doc_id", col("w"), 20)
      .select("doc_id").as[Long].collect().toSet
    assert(out.contains(42L))
  }
}

class FilterTopQuantileSpec extends SparkSpecBase {
  import spark.implicits._

  test("threshold is min{v : F(v) >= q}") {
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val kept = Sampling.filterTopQuantile(df, "v", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    // F(5) = 0.5 -> threshold 5.0, keep 5..10
    assert(kept == (5L to 10L).toSeq)
  }

  test("ties accumulate: a heavy low value can be the threshold") {
    val df = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 2.0)).toDF("id", "v")
    val kept = Sampling.filterTopQuantile(df, "v", 0.5)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L)) // F(1.0) = 0.75 >= 0.5
  }
}

class IncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("new docs are matched to lowest-id corpus near-dup or flagged novel") {
    def long(s: String) = Iterator.fill(15)(s).mkString(" ")
    val corpus = Seq(
      (1L, long("alpha beta gamma delta")),
      (2L, long("alpha beta gamma delta")),     // same content as 1
      (3L, long("omega psi chi"))).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, long("alpha beta gamma delta")),    // dup of corpus 1 and 2
      (11L, long("totally new content here")),  // novel
      (12L, null.asInstanceOf[String])).toDF("doc_id", "text") // null: novel
    val out = Dedup.incrementalDedup(fresh, corpus, "text", "doc_id", 0.5)
      .select("new_id", "matched_id", "is_novel")
      .as[(Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, Some(1L), false), // lowest-id match wins
      (11L, None, true),
      (12L, None, true)))
  }

  test("asymmetry: corpus-internal duplicates emit nothing") {
    def long(s: String) = Iterator.fill(15)(s).mkString(" ")
    val corpus = Seq((1L, long("a b c")), (2L, long("a b c"))).toDF("doc_id", "text")
    val fresh = Seq((10L, long("x y z"))).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(fresh, corpus, "text", "doc_id", 0.5)
    assert(out.count() == 1) // one row per NEW doc only
  }
}

class DuplicateNgramSpec extends SparkSpecBase {
  import spark.implicits._

  test("duplicate n-gram fraction counts grams shared across documents") {
    val shared = "one two three four five six"           // 2 distinct 5-grams
    val df = Seq(
      (1L, s"$shared unique1 tail1"),
      (2L, s"$shared unique2 tail2"),
      (3L, "completely different words here now ok")).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateNgramFraction(df, "text", "doc_id", 5)
      .select("doc_id", "n_grams", "n_dup_grams")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // docs 1/2: 8 tokens -> 4 grams each; the first 2 grams are shared
    assert(out == Seq((1L, 4L, 2L), (2L, 4L, 2L), (3L, 2L, 0L)))
  }

  test("short docs fall back to the whole text as one gram") {
    val df = Seq((1L, "tiny doc"), (2L, "tiny doc"), (3L, "other")).toDF("doc_id", "text")
    val out = TextAnalysis.duplicateNgramFraction(df, "text", "doc_id", 5)
      .select("doc_id", "n_grams", "dup_frac")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 1L, 1.0), (2L, 1L, 1.0), (3L, 1L, 0.0)))
  }
}

class ExportSpec extends SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("trainingShards: every doc packed exactly once, sequences respect maxTokens") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val maxTokens = 64
    val m = graft.operators.Export
      .trainingShards(docs, "text", "doc_id", "lang", maxTokens, nShards = 4,
        nMerges = 40, minCount = 2)
      .cache()
    // bijection: each input doc appears exactly once
    assert(m.count() == docs.count())
    assert(m.select("doc_id").distinct().count() == docs.count())
    // every (shard, lang, seq) either fits the budget or is a single
    // oversize doc with its own sequence
    val bad = m.groupBy("shard", "lang", "seq_id")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("nd"))
      .filter($"tot" > maxTokens && $"nd" > 1)
    assert(bad.count() == 0, s"overfull multi-doc sequences: ${bad.collect().toSeq}")
    // offsets are the running prefix within each sequence
    val offBad = m.groupBy("shard", "lang", "seq_id")
      .agg(min("offset").as("o0"), (sum("n_tokens") - max($"offset" + $"n_tokens")).as("gap"))
      .filter($"o0" =!= 0L || $"gap" =!= 0L)
    assert(offBad.count() == 0, s"broken offsets: ${offBad.collect().toSeq}")
    // shards are balanced within 3x of each other (content-addressed hash)
    val counts = m.groupBy("shard").count().as[(Long, Long)].collect().map(_._2)
    assert(counts.length == 4 && counts.max <= 3 * counts.min, counts.toSeq.toString)
    m.unpersist()
  }

  test("writeShards: partitioned parquet round-trips and the manifest conserves totals") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    val maxTokens = 64
    val m = graft.operators.Export
      .trainingShards(docs, "text", "doc_id", "lang", maxTokens, nShards = 2,
        nMerges = 40, minCount = 2)
    val manifest = graft.operators.Export
      .writeShards(docs, m, "text", "doc_id", "lang", maxTokens, out)
      .cache()
    // physical layout: one directory per shard
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(dirs.toSeq == Seq("shard=0", "shard=1"))
    // totals conserve: docs and pieces match the manifest input
    val total = manifest.agg(sum("n_docs"), sum("n_pieces"))
      .as[(Long, Long)].collect()(0)
    val expected = m.agg(count(lit(1)), sum("n_tokens")).as[(Long, Long)].collect()(0)
    assert(total == expected, s"$total != $expected")
    // and the manifest agrees with what physically landed (the summary
    // itself deliberately does NOT re-scan the export)
    val landed = spark.read.parquet(out)
      .agg(count(lit(1)), sum("n_tokens")).as[(Long, Long)].collect()(0)
    assert(landed == expected, s"landed $landed != $expected")
    // packing actually packs: utilization comfortably above a degenerate
    // one-doc-per-sequence layout
    assert(manifest.filter($"utilization" <= 0.5).count() == 0,
      manifest.collect().toSeq.toString)
    manifest.unpersist()
  }
}

class DomainBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  test("domainBudgetSelect caps each domain independently, best-first") {
    val df = Seq(
      ("a", 1L, 60L), ("a", 2L, 50L), ("a", 3L, 40L), ("a", 4L, 10L),
      ("b", 5L, 100L), ("b", 6L, 90L), ("b", 7L, 5L)
    ).toDF("dom", "id", "tok")
    val out = Sampling.domainBudgetSelect(df, "dom", "id", "tok", "tok", 100L)
      .select("dom", "id", "cum_tokens").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    // domain a: 60, 60+50=110 > 100 stops after the first; domain b: 100
    assert(out == Seq(("a", 1L, 60L), ("b", 5L, 100L)))
  }

  test("domainBudgetSelect matches the single-window formulation on sf data") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.t(spark, sfDir, "documents")
      .select("source", "doc_id", "n_chars")
    val got = Sampling.domainBudgetSelect(docs, "source", "doc_id",
        "n_chars", "n_chars", 2000L)
      .select("source", "doc_id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exp = docs.withColumn("cum_tokens", sum(col("n_chars")).over(w))
      .filter(col("cum_tokens") <= 2000L)
      .select("source", "doc_id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }

  test("budget selects are execution-stable: repeated runs match the window truth (boundary-sampling regression)") {
    // Regression for a live sf0.1 bug: the range-partitioned frame was
    // evaluated once per pass, and RangePartitioner seeds its boundary
    // sampling from the RDD id — pass 2 could draw DIFFERENT boundaries
    // than the ones pass 1's offsets were computed for, so rows near a
    // boundary added the wrong offset. The operators now localCheckpoint
    // the layout; this asserts repeated executions all equal the
    // single-window truth on a large-enough input to cross boundaries.
    import org.apache.spark.sql.expressions.Window
    val docs = spark.range(5000).select(
      (col("id") % 7).cast("string").as("dom"), col("id"),
      (col("id") * 2654435761L % 1000).as("score"),
      (col("id") % 97 + 1).as("tok"))
    val w = Window.partitionBy("dom")
      .orderBy(col("score").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val truth = docs.withColumn("cum_tokens", sum(col("tok")).over(w))
      .filter(col("cum_tokens") <= 5000L)
      .select("dom", "id", "cum_tokens")
      .as[(String, Long, Long)].collect().toSet
    (1 to 3).foreach { i =>
      val got = Sampling.domainBudgetSelect(docs, "dom", "id", "score",
          "tok", 5000L, nPartitions = 32)
        .select("dom", "id", "cum_tokens")
        .as[(String, Long, Long)].collect().toSet
      assert(got == truth, s"run $i diverged: ${got.size} vs ${truth.size}")
    }
    val wg = Window.orderBy(col("score").desc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val truthG = docs.withColumn("cum_tokens", sum(col("tok")).over(wg))
      .filter(col("cum_tokens") <= 5000L)
      .select("id").as[Long].collect().toSet
    (1 to 3).foreach { i =>
      val got = Sampling.tokenBudgetSelect(docs, "id", "score", "tok",
          5000L, nPartitions = 32)
        .select("id").as[Long].collect().toSet
      assert(got == truthG, s"token run $i diverged")
    }
  }

  test("release drops the pinned budget-select layout (and only after release)") {
    def pinnedIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
      val acc = scala.collection.mutable.Set[Int]()
      def walk(r: org.apache.spark.rdd.RDD[_], depth: Int): Unit =
        if (depth < 20) {
          if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
            acc += r.id
          r.dependencies.foreach(d => walk(d.rdd, depth + 1))
        }
      df.queryExecution.logical.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => walk(lr.rdd, 0)
        case _ => ()
      }
      acc.toSet
    }
    val docs = spark.range(500).select(col("id"), (col("id") % 13).as("score"),
      (col("id") % 7 + 1).as("tok"))
    val sel = Sampling.tokenBudgetSelect(docs, "id", "score", "tok", 100000L)
    assert(sel.count() > 0)
    assert(pinnedIds(sel).nonEmpty, "expected the checkpointed layout pinned")
    Materialize.release(sel)
    assert(pinnedIds(sel).isEmpty, "release must unpersist the layout")
  }

  test("domainBudgetSelect survives more partitions than rows") {
    val df = Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("dom", "id", "tok")
    val out = Sampling.domainBudgetSelect(df, "dom", "id", "tok", "tok",
        100L, nPartitions = 16)
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L))
  }
}

class SurvivorshipSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    // near-dup cluster {1, 2}: 2 is longer -> 2 must survive
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today", 70L),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today again", 76L),
    // exact-dup cluster {3, 4}: equal score -> tie to the lower id
    (3L, "completely different content about spark catalyst optimizer internals", 70L),
    (4L, "completely different content about spark catalyst optimizer internals", 70L),
    // singleton
    (5L, "yet another unrelated string talking about minhash lsh banding theory", 69L)
  ).toDF("doc_id", "text", "score")

  test("survivorship keeps the best-scored member; component stays min id") {
    val out = Dedup.survivorshipDedup(docs, "text", "doc_id", "score", 0.5)
      .select("component", "cluster_size", "rep_id", "rep_score")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 2L, 2L, 76L), (3L, 2L, 3L, 70L), (5L, 1L, 5L, 69L)))
  }

  test("null-text docs survive as their own singleton clusters") {
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String], 1L)).toDF("doc_id", "text", "score"))
    val out = Dedup.survivorshipDedup(withNull, "text", "doc_id", "score", 0.5)
      .filter($"component" === 9L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((9L, 1L, 9L, 1L)))
  }

  test("min-id and best-score policies agree on cluster membership") {
    val d = Tables.t(spark, sfDir, "documents")
    val classic = Dedup.dedupCorpus(d, "text", "doc_id", 0.5)
      .select("component").as[Long].collect().toSet
    val surv = Dedup.survivorshipDedup(d, "text", "doc_id", "n_chars", 0.5)
      .select("component").as[Long].collect().toSet
    assert(classic == surv)
  }
}

class QuantileBinsSpec extends SparkSpecBase {
  import spark.implicits._

  test("uniform values bin into equal deciles") {
    val df = (1L to 100L).map(i => Tuple1(i)).toDF("v")
    val out = graft.operators.Profile.quantileBins(df, "v", 10)
      .select("bin", "n_rows", "min_v", "max_v")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.size == 10)
    assert(out.forall(_._2 == 10L))
    assert(out.head == ((0, 10L, 1L, 10L)))
    assert(out.last == ((9, 10L, 91L, 100L)))
  }

  test("equal values always land in the same bin (unlike ntile)") {
    val df = (1 to 100).map(i => Tuple1(if (i <= 60) 5L else i.toLong)).toDF("v")
    val bins = graft.operators.Profile.quantileBins(df, "v", 10)
      .filter($"min_v" <= 5L && $"max_v" >= 5L).count()
    assert(bins == 1L) // the 60-copy value occupies exactly one bin
  }
}

class MmrSpec extends SparkSpecBase {
  import spark.implicits._

  // 8 points, 2 exact one-hot clusters (ids 0-3 cluster 0, 4-7 cluster 1),
  // relevance decreasing in id
  private def pts = (0L to 7L).map { i =>
    val v = Array.fill(4)(0.0); v((i / 4).toInt) = 10.0
    (i, v.toSeq, 1.0 - 0.001 * i)
  }.toDF("id", "v", "rel")

  test("mmr alternates clusters before falling back to relevance") {
    val got = graft.operators.Similarity
      .mmrSelect(pts, "id", "v", "rel", 4, 0.7, 8)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).toSeq
    // pick 0 (top rel), then 4 (other cluster), then 1, 2 by relevance
    assert(got == Seq((1, 0L), (2, 4L), (3, 1L), (4, 2L)))
  }

  test("lambda = 1 reduces MMR to pure relevance order") {
    val got = graft.operators.Similarity
      .mmrSelect(pts, "id", "v", "rel", 4, 1.0, 8)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L, 2L, 3L))
  }

  test("candidate pre-filter bounds the pool") {
    val got = graft.operators.Similarity
      .mmrSelect(pts, "id", "v", "rel", 4, 0.7, 4)
      .select("id").as[Long].collect().toSeq
    // pool = ids 0..3 (top-4 by relevance, all one cluster): after 0,
    // every remaining candidate is penalized equally -> relevance order
    assert(got == Seq(0L, 1L, 2L, 3L))
  }
}

class RandomProjectSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.operators.Similarity

  private def vecs(n: Int, dim: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(13)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  test("randomProject is deterministic, lane-complete, and near-orthonormal") {
    val df = vecs(40, 64).toDF("id", "vec")
    val a = Similarity.randomProject(df, "id", "vec", 8).orderBy("id", "j").collect()
    val b = Similarity.randomProject(df, "id", "vec", 8).orderBy("id", "j").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 40 * 8)
    // a different seed produces a different projection
    val c = Similarity.randomProject(df, "id", "vec", 8, seed = 99L)
      .orderBy("id", "j").collect()
    assert(a.toSeq != c.toSeq)
    // lanes must be genuinely independent: within one vector the lane
    // MAGNITUDES differ (a parity-degenerate sign grid makes them all
    // equal up to sign)
    val lanes0 = a.filter(_.getLong(0) == 0L).map(r => math.abs(r.getDouble(2)))
    assert(lanes0.toSet.size > 1, s"degenerate lanes: ${lanes0.toSeq}")
  }

  test("randomProject preserves pairwise distances within JL distortion") {
    val dim = 64; val k = 16
    val data = vecs(30, dim)
    val df = data.toDF("id", "vec")
    val proj = Similarity.randomProject(df, "id", "vec", k)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getLong(1)).map(_.getDouble(2))
      }
    def d2(x: Array[Double], y: Array[Double]): Double =
      x.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum
    val orig = data.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val ratios = for {
      i <- 0L until 30L; jj <- (i + 1) until 30L
    } yield d2(proj(i).toArray, proj(jj).toArray) / d2(orig(i), orig(jj))
    // JL with k=16 lanes: individual pair distortion has heavy tails,
    // but the MEAN ratio concentrates hard around 1 and a degenerate
    // sign grid (e.g. LCG low-bit parity) pushes ratios to ~0/~10
    assert(ratios.forall(r => r > 0.01 && r < 10.0),
      s"worst ratios: ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.25, s"mean ratio $mean")
  }
}

/** Golden-output gate for the end-to-end `graft curate` pipeline
  * (operators.Curation): every stage count on the fixed sf0.001 corpus
  * with default params, frozen from a hand-audited run. Every number is
  * deterministic — hash-gated quality/lang filters, md5 exact-dedup +
  * seeded MinHash components, shingle-join decontamination, rank-order
  * prefix-sum budget, greedy packing — so ANY drift here means a stage's
  * semantics changed, not noise.
  */
class CurationPipelineSpec extends SparkSpecBase {

  test("curation pipeline: golden per-stage counts and manifest on sf0.001") {
    val docs = Tables.t(spark, sfDir, "documents")
    val p = graft.operators.Curation.Params()
    val r = graft.operators.Curation.run(docs, p)
    val byName = r.stages.map(s => s.stage -> s).toMap
    assert(r.stages.map(_.stage) == Seq("benchmark_holdout",
      "quality_lang_gate", "dedup", "decontaminate", "domain_budget", "pack"))
    assert(byName("benchmark_holdout").rowsIn == 500 &&
      byName("benchmark_holdout").rowsOut == 475)
    assert(byName("quality_lang_gate").rowsOut == 372)
    assert(byName("dedup").rowsOut == 355)
    assert(byName("decontaminate").rowsOut == 40)
    assert(byName("domain_budget").rowsOut == 40)
    assert(byName("pack").rowsOut == 40)
    assert(r.nSequences == 5)
    // stage chaining: each stage's input is the previous stage's output
    r.stages.sliding(2).foreach { case Seq(a, b) =>
      assert(a.rowsOut == b.rowsIn, s"${b.stage} input != ${a.stage} output")
    }
    // no benchmark doc and no out-of-language doc survives
    val curated = r.curated
    assert(curated.filter(col("doc_id") % p.benchmarkMod === 0).count() == 0)
    // packing invariant: every (split, seq) fits the window unless a
    // single doc alone exceeds it (greedy contract)
    val over = r.packed.groupBy("split", "seq_id")
      .agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      .filter(col("t") > p.maxSeqTokens && col("n") > 1)
    assert(over.count() == 0)
    // manifest serializes with all stages and parses as one JSON object
    val m = graft.operators.Curation.manifestJson(r, p)
    assert(m.contains("\"stages\":[") && m.contains("\"n_sequences\":5") &&
      m.contains("\"benchmark_holdout\""))
    r.curated.unpersist(); r.packed.unpersist()
  }

  test("curate CLI writes curated + packed + manifest to the output dir") {
    val out = java.nio.file.Files.createTempDirectory("curate_spec").toString
    val docs = Tables.t(spark, sfDir, "documents")
    val p = graft.operators.Curation.Params(domainBudgetTokens = 10000L)
    val r = graft.operators.Curation.run(docs, p)
    graft.operators.Curation.writeOutputs(r, p, out)
    val curated = spark.read.parquet(s"$out/curated.parquet")
    val packed = spark.read.parquet(s"$out/packed.parquet")
    assert(curated.count() > 0 && packed.count() == curated.count())
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/manifest.json")), "UTF-8")
    assert(manifest.contains("\"domain_budget_tokens\":10000"))
    // the tighter budget kept no more docs than the default run
    assert(curated.count() <= 40)
  }
}

/** Incremental curation loop (operators.Curation.incremental): the
  * daily-crawl shape — bootstrap on first batch, asymmetric index
  * screen on later batches, idempotent append.
  */
class CurationIncrementalSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  test("bootstrap, overlap screen, and idempotent re-append") {
    val idxPath = java.nio.file.Files.createTempDirectory("curinc_idx").toString + "/idx"
    val docs = Tables.t(spark, sfDir, "documents")
    val p = graft.operators.Curation.Params()

    // batch 1: first half of the corpus bootstraps the index
    val b1 = docs.filter(col("doc_id") < 250)
    val r1 = graft.operators.Curation.incremental(b1, idxPath, p)
    assert(r1.bootstrapped)
    val kept1 = r1.novel.count()
    assert(kept1 > 0)
    assert(r1.stages.map(_.stage) ==
      Seq("quality_lang_gate", "batch_dedup", "index_dedup"))
    // bootstrap drops nothing at the index stage
    assert(r1.stages.last.rowsIn == r1.stages.last.rowsOut)
    r1.novel.unpersist()

    // batch 2 overlaps batch 1 EXACTLY on [150, 250): every overlapping
    // doc is a byte-identical near-dup of an indexed doc, so the index
    // screen must drop all of them and keep only genuinely new docs
    val b2 = docs.filter(col("doc_id") >= 150)
    val r2 = graft.operators.Curation.incremental(b2, idxPath, p)
    assert(!r2.bootstrapped)
    val novelIds = r2.novel.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novelIds.forall(_ >= 250), // every overlap doc screened out
      s"overlap ids survived: ${novelIds.filter(_ < 250).take(5)}")
    r2.novel.unpersist()

    // re-running batch 2 is a no-op: everything is now indexed
    val r3 = graft.operators.Curation.incremental(b2, idxPath, p)
    assert(r3.novel.count() == 0, "re-run must find nothing novel")
    r3.novel.unpersist()

    // the index stays healthy: shingle ids are unique (append was
    // anti-joined, not blindly unioned)
    val sh = spark.read.parquet(s"$idxPath/shingles")
    assert(sh.count() == sh.select("id").distinct().count())
  }
}

/** 2-D skyline (Pareto front) against an exhaustive dominance check. */
class SkylineSpec extends SparkSpecBase {
  import spark.implicits._

  test("skyline2d: hand case, per-x pooling, tie-break, integral guard") {
    // per-x maxima: (1,5) (2,3) (3,4) (4,1); (2,3) is dominated by (3,4)
    val pts = Seq((10L, 1L, 5L), (11L, 2L, 3L), (12L, 3L, 4L),
      (13L, 3L, 2L), (14L, 4L, 1L), (15L, 3L, 4L))
      .toDF("id", "x", "y")
    val out = graft.operators.Curation.skyline2d(pts, "x", "y", "id")
      .collect().map(r => r.getAs[Long]("x") ->
        (r.getAs[Long]("y"), r.getAs[Long]("keep_id"))).toMap
    assert(out == Map(1L -> ((5L, 10L)), 3L -> ((4L, 12L)),
      4L -> ((1L, 14L))))
    // exhaustive cross-check: every emitted point is undominated, and
    // every omitted per-x maximum is dominated
    val all = Seq((1L, 5L), (2L, 3L), (3L, 4L), (4L, 1L))
    def dominated(p: (Long, Long)) = all.exists(q =>
      q._1 >= p._1 && q._2 >= p._2 && (q._1 > p._1 || q._2 > p._2))
    assert(all.filterNot(dominated).map(_._1).toSet == out.keySet)
    // continuous criteria are refused with the binning remedy
    val dbl = Seq((1L, 1.5, 2.0)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Curation.skyline2d(dbl, "x", "y", "id")
    }
    assert(e.getMessage.contains("bin continuous"))
  }
}
