package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventAnalytics, Graph, Profile, Similarity, Stats, TextAnalysis}

/** Kernel invariants for the round-10 statistics/retrieval additions:
  * corrMatrix against closed-form fixtures, chiSquare on a constructed
  * independent table, BM25 ranking laws, EWMA against the recursive
  * reference computed driver-side, and k-core peeling on a known graph.
  */
class StatsOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("corrMatrix: exact ±1 on linear columns, ~0 on orthogonal, null on constant") {
    val df = Seq.tabulate(100)(i => (i.toDouble, 2.0 * i + 3.0, -1.5 * i, 7.0))
      .toDF("x", "y_pos", "y_neg", "c")
    val out = Stats.corrMatrix(df, Seq("x", "y_pos", "y_neg", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out(("x", "y_pos")).getDouble(3) == 1.0)
    assert(out(("x", "y_neg")).getDouble(3) == -1.0)
    assert(out(("x", "c")).isNullAt(3)) // zero variance
    assert(out.values.forall(_.getLong(2) == 100L))
  }

  test("corrMatrix drops rows with any null (listwise deletion)") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 1.0), (2.0, 2.0), (3.0, null), (null, 4.0), (5.0, 5.0))
      .toDF("a", "b")
    val row = Stats.corrMatrix(df, Seq("a", "b")).head()
    assert(row.getLong(2) == 3L)
    assert(row.getDouble(3) == 1.0)
  }

  test("chiSquare: exactly independent table gives chi2 = 0, dof = (R-1)(C-1)") {
    // perfect independence: every (r, c) cell has count r_weight * c_weight
    val rows = for {
      r <- Seq("a", "b"); c <- Seq("x", "y", "z")
      w = (if (r == "a") 2 else 3) * (if (c == "x") 1 else 2)
      _ <- 0 until w
    } yield (r, c)
    val out = Stats.chiSquare(rows.toDF("r", "c"), "r", "c").collect()
    assert(out.length == 6)
    assert(out.forall(_.getAs[Double]("contrib") == 0.0))
    assert(out.forall(_.getAs[Double]("chi2") == 0.0))
    assert(out.forall(_.getAs[Long]("dof") == 2L))
    // observed margins recompose: sum of observed = table size
    assert(out.map(_.getAs[Long]("observed")).sum == rows.size)
  }

  test("bm25: higher tf wins at equal length; rarer term outweighs common term") {
    val docs = Seq(
      (1L, "cat cat dog bird fish"), // tf(cat)=2
      (2L, "cat dog bird fish mouse"), // tf(cat)=1
      (3L, "dog bird fish mouse wolf"),
      (4L, "rare dog bird fish mouse"), // only doc with 'rare'
      (5L, "dog dog dog dog dog")).toDF("doc_id", "text")
    val byId = TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq("cat"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.keySet == Set(1L, 2L))
    assert(byId(1L) > byId(2L)) // tf monotonicity at equal dl
    // 'rare' (df=1) must contribute a larger single-term score than
    // 'dog' (df=5) at equal tf and dl
    val rare = TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq("rare"), 10)
      .head().getDouble(1)
    val common = TextAnalysis.bm25TopK(docs, "text", "doc_id", Seq("dog"), 10)
      .collect().map(r => r.getDouble(1)).max
    assert(rare > common)
  }

  test("ewma matches the driver-side truncated-window reference") {
    val alpha = 0.3; val h = 5
    val events = Seq.tabulate(40) { i =>
      (i.toLong, i.toLong % 3, new java.sql.Timestamp(1700000000000L + i * 1000L),
        math.sin(i.toDouble) * 10.0)
    }.toDF("event_id", "user_id", "ts", "value")
    val got = EventAnalytics.ewmaSmooth(events, "user_id", "ts", "event_id",
        "value", alpha, h)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // reference: per key, sliding dot with weights (1-a)^j over present rows
    val w = (0 until h).map(j => math.pow(1.0 - alpha, j))
    val byKey = (0L until 3L).map { k =>
      k -> (0 until 40).filter(_ % 3 == k).map(i => (i.toLong, math.sin(i) * 10.0))
    }.toMap
    for ((k, xs) <- byKey; idx <- xs.indices) {
      val window = (0 until h).flatMap { j =>
        if (idx - j >= 0) Some((w(j), xs(idx - j)._2)) else None
      }
      val expect = window.map { case (wt, x) => x * wt }.sum /
        window.map(_._1).sum
      val got1 = got(xs(idx)._1)
      assert(math.abs(got1 - expect) < 1e-6,
        s"key $k idx $idx: got $got1 expect $expect")
    }
  }

  test("welchT matches a hand-computed two-group fixture; symmetric-ish cases") {
    // group a: 1,2,3,4,5 (mean 3, var 2.5); group b: 2,4,6,8,10 (mean 6, var 10)
    val df = (Seq.tabulate(5)(i => ("a", (i + 1).toDouble)) ++
      Seq.tabulate(5)(i => ("b", 2.0 * (i + 1)))).toDF("g", "v")
    val r = Stats.welchT(df, "g", "v").head()
    assert(r.getString(0) == "a" && r.getString(1) == "b")
    assert(r.getDouble(4) == 3.0 && r.getDouble(5) == 6.0)
    // t = (3-6)/sqrt(2.5/5 + 10/5) = -3/sqrt(2.5) = -1.897367
    assert(math.abs(r.getDouble(6) - (-1.897367)) < 1e-6)
    // Welch df = 2.5^2 / (0.5^2/4 + 2^2/4) = 6.25/1.0625 = 5.882353
    assert(math.abs(r.getDouble(7) - 5.882353) < 1e-6)
    // equal groups: t exactly 0
    val same = (Seq.tabulate(4)(i => ("x", i.toDouble)) ++
      Seq.tabulate(4)(i => ("y", i.toDouble))).toDF("g", "v")
    assert(Stats.welchT(same, "g", "v").head().getDouble(6) == 0.0)
  }

  test("keySkew: uniform keys give norm_entropy 1, a dominant key depresses it") {
    val uniform = (0 until 100).map(i => i % 4).toDF("k")
    val u = Profile.keySkew(uniform, "k", 10).collect()
    assert(u.length == 4)
    // contributions are rounded 6dp before the exact sum, so the
    // normalized entropy of a perfectly uniform distribution lands
    // within a rounding ulp of 1, not exactly on it
    assert(u.forall(r => math.abs(r.getAs[Double]("norm_entropy") - 1.0) < 1e-5))
    assert(u.forall(_.getAs[Double]("share") == 0.25))
    val skewed = ((0 until 97).map(_ => 0) ++ Seq(1, 2, 3)).toDF("k")
    val s = Profile.keySkew(skewed, "k", 2).collect()
    assert(s.length == 2) // topN honored
    assert(s.head.getAs[String]("key") == "0" &&
      s.head.getAs[Long]("cnt") == 97L)
    assert(s.head.getAs[Double]("norm_entropy") < 0.2)
    assert(s.forall(_.getAs[Long]("n_keys") == 4L))
  }

  test("silhouette: exact one-hot clusters score 1; mixed labels score lower") {
    // 3 clusters x 4 points, each point exactly its cluster's one-hot * 10
    val pts = (0 until 12).map { i =>
      val c = i / 4
      (i.toLong, c, Array.tabulate(3)(d => if (d == c) 10.0f else 0.0f))
    }.toDF("id", "label", "vec")
    val perfect = Similarity.silhouette(pts, "id", "label", "vec").collect()
    assert(perfect.length == 3)
    // a = 0 (point == centroid), b = sqrt(200) -> s = 1 exactly
    assert(perfect.forall(_.getAs[Double]("mean_silhouette") == 1.0))
    // scramble: assign half the points to the wrong cluster
    val mixed = (0 until 12).map { i =>
      val c = i / 4
      (i.toLong, if (i % 2 == 0) c else (c + 1) % 3,
        Array.tabulate(3)(d => if (d == c) 10.0f else 0.0f))
    }.toDF("id", "label", "vec")
    val worse = Similarity.silhouette(mixed, "id", "label", "vec").collect()
    assert(worse.forall(_.getAs[Double]("mean_silhouette") < 1.0))
  }

  test("seasonalBaseline flags a planted spike only against its own slot") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // slot (click, dow of 2024-01-01 = Monday, 10h): values 10 +- 1, one 100
    val base = (0 until 20).map(i =>
      (i.toLong, "click", ts(f"2024-01-01 10:${i}%02d:00"), 10.0 + (i % 3 - 1)))
    val spike = Seq((99L, "click", ts("2024-01-01 10:59:00"), 100.0))
    // a different slot where 100 is NORMAL (hour 11): must not flag
    val other = (0 until 10).map(i =>
      (200L + i, "click", ts(f"2024-01-01 11:${i}%02d:00"), 100.0 + (i % 3 - 1)))
    val df = (base ++ spike ++ other).toDF("event_id", "event_type", "ts", "value")
    val out = EventAnalytics.seasonalBaseline(df, "event_type", "ts",
        "event_id", "value")
      .collect().map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(out(99L).getAs[Boolean]("is_anomaly"))
    assert((0 until 20).forall(i => !out(i.toLong).getAs[Boolean]("is_anomaly")))
    assert((200 until 210).forall(i => !out(i.toLong).getAs[Boolean]("is_anomaly")))
  }

  test("percentileRank: ties share one rank, max is exactly 1, monotone in value") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 1L), (4L, 9L), (5L, 9L), (6L, 9L))
      .toDF("id", "v")
    val got = Profile.percentileRank(df, "id", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) == got(2L) && got(1L) == 0.5) // 3 of 6 rows <= 5
    assert(got(3L) == java.math.BigDecimal.valueOf(1.0 / 6.0)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
    assert(got(4L) == 1.0 && got(5L) == 1.0 && got(6L) == 1.0)
  }

  test("rrfFuse: consensus beats single-list rank 1; absence contributes nothing") {
    val l1 = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val l2 = Seq((20L, 1), (30L, 2), (40L, 3)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(l1, l2), "id", "rank", 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // 20 appears at ranks 2+1, 10 only at rank 1: consensus wins
    assert(out(20L)._1 > out(10L)._1)
    assert(out(20L)._2 == 2L && out(10L)._2 == 1L)
    // exact expected scores: round(1/62,6)+round(1/61,6) etc.
    def c(r: Int) = BigDecimal(1.0 / (60 + r)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(out(20L)._1 == (c(2) + c(1)).toDouble)
    assert(out(40L)._1 == c(3).toDouble)
    // topK honored with score-then-id determinism
    val top2 = Similarity.rrfFuse(Seq(l1, l2), "id", "rank", 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == Seq(20L, 30L))
  }

  test("labelPropagation: bridged triangles split into two communities; pairs merge") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L),
      (4L, 5L), (2L, 3L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(0L, 1L, 2L).map(got) == Set(0L))
    assert(Set(3L, 4L, 5L).map(got) == Set(3L))
    // a single edge converges both endpoints to the min id (no oscillation:
    // the self-vote ties resolve to the smaller label on both sides)
    val pair = Seq((7L, 9L)).toDF("src", "dst")
    val p = Graph.labelPropagation(pair).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p == Map(7L -> 7L, 9L -> 7L))
  }

  test("labelPropagation early exit on a lazy round hands back a localCheckpoint") {
    // path 0-1-2 stabilizes in round 1 and DETECTS convergence in round 2
    // — an even round, i.e. the lazy-persist() leg of the
    // checkpoint-every-2 cadence. The result must still be a
    // localCheckpoint (LogicalRDD leaf) so Materialize.release's
    // RDD-lineage walker can free it; the r14 version returned the lazy
    // Dataset cache, which release() cannot unpersist.
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val lbl = Graph.labelPropagation(path)
    val got = lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
    val leaves = lbl.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }
    assert(leaves.nonEmpty,
      "early-exit result must be a localCheckpoint, not a lazy cache")
    graft.operators.Materialize.release(lbl)
    assert(leaves.forall(_.rdd.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.NONE),
      "release() must free the early-exit result's blocks")
  }

  test("randomWalks: valid edges, deterministic, truncates at dangling nodes") {
    // 0 -> {1, 2}; 1 -> {2}; 2 -> {} (dangling). Every walk from 0 or 1
    // must traverse only real edges and stop the moment it hits 2.
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L)).toDF("src", "dst")
    val starts = Seq(0L, 1L).toDF("id")
    val rows = Graph.randomWalks(edges, starts, walkLength = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = rows.groupBy(_._1).map { case (w, rs) =>
      w -> rs.sortBy(_._2).map(_._3).toSeq
    }
    val edgeSet = Set((0L, 1L), (0L, 2L), (1L, 2L))
    byWalk.foreach { case (w, path) =>
      assert(path.head == w, "step 0 is the start node")
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)), s"walk $w took non-edge $a->$b")
        case _         =>
      }
      assert(path.last == 2L, "every walk here must end at the sink")
      assert(path.length <= 4, "walks truncate at the dangling node")
    }
    // walk 1 has exactly one possible path: 1 -> 2
    assert(byWalk(1L) == Seq(1L, 2L))
    // determinism: a second run reproduces the walks exactly
    val again = Graph.randomWalks(edges, starts, walkLength = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // a different seed is a different (but still valid) corpus
    val other = Graph.randomWalks(edges, starts, walkLength = 5, seed = 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    other.foreach { case (_, s, n) => if (s > 0) assert(Set(1L, 2L)(n)) }
  }

  test("node2vecWalks: p/q bias steers the second step; edges stay valid") {
    // 0 -> 1; 1 -> {0, 2}; 2 -> {} (sink). From 1 (arrived via 0) the
    // candidates are 0 (return, weight 1/p) and 2 (drift, weight 1/q):
    // extreme p forces the drift, extreme q forces the return.
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("src", "dst")
    val starts = Seq(0L).toDF("id")
    def path(p: Double, q: Double): Seq[Long] =
      Graph.node2vecWalks(edges, starts, walkLength = 2, p = p, q = q)
        .collect().sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(path(1e9, 1e-9) == Seq(0L, 1L, 2L), "never-return must drift to 2")
    assert(path(1e-9, 1e9) == Seq(0L, 1L, 0L), "always-return must go back to 0")
    // uniform walk stays on real edges and truncates at the sink
    val rows = Graph.node2vecWalks(edges, starts, walkLength = 6)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val edgeSet = Set((0L, 1L), (1L, 0L), (1L, 2L))
    rows.map(_._2).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(edgeSet((a, b)), s"non-edge $a->$b")
      case _         =>
    }
    // determinism: bit-identical on a second run
    val again = Graph.node2vecWalks(edges, starts, walkLength = 6)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == again.toSeq)
  }

  test("weightedWalks: draws follow edge weights; parallel edges fold") {
    // 0 -> 1 with weight 999999, 0 -> 2 with weight 1: virtually every
    // draw must take the heavy edge. Parallel-edge folding: the same
    // heavy edge given as many rows behaves identically.
    val heavy = Seq((0L, 1L, 999999L), (0L, 2L, 1L)).toDF("src", "dst", "weight")
    val first = Graph.weightedWalks(heavy, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    assert(first == Seq(1L), s"heavy edge must win: $first")
    val folded = Seq((0L, 1L, 500000L), (0L, 1L, 499999L), (0L, 2L, 1L))
      .toDF("src", "dst", "weight")
    val first2 = Graph.weightedWalks(folded, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    assert(first2 == first, "parallel edges must fold to the same draw")
    // zero/negative weights are never drawn
    val z = Seq((0L, 1L, 0L), (0L, 2L, 5L)).toDF("src", "dst", "weight")
    val firstZ = Graph.weightedWalks(z, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    assert(firstZ == Seq(2L))
    // determinism
    val again = Graph.weightedWalks(heavy, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    assert(again == first)
  }

  test("capOutDegree: deterministic subset with bounded degree, composes with walks") {
    // one 50-out-degree hub plus a 2-degree node
    val edges = spark.range(50).select(lit(0L).as("src"), ($"id" + 10L).as("dst"))
      .unionByName(Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"))
    val capped = Graph.capOutDegree(edges, maxDeg = 5)
    val deg = capped.groupBy("src").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg(0L) == 5L, s"hub must cap at 5: $deg")
    assert(deg(1L) == 2L, "under-cap nodes keep all neighbors")
    // kept edges are real edges, and the choice is seed-deterministic
    val kept = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept.subsetOf(all))
    val again = Graph.capOutDegree(edges, maxDeg = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == kept, "same seed, same sample")
    val other = Graph.capOutDegree(edges, maxDeg = 5, seed = 99L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(other != kept, "a different seed draws a different sample")
    // the documented composition: walks over the capped graph are valid
    val walks = Graph.node2vecWalks(capped, Seq(0L).toDF("id"),
      walkLength = 2, p = 2.0, q = 4.0)
      .collect().sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    walks.sliding(2).foreach {
      case Seq(a, b) => assert(kept((a, b)), s"walk took uncapped edge $a->$b")
      case _         =>
    }
  }

  test("capping a weighted graph must sample the positive-weight edge set") {
    // node 0 has 3 zero-weight neighbors and 2 walkable ones; a cap of 2
    // taken over the RAW pairs could keep only unwalkable edges (the CLI
    // bug class fixed in r16) — over the positive-weight set, every kept
    // neighbor is walkable and the walk never starves
    val weighted = Seq(
      (0L, 1L, 0L), (0L, 2L, 0L), (0L, 3L, 0L),
      (0L, 4L, 5L), (0L, 5L, 7L)).toDF("src", "dst", "weight")
    val walkable = Graph.capOutDegree(
      weighted.filter($"weight" > 0), maxDeg = 2)
    val kept = weighted.join(walkable, Seq("src", "dst"), "left_semi")
    val dsts = kept.collect().map(_.getLong(1)).toSet
    assert(dsts == Set(4L, 5L), s"only walkable neighbors kept: $dsts")
    val w = Graph.weightedWalks(kept, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    assert(w.nonEmpty && Set(4L, 5L)(w.head), s"walk must proceed: $w")
  }

  test("walks at the walkLength=64 bound complete (8-step checkpoint cadence)") {
    // the require() allows 64 steps; without the every-8-steps
    // localCheckpoint the unioned two-joins-per-step lineage would nest
    // 64 deep and stall the analyzer. A 3-cycle never truncates, so all
    // three variants must emit exactly 65 steps per walk.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val starts = Seq(0L).toDF("id")
    assert(Graph.randomWalks(edges, starts, walkLength = 64).count() == 65L)
    assert(Graph.weightedWalks(edges.withColumn("weight", lit(2L)),
      starts, walkLength = 64).count() == 65L)
    assert(Graph.node2vecWalks(edges, starts, walkLength = 64,
      p = 2.0, q = 4.0).count() == 65L)
  }

  test("randomWalks holds none of its checkpoints once the result is released") {
    // at walkLength = 24 the walk checkpoints its frontier and acc at steps
    // 8 and 16; the step-8 pair is dead once the step-16 pair exists. The
    // operator's RDDs are the ones created during the call, told apart by id.
    val sc = spark.sparkContext
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val starts = Seq(0L).toDF("id")
    val firstId = sc.emptyRDD[Int].id
    val walks = Graph.randomWalks(edges, starts, walkLength = 24)
    val lastId = sc.emptyRDD[Int].id
    val taken = sc.getPersistentRDDs.filter { case (id, _) => id > firstId && id < lastId }
    assert(taken.nonEmpty, "the walk checkpoints its neighbor table")
    assert(walks.count() == 25L)
    graft.operators.Materialize.release(walks)
    val held = taken.filter { case (_, rdd) =>
      rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
    }
    assert(held.isEmpty, s"checkpoints still held after release: ${held.keys.toSeq.sorted}")
  }

  test("Materialize.Loop.keepOnly frees dead checkpoints and lazy caches, keeps live frames and outside caches") {
    import graft.operators.Materialize
    import org.apache.spark.storage.StorageLevel
    def leafRdds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.logical.collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd }
    val outside = spark.range(0, 200).withColumn("tag", lit("loop-outside")).persist()
    try {
      outside.count()
      val loop = new Materialize.Loop
      val deadCkpt = loop.checkpoint(outside.filter(col("id") % 2 === 0))
      val deadLazy = loop.persist(deadCkpt.filter(col("id") % 4 === 0))
      // the live checkpoints read the lazy frame, whose cache their jobs fill
      val live = loop.checkpoint(deadLazy.filter(col("id") < 100))
      val live2 = loop.checkpoint(deadLazy.filter(col("id") >= 100))
      val dead = leafRdds(deadCkpt)
      val kept = leafRdds(live) ++ leafRdds(live2)
      assert(dead.size == 1 && kept.size == 2)
      assert((dead ++ kept).forall(_.getStorageLevel != StorageLevel.NONE))
      assert(deadLazy.storageLevel == StorageLevel.MEMORY_AND_DISK)
      loop.keepOnly(live, live2)
      assert(dead.head.getStorageLevel == StorageLevel.NONE)
      assert(deadLazy.storageLevel == StorageLevel.NONE)
      assert(kept.forall(_.getStorageLevel != StorageLevel.NONE))
      assert(outside.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(live.count() + live2.count() == 50L)
      loop.keepOnly()
      assert(kept.forall(_.getStorageLevel == StorageLevel.NONE))
      assert(outside.storageLevel == StorageLevel.MEMORY_AND_DISK)
    } finally outside.unpersist()
  }

  test("walkContextPairs extracts windowed ordered pairs per walk") {
    // walk 1: 10 -> 20 -> 30; walk 2: 10 -> 20. window=2 rightward pairs:
    // (10,20)x2, (10,30), (20,30) — no cross-walk pairs.
    val walks = Seq((1L, 0L, 10L), (1L, 1L, 20L), (1L, 2L, 30L),
      (2L, 0L, 10L), (2L, 1L, 20L)).toDF("walk_id", "step", "node")
    val got = Graph.walkContextPairs(walks, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L, (20L, 30L) -> 1L))
    // minCount prunes the singletons
    val pruned = Graph.walkContextPairs(walks, window = 2, minCount = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned == Set((10L, 20L)))
    // symmetric = true counts both orientations of every window hit:
    // each rightward pair contributes its mirror too
    val sym = Graph.walkContextPairs(walks, window = 2, symmetric = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(sym == Map(
      (10L, 20L) -> 2L, (20L, 10L) -> 2L,
      (10L, 30L) -> 1L, (30L, 10L) -> 1L,
      (20L, 30L) -> 1L, (30L, 20L) -> 1L))
  }

  test("randomWalks walksPerNode: gamma independent walks per start") {
    // 3-cycle (never truncates): gamma=4 must yield 4 full walks per
    // start with distinct ids node*4+r, each a valid edge path, and the
    // gamma=1 contract (walk_id = node) unchanged
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val starts = Seq(0L).toDF("id")
    val rows = Graph.randomWalks(edges, starts, walkLength = 4, walksPerNode = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = rows.groupBy(_._1)
    assert(byWalk.keySet == Set(0L, 1L, 2L, 3L), s"ids ${byWalk.keySet}")
    val edgeSet = Set((0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
    byWalk.foreach { case (_, rs) =>
      val path = rs.sortBy(_._2).map(_._3).toSeq
      assert(path.head == 0L && path.length == 5)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)), s"non-edge $a->$b")
        case _         =>
      }
    }
    // independence: node 0 has 2 neighbors, so 4 hash-keyed first steps
    // must not all agree (md5 differs per walk_id; for this fixture the
    // draws split) — and gamma=1 still labels by the start node
    val firsts = byWalk.values.map(_.sortBy(_._2).map(_._3).apply(1)).toSet
    assert(firsts.size > 1, s"walks must draw independently: $firsts")
    val g1 = Graph.randomWalks(edges, starts, walkLength = 2)
      .select("walk_id").distinct().collect().map(_.getLong(0)).toSet
    assert(g1 == Set(0L))
  }

  test("ppmiPairs: exact-margin SPPMI, zero-clipped rows kept") {
    // pairs: (a,b)=4, (a,c)=1, (d,c)=1; T=6, row a=5, d=1; col b=4, c=2.
    // pmi(a,b)=ln(4*6/(5*4)); with negK=2 folded inside the log
    val pairs = Seq((1L, 2L, 4L), (1L, 3L, 1L), (4L, 3L, 1L))
      .toDF("center", "context", "n")
    def exp(n: Long, nc: Long, nx: Long, k: Double) =
      BigDecimal(math.max(0.0, math.log(n.toDouble * 6.0 / (nc * nx).toDouble / k)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Graph.ppmiPairs(pairs, negK = 2.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (4L, 3L)),
      "zero-clipped rows must be kept")
    assert(got((1L, 2L)) == exp(4, 5, 4, 2.0))
    assert(got((1L, 3L)) == exp(1, 5, 2, 2.0))
    assert(got((4L, 3L)) == exp(1, 1, 2, 2.0))
    // ln(1*6/(5*2)/2) < 0 -> clipped to exactly 0
    assert(got((1L, 3L)) == 0.0)
  }

  test("temporalWalks: ts-monotone traversal, strict increase, md5 draw") {
    def u60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(15), 16)
    }
    // node 2's out-edges ranked by (ts, dst): 5@t1 (rnk 0), 3@t2 (rnk 1),
    // 6@t2 (rnk 2). Arriving at 2 via t=1 the valid suffix is {3, 6}
    // (STRICT increase excludes 5@t1); node 3 dangles (truncation);
    // 6 -> 7 continues at t=5
    val edges = Seq(
      (1L, 2L, 1L), (2L, 5L, 1L), (2L, 3L, 2L), (2L, 6L, 2L),
      (6L, 7L, 5L)).toDF("src", "dst", "ts")
    val starts = Seq(1L).toDF("id")
    val got = Graph.temporalWalks(edges, starts, walkLength = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    // step 1 from start 1: sole edge 1->2@t1 regardless of the draw
    assert(got((1L, 0L)) == (1L, None) && got((1L, 1L)) == (2L, Some(1L)))
    // step 2 from 2 with t=1: lo = 1 (one edge with ts <= 1), cnt = 2,
    // idx = 1 + u60 % 2 -> replayed by hand
    val idx2 = 1 + (u60("tw:7:1:2:2") % 2)
    val expect2 = if (idx2 == 1) (3L, Some(2L)) else (6L, Some(2L))
    assert(got((1L, 2L)) == expect2, s"got $got")
    // step 3: 3 dangles (walk ends), 6 continues to 7@t5
    if (expect2._1 == 3L) assert(!got.contains((1L, 3L)))
    else assert(got((1L, 3L)) == (7L, Some(5L)))
    // strictness: from start 2 a draw can reach 5 only via the START
    // position (no arrival time); via 1->2@t1 never. Arriving at 2 with
    // t=2 leaves NO valid future (both remaining edges are @t2)
    val fromT2 = Seq((9L, 2L, 2L)).toDF("src", "dst", "ts")
      .unionByName(edges.filter(col("src") === 2L))
    val w2 = Graph.temporalWalks(fromT2, Seq(9L).toDF("id"), walkLength = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w2.keySet == Set((9L, 0L), (9L, 1L)),
      s"t=2 arrival at 2 must truncate (strict increase): $w2")
    // maxDeg folds the seeded cap into the adjacency: cap node 2 to 1
    // edge and the kept edge is the md5-minimal one, replayed by hand
    val capKept = Seq((5L, 1L), (3L, 2L), (6L, 2L)).minBy { case (d, t) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      (md.digest(s"tcap:7:2:$d:$t".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString, d, t)
    }
    val capped = Graph.temporalWalks(edges, Seq(2L).toDF("id"),
        walkLength = 1, maxDeg = Some(1))
      .filter(col("step") === 1L).collect()
      .map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(capped == Set(capKept._1 -> capKept._2), s"got $capped")
  }

  test("sppmiEmbed: planted blocks factor to closed-form components") {
    // two disjoint constant blocks: {0,1} all pairs (incl. self) n=1,
    // {2,3} n=4. T=20; SPPMI is round6(ln 5) on block A (1·20/(2·2)),
    // round6(ln 1.25) on block B (4·20/(8·8)), 0 across. Eigenpairs:
    // (2c_A, uniform/sqrt2) and (2c_B, uniform/sqrt2) -> embedding
    // value sqrt(c_b) on the own component, exact 0 elsewhere
    val pairs = (for {
      (blk, w) <- Seq(Seq(0L, 1L) -> 1L, Seq(2L, 3L) -> 4L)
      a <- blk; b <- blk
    } yield (a, b, w)).toDF("center", "context", "n")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Graph.sppmiEmbed(pairs, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size == 8)
    val vA = r6(math.sqrt(r6(math.log(5.0))))
    val vB = r6(math.sqrt(r6(math.log(1.25))))
    Seq(0L, 1L).foreach { n =>
      assert(got((n, 0)) == vA, s"block A on comp 0: $got")
      assert(got((n, 1)) == 0.0, "exact zero off-block (Jacobi never " +
        "rotates across exactly-zero off-diagonals)")
    }
    Seq(2L, 3L).foreach { n =>
      assert(got((n, 0)) == 0.0)
      assert(got((n, 1)) == vB, s"block B on comp 1: $got")
    }
    // asymmetric pairs fail fast (the 6-dp matrix check is exact)
    val asym = Seq((0L, 1L, 3L), (1L, 0L, 1L)).toDF("center", "context", "n")
    val e = intercept[IllegalArgumentException] {
      Graph.sppmiEmbed(asym, k = 1)
    }
    assert(e.getMessage.contains("symmetric"))
    // bounded-vocab contract fails fast BEFORE the matrix collect
    val big = intercept[IllegalArgumentException] {
      Graph.sppmiEmbed(pairs, k = 1, maxVocab = 3)
    }
    assert(big.getMessage.contains("bounded-vocab"))
  }

  test("negativeTable: unigram^0.75 probabilities, exact normalizer") {
    // visits: node 10 ×4, node 20 ×1 -> weights 4^0.75 = 2sqrt(2), 1.
    // sqrt(n*sqrt(n)) spells the 3/4 power in correctly-rounded IEEE ops
    val walks = Seq((1L, 0L, 10L), (1L, 1L, 10L), (1L, 2L, 10L),
      (2L, 0L, 10L), (2L, 1L, 20L)).toDF("walk_id", "step", "node")
    val got = Graph.negativeTable(walks).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(10L)._1 == 4L && got(20L)._1 == 1L)
    val w10 = math.sqrt(4.0 * math.sqrt(4.0)) // 2.828427125
    def r9(x: Double) = // Spark's Round: HALF_UP over the decimal repr
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tot = BigDecimal(r9(w10)) + BigDecimal(1.0)
    assert(got(10L)._2 == r9(r9(w10) / tot.toDouble), s"got $got")
    assert(got(20L)._2 == r9(1.0 / tot.toDouble))
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-8,
      "probabilities must sum to ~1")
    // a non-default power still normalizes
    val sq = Graph.negativeTable(walks, power = 1.0).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sq(10L) == 0.8 && sq(20L) == 0.2)
  }

  test("node2vecWalks maxDeg: in-operator cap == walking the capped graph") {
    // a 40-out-degree hub: maxDeg=4 inside the operator must produce
    // EXACTLY the walk over the explicitly pre-capped edge list (same
    // seed feeds the cap), and every step must traverse capped edges
    val hub = spark.range(40).select(lit(0L).as("src"), ($"id" + 10L).as("dst"))
      .unionByName(spark.range(40).select(($"id" + 10L).as("src"),
        (($"id" + 1L) % 40L + 10L).as("dst")))
    val starts = Seq(0L).toDF("id")
    val inOp = Graph.node2vecWalks(hub, starts, walkLength = 4,
        p = 2.0, q = 4.0, maxDeg = Some(4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val preCapped = Graph.node2vecWalks(Graph.capOutDegree(hub, 4),
        starts, walkLength = 4, p = 2.0, q = 4.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(inOp.toSeq == preCapped.toSeq,
      "maxDeg must equal the explicit capOutDegree composition")
    val kept = Graph.capOutDegree(hub, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    inOp.sortBy(_._2).map(_._3).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(kept((a, b)), s"walk took uncapped edge $a->$b")
      case _         =>
    }
  }

  test("weightedWalks bucketed step join replays the interval draw exactly") {
    // 600 neighbors with mixed weights: the r17 (node, bucket) join must
    // pick the SAME neighbor as a driver-side replay of the cumulative
    // interval selection — the bucket key narrows candidates, never
    // changes the draw
    val edges = spark.range(600).select(lit(0L).as("src"),
      ($"id" + 1L).as("dst"), (($"id" % 7L) + 1L).as("weight"))
    val got = Graph.weightedWalks(edges, Seq(0L).toDF("id"), walkLength = 1)
      .filter($"step" === 1).collect().map(_.getLong(2)).toSeq
    // replay: ascending-dst rank order, exact integer cumsums
    val ws = (1L to 600L).map(d => d -> (((d - 1) % 7) + 1).toDouble)
    val tot = ws.map(_._2).sum
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("ww:7:0:1:0".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val u = java.lang.Long.parseLong(hex.take(15), 16).toDouble /
      math.scalb(1.0, 60)
    val thr = u * tot
    var cum = 0.0
    var expect = -1L
    ws.foreach { case (d, w) =>
      val lo = cum
      cum += w
      if (expect < 0 && cum > thr && lo <= thr) expect = d
    }
    assert(got == Seq(expect), s"bucketed draw $got != replay $expect")
  }

  test("kCore peels a chain completely and keeps a clique; empty below k") {
    // 4-clique {0,1,2,3} plus chain 3-4-5-6
    val edges = (for { i <- 0 to 3; j <- (i + 1) to 3 } yield (i.toLong, j.toLong))
      .++(Seq((3L, 4L), (4L, 5L), (5L, 6L))).toDF("src", "dst")
    val core3 = Graph.kCore(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3.keySet == Set(0L, 1L, 2L, 3L))
    assert(core3.values.forall(_ == 3L))
    assert(Graph.kCore(edges, 4).isEmpty)
    // k=2: the chain still peels (endpoints have degree 1, repeatedly)
    assert(Graph.kCore(edges, 2).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L))
  }

  test("corrMatrix: underscore-bearing column names never collide aliases") {
    // name-concatenated suffixes would collide here: pair (a_b, c)
    // and pair (a, b_c) both render _a_b_c — index suffixes don't
    val df = Seq.tabulate(50)(i =>
      (i.toDouble, 3.0 * i, 100.0 - i, 2.0 * i + 1.0))
      .toDF("a_b", "c", "a", "b_c")
    val out = Stats.corrMatrix(df, Seq("a_b", "c", "a", "b_c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap
    assert(out.size == 6)
    assert(out(("a_b", "c")) == 1.0)
    assert(out(("a_b", "a")) == -1.0)
    assert(out(("a", "b_c")) == -1.0)
    assert(out(("c", "b_c")) == 1.0)
  }

  test("welchT orders cohorts by UTF-8 byte order (oracle collation)") {
    // U+FF61 (EF BD A1 in UTF-8; single UTF-16 unit 0xFF61) vs
    // U+10000 (F0 90 80 80; surrogate pair starting 0xD800): UTF-16
    // code-unit order puts the surrogate FIRST, UTF-8 byte order LAST
    val hi = new String(Character.toChars(0x10000))
    val df = (Seq.tabulate(3)(i => ("｡", i.toDouble)) ++
      Seq.tabulate(3)(i => (hi, 2.0 * i))).toDF("g", "v")
    val r = Stats.welchT(df, "g", "v").head()
    assert(r.getString(0) == "｡" && r.getString(1) == hi)
  }

  test("ksTest: identical samples give d=0 p=1; disjoint samples give d=1") {
    val same = (Seq.tabulate(20)(i => ("a", i.toDouble)) ++
      Seq.tabulate(20)(i => ("b", i.toDouble))).toDF("g", "v")
    val r0 = Stats.ksTest(same, "g", "v", "a", "b").head()
    assert(r0.getAs[Double]("d") == 0.0 && r0.getAs[Double]("p_approx") == 1.0)
    val disj = (Seq.tabulate(10)(i => ("a", i.toDouble)) ++
      Seq.tabulate(10)(i => ("b", 100.0 + i))).toDF("g", "v")
    val r1 = Stats.ksTest(disj, "g", "v", "a", "b").head()
    assert(r1.getAs[Double]("d") == 1.0)
    assert(r1.getAs[Long]("n1") == 10L && r1.getAs[Long]("n2") == 10L)
  }

  test("mannWhitneyU: hand fixture, and all-tied cohorts null out z") {
    // A = {1,2,3}, B = {4,5,6}: R_A = 6, U_A = 0, U_B = 9,
    // sigma2 = 9/12 * 7 = 5.25, z = -4.5/sqrt(5.25)
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++
      Seq(4.0, 5.0, 6.0).map(("b", _))).toDF("g", "v")
    val r = Stats.mannWhitneyU(df, "g", "v", "a", "b").head()
    assert(r.getAs[Double]("u1") == 0.0 && r.getAs[Double]("u2") == 9.0)
    assert(math.abs(r.getAs[Double]("z") - (-4.5 / math.sqrt(5.25))) < 1e-6)
    // every value tied: tie correction kills the variance entirely
    val tied = Seq(("a", 7.0), ("a", 7.0), ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val rt = Stats.mannWhitneyU(tied, "g", "v", "a", "b").head()
    assert(rt.getAs[Double]("u1") == 2.0 && rt.isNullAt(rt.fieldIndex("z")))
  }

  test("benford: digit from decimal rendering, all 9 rows, zeros excluded") {
    // 30 values starting with 1, 10 with 2 (incl. negative), a zero
    // (excluded) and a sub-1 value (first SIGNIFICANT digit 5)
    val vals = Seq.fill(30)(123.45) ++ Seq.fill(9)(2.5) ++
      Seq(-29.0, 0.0, 0.056)
    val out = Stats.benford(vals.toDF("v"), "v").collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out.size == 9)
    assert(out(1).getLong(1) == 30L && out(2).getLong(1) == 10L)
    assert(out(5).getLong(1) == 1L && out(3).getLong(1) == 0L)
    val n = out.values.map(_.getLong(1)).sum
    assert(n == 41L) // the zero contributed no digit
    // expected counts follow Benford; chi2 identical on every row
    assert(math.abs(out(1).getDouble(2) - 41.0 * math.log10(2.0)) < 1e-5)
    assert(out.values.map(_.getDouble(4)).toSet.size == 1)
  }

  test("acf: alternating series has exact r1 = -0.9, r2 = 0.8 at n=10") {
    val df = Seq.tabulate(10)(i => (i.toLong, if (i % 2 == 0) 1.0 else 3.0))
      .toDF("t", "v")
    val out = Stats.acf(df, "t", "v", 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("r") == -0.9)
    assert(out(2L).getAs[Double]("r") == 0.8)
    assert(out(1L).getAs[Long]("n_pairs") == 9L)
    assert(out(3L).getAs[Long]("n_pairs") == 7L)
  }

  test("cusum matches the textbook recursion and flags a sustained shift") {
    // level 10 for 12 points, then a sustained +1-sigma-ish shift
    val vals = Seq.fill(12)(10.0) ++ Seq.fill(8)(14.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("t", "v")
    val out = Stats.cusum(df, "t", "v", slack = 0.5, threshold = 2.0)
      .orderBy("t").collect()
    assert(out.length == 20)
    // replay the recursion S+ = max(0, S+ + z - k), S- = max(0, S- - z - k)
    var sp = BigDecimal(0); var sm = BigDecimal(0)
    out.foreach { r =>
      val z = BigDecimal(r.getAs[Double]("z")).setScale(6)
      sp = (sp + z - BigDecimal("0.5")).max(0)
      sm = (sm - z - BigDecimal("0.5")).max(0)
      assert(BigDecimal(r.getAs[Double]("s_plus")) == sp, s"s_plus at t=${r.getLong(0)}")
      assert(BigDecimal(r.getAs[Double]("s_minus")) == sm, s"s_minus at t=${r.getLong(0)}")
      assert(r.getAs[Boolean]("flag") == (sp > 2 || sm > 2))
    }
    // both regimes sit off the GLOBAL mean, so both sides eventually
    // flag: S- during the low stretch, S+ after the shift — but the
    // first few points accumulate too little to cross the threshold
    assert(out.take(5).forall(!_.getAs[Boolean]("flag")))
    assert(out.last.getAs[Boolean]("flag"))
    assert(out.last.getAs[Double]("s_plus") > 2.0)
  }

  test("winsorize clips at inverted-CDF edges and keeps every row") {
    val df = (1 to 100).map(i => (i.toLong, i.toLong)).toDF("id", "v")
    val out = Profile.winsorize(df, "id", "v", 500, 9500)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("winsorized")).toMap
    assert(out.size == 100)
    // 5th/95th percentile of 1..100 under inverted CDF: 5 and 95
    assert(out(1L) == 5.0 && out(4L) == 5.0 && out(5L) == 5.0)
    assert(out(96L) == 95.0 && out(100L) == 95.0)
    assert(out(50L) == 50.0)
    // loBp = 0 means no lower clip
    val noLo = Profile.winsorize(df, "id", "v", 0, 9500)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("winsorized")).toMap
    assert(noLo(1L) == 1.0 && noLo(100L) == 95.0)
    // fractional values survive: a (0,1) score column must NOT collapse
    // to a single truncated value (the long-cast regression)
    val frac = (1 to 100).map(i => (i.toLong, i / 100.0)).toDF("id", "s")
    val fOut = Profile.winsorize(frac, "id", "s", 500, 9500)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("winsorized")).toMap
    assert(fOut(1L) == 0.05 && fOut(50L) == 0.5 && fOut(100L) == 0.95)
  }

  test("theilSen recovers a clean slope through 29% outliers") {
    // y = 2t + 5 with gross outliers at 6 of 21 points: the pairwise-
    // slope median still lands exactly on 2 (LS would be pulled far off)
    val pts = Seq.tabulate(21) { t =>
      val clean = 2.0 * t + 5.0
      (t.toLong, if (t % 4 == 3) clean + 500.0 else clean)
    }
    val out = Stats.theilSen(pts.toDF("t", "v"), "t", "v").head()
    assert(out.getAs[Long]("n") == 21L)
    assert(out.getAs[Long]("n_pairs") == 210L)
    assert(out.getAs[Double]("slope") == 2.0)
    assert(out.getAs[Double]("intercept") == 5.0)
  }

  test("theilSen fails fast on misuse: n < 2 and oversize raw-row input") {
    val one = Seq((1L, 5.0)).toDF("t", "v")
    val e1 = intercept[IllegalArgumentException] {
      Stats.theilSen(one, "t", "v")
    }
    assert(e1.getMessage.contains("at least 2"))
    // a "raw table" mistake: above maxN the O(n^2/2) pair stage is
    // refused with an actionable message instead of silently attempted
    val big = spark.range(0, 50).selectExpr("id AS t", "CAST(id AS DOUBLE) AS v")
    val e2 = intercept[IllegalArgumentException] {
      Stats.theilSen(big, "t", "v", maxN = 40)
    }
    assert(e2.getMessage.contains("SERIES"))
    // and raising maxN deliberately still works on the same input
    assert(Stats.theilSen(big, "t", "v", maxN = 50)
      .head().getAs[Double]("slope") == 1.0)
  }

  test("decomposeSeasonal recovers a planted weekly pattern exactly") {
    // v = 100 + slot-pattern (sums to zero over the week) on 35 days:
    // flat trend 100 everywhere the window is full, seasonal == the
    // planted pattern, resid == 0
    val pattern = Seq(6.0, -2.0, -4.0, 1.0, 3.0, -5.0, 1.0)
    val pts = Seq.tabulate(35)(t => (t.toLong, 100.0 + pattern(t % 7)))
    val out = Stats.decomposeSeasonal(pts.toDF("t", "v"), "t", "v", 7)
      .orderBy("t").collect()
    assert(out.length == 35)
    out.foreach { r =>
      val t = r.getLong(0)
      if (t < 3 || t > 31) { // half-window edges
        assert(r.isNullAt(r.fieldIndex("trend")) &&
          r.isNullAt(r.fieldIndex("resid")))
      } else {
        assert(r.getAs[Double]("trend") == 100.0, s"t=$t")
        assert(r.getAs[Double]("resid") == 0.0, s"t=$t")
      }
      // seasonal is periodic and defined on every row
      assert(r.getAs[Double]("seasonal") == pattern((t % 7).toInt), s"t=$t")
    }
    // even period is refused (centered window needs an odd span)
    intercept[IllegalArgumentException] {
      Stats.decomposeSeasonal(pts.toDF("t", "v"), "t", "v", 4)
    }
  }

  test("spearman: monotone nonlinearity gives rho 1; ties and constants handled") {
    // y = x^3 is perfectly monotone: Spearman 1.0 where Pearson < 1
    val cube = Seq.tabulate(20)(i => (i.toDouble, math.pow(i, 3)))
      .toDF("a", "b")
    assert(Stats.spearman(cube, "a", "b", scale = 0).head()
      .getAs[Double]("rho") == 1.0)
    // anti-monotone: exactly -1
    val neg = Seq.tabulate(20)(i => (i.toDouble, -i.toDouble)).toDF("a", "b")
    assert(Stats.spearman(neg, "a", "b").head().getAs[Double]("rho") == -1.0)
    // hand-derived tie case: a=(1,2,2,3), b=(1,2,3,3); midranks
    // a: 1, 2.5, 2.5, 4 and b: 1, 2, 3.5, 3.5 -> Pearson of ranks =
    // 3.75 / 4.5 = 0.833333
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 3.0)).toDF("a", "b")
    assert(math.abs(Stats.spearman(tied, "a", "b").head()
      .getAs[Double]("rho") - 0.833333) < 1e-6)
    // a constant column has zero rank variance -> NULL rho, not NaN
    val const = Seq.tabulate(5)(i => (i.toDouble, 7.0)).toDF("a", "b")
    val r = Stats.spearman(const, "a", "b").head()
    assert(r.isNullAt(r.fieldIndex("rho")))
  }

  test("cohensKappa: textbook case; perfect and chance-level agreement") {
    // classic 2x2: raters agree on 20+15 of 50; margins a:(25,25), b:(30,20)
    // give pe = (25*30 + 25*20)/2500 = 0.5; kappa = (0.7 - 0.5) / 0.5 = 0.4
    val rows = (Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))).toDF("a", "b")
    val r = Stats.cohensKappa(rows, "a", "b").head()
    assert(r.getAs[Double]("po") == 0.7)
    assert(r.getAs[Double]("pe") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.4)
    // identical raters: kappa 1 (unless constant, where pe = 1 -> NULL)
    val same = Seq.tabulate(30)(i => (s"k${i % 3}", s"k${i % 3}")).toDF("a", "b")
    assert(Stats.cohensKappa(same, "a", "b").head().getAs[Double]("kappa") == 1.0)
    val const = Seq.fill(10)(("x", "x")).toDF("a", "b")
    val c = Stats.cohensKappa(const, "a", "b").head()
    assert(c.isNullAt(c.fieldIndex("kappa")))
  }

  test("bootstrapMeanCI: deterministic, brackets the mean, narrows with n") {
    val small = Seq.tabulate(50)(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    val r1 = Stats.bootstrapMeanCI(small, "id", "v", 100).head()
    val r2 = Stats.bootstrapMeanCI(small, "id", "v", 100).head()
    assert(r1 == r2, "seeded draws must replay bit-for-bit")
    assert(r1.getAs[Double]("lo") <= r1.getAs[Double]("mean") &&
      r1.getAs[Double]("mean") <= r1.getAs[Double]("hi"))
    assert(r1.getAs[Double]("mean") == 4.5)
    // 20x the data, same distribution: the interval must tighten
    val big = Seq.tabulate(1000)(i => (i.toLong, (i % 10).toDouble)).toDF("id", "v")
    val rb = Stats.bootstrapMeanCI(big, "id", "v", 100).head()
    val wSmall = r1.getAs[Double]("hi") - r1.getAs[Double]("lo")
    val wBig = rb.getAs[Double]("hi") - rb.getAs[Double]("lo")
    assert(wBig < wSmall / 2, s"CI must narrow: $wBig vs $wSmall")
  }

  test("bootstrapDeltaCI: deterministic, brackets the true delta, integer-rank CI is exact") {
    // arm A level 10, arm B level 4 with small within-arm spread:
    // true delta 6, the CI must bracket it and exclude 0
    val df = (Seq.tabulate(60)(i => (i.toLong, "A", 10.0 + (i % 3 - 1))) ++
      Seq.tabulate(60)(i => ((i + 100).toLong, "B", 4.0 + (i % 3 - 1))))
      .toDF("id", "arm", "v")
    val r1 = Stats.bootstrapDeltaCI(df, "id", "arm", "v", "A", "B", 200).head()
    val r2 = Stats.bootstrapDeltaCI(df, "id", "arm", "v", "A", "B", 200).head()
    assert(r1 == r2, "seeded draws must replay bit-for-bit")
    assert(r1.getAs[Double]("delta") == 6.0)
    assert(r1.getAs[Double]("lo") <= 6.0 && 6.0 <= r1.getAs[Double]("hi"))
    assert(r1.getAs[Double]("lo") > 0.0, "a 6-sigma-ish gap must exclude 0")
    assert(r1.getAs[Long]("n_replicates") == 200L)
    // R = 200 puts alpha*R exactly on an integer — the rank must come
    // from exact decimal arithmetic (double 0.025*200 ceils to 6, the
    // exact 5.000 to 5; this was a live one-rank CI shift vs the oracle)
    val ranks = Stats.bootstrapDeltaCI(df, "id", "arm", "v", "A", "B", 40).head()
    assert(ranks.getAs[Long]("n_replicates") == 40L)
    // one empty arm fails fast with the remedy in the message
    val solo = Seq((1L, "A", 1.0), (2L, "A", 2.0)).toDF("id", "arm", "v")
    val e = intercept[IllegalArgumentException] {
      Stats.bootstrapDeltaCI(solo, "id", "arm", "v", "A", "B", 20).head()
    }
    assert(e.getMessage.contains("both arms"))
  }

  test("psi: identical samples score 0; a shift scores positive; bins co-bin ties") {
    val ref = Seq.tabulate(1000)(i => Tuple1((i % 100).toDouble)).toDF("v")
    val same = Stats.psi(ref, ref, "v", 10).collect()
    assert(same.length == 10)
    same.foreach { r =>
      assert(r.getAs[Double]("term") == 0.0 && r.getAs[Double]("psi") == 0.0)
      assert(r.getAs[Double]("ref_share") == 0.1)
    }
    // a +50 shift: upper bins overfull, lower bins starved, psi >> 0.25
    val cur = Seq.tabulate(1000)(i => Tuple1((i % 100) + 50.0)).toDF("v")
    val drift = Stats.psi(ref, cur, "v", 10).collect()
    assert(drift.map(_.getAs[Double]("psi")).head > 0.25)
    // the empty lower bins survive with cur_n = 0, never dropped
    assert(drift.count(r => r.getAs[Long]("cur_n") == 0L) >= 4)
    // heavy ties collapse duplicate edges: a 2-valued column yields
    // 2 bins, shares exact
    val twoVal = Seq.tabulate(100)(i => Tuple1(if (i < 30) 1.0 else 2.0)).toDF("v")
    val tv = Stats.psi(twoVal, twoVal, "v", 10).collect()
    assert(tv.length == 2)
    assert(tv.map(_.getAs[Double]("ref_share")).sorted.toSeq == Seq(0.3, 0.7))
  }

  test("kendallTau: textbook tie case; perfect order; cell guard fires") {
    // a=(1,2,2,3), b=(1,2,3,3): P=4, Q=0, n0=6, n1=n2=1 -> tau = 0.8
    val tied = Seq((1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 3.0)).toDF("a", "b")
    val r = Stats.kendallTau(tied, "a", "b").head()
    assert(r.getAs[Long]("concordant") == 4L &&
      r.getAs[Long]("discordant") == 0L)
    assert(r.getAs[Double]("tau_b") == 0.8)
    // strict monotone: exactly 1; reversed: exactly -1
    val mono = Seq.tabulate(10)(i => (i.toDouble, i * 2.0)).toDF("a", "b")
    assert(Stats.kendallTau(mono, "a", "b").head().getAs[Double]("tau_b") == 1.0)
    val anti = Seq.tabulate(10)(i => (i.toDouble, -i.toDouble)).toDF("a", "b")
    assert(Stats.kendallTau(anti, "a", "b").head().getAs[Double]("tau_b") == -1.0)
    // the quadratic cell stage refuses continuous-cardinality input
    val wide = spark.range(200).selectExpr(
      "CAST(id AS DOUBLE) AS a", "CAST(id * 7 % 199 AS DOUBLE) AS b")
    val e = intercept[IllegalArgumentException] {
      Stats.kendallTau(wide, "a", "b", maxCells = 100)
    }
    assert(e.getMessage.contains("cells"))
  }

  test("propTest: equal rates give z=0; a clear gap gives the textbook z") {
    val same = (Seq.fill(50)(("a", 1)) ++ Seq.fill(50)(("a", 0)) ++
      Seq.fill(50)(("b", 1)) ++ Seq.fill(50)(("b", 0)))
      .toDF("g", "s")
    val r0 = Stats.propTest(same, "g", col("s") === 1, "a", "b").head()
    assert(r0.getAs[Double]("p1") == 0.5 && r0.getAs[Double]("z") == 0.0)
    // a: 80/100, b: 60/100 -> pooled 0.7,
    // z = 0.2 / sqrt(0.7*0.3*(0.02)) = 3.086067
    val gap = (Seq.fill(80)(("a", 1)) ++ Seq.fill(20)(("a", 0)) ++
      Seq.fill(60)(("b", 1)) ++ Seq.fill(40)(("b", 0))).toDF("g", "s")
    val r1 = Stats.propTest(gap, "g", col("s") === 1, "a", "b").head()
    assert(r1.getAs[Long]("k1") == 80L && r1.getAs[Long]("k2") == 60L)
    assert(math.abs(r1.getAs[Double]("z") - 3.086067) < 1e-6)
    // a degenerate pooled rate (all successes) nulls z
    val degen = (Seq.fill(5)(("a", 1)) ++ Seq.fill(5)(("b", 1))).toDF("g", "s")
    val r2 = Stats.propTest(degen, "g", col("s") === 1, "a", "b").head()
    assert(r2.isNullAt(r2.fieldIndex("z")))
  }

  test("ksTestBy isolates drift to the segment that actually moved") {
    // segment s1: identical cohorts (d = 0); s2: disjoint (d = 1);
    // s3: cohort b missing entirely -> no row
    val df = (Seq.tabulate(10)(i => ("s1", "a", i.toDouble)) ++
      Seq.tabulate(10)(i => ("s1", "b", i.toDouble)) ++
      Seq.tabulate(10)(i => ("s2", "a", i.toDouble)) ++
      Seq.tabulate(10)(i => ("s2", "b", 500.0 + i)) ++
      Seq.tabulate(10)(i => ("s3", "a", i.toDouble)))
      .toDF("seg", "g", "v")
    val out = Stats.ksTestBy(df, "seg", "g", "v", "a", "b")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("d")).toMap
    assert(out == Map("s1" -> 0.0, "s2" -> 1.0))
  }

  test("qqTable: equal cohorts gap 0 everywhere; a +10 shift shows as gap 10") {
    val df = (Seq.tabulate(100)(i => ("a", i.toDouble)) ++
      Seq.tabulate(100)(i => ("b", i + 10.0))).toDF("g", "v")
    val out = Stats.qqTable(df, "g", "v", "a", "b")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 99)
    assert(out.values.forall(_.getAs[Double]("gap") == 10.0))
    // inverted-CDF: p-th percentile of 0..99 is value p-1
    assert(out(50L).getAs[Double]("q1") == 49.0)
    assert(out(1L).getAs[Double]("q1") == 0.0)
    assert(out(99L).getAs[Double]("q1") == 98.0)
    // an EMPTY cohort (typo'd group) yields NULL quantiles, never the
    // global minimum masquerading as every percentile
    val empt = Stats.qqTable(df, "g", "v", "a", "nope").collect()
    assert(empt.length == 99)
    assert(empt.forall(r => r.isNullAt(r.fieldIndex("q2")) &&
      r.isNullAt(r.fieldIndex("gap"))))
    assert(empt.forall(r => !r.isNullAt(r.fieldIndex("q1"))))
  }

  test("mutualInfo: independence gives ~0 everywhere; a bijection gives NMI 1") {
    // perfectly independent table (same construction as the chi2 spec)
    val indep = (for {
      r <- Seq("a", "b"); c <- Seq("x", "y", "z")
      w = (if (r == "a") 2 else 3) * (if (c == "x") 1 else 2)
      _ <- 0 until w
    } yield (r, c)).toDF("r", "c")
    val r0 = Stats.mutualInfo(indep, "r", "c").head()
    assert(math.abs(r0.getAs[Double]("mi")) < 1e-5)
    assert(math.abs(r0.getAs[Double]("cramers_v")) < 1e-5)
    // a bijection: knowing one determines the other exactly
    val bij = Seq.tabulate(60)(i => (s"k${i % 4}", s"v${i % 4}")).toDF("r", "c")
    val r1 = Stats.mutualInfo(bij, "r", "c").head()
    assert(r1.getAs[Double]("nmi") == 1.0)
    assert(r1.getAs[Double]("cramers_v") == 1.0)
    assert(math.abs(r1.getAs[Double]("mi") - math.log(4.0)) < 1e-5)
    // a constant column: zero entropy -> NMI null, V null (min side 1)
    val const = Seq.tabulate(10)(i => ("only", s"v${i % 3}")).toDF("r", "c")
    val r2 = Stats.mutualInfo(const, "r", "c").head()
    assert(r2.isNullAt(r2.fieldIndex("nmi")) &&
      r2.isNullAt(r2.fieldIndex("cramers_v")))
  }

  test("bhAdjust matches the textbook step-up and keeps ties deterministic") {
    val df = Seq(("a", 0.005), ("b", 0.011), ("c", 0.02), ("d", 0.04),
      ("e", 0.13)).toDF("k", "p")
    val out = Stats.bhAdjust(df, "p", 0.05)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("p_adj"), r.getAs[Boolean]("reject"))).toMap
    // raw m*p/i = .025 .0275 .0333 .05 .13; step-up min from the top
    assert(out("a") == (0.025, true))
    assert(out("b") == (0.0275, true))
    assert(out("c") == (0.033333, true))
    assert(out("d") == (0.05, true))
    assert(out("e") == (0.13, false))
    // tied p-values share one adjusted value and one decision
    val tied = Seq(("x", 0.01), ("y", 0.01), ("z", 0.5)).toDF("k", "p")
    val t2 = Stats.bhAdjust(tied, "p", 0.05)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("p_adj")).toMap
    assert(t2("x") == t2("y") && t2("x") == 0.015) // i = 2 for both ties
    assert(t2("z") == 0.5)
    // NULL-p rows survive with NULL p_adj/reject and don't count in m:
    // the two real p-values adjust exactly as a 2-test battery would
    val withNull = Seq(("a", java.lang.Double.valueOf(0.01)),
      ("b", java.lang.Double.valueOf(0.5)), ("skipped", null))
      .toDF("k", "p")
    val n3 = Stats.bhAdjust(withNull, "p", 0.05).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(n3.size == 3)
    assert(n3("a").getAs[Double]("p_adj") == 0.02) // 0.01 * 2/1
    assert(n3("skipped").isNullAt(n3("skipped").fieldIndex("p_adj")) &&
      n3("skipped").isNullAt(n3("skipped").fieldIndex("reject")))
  }

  test("percentileRankBy ranks NULL-group rows within their own partition") {
    val df = Seq[(Long, java.lang.Long, String)](
      (1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, "a"),
      (4L, 10L, null), (5L, 20L, null))
      .toDF("id", "v", "grp")
    val out = Profile.percentileRankBy(df, "id", "v", Seq("grp"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("pct_rank")).toMap
    // null-group rows are present and rank against each other only
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out(4L) == 0.5 && out(5L) == 1.0)
    assert(out(1L) == math.rint(1e6 / 3) / 1e6 && out(3L) == 1.0)
  }

  test("fleissKappa: worked 4-item 3-rater fixture; ragged panel rejected") {
    // i1 aaa (s2=9, P=1), i2 aab (s2=5, P=1/3), i3 bba (1/3), i4 bbb (1)
    // P̄ = (28-12)/24 = 2/3 -> 0.666667; T_a=T_b=6, P_e = 72/144 = 0.5
    // κ from the ROUNDED P̄ (operator convention, as cohensKappa):
    //   (0.666667-0.5)/0.5 = 0.333334
    val df = Seq(
      ("i1", "a"), ("i1", "a"), ("i1", "a"),
      ("i2", "a"), ("i2", "a"), ("i2", "b"),
      ("i3", "b"), ("i3", "b"), ("i3", "a"),
      ("i4", "b"), ("i4", "b"), ("i4", "b")).toDF("item", "cat")
    val r = Stats.fleissKappa(df, "item", "cat").head()
    assert(r.getAs[Long]("n_items") == 4L)
    assert(r.getAs[Long]("n_raters") == 3L)
    assert(r.getAs[Double]("p_bar") == 0.666667)
    assert(r.getAs[Double]("p_e") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.333334)
    // unanimous panel: κ = 1
    val perfect = Seq(("i1", "a"), ("i1", "a"), ("i2", "b"), ("i2", "b"))
      .toDF("item", "cat")
    assert(Stats.fleissKappa(perfect, "item", "cat").head()
      .getAs[Double]("kappa") == 1.0)
    // constant single category: P_e = 1 -> NULL κ, not NaN
    val const = Seq(("i1", "a"), ("i1", "a"), ("i2", "a"), ("i2", "a"))
      .toDF("item", "cat")
    val c = Stats.fleissKappa(const, "item", "cat").head()
    assert(c.isNullAt(c.fieldIndex("kappa")))
    // ragged panel is an ERROR, not a silent bias
    val ragged = Seq(("i1", "a"), ("i1", "a"), ("i2", "b")).toDF("item", "cat")
    val e = intercept[IllegalArgumentException] {
      Stats.fleissKappa(ragged, "item", "cat").head()
    }
    assert(e.getMessage.contains("constant rater count"))
  }

  test("krippendorffAlpha: worked ragged fixture; singleton units excluded") {
    // u1 aa (term 0), u2 ab (term 2), u3 bbb (term 0), u4 a (excluded)
    // n = 7, D_o = 2/7 = 0.285714; T_a=3, T_b=4, ΣT² = 25
    // D_e = (49-25)/42 = 4/7 = 0.571429; α = 1 − (2/7)/(4/7) = 0.5
    val df = Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "b"),
      ("u3", "b"), ("u3", "b"), ("u3", "b"), ("u4", "a"))
      .toDF("unit", "v")
    val r = Stats.krippendorffAlpha(df, "unit", "v").head()
    assert(r.getAs[Long]("n_units") == 3L)
    assert(r.getAs[Long]("n_ratings") == 7L)
    assert(r.getAs[Double]("d_o") == 0.285714)
    assert(r.getAs[Double]("d_e") == 0.571429)
    assert(r.getAs[Double]("alpha") == 0.5)
    // perfect agreement within every unit: D_o = 0, α = 1
    val perfect = Seq(("u1", "a"), ("u1", "a"), ("u2", "b"), ("u2", "b"))
      .toDF("unit", "v")
    assert(Stats.krippendorffAlpha(perfect, "unit", "v").head()
      .getAs[Double]("alpha") == 1.0)
    // one constant category: D_e = 0 -> NULL α (vacuous agreement)
    val const = Seq(("u1", "a"), ("u1", "a"), ("u2", "a"), ("u2", "a"))
      .toDF("unit", "v")
    val c = Stats.krippendorffAlpha(const, "unit", "v").head()
    assert(c.isNullAt(c.fieldIndex("alpha")))
  }

  test("holtSmooth tracks a linear series exactly; guards fire on misuse") {
    import spark.implicits._
    // y = 2t + 3: init l=3, b=2 is already the truth, so every step
    // keeps level = y, trend = 2, residual = 0 — closed form
    val lin = Seq.tabulate(10)(t => (t.toLong, 2.0 * t + 3.0)).toDF("t", "v")
    val rows = Stats.holtSmooth(lin, "t", "v", 0.3, 0.1).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getAs[Double]("trend") == 2.0)
      assert(r.getAs[Double]("level") == r.getAs[Double]("value"))
    }
    assert(rows.head.isNullAt(rows.head.fieldIndex("fitted")))
    rows.tail.foreach(r => assert(r.getAs[Double]("residual") == 0.0))
    // a level jump shows up as a positive residual at the jump point
    val jump = (Seq.tabulate(5)(t => (t.toLong, 10.0)) ++
      Seq.tabulate(5)(t => ((t + 5).toLong, 20.0))).toDF("t", "v")
    val j = Stats.holtSmooth(jump, "t", "v", 0.3, 0.1).collect()
      .map(r => r.getAs[Long]("t") -> r).toMap
    assert(j(5L).getAs[Double]("residual") > 5.0)
    intercept[IllegalArgumentException] {
      Stats.holtSmooth(Seq((1L, 1.0)).toDF("t", "v"), "t", "v", 0.3, 0.1)
    }
    val e = intercept[IllegalArgumentException] {
      Stats.holtSmooth(lin, "t", "v", 0.3, 0.1, maxPoints = 5)
    }
    assert(e.getMessage.contains("PRE-AGGREGATED"))
  }

  test("changepoint: locates a planted level shift; ties break to smallest k") {
    import spark.implicits._
    // 10 points at level 5, then 10 at level 9: S_k - (k/20)*140 peaks
    // at k = 10 with |50 - 70| = 20; means 5 and 9 on either side
    val vals = Seq.fill(10)(5.0) ++ Seq.fill(10)(9.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("t", "v")
    val r = Stats.changepoint(df, "t", "v").head()
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("k") == 10L)
    assert(r.getAs[Long]("t_split") == 9L)
    assert(r.getAs[Double]("stat") == 20.0)
    assert(r.getAs[Double]("mean_before") == 5.0)
    assert(r.getAs[Double]("mean_after") == 9.0)
    // constant series: every split statistic is 0, the tie breaks to
    // the SMALLEST k (deterministic pick, oracle-reproducible)
    val flat = Seq.tabulate(4)(i => (i.toLong, 1.0)).toDF("t", "v")
    val f = Stats.changepoint(flat, "t", "v").head()
    assert(f.getAs[Double]("stat") == 0.0 && f.getAs[Long]("k") == 1L)
    // fewer than 2 points: no changepoint is definable -> empty
    val one = Seq((0L, 1.0)).toDF("t", "v")
    assert(Stats.changepoint(one, "t", "v").count() == 0L)
  }
}

/** Bradley–Terry: exact 2-item closed form, transitive ordering,
  * zero-win degeneracy.
  */
class BradleyTerrySpec extends SparkSpecBase {
  import spark.implicits._

  test("bradleyTerry: two items recover the exact win-rate split") {
    // A beats B 3:1 -> p_A/(p_A+p_B) = 3/4; normalized (0.75, 0.25) is
    // the MM fixed point reached in one step from the uniform start
    val prefs = (Seq.fill(3)(("A", "B")) ++ Seq.fill(1)(("B", "A")))
      .toDF("w", "l")
    val out = Stats.bradleyTerry(prefs, "w", "l").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Double]("rating") == 0.75)
    assert(out("B").getAs[Double]("rating") == 0.25)
    assert(out("A").getAs[Long]("wins") == 3L)
    assert(out("A").getAs[Long]("games") == 4L)
  }

  test("bradleyTerry: transitive wins order the ratings; zero-win item rates 0") {
    val prefs = (Seq.fill(4)(("A", "B")) ++ Seq.fill(4)(("B", "C")) ++
      Seq.fill(4)(("A", "C")) ++ Seq.fill(1)(("B", "A")) ++
      Seq.fill(1)(("C", "B")) ++ Seq.fill(2)(("A", "Z")))
      .toDF("w", "l")
    val out = Stats.bradleyTerry(prefs, "w", "l").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("rating")).toMap
    assert(out("A") > out("B") && out("B") > out("C"))
    assert(out("Z") == 0.0, "an item that never wins has the degenerate MLE 0")
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
  }
}

/** Water-filling budget allocator: worked cap cascade, normalization,
  * unknown domains, over-budget saturation.
  */
class AllocateBudgetSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.operators.Sampling

  private val avail = Seq(("a", 100L), ("b", 100L), ("c", 100L))

  test("allocateBudget: caps cascade in cap/share order, threshold splits the rest") {
    // caps 200 each; shares .6/.3/.1; budget 500 -> a caps (wants 300),
    // b caps (wants 750*.3=225 > 200), c gets t*=1000 -> 100 tokens
    val out = Sampling.allocateBudget(avail.toDF("dom", "n"), "dom",
        col("n"), Map("a" -> 0.6, "b" -> 0.3, "c" -> 0.1),
        budget = 500.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getAs[Double]("alloc_tokens") == 200.0)
    assert(out("b").getAs[Double]("alloc_tokens") == 200.0)
    assert(out("c").getAs[Double]("alloc_tokens") == 100.0)
    assert(out("a").getAs[Boolean]("capped") && out("b").getAs[Boolean]("capped"))
    assert(!out("c").getAs[Boolean]("capped"))
    assert(out("c").getAs[Double]("epochs") == 1.0)
    // un-normalized shares 6/3/1 give the identical allocation
    val raw = Sampling.allocateBudget(avail.toDF("dom", "n"), "dom",
        col("n"), Map("a" -> 6.0, "b" -> 3.0, "c" -> 1.0),
        budget = 500.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("alloc_tokens")).toMap
    assert(raw == out.view.mapValues(_.getAs[Double]("alloc_tokens")).toMap)
  }

  test("allocateBudget: unknown domains get 0; over-budget saturates every cap") {
    val out = Sampling.allocateBudget(
        (avail :+ ("x", 50L)).toDF("dom", "n"), "dom", col("n"),
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2),
        budget = 10000.0, maxEpochs = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("x").getAs[Double]("alloc_tokens") == 0.0)
    Seq("a", "b", "c").foreach { d =>
      assert(out(d).getAs[Double]("alloc_tokens") == 200.0)
      assert(out(d).getAs[Boolean]("capped"))
    }
  }
}

/** Hand-derived fixtures for the r13 extended statistics waves: effect
  * sizes, robust location, nonparametric tests, EB shrinkage, series
  * diagnostics, graph centrality — every expected constant worked out
  * on paper from the closed-form definition.
  */
class ExtendedStatsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cliffsDelta: textbook ties case, total dominance, and identity") {
    // A=[1,2,3], B=[2,3,4]: wins_a=1 ((3,2)), wins_b=6, ties=2 of 9 pairs
    // -> delta = (1-6)/9 = -0.555556, |d| > 0.474 -> large
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(2, 3, 4).map(("b", _)))
      .toDF("g", "v")
    val r = Stats.cliffsDelta(df, "g", "v", "a", "b").head()
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 3L)
    assert(r.getAs[Double]("delta") == -0.555556)
    assert(r.getAs[String]("magnitude") == "large")
    // every a beats every b -> delta exactly +1
    val dom = (Seq(10, 20).map(("a", _)) ++ Seq(1, 2).map(("b", _)))
      .toDF("g", "v")
    assert(Stats.cliffsDelta(dom, "g", "v", "a", "b")
      .head().getAs[Double]("delta") == 1.0)
    // identical samples -> all ties -> delta 0, negligible
    val same = (Seq(5, 6).map(("a", _)) ++ Seq(5, 6).map(("b", _)))
      .toDF("g", "v")
    val s = Stats.cliffsDelta(same, "g", "v", "a", "b").head()
    assert(s.getAs[Double]("delta") == 0.0)
    assert(s.getAs[String]("magnitude") == "negligible")
  }

  test("hodgesLehmannShift: even/odd pair counts, weighted ties, guard") {
    // A=[1,2], B=[10,20]: diffs {-19,-18,-9,-8}, even T=4 -> middle two
    // average: (-18 + -9)/2 = -13.5
    val even = (Seq(1, 2).map(("a", _)) ++ Seq(10, 20).map(("b", _)))
      .toDF("g", "v")
    val e = Stats.hodgesLehmannShift(even, "g", "v", "a", "b").head()
    assert(e.getAs[Long]("n_pairs") == 4L)
    assert(e.getAs[Double]("hl_shift") == -13.5)
    // A=[5], B=[1,2,4]: diffs {4,3,1}, odd T=3 -> median 3
    val odd = (Seq(5).map(("a", _)) ++ Seq(1, 2, 4).map(("b", _)))
      .toDF("g", "v")
    assert(Stats.hodgesLehmannShift(odd, "g", "v", "a", "b")
      .head().getAs[Double]("hl_shift") == 3.0)
    // tied values collapse to one weighted cell: A=[1,1], B=[0] -> both
    // middle ranks land inside the single diff cell of mass 2
    val tied = (Seq(1, 1).map(("a", _)) ++ Seq(0).map(("b", _)))
      .toDF("g", "v")
    assert(Stats.hodgesLehmannShift(tied, "g", "v", "a", "b")
      .head().getAs[Double]("hl_shift") == 1.0)
    // the cell-product guard names the pre-binning remedy
    val guard = intercept[IllegalArgumentException] {
      Stats.hodgesLehmannShift(even, "g", "v", "a", "b", maxPairCells = 1L)
    }
    assert(guard.getMessage.contains("pre-bin"))
  }

  test("permutationTest: null difference is never 'significant'; a planted gap is") {
    // identical distributions: obs_diff = 0, every replicate is at
    // least as extreme -> add-one p = 1.0
    val same = (1 to 30).map(i => (i.toLong, "a", 5.0)) ++
      (31 to 60).map(i => (i.toLong, "b", 5.0))
    val s = Stats.permutationTest(same.toDF("id", "g", "v"),
      "id", "g", "v", "a", "b").head()
    assert(s.getAs[Double]("obs_diff") == 0.0)
    assert(s.getAs[Double]("p_value") == 1.0)
    // planted 99-point gap: relabeled replicates mix the two piles, so
    // essentially none reproduces the observed extreme
    val gap = (1 to 30).map(i => (i.toLong, "a", 1.0)) ++
      (31 to 60).map(i => (i.toLong, "b", 100.0))
    val g = Stats.permutationTest(gap.toDF("id", "g", "v"),
      "id", "g", "v", "a", "b").head()
    assert(g.getAs[Double]("obs_diff") == 99.0)
    assert(g.getAs[Long]("n_replicates") == 50L)
    assert(g.getAs[Double]("p_value") <= 0.1,
      s"planted gap must be extreme, got $g")
  }

  test("pairedT: hand-computed moments; constant differences yield NULL t") {
    // d = (1, 2, 0): mean 1, sample var 1, t = sqrt(3)
    val df = Seq((1, 2), (1, 3), (2, 2)).toDF("pre", "post")
    val r = Stats.pairedT(df, "pre", "post").head()
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("mean_diff") == 1.0)
    assert(r.getAs[Double]("sd_diff") == 1.0)
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("t") == r6(1.0 / (1.0 / math.sqrt(3.0))))
    // constant shift: zero variance -> NULL t, exact mean
    val const = Seq((1, 3), (5, 7), (2, 4)).toDF("pre", "post")
    val c = Stats.pairedT(const, "pre", "post").head()
    assert(c.getAs[Double]("mean_diff") == 2.0)
    assert(c.isNullAt(c.fieldIndex("t")))
  }

  test("oddsRatio: textbook 2x2 with Woolf interval; empty cell -> NULLs") {
    val rows = Seq.fill(10)((true, true)) ++ Seq.fill(20)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(40)((false, false))
    val df = rows.toDF("e", "y")
    val r = Stats.oddsRatio(df, col("e"), col("y")).head()
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"),
      r.getAs[Long]("c"), r.getAs[Long]("d")) == ((10L, 20L, 5L, 40L)))
    assert(r.getAs[Double]("odds_ratio") == 4.0)
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val se = math.sqrt(1.0 / 10 + 1.0 / 20 + 1.0 / 5 + 1.0 / 40)
    assert(r.getAs[Double]("ci_lo") ==
      r6(math.exp(math.log(4.0) - 1.959964 * se)))
    assert(r.getAs[Double]("ci_hi") ==
      r6(math.exp(math.log(4.0) + 1.959964 * se)))
    // a zero cell: counts return, ratio columns NULL — no task failure
    val sparse = Seq((true, true), (false, false)).toDF("e", "y")
    val z = Stats.oddsRatio(sparse, col("e"), col("y")).head()
    assert(z.getAs[Long]("b") == 0L)
    assert(z.isNullAt(z.fieldIndex("odds_ratio")))
  }

  test("tukeyHsd: hand-computed pooled variance and q statistics") {
    // a=[1,2,3] b=[4,5,6] c=[1,3,5]: SSE terms 2,2,8 -> MSE = 12/6 = 2
    val df = (Seq(1, 2, 3).map(("a", _)) ++ Seq(4, 5, 6).map(("b", _)) ++
      Seq(1, 3, 5).map(("c", _))).toDF("g", "v")
    val out = Stats.tukeyHsd(df, "g", "v").collect()
      .map(r => (r.getAs[String]("g1"), r.getAs[String]("g2")) -> r).toMap
    assert(out.size == 3)
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val se = math.sqrt(2.0 / 2.0 * (1.0 / 3 + 1.0 / 3))
    assert(out(("a", "b")).getAs[Double]("mean_diff") == 3.0)
    assert(out(("a", "b")).getAs[Double]("q") == r6(3.0 / se))
    assert(out(("a", "c")).getAs[Double]("mean_diff") == 1.0)
    assert(out(("b", "c")).getAs[Double]("mean_diff") == -2.0)
    assert(out(("b", "c")).getAs[Double]("q") == r6(2.0 / se))
  }

  test("cronbachAlpha: perfect consistency, hand case, zero-variance NULL") {
    // identical items -> alpha exactly 1
    val perfect = Seq((1, 1), (2, 2), (3, 3)).toDF("a", "b")
    assert(Stats.cronbachAlpha(perfect, Seq("a", "b"))
      .head().getAs[Double]("alpha") == 1.0)
    // items (1,1),(2,1),(3,4): vars 1 and 3, total var 7 ->
    // alpha = 2*(1 - 4/7) = 0.857143
    val mixed = Seq((1, 1), (2, 1), (3, 4)).toDF("a", "b")
    val m = Stats.cronbachAlpha(mixed, Seq("a", "b")).head()
    assert(m.getAs[Double]("sum_item_var") == 4.0)
    assert(m.getAs[Double]("total_var") == 7.0)
    assert(m.getAs[Double]("alpha") == 0.857143)
    // perfectly anti-correlated: constant total -> NULL alpha, no crash
    val anti = Seq((1, 3), (2, 2), (3, 1)).toDF("a", "b")
    val z = Stats.cronbachAlpha(anti, Seq("a", "b")).head()
    assert(z.getAs[Double]("total_var") == 0.0)
    assert(z.isNullAt(z.fieldIndex("alpha")))
  }

  test("theilIndex: zero at equality, hand case, negatives dropped and counted") {
    val equal = Seq(5.0, 5.0, 5.0, 5.0).toDF("v")
    val e = Stats.theilIndex(equal, "v").head()
    assert(e.getAs[Double]("theil_t") == 0.0)
    // values (1,1,1,9): mu=3; replicate the 9dp-term/6dp-final contract
    val conc = Seq(1.0, 1.0, 1.0, 9.0, -2.0).toDF("v")
    val c = Stats.theilIndex(conc, "v").head()
    assert(c.getAs[Long]("n") == 4L && c.getAs[Long]("n_dropped") == 1L)
    def r9(v: Double) = BigDecimal(java.math.BigDecimal.valueOf(v)
      .setScale(9, java.math.RoundingMode.HALF_UP))
    def r6(v: Double) = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val t1 = r9((1.0 / 3.0) * math.log(1.0 / 3.0))
    val t9 = r9((9.0 / 3.0) * math.log(9.0 / 3.0))
    assert(c.getAs[Double]("theil_t") ==
      r6((t1 * 3 + t9).toDouble / 4.0))
  }

  test("atkinsonIndex: zero at equality, hand case (ε=1/2), non-positives counted") {
    val equal = Seq(4.0, 4.0, 4.0).toDF("v")
    assert(Stats.atkinsonIndex(equal, "v").head()
      .getAs[Double]("atkinson") == 0.0)
    // (1, 4): mu = 2.5, mean-sqrt = 1.5 -> A = 1 - 2.25/2.5 = 0.1
    val r = Stats.atkinsonIndex(Seq(1.0, 4.0, 0.0).toDF("v"), "v").head()
    assert(r.getAs[Long]("n") == 2L && r.getAs[Long]("n_dropped") == 1L)
    assert(r.getAs[Double]("mean") == 2.5)
    assert(r.getAs[Double]("atkinson") == 0.1)
    // degenerate case — zero POSITIVE values: NULL mean/atkinson (the
    // oracle's empty-sum NULLs), never the NaN of a 0/0 double division
    val deg = Stats.atkinsonIndex(Seq(0.0, -1.0).toDF("v"), "v").head()
    assert(deg.getAs[Long]("n") == 0L && deg.getAs[Long]("n_dropped") == 2L)
    assert(deg.isNullAt(deg.fieldIndex("mean")))
    assert(deg.isNullAt(deg.fieldIndex("atkinson")))
  }

  test("hhi: hand shares, normalized form, single-group NULL") {
    // counts 3:1 -> shares .75/.25 -> hhi .625, normalized (k=2) .25
    val df = Seq("a", "a", "a", "b").toDF("g")
    val r = Stats.hhi(df, "g").head()
    assert(r.getAs[Long]("n_groups") == 2L)
    assert(r.getAs[Double]("hhi") == 0.625)
    assert(r.getAs[Double]("hhi_normalized") == 0.25)
    // a monopolized single group: hhi 1, normalized undefined (NULL)
    val solo = Stats.hhi(Seq("x", "x").toDF("g"), "g").head()
    assert(solo.getAs[Double]("hhi") == 1.0)
    assert(solo.isNullAt(solo.fieldIndex("hhi_normalized")))
  }

  test("concentrationRatio: top-k share on hand counts; k beyond groups saturates at 1") {
    // counts 3:1:1 -> CR_2 = 4/5
    val df = Seq("a", "a", "a", "b", "c").toDF("g")
    val r = Stats.concentrationRatio(df, "g", 2).head()
    assert(r.getAs[Long]("n_groups") == 3L && r.getAs[Long]("n_total") == 5L)
    assert(r.getAs[Long]("top_n") == 4L && r.getAs[Double]("top_share") == 0.8)
    // k >= group count takes everything
    assert(Stats.concentrationRatio(df, "g", 10).head()
      .getAs[Double]("top_share") == 1.0)
  }

  test("lorenzCurve: diagonal at equality, bowed under concentration, partial blocks exact") {
    // perfect equality: share at k/10 is exactly k/10
    val eq = Seq.fill(10)(5.0).toDF("v")
    val eqPts = Stats.lorenzCurve(eq, "v").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cum_share")).toMap
    (1 to 10).foreach(k => assert(eqPts(k.toLong) == k / 10.0))
    // total concentration: poorest 9 deciles hold nothing
    val conc = (Seq.fill(9)(0.0) :+ 10.0).toDF("v")
    val cPts = Stats.lorenzCurve(conc, "v").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cum_share")).toMap
    (1 to 9).foreach(k => assert(cPts(k.toLong) == 0.0))
    assert(cPts(10L) == 1.0)
    // 3 rows, 10 points: k <= 3 target rank 0 and is absent; k=4 takes
    // the single poorest row -> 1/6 of the mass
    val tri = Seq(1.0, 2.0, 3.0).toDF("v")
    val tPts = Stats.lorenzCurve(tri, "v").collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("cum_share")).toMap
    assert(!tPts.contains(1L) && !tPts.contains(3L))
    assert(tPts(4L) == 0.166667 && tPts(10L) == 1.0)
  }

  test("pageHinkley: step shift peaks at the end, flat series never triggers") {
    // step 0->10 at t=4, mean 5: m walks -5,-10,-15,-10,-5,0; running
    // min pins at -15, so PH peaks at 15 on the last point
    val step = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0),
      (4L, 10.0), (5L, 10.0), (6L, 10.0)).toDF("t", "v")
    val r = Stats.pageHinkley(step, "t", "v", delta = 0.0, lambda = 12.0)
      .head()
    assert(r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("ph_max") == 15.0)
    assert(r.getAs[Long]("t_at_max") == 6L)
    assert(r.getAs[Boolean]("triggered"))
    // the default lambda=50 does not fire on the same shift
    assert(!Stats.pageHinkley(step, "t", "v").head()
      .getAs[Boolean]("triggered"))
    // a flat series has PH exactly 0 everywhere
    val flat = Seq((1L, 3.0), (2L, 3.0), (3L, 3.0)).toDF("t", "v")
    val f = Stats.pageHinkley(flat, "t", "v").head()
    assert(f.getAs[Double]("ph_max") == 0.0 && !f.getAs[Boolean]("triggered"))
  }

  test("durbinWatson: linear ramp gives 1, alternating series gives 3") {
    // residuals of a ramp: e = (-1, 0, 1) -> sum d2 = 2, sum e2 = 2 -> DW 1
    val ramp = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("t", "v")
    assert(Stats.durbinWatson(ramp, "t", "v").head()
      .getAs[Double]("dw") == 1.0)
    // perfect alternation: DW -> 3 on (1,3,1,3)
    val alt = Seq((1L, 1.0), (2L, 3.0), (3L, 1.0), (4L, 3.0)).toDF("t", "v")
    assert(Stats.durbinWatson(alt, "t", "v").head()
      .getAs[Double]("dw") == 3.0)
  }

  test("personalizedPageRank: hand-replayed chain with quantized teleport") {
    // 1 -> 2 -> 3 (3 dangles), seed = {1}:
    // r1 = (0.15, 0.85, 0); r2 = (0.15, 0.1275, 0.7225); mass sums to 1
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.personalizedPageRank(edges, Seq(1L), iters = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("ppr"))
      .toMap
    assert(out(1L) == 0.15)
    assert(out(2L) == 0.1275)
    assert(out(3L) == 0.7225)
    assert(out.values.sum == 1.0)
    // dangling mass returns to the SEED, not uniformly: one more round
    // moves 3's mass back into 1's teleport share
    val r3 = Graph.personalizedPageRank(edges, Seq(1L), iters = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("ppr"))
      .toMap
    assert(r3(1L) > 0.15, s"dangling mass must return to the seed: $r3")
  }

  test("meanExcess: exact excess means per threshold, empty tail NULL") {
    val df = Seq(1.0, 2.0, 3.0, 10.0).toDF("v")
    val out = graft.operators.Distribution
      .meanExcess(df, "v", Seq(0, 2.5, 5, 20)).collect()
      .map(r => r.getAs[Double]("threshold") -> r).toMap
    assert(out(0.0).getAs[Long]("n_exceed") == 4L)
    assert(out(0.0).getAs[Double]("mean_excess") == 4.0)
    assert(out(2.5).getAs[Long]("n_exceed") == 2L)
    assert(out(2.5).getAs[Double]("mean_excess") == 4.0)
    assert(out(5.0).getAs[Double]("mean_excess") == 5.0)
    assert(out(20.0).getAs[Long]("n_exceed") == 0L)
    assert(out(20.0).isNullAt(out(20.0).fieldIndex("mean_excess")))
  }

  test("ksUniform: exact discrete-jump distances against the uniform CDF") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    // (0.25, 0.5, 0.75) on U(0,1): D+ = 1 - 0.75 = 0.25 at the top
    // point, D- = 0.25 - 0 at the bottom
    val df = Seq(0.25, 0.5, 0.75).toDF("v")
    val r = Stats.ksUniform(df, "v", 0.0, 1.0).head()
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Double]("d_plus") == 0.25)
    assert(r.getAs[Double]("d_minus") == 0.25)
    assert(r.getAs[Double]("sqrt_n_d") == r6(math.sqrt(3.0) * 0.25))
    // the centered lattice is as uniform as 4 points get: D = 1/8
    val lat = Seq(0.125, 0.375, 0.625, 0.875).toDF("v")
    assert(Stats.ksUniform(lat, "v", 0.0, 1.0)
      .head().getAs[Double]("d") == 0.125)
    // out-of-support mass is NOT silently dropped: 2 of 4 points above
    // hi enter the CDF against the clamped F (=1 there). At 2.0:
    // F(2.0) clamps to 1, F̂(2.0⁻) = 0.5 → D⁻ = 0.5 — the old
    // conditional-distribution version would have reported a perfect
    // fit on {0.25, 0.25} alone.
    val oor = Seq(0.25, 0.25, 2.0, 3.0).toDF("v")
    val ro = Stats.ksUniform(oor, "v", 0.0, 1.0).head()
    assert(ro.getAs[Long]("n") == 4L)
    assert(ro.getAs[Long]("n_out_of_range") == 2L)
    assert(ro.getAs[Double]("d_minus") == 0.5)
    assert(ro.getAs[Double]("d") == 0.5)
  }

  test("friedman: textbook maximal-disagreement blocks; incomplete blocks drop") {
    // 4 complete blocks always ranking a<b<c -> chi2 = 8 (the k=3, n=4
    // maximum); block 5 lacks b,c and must drop
    val rows = (1 to 4).flatMap(b =>
      Seq((b.toLong, "a", 1.0), (b.toLong, "b", 2.0), (b.toLong, "c", 3.0))) :+
      ((5L, "a", 9.0))
    val df = rows.toDF("b", "t", "v")
    val r = Stats.friedman(df, "b", "t", "v").head()
    assert(r.getAs[Long]("n_blocks") == 4L)
    assert(r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("chi2") == 8.0)
    // all-tied blocks: zero denominator -> NULL chi2, never a crash
    val tied = (1 to 3).flatMap(b =>
      Seq((b.toLong, "a", 1.0), (b.toLong, "b", 1.0))).toDF("b", "t", "v")
    val z = Stats.friedman(tied, "b", "t", "v").head()
    assert(z.isNullAt(z.fieldIndex("chi2")))
  }

  test("cochranQ: textbook 3x4 binary table; incomplete blocks drop") {
    // y rows (1,1,0),(1,0,0),(1,1,1),(0,0,0): G=(3,2,1), L=(2,1,3,0)
    // -> Q = 2*(3*14-36)/(3*6-14) = 12/4 = 3
    val y = Map((1, "a") -> 60, (1, "b") -> 70, (1, "c") -> 10,
      (2, "a") -> 55, (2, "b") -> 5, (2, "c") -> 5,
      (3, "a") -> 90, (3, "b") -> 80, (3, "c") -> 70,
      (4, "a") -> 10, (4, "b") -> 20, (4, "c") -> 30)
    val rows = y.toSeq.map { case ((b, t), v) => (b.toLong, t, v.toDouble) } :+
      ((9L, "a", 99.0)) // incomplete block
    val df = rows.toDF("b", "t", "v")
    val r = Stats.cochranQ(df, "b", "t", col("v") >= 50).head()
    assert(r.getAs[Long]("n_blocks") == 4L)
    assert(r.getAs[Long]("k") == 3L)
    assert(r.getAs[Double]("q") == 3.0)
  }

  test("effectiveSampleSize: uniform weights keep full ESS; skew collapses it") {
    val uni = Seq(1.0, 1.0, 1.0, 1.0).toDF("w")
    val u = Stats.effectiveSampleSize(uni, "w").head()
    assert(u.getAs[Double]("ess") == 4.0)
    assert(u.getAs[Double]("ess_ratio") == 1.0)
    // one dominant weight: ESS ~ 1; zero/negative weights drop, counted
    val skew = Seq(10.0, 0.1, 0.0, -3.0).toDF("w")
    val s = Stats.effectiveSampleSize(skew, "w").head()
    assert(s.getAs[Long]("n") == 2L && s.getAs[Long]("n_dropped") == 2L)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(s.getAs[Double]("ess") == r6(10.1 * 10.1 / 100.01))
  }

  test("icc: perfect block separation reads 1; pure noise reads the -1/(k-1) floor") {
    val sep = Seq(("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0))
      .toDF("b", "v")
    val s = Stats.icc(sep, "b", "v").head()
    assert(s.getAs[Double]("msw") == 0.0)
    assert(s.getAs[Double]("icc1") == 1.0)
    // identical block means, all variance within: icc = -1/(k0-1) = -1
    val noise = Seq(("a", 1.0), ("a", 5.0), ("b", 1.0), ("b", 5.0))
      .toDF("b", "v")
    val n = Stats.icc(noise, "b", "v").head()
    assert(n.getAs[Double]("msb") == 0.0)
    assert(n.getAs[Double]("icc1") == -1.0)
  }

  test("runsTest: alternation inflates runs, clustering deflates, exact z") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val alt = Seq((1, 1), (2, 0), (3, 1), (4, 0)).toDF("t", "s")
    val a = Stats.runsTest(alt, "t", col("s") === 1).head()
    assert(a.getAs[Long]("runs") == 4L)
    assert(a.getAs[Double]("expected_runs") == 3.0)
    val sig = math.sqrt(2.0 * 2 * 2 * (2.0 * 2 * 2 - 4) / (4.0 * 4 * 3))
    assert(a.getAs[Double]("z") == r6((4.0 - 3.0) / sig))
    val clu = Seq((1, 1), (2, 1), (3, 0), (4, 0)).toDF("t", "s")
    val c = Stats.runsTest(clu, "t", col("s") === 1).head()
    assert(c.getAs[Long]("runs") == 2L)
    assert(c.getAs[Double]("z") == r6((2.0 - 3.0) / sig))
    // one-sided series: no variance -> NULL z
    val one = Seq((1, 1), (2, 1)).toDF("t", "s")
    val o = Stats.runsTest(one, "t", col("s") === 1).head()
    assert(o.isNullAt(o.fieldIndex("z")))
  }

  test("quantileCI: order-statistic median band on 1..100") {
    // point = (x50 + x51)/2 = 50.5; band ranks ceil(50 -/+ 1.96*5) =
    // 41 and 60 -> CI [41, 60]
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = Stats.quantileCI(df, "v").head()
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Double]("point") == 50.5)
    assert(r.getAs[Long]("lo_rank") == 41L)
    assert(r.getAs[Long]("hi_rank") == 60L)
    assert(r.getAs[Double]("ci_lo") == 41.0)
    assert(r.getAs[Double]("ci_hi") == 60.0)
  }

  test("jarqueBera: symmetric fixture has zero skew and the exact statistic") {
    // (1,2,2,3): mu=2, m2=0.5, m3=0, m4=0.5 -> skew 0, ex-kurt -1,
    // JB = 4/6 * (0 + 1/4) = 1/6
    val df = Seq(1.0, 2.0, 2.0, 3.0).toDF("v")
    val r = Stats.jarqueBera(df, "v").head()
    assert(r.getAs[Double]("skewness") == 0.0)
    assert(r.getAs[Double]("ex_kurtosis") == -1.0)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("jb") == r6(4.0 / 6.0 * 0.25))
    // constant column: zero variance -> NULL everything but n
    val c = Stats.jarqueBera(Seq(5.0, 5.0, 5.0, 5.0).toDF("v"), "v").head()
    assert(c.isNullAt(c.fieldIndex("jb")))
  }

  test("ljungBox: replays the acf rollup; a ramp is loudly autocorrelated") {
    val ramp = (1 to 20).map(t => (t.toLong, t.toDouble)).toDF("t", "v")
    val r = Stats.ljungBox(ramp, "t", "v", maxLag = 3).head()
    assert(r.getAs[Long]("n") == 20L)
    // replay: Q = n(n+2) * sum r9(r_k^2/(n-k)) over the acf op's r
    val rs = Stats.acf(ramp, "t", "v", 3).collect()
      .map(x => (x.getAs[Long]("lag"), x.getAs[Double]("r")))
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val s = rs.map { case (k, rk) => r9(rk * rk / (20 - k)) }
      .foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("q_stat") == r6(20.0 * 22 * s.doubleValue))
    assert(r.getAs[Double]("q_stat") > 10.0, "a ramp must scream")
  }

  test("ebShrinkage: MoM prior pulls small groups, leaves the mean fixed") {
    // rates (.5, 0, 1, .5): m=.5, v=1/6 -> alpha=beta=0.25
    val rows = (1 to 10).map(_ => ("A", 1)) ++ (1 to 10).map(_ => ("A", 0)) ++
      (1 to 2).map(_ => ("B", 0)) ++ (1 to 20).map(_ => ("C", 1)) ++
      (1 to 5).map(_ => ("D", 1)) ++ (1 to 5).map(_ => ("D", 0))
    val out = Stats.ebShrinkage(rows.toDF("g", "y"), "g", col("y") === 1)
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(out("A").getAs[Double]("alpha") == 0.25)
    assert(out("A").getAs[Double]("beta") == 0.25)
    // tiny group B (0/2) shrinks hard toward the prior mean 0.5
    assert(out("B").getAs[Double]("raw_rate") == 0.0)
    assert(out("B").getAs[Double]("shrunk_rate") == 0.1)
    // a big group barely moves
    assert(out("A").getAs[Double]("shrunk_rate") == 0.5)
    // no rate dispersion: the prior is undefined -> NULL shrunk
    val flat = Seq(("A", 1), ("A", 0), ("B", 1), ("B", 0)).toDF("g", "y")
    val f = Stats.ebShrinkage(flat, "g", col("y") === 1)
      .collect().head
    assert(f.isNullAt(f.fieldIndex("shrunk_rate")))
  }

  test("mantelHaenszel: hand two-stratum table, pooled OR and CMH chi2") {
    def stratum(s: Int, a: Int, b: Int, c: Int, d: Int) =
      Seq.fill(a)((s, 1, 1)) ++ Seq.fill(b)((s, 1, 0)) ++
        Seq.fill(c)((s, 0, 1)) ++ Seq.fill(d)((s, 0, 0))
    val df = (stratum(1, 4, 1, 1, 4) ++ stratum(2, 1, 4, 4, 16))
      .toDF("s", "e", "y")
    val r = Stats.mantelHaenszel(df, "s", col("e") === 1, col("y") === 1)
      .head()
    assert(r.getAs[Long]("n_strata") == 2L)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    // ad/n terms: 1.6 + 0.64; bc/n: 0.1 + 0.64
    assert(r.getAs[Double]("or_mh") == r6(2.24 / 0.74))
    val e = r9(2.5).add(r9(1.0)).doubleValue
    val v = r9(25.0 * 25 / (100 * 9.0)).add(r9(10000 / 15000.0)).doubleValue
    assert(r.getAs[Double]("chi2_cmh") == r6((5.0 - e) * (5.0 - e) / v))
  }

  test("cochranArmitage: perfect dose trend; flat rates read zero") {
    val rows = (1 to 10).map(_ => (0, 0)) ++
      (1 to 5).map(_ => (1, 1)) ++ (1 to 5).map(_ => (1, 0)) ++
      (1 to 10).map(_ => (2, 1))
    val r = Stats.cochranArmitage(rows.toDF("s", "y"), col("s"),
      col("y") === 1).head()
    assert(r.getAs[Long]("n") == 30L && r.getAs[Long]("r") == 15L)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("z") == r6(10.0 / math.sqrt(5.0)))
    val flat = Seq((0, 1), (0, 0), (1, 1), (1, 0)).toDF("s", "y")
    assert(Stats.cochranArmitage(flat, col("s"), col("y") === 1)
      .head().getAs[Double]("z") == 0.0)
  }

  test("seasonalStrength: pure weekly shape vs pure trend") {
    // v = 10*(t%7): after the centered 7-MA the residual is ~0 and all
    // structure is seasonal; trend+resid is constant -> NULL f_trend
    val weekly = (0 to 27).map(t => (t.toLong, (t % 7) * 10.0)).toDF("t", "v")
    val w = Stats.seasonalStrength(weekly, "t", "v", 7).head()
    assert(w.getAs[Double]("var_resid") == 0.0)
    assert(w.getAs[Double]("f_seasonal") == 1.0)
    assert(w.isNullAt(w.fieldIndex("f_trend")))
    // v = t: all structure is trend; seasonal+resid constant -> NULL Fs
    val lin = (0 to 27).map(t => (t.toLong, t.toDouble)).toDF("t", "v")
    val l = Stats.seasonalStrength(lin, "t", "v", 7).head()
    assert(l.getAs[Double]("f_trend") == 1.0)
    assert(l.isNullAt(l.fieldIndex("f_seasonal")))
  }

  test("partialCorr: controlling the confounder recovers the direct link") {
    // full factorial grid: x,z independent; y = x + z
    val rows = for (i <- 0 until 10; j <- 0 until 10)
      yield (i.toDouble, (i + j).toDouble, j.toDouble)
    val df = rows.toDF("x", "y", "z")
    val r = Stats.partialCorr(df, "x", "y", "z").head()
    assert(r.getAs[Double]("r_xz") == 0.0)
    val rxy = r.getAs[Double]("r_xy")
    assert(rxy < 0.75, s"marginal correlation is diluted by z: $rxy")
    assert(r.getAs[Double]("r_partial") > 0.999,
      s"partialling out z must recover ~1: $r")
    // x == z: the control is collinear -> NULL partial, no crash
    val col2 = rows.map { case (x, y, _) => (x, y, x) }.toDF("x", "y", "z")
    val c = Stats.partialCorr(col2, "x", "y", "z").head()
    assert(c.getAs[Double]("r_xz") == 1.0)
    assert(c.isNullAt(c.fieldIndex("r_partial")))
  }

  test("hillAlpha: hand geometric tail; exact-Pareto recovers its index") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    // top3 of {16,8,4,2,1} with k=2: ln(16/4)+ln(8/4) at 9 dp
    val df = Seq(16.0, 8.0, 4.0, 2.0, 1.0).toDF("v")
    val r = Stats.hillAlpha(df, "v", 2).head()
    assert(r.getAs[Double]("x_threshold") == 4.0)
    val ls = r9(math.log(4.0)).add(r9(math.log(2.0)))
    assert(r.getAs[Double]("alpha") == r6(2.0 / ls.doubleValue))
    // exact Pareto(alpha=2) quantiles: x_i = (i/n)^(-1/2) -> alpha ~ 2
    val par = (1 to 2000).map(i => math.pow(i / 2000.0, -0.5)).toDF("v")
    val a = Stats.hillAlpha(par, "v", 200).head().getAs[Double]("alpha")
    assert(math.abs(a - 2.0) < 0.3, s"Hill must recover ~2, got $a")
    intercept[IllegalArgumentException] {
      Stats.hillAlpha(df, "v", 10) // needs k+1 positive rows
    }
  }

  test("byAdjust: harmonic-inflated BH, never below plain BH") {
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val df = Seq(0.01, 0.02, 0.04, 0.04).toDF("p")
    val by = Stats.byAdjust(df, "p", 0.1).collect()
      .map(r => r.getAs[Double]("p") -> r).toMap
    val h = Seq(1, 2, 3, 4).map(j => r9(1.0 / j))
      .foldLeft(java.math.BigDecimal.ZERO)(_ add _).doubleValue
    // raw = p*m*H/i is 0.01*4*H/1 = 0.02*4*H/2 = 0.04*4*H/4 for all
    assert(by(0.01).getAs[Double]("p_adj") == r6(0.01 * 4 * h / 1))
    assert(by(0.04).getAs[Double]("p_adj") == r6(0.01 * 4 * h / 1))
    // BY is uniformly more conservative than BH
    val bh = Stats.bhAdjust(df, "p", 0.1).collect()
      .map(r => r.getAs[Double]("p") -> r.getAs[Double]("p_adj")).toMap
    by.foreach { case (p, r) =>
      assert(r.getAs[Double]("p_adj") >= bh(p) - 1e-9) }
  }

  test("wilcoxonSignedRank: hand midranks with ties; zeros drop") {
    // d = (+1, +2, -1, +3, 0): W+ = 1.5 + 3 + 4 = 8.5, mu = 5,
    // sigma2 = 7.5 - 6/48 = 7.375
    val df = Seq((0, 1), (0, 2), (1, 0), (0, 3), (5, 5))
      .toDF("pre", "post")
    val r = Stats.wilcoxonSignedRank(df, "pre", "post").head()
    assert(r.getAs[Long]("n_pairs") == 4L && r.getAs[Long]("n_zero") == 1L)
    assert(r.getAs[Double]("w_plus") == 8.5)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("z") == r6((8.5 - 5.0) / math.sqrt(7.375)))
    // a symmetric swap nets W+ = W-: z = 0
    val sym = Seq((0, 2), (2, 0)).toDF("pre", "post")
    assert(Stats.wilcoxonSignedRank(sym, "pre", "post")
      .head().getAs[Double]("z") == 0.0)
  }

  test("weightedKappa: perfect agreement reads 1; near-misses cost 1/span") {
    val perfect = Seq((0, 0), (1, 1), (2, 2), (0, 0)).toDF("a", "b")
    val p = Stats.weightedKappa(perfect, "a", "b").head()
    assert(p.getAs[Double]("po_w") == 1.0)
    assert(p.getAs[Double]("kappa_w") == 1.0)
    // every pair one tier off over span 2: po_w = 0.5 exactly
    val near = Seq((0, 1), (1, 2), (0, 1), (1, 2)).toDF("a", "b")
    val nr = Stats.weightedKappa(near, "a", "b").head()
    assert(nr.getAs[Long]("k") == 3L)
    assert(nr.getAs[Double]("po_w") == 0.5)
    // weighted kappa must beat unweighted on near-miss data (cohens
    // po here is 0)
    assert(nr.getAs[Double]("kappa_w") >
      -1.0 && nr.getAs[Double]("po_w") > 0.0)
    // degenerate single category: loud refusal
    intercept[IllegalArgumentException] {
      Stats.weightedKappa(Seq((1, 1), (1, 1)).toDF("a", "b"), "a", "b")
    }
  }

  test("gwetAC1: hand 2x2; survives the prevalence paradox that sinks kappa") {
    def table(yy: Int, yn: Int, ny: Int, nn: Int) =
      (Seq.fill(yy)(("y", "y")) ++ Seq.fill(yn)(("y", "n")) ++
        Seq.fill(ny)(("n", "y")) ++ Seq.fill(nn)(("n", "n")))
        .toDF("a", "b")
    // 40/5/5/50: po = 0.9, pi = (0.45, 0.55), e = 0.495
    val r = Stats.gwetAC1(table(40, 5, 5, 50), "a", "b").head()
    assert(r.getAs[Double]("po") == 0.9)
    assert(r.getAs[Double]("pe_gwet") == 0.495)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(r.getAs[Double]("ac1") == r6((0.9 - 0.495) / (1.0 - 0.495)))
    // 98/1/1/0: raters agree 98% but kappa collapses under the skewed
    // margins; AC1 stays calibrated
    val skew = table(98, 1, 1, 0)
    val ac1 = Stats.gwetAC1(skew, "a", "b").head().getAs[Double]("ac1")
    val kappa = Stats.cohensKappa(skew, "a", "b").head()
      .getAs[Double]("kappa")
    assert(ac1 > 0.9, s"AC1 must stay high on skewed agreement: $ac1")
    assert(kappa < 0.1, s"kappa's paradox is the point of contrast: $kappa")
  }

  test("gTest: zero on exact independence; hand diagonal case") {
    val indep = (for (a <- Seq("a1", "a2"); b <- Seq("b1", "b2");
                      _ <- 1 to 10) yield (a, b)).toDF("x", "y")
    val i = Stats.gTest(indep, "x", "y").head()
    assert(i.getAs[Long]("df") == 1L)
    assert(i.getAs[Double]("g") == 0.0)
    // pure diagonal 20/20: each O=20, E=10 -> G = 2 * 2 * r9(20 ln 2)
    val diag = (Seq.fill(20)(("a1", "b1")) ++ Seq.fill(20)(("a2", "b2")))
      .toDF("x", "y")
    val d = Stats.gTest(diag, "x", "y").head()
    def r9(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    def r6(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val term = r9(20.0 * math.log(2.0))
    assert(d.getAs[Double]("g") ==
      r6(2.0 * term.add(term).doubleValue))
  }

  test("hits: hand-replayed two-iteration star graph") {
    // h1(1)->a1(10), h2(2)->a1(10), h1(1)->a2(11)
    // iter1: a = (2,1)/3 -> (0.666666667, 0.333333333)
    //        h = (1.0, 0.666666667)/1.666666667 -> (0.6, 0.4)
    // iter2: a = (1.0, 0.6)/1.6 -> (0.625, 0.375)
    //        h = (1.0, 0.625)/1.625 -> (0.615384615, 0.384615385)
    val edges = Seq((1L, 10L), (2L, 10L), (1L, 11L)).toDF("src", "dst")
    val out = Graph.hits(edges, iters = 2).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(10L).getAs[Double]("authority") == 0.625)
    assert(out(11L).getAs[Double]("authority") == 0.375)
    assert(out(1L).getAs[Double]("hub") == 0.615384615)
    assert(out(2L).getAs[Double]("hub") == 0.384615385)
    // pure hubs have zero authority; pure authorities zero hub
    assert(out(1L).getAs[Double]("authority") == 0.0)
    assert(out(10L).getAs[Double]("hub") == 0.0)
    // parallel edges collapse: duplicating an edge changes nothing
    val dup = Seq((1L, 10L), (1L, 10L), (2L, 10L), (1L, 11L))
      .toDF("src", "dst")
    val d = Graph.hits(dup, iters = 2).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(d(10L).getAs[Double]("authority") == 0.625)
  }
}
