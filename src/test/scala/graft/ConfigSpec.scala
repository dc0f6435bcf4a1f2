package graft

import graft.config.GraftConfig
import graft.operators.TableRules
import graft.sources.MemorySide

class ConfigSpec extends SparkSpecBase {
  import spark.implicits._

  private val yaml =
    """db1_details:
      |  database_type: parquet
      |  path: /data/side1
      |db2_details:
      |  database_type: parquet
      |  path: /data/side2
      |output_path: ./out
      |target_tables:
      |  - "orders.*"
      |ignore_tables:
      |  - "tmp_.*"
      |ignore_dates: true
      |table_configs:
      |  - table_name: orders
      |    rules:
      |      - rule_type: ignore_column
      |        rule_value: updated_at
      |      - rule_type: ignore_column
      |        rule_value: run_id
      |    query: "SELECT * FROM orders WHERE id > 5"
      |""".stripMargin

  test("YAML config parses with reference field names") {
    val cfg = GraftConfig.parse(yaml)
    assert(cfg.db1Details.path == "/data/side1")
    assert(cfg.outputPath == "./out")
    assert(cfg.targetTables == Seq("orders.*"))
    assert(cfg.ignoreTables == Seq("tmp_.*"))
    assert(cfg.ignoreDates)
    assert(cfg.tableConfigs("orders") ==
      TableRules(Set("updated_at", "run_id"), Some("SELECT * FROM orders WHERE id > 5")))
    val dc = cfg.diffConfig
    assert(dc.tableSelected("ORDERS_2024") && !dc.tableSelected("tmp_x") && !dc.tableSelected("customer"))
  }

  test("minimal config defaults") {
    val cfg = GraftConfig.parse(
      "db1_details: {database_type: parquet, path: /a}\ndb2_details: {database_type: parquet, path: /b}")
    assert(!cfg.ignoreDates && cfg.targetTables.isEmpty && cfg.outputPath == "drift_analysis")
  }

  test("suggestIgnores flags never-overlapping columns only") {
    val a = Seq((1L, "u1", "shared_a"), (2L, "u2", "shared_b")).toDF("id", "run_id", "name")
    val b = Seq((1L, "v9", "shared_a"), (2L, "v8", "shared_b")).toDF("id", "run_id", "name")
    val out = GraftApp.suggestIgnores(spark,
      MemorySide("db1", Map("t" -> a)), MemorySide("db2", Map("t" -> b)),
      GraftConfig.parse(
        "db1_details: {database_type: parquet, path: /a}\ndb2_details: {database_type: parquet, path: /b}"))
    assert(out.length == 1)
    assert(out.head.contains("rule_value: run_id"))
    assert(!out.head.contains("rule_value: id") && !out.head.contains("rule_value: name"))
  }

  test("an unknown command fails before option parsing and names every command") {
    val e = intercept[RuntimeException](GraftApp.main(Array("bogus")))
    val listed = e.getMessage.stripPrefix("unknown command: bogus (expected ")
    assert(listed != e.getMessage && listed.endsWith(")"))
    assert(listed.stripSuffix(")").split(" \\| ").toSet == Set(
      "run", "suggest-ignores", "setup", "profile", "dedup", "overlap", "psi",
      "ks", "curate-append", "curate", "screen", "evalcard", "classify",
      "semdiff", "semdedup", "semindex", "embdrift", "walks", "experiment",
      "er"))
    assert(!spark.sparkContext.isStopped)
  }
}

class ConfigWriteSpec extends SparkSpecBase {
  import graft.config.{ConfigWizard, GraftConfig, ScriptedIO, SideDetails}
  import graft.operators.TableRules

  private def tmpDir = java.nio.file.Files.createTempDirectory("graft-cfg")

  private val full = GraftConfig(
    db1Details = SideDetails("parquet", "/data/side1"),
    db2Details = SideDetails("postgresql", "jdbc:postgresql://h/db", "u", "sekret", "public"),
    outputPath = "./out",
    targetTables = Seq("a.*", "orders.*"), // pre-sorted: write() sorts like the reference
    ignoreTables = Seq("tmp_.*"),
    ignoreDates = true,
    tableConfigs = Map(
      "orders" -> TableRules(Set("updated_at", "run_id"),
        Some("SELECT *\nFROM orders\nWHERE id > 5"))))

  test("config round-trips load -> write -> load") {
    val dir = tmpDir
    val p = dir.resolve("cfg.yaml").toString
    GraftConfig.write(full, p)
    val back = GraftConfig.load(p)
    assert(back == full) // password restored from .env
  }

  test("passwords go to .env, never the yaml") {
    val dir = tmpDir
    val p = dir.resolve("cfg.yaml").toString
    GraftConfig.write(full, p)
    val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(!yaml.contains("sekret") && !yaml.contains("password"))
    val env = java.nio.file.Files.readString(dir.resolve(".env"))
    assert(env.contains("_password_db2=sekret"))
    assert(env.contains(GraftConfig.envPrefix(p)))
  }

  private def chmod600(p: java.nio.file.Path): Unit = {
    import java.nio.file.attribute.PosixFilePermission._
    java.nio.file.Files.setPosixFilePermissions(p,
      java.util.EnumSet.of(OWNER_READ, OWNER_WRITE))
  }

  test("passfile parses, renders, and resolves at connect time; password wins") {
    val dir = tmpDir
    // multi-entry pgpass (the normal use of the format): the FIRST
    // entry matching host:port:db:user is selected — not the first
    // line — with '*' wildcards honored and \: unescaped
    val pg = dir.resolve("pgpass")
    java.nio.file.Files.writeString(pg,
      "# comment line\n" +
        "otherhost:5432:db:me:WRONG1\n" + // host mismatch
        "h:5433:db:me:WRONG2\n" +         // port mismatch
        "h:5432:otherdb:me:WRONG3\n" +    // database mismatch
        "h:5432:db:someoneelse:WRONG4\n" + // user mismatch
        "h:5432:db:me:s3\\:cret\n" +      // the matching entry
        "*:*:*:*:fallback\n")
    chmod600(pg)
    val yaml =
      s"""db1_details:
         |  database_type: postgresql
         |  path: jdbc:postgresql://h/db
         |  user: me
         |  passfile: $pg
         |db2_details:
         |  database_type: parquet
         |  path: /data
         |""".stripMargin
    val cfg = GraftConfig.parse(yaml)
    assert(cfg.db1Details.passfile == pg.toString)
    // URL has no explicit port: postgresql defaults to 5432 (libpq rule)
    assert(cfg.db1Details.resolvedPassword == "s3:cret")
    // no exact entry -> the all-wildcard entry catches it
    assert(cfg.db1Details.copy(user = "nobody").resolvedPassword == "fallback")
    // a plain one-line secret file also works
    val plain = dir.resolve("plain")
    java.nio.file.Files.writeString(plain, "  hunter2  \n")
    chmod600(plain)
    assert(cfg.db1Details.copy(passfile = plain.toString)
      .resolvedPassword == "hunter2")
    // libpq permission rule: group/other-readable passfiles are IGNORED
    val loose = dir.resolve("loose")
    java.nio.file.Files.writeString(loose, "h:5432:db:me:leaky\n")
    import java.nio.file.attribute.PosixFilePermission._
    java.nio.file.Files.setPosixFilePermissions(loose,
      java.util.EnumSet.of(OWNER_READ, OWNER_WRITE, GROUP_READ))
    assert(cfg.db1Details.copy(passfile = loose.toString)
      .resolvedPassword == "")
    // explicit password wins over passfile (reference connection.py:290-294)
    assert(cfg.db1Details.copy(password = "direct")
      .resolvedPassword == "direct")
    // passfile is a pointer, not a secret: it round-trips through the yaml
    val out = dir.resolve("out.yaml").toString
    GraftConfig.write(cfg, out)
    val rendered = java.nio.file.Files.readString(java.nio.file.Paths.get(out))
    assert(rendered.contains(s"passfile: ") && rendered.contains("pgpass"))
    assert(GraftConfig.load(out).db1Details.passfile == pg.toString)
  }

  test("pgpass default-port: 5433 entry before 5432 must not win for a default-port URL") {
    // libpq substitutes the dialect default (5432) BEFORE matching, so a
    // portless URL matches the 5432 entry exactly — it never takes the
    // first entry of any port. r15 verdict item: the generic
    // `database_type: jdbc` path used to wildcard the missing port and
    // resolve WRONG_PORT here.
    val dir = tmpDir
    val pg = dir.resolve("pgpass")
    java.nio.file.Files.writeString(pg,
      "h:5433:db:me:WRONG_PORT\n" +
        "h:5432:db:me:right\n")
    chmod600(pg)
    // dialect inferred from the URL scheme even under database_type: jdbc
    val d = SideDetails(databaseType = "jdbc",
      path = "jdbc:postgresql://h/db", user = "me", passfile = pg.toString)
    assert(d.resolvedPassword == "right")
    // explicit non-default port still matches its own entry
    assert(d.copy(path = "jdbc:postgresql://h:5433/db")
      .resolvedPassword == "WRONG_PORT")
    // unknown dialect with no port: nothing sensible to substitute —
    // the port field stays a wildcard match
    assert(d.copy(path = "jdbc:weirddb://h/db").resolvedPassword == "WRONG_PORT")
  }

  test("env upsert replaces existing keys and keeps others") {
    val dir = tmpDir
    val envp = dir.resolve(".env")
    GraftConfig.addToEnv("a", "1", envp)
    GraftConfig.addToEnv("b", "2", envp)
    GraftConfig.addToEnv("a", "3", envp)
    assert(java.nio.file.Files.readString(envp) == "a=3\nb=2\n")
  }

  test("falsy values are dropped from the yaml like the reference dict()") {
    val dir = tmpDir
    val p = dir.resolve("cfg.yaml").toString
    GraftConfig.write(GraftConfig(
      db1Details = SideDetails("parquet", "/a"),
      db2Details = SideDetails("parquet", "/b")), p)
    val yaml = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    assert(!yaml.contains("ignore_dates") && !yaml.contains("target_tables") &&
      !yaml.contains("table_configs") && !yaml.contains("ignore_tables"))
  }

  test("malformed custom query is rejected at config parse, naming the table") {
    val bad =
      """db1_details: {database_type: parquet, path: /a}
        |db2_details: {database_type: parquet, path: /b}
        |table_configs:
        |  - table_name: orders
        |    query: "SELEKT * FROM orders"
        |""".stripMargin
    val e = intercept[IllegalArgumentException](GraftConfig.parse(bad))
    assert(e.getMessage.contains("orders"))
  }

  test("CTE custom queries stay legal (deliberate deviation)") {
    val cfg = GraftConfig.parse(
      """db1_details: {database_type: parquet, path: /a}
        |db2_details: {database_type: parquet, path: /b}
        |table_configs:
        |  - table_name: orders
        |    query: "WITH x AS (SELECT 1 AS a) SELECT * FROM x"
        |""".stripMargin)
    assert(cfg.tableConfigs("orders").customQuery.get.startsWith("WITH"))
  }

  test("wizard menu loop mutates and persists config like the reference") {
    import graft.sources.MemorySide
    import spark.implicits._
    val dir = tmpDir
    val p = dir.resolve("cfg.yaml").toString
    GraftConfig.write(GraftConfig(
      db1Details = SideDetails("parquet", "/a"),
      db2Details = SideDetails("parquet", "/b")), p)
    val a = Seq((1L, "u1", "x"), (2L, "u2", "y")).toDF("id", "run_id", "name")
    val b = Seq((1L, "v9", "x"), (2L, "v8", "y")).toDF("id", "run_id", "name")
    val sides = (MemorySide("db1", Map("t" -> a)), MemorySide("db2", Map("t" -> b)))
    val io = new ScriptedIO(Seq(
      "Set the list of ignored tables.", "scratch.*, tmp_.*",
      "Set ignore date behavior for config.", "yes",
      "Set a custom query for a table.", "t", "SELECT id, name FROM t",
      "Generate ignored columns for tables.", "yes",
      "Done."))
    val wizard = new ConfigWizard(spark, io, p, GraftConfig.load(p), Some(sides))
    val out = wizard.run()
    assert(out.ignoreTables == Seq("scratch.*", "tmp_.*"))
    assert(out.ignoreDates)
    assert(out.tableConfigs("t").customQuery.contains("SELECT id, name FROM t"))
    assert(out.tableConfigs("t").ignoreColumns == Set("run_id"))
    // persisted: reload agrees
    assert(GraftConfig.load(p) == out)
    assert(io.echoed.toString.contains("Config updated successfully."))
  }

  test("wizard create flow writes a fresh config") {
    val dir = tmpDir
    val p = dir.resolve("new.yaml").toString
    val io = new ScriptedIO(Seq("parquet", "/data/x", "parquet", "/data/y", "no"))
    val cfg = ConfigWizard.loadOrCreate(io, p)
    assert(cfg.db1Details == SideDetails("parquet", "/data/x"))
    assert(!cfg.ignoreDates)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
  }

  test("batched suggestIgnoreColumns runs O(1) jobs per table, not per column") {
    import graft.sources.MemorySide
    import spark.implicits._
    // 8 columns; 2 never overlap
    val a = (1 to 50).map(i => (i.toLong, s"a$i", s"b$i", s"c$i", i * 2, i * 3, s"r1_$i", s"s1_$i"))
      .toDF("id", "c1", "c2", "c3", "n1", "n2", "run_id", "sess_id")
    val b = (1 to 50).map(i => (i.toLong, s"a$i", s"b$i", s"c$i", i * 2, i * 3, s"r2_$i", s"s2_$i"))
      .toDF("id", "c1", "c2", "c3", "n1", "n2", "run_id", "sess_id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = GraftApp.suggestIgnoreColumns(spark,
        MemorySide("db1", Map("t" -> a)), MemorySide("db2", Map("t" -> b)),
        GraftConfig(SideDetails("parquet", "/a"), SideDetails("parquet", "/b")))
      Thread.sleep(300) // let queued listener events drain
      assert(out == Map("t" -> Seq("run_id", "sess_id")))
      // old implementation: 2 jobs x 8 columns = 16; batched: a handful
      assert(jobs.get() <= 6, s"jobs=${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

/** End-to-end drive of the `graft evalcard` subcommand body over the
  * real sf0.001 embeddings drop.
  */
class EvalCardSpec extends SparkSpecBase {
  test("runEvalCard writes the four evidence tables and a sane manifest") {
    val out = java.nio.file.Files
      .createTempDirectory("evalcard").toString
    val m = GraftApp.runEvalCard(spark, "/root/testdata/sf0.001", out)
    // manifest scalars exist and sit in their legal ranges
    assert(m("n").toLong > 0L)
    val auc = m("auc").toDouble
    assert(auc > 0.5 && auc <= 1.0, s"probe must beat chance: auc=$auc")
    assert(m("ece").toDouble >= 0.0 && m("ece").toDouble <= 1.0)
    assert(m("mce").toDouble >= m("ece").toDouble)
    assert(m("di_ratio").toDouble >= 0.0 && m("di_ratio").toDouble <= 1.0)
    // the evidence tables landed and are non-empty
    Seq("calibration", "thresholds", "fairness", "isotonic").foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      assert(n > 0, s"$t must be non-empty")
    }
    // the manifest file round-trips
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/evalcard.json")), "UTF-8")
    assert(json.contains("\"auc\"") && json.contains("\"ece\""))
  }

  test("runSemdiff --join writes best-match alignment; empty corpus fails clearly") {
    val out = java.nio.file.Files.createTempDirectory("semdiff").toString
    // self-join: every probe's best match is itself at cosine 1
    val msg = GraftApp.runSemdiff(spark, "/root/testdata/sf0.001",
      "/root/testdata/sf0.001", out, doJoin = true)
    assert(msg.contains("--join"), msg)
    val joined = spark.read.parquet(s"$out/semantic_join.parquet")
    val n = Tables.t(spark, "/root/testdata/sf0.001", "embeddings").count()
    assert(joined.count() == n, "every probe must match (itself) in a self-join")
    import org.apache.spark.sql.functions._
    assert(joined.filter(col("probe_id") =!= col("match_id")).count() == 0,
      "self-join best match must be the row itself")
    assert(joined.agg(min("cosine")).head().getDouble(0) > 0.999999)
    // empty side: a clear message, not a Row-accessor throw
    val empty = java.nio.file.Files.createTempDirectory("semdiff_empty").toString
    Tables.t(spark, "/root/testdata/sf0.001", "embeddings").limit(0)
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    val e = intercept[RuntimeException] {
      GraftApp.runSemdiff(spark, empty, "/root/testdata/sf0.001", out)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("runEmbdrift --match-cells aligns independent quantizers; self-drift is floor-level") {
    val out = java.nio.file.Files.createTempDirectory("embdrift").toString
    val msg = GraftApp.runEmbdrift(spark, "/root/testdata/sf0.001",
      "/root/testdata/sf0.001", out, matchCells = true)
    // identical corpora: mmd2 = 0 exactly (same decimal sums cancel) and
    // the independently-fit quantizers coincide -> ARI/NMI 1
    assert(msg.contains("mmd2=0.000000000"), msg)
    assert(msg.contains("cell_match_ari=1.000000"), msg)
    assert(msg.contains("cell_match_nmi=1.000000"), msg)
    Seq("embdrift", "cell_drift", "cell_matching").foreach { t =>
      assert(spark.read.parquet(s"$out/$t.parquet").count() > 0, s"$t empty")
    }
    // the matching table: every db1 cell matched (8 cells, no unmatched
    // rows between identical codebooks), cosine 1 at 6 dp
    val cm = spark.read.parquet(s"$out/cell_matching.parquet")
    assert(cm.filter("cell1 IS NULL OR cell2 IS NULL").count() == 0)
    import org.apache.spark.sql.functions._
    assert(cm.agg(min("cosine")).head().getDouble(0) == 1.0)
    // empty db1 fails with the clear message
    val empty = java.nio.file.Files.createTempDirectory("embdrift_e").toString
    Tables.t(spark, "/root/testdata/sf0.001", "embeddings").limit(0)
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    val e = intercept[RuntimeException] {
      GraftApp.runEmbdrift(spark, empty, "/root/testdata/sf0.001", out)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("runSemdedup keeps one representative per near-dup cluster") {
    import org.apache.spark.sql.functions._
    // corpus = embeddings plus an exact copy of every vec_id%5==0 row
    // under a shifted id: each copy pair collapses to the lower id
    val base = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val copies = base.filter(col("vec_id") % 5 === 0)
      .withColumn("vec_id", col("vec_id") + lit(10000000L))
    val in = java.nio.file.Files.createTempDirectory("semdedup_in").toString
    base.unionByName(copies).write.mode("overwrite")
      .parquet(s"$in/embeddings.parquet")
    val out = java.nio.file.Files.createTempDirectory("semdedup_out").toString
    val msg = GraftApp.runSemdedup(spark, in, out, minCos = 0.99)
    val kept = spark.read.parquet(s"$out/deduped.parquet")
    val nBase = base.count()
    val nCopies = copies.count()
    assert(msg.contains(s"kept=$nBase of ${nBase + nCopies}"), msg)
    // survivors are exactly the original ids (min id per copy pair)
    assert(kept.filter(col("vec_id") >= 10000000L).count() == 0)
    assert(kept.count() == nBase)
    // empty corpus fails with the clear no-non-null-vectors message
    // (the r17 null-safe dim probe rewording)
    val empty = java.nio.file.Files.createTempDirectory("semdedup_e").toString
    base.limit(0).write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    val e = intercept[RuntimeException] {
      GraftApp.runSemdedup(spark, empty, out)
    }
    assert(e.getMessage.contains("no non-null"), e.getMessage)
  }

  test("runEmbdrift prints '.' decimals under a comma-decimal default locale") {
    val out = java.nio.file.Files.createTempDirectory("embdrift-de").toString
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val msg = try GraftApp.runEmbdrift(spark, "/root/testdata/sf0.001",
        "/root/testdata/sf0.001", out, matchCells = true)
      finally java.util.Locale.setDefault(saved)
    assert(msg.contains("mmd2=0.000000000"), msg)
    assert(msg.contains("cell_match_ari=1.000000"), msg)
  }

  test("runEmbdrift --pq-codebooks adds the compression-layer axis") {
    val out = java.nio.file.Files.createTempDirectory("embdrift_pq").toString
    val books = graft.operators.Pq.fit(
      Tables.t(spark, "/root/testdata/sf0.001", "embeddings"),
      m = 4, ksub = 8, vecCol = "embedding")
    val cbPath = java.nio.file.Files.createTempDirectory("cb").toString
    graft.operators.Pq.saveCodebooks(spark, books, cbPath)
    val msg = GraftApp.runEmbdrift(spark, "/root/testdata/sf0.001",
      "/root/testdata/sf0.001", out, pqCodebooks = Some(cbPath))
    // identical corpora under one codebook: per-subspace MSEs coincide,
    // so the worst staleness ratio is exactly 1
    assert(msg.contains("pq_stale_max=1.000"), msg)
    assert(msg.contains("pq_subspaces=4"), msg)
    val pr = spark.read.parquet(s"$out/pq_recon.parquet")
    assert(pr.count() == 8, "4 subspaces x 2 sides")
    import org.apache.spark.sql.functions._
    assert(pr.filter(col("mse").isNull).count() == 0)
    // without the flag the summary says nothing about PQ
    val msg2 = GraftApp.runEmbdrift(spark, "/root/testdata/sf0.001",
      "/root/testdata/sf0.001", out)
    assert(!msg2.contains("pq_stale_max"), msg2)
  }

  test("runClassify scores the whole corpus once, labels from the seed alphabet") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("classify").toString
    val m = GraftApp.runClassify(spark, "/root/testdata/sf0.001", out)
    val preds = spark.read.parquet(s"$out/predictions.parquet")
    assert(m("n_scored").toLong == preds.count())
    // one row per document (no doc scored twice)
    assert(preds.select("doc_id").distinct().count() == preds.count())
    // predictions come only from the training label alphabet
    val langs = Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("lang").isNotNull)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    val predicted = preds.select("predicted").distinct()
      .collect().map(_.getString(0)).toSet
    assert(predicted.subsetOf(langs), s"$predicted vs $langs")
    // the summary reconciles with the predictions
    val sums = spark.read.parquet(s"$out/class_summary.parquet")
      .agg(sum("n")).head().getLong(0)
    assert(sums == preds.count())
  }
}
