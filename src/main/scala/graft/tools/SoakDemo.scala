package graft.tools

import graft.crawl._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Long-horizon soak: many batches with rotations, compactions, state GC, and
 * mid-run engine restarts all interacting — the slow-path combinations the
 * fast unit suite can't reach (e.g. bloom snapshots spanning several
 * compaction+rotation cycles, GC'd state feeding a resume, deferred
 * re-crawls across 3+ windows). Asserts the engine's global invariants
 * after every phase; exits non-zero on the first violation.
 *
 * Usage: runMain graft.tools.SoakDemo [nPages] [windows] [batchesPerWindow]
 */
object SoakDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 4096L
    val windows = if (args.length > 1) args(1).toInt else 3
    val perWindow = if (args.length > 2) args(2).toInt else 12

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val pages = PagesGen.pages(spark, n, 8).toDF().persist()
    val dir = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val base = PagesGen.BaseTsMillis
    val cfg = CrawlConfig(defaultHostBudget = 6, maxDepth = 64,
      shufflePartitions = 8, bloomMinSeen = 64, compactEvery = 3,
      saltBuckets = 4)

    // window 0 ends 12h before the corpus anchor so later windows re-open it
    val end0 = new java.sql.Timestamp(base - 12L * 3600_000L)
    val since0 = new java.sql.Timestamp(base - 4000L * 3600_000L)
    var eng = new CrawlEngine(spark, pages, dir, cfg)
    eng.initialize(PagesGen.seedRows(n, 6).map { case (id, url, _, _) =>
      Seed(id, url, since0, end0)
    })

    var violations = 0
    def check(phase: String): Unit = {
      val fetched = eng.fetched().get
      val dup = fetched.groupBy("url_hash").count().filter($"count" > 1).count()
      val led = eng.ledger().get.filter($"state".isin("SUCCESS", "ROTATED"))
        .orderBy($"batch_id".desc).limit(1)
        .select("seen_size", "frontier_size").head()
      val seenOk = led.getLong(0) == eng.seen().count()
      val frontOk = led.getLong(1) == eng.frontier().count()
      val overlap = eng.frontier().join(eng.seen(), Seq("url_hash"), "left_semi").count()
      // SUCCESS rows only: ROTATED/STOPPED rows carry -1 = not-applicable
      val viol = eng.ledger().get.filter($"state" === "SUCCESS")
        .agg(sum("invariant_violations")).head().getLong(0)
      val ok = dup == 0 && seenOk && frontOk && overlap == 0 && viol == 0
      if (!ok) violations += 1
      println(s"[soak] $phase committed=${eng.store.committedBatch} " +
        s"fetched=${fetched.count()} dup=$dup seenOk=$seenOk frontOk=$frontOk " +
        s"overlap=$overlap parseViol=$viol => ${if (ok) "OK" else "VIOLATION"}")
    }

    (0 until windows).foreach { w =>
      eng.run(perWindow / 2)
      // mid-window kill/restart: a fresh engine must resume exactly
      eng = new CrawlEngine(spark, pages, dir, cfg)
      eng.run(perWindow - perWindow / 2)
      check(s"window$w")
      eng.expireOldState()
      check(s"window$w+gc")
      if (w < windows - 1)
        eng.rotateWindows(new java.sql.Timestamp(end0.getTime + (w + 1) * 6L * 3600_000L))
    }

    // full-range completeness: after all windows the union of emissions must
    // cover every in-range page reachable from the seeds exactly once
    val emitted = eng.fetched().get.count()
    val distinctEmitted = eng.fetched().get.select("url_hash").distinct().count()
    println(s"[soak] total emitted=$emitted distinct=$distinctEmitted " +
      s"windows=$windows batches=${eng.store.committedBatch + 1}")
    if (emitted != distinctEmitted) violations += 1

    spark.stop()
    if (violations > 0) { println(s"[soak] FAILED with $violations violations"); sys.exit(1) }
    println("[soak] PASSED")
  }
}
