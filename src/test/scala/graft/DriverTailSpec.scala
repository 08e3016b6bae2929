package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.crawl._
import graft.functions.TextExtract
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver tail of a key-bounded batch (CrawlEngine.driverTail): the
  * driver-direct writer it writes through, its parity with the executor
  * tail, and the Spark jobs a batch costs. */
class DriverTailSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private def tmp(): String = Files.createTempDirectory("graft_tail").toString
  val N = 512L
  /** A pushdown cap under the link keys of some driver-tail batch. */
  val SmallCap = 8
  lazy val pagesDF = PagesGen.pages(spark, N, partitions = 4).toDF.persist()

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: Array[Byte] => a.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** Jobs started while `f` runs: (what ran it, SQL execution id). A job
    * of a SQL execution is named by the action that started the execution
    * (`count at CrawlEngine.scala:…`), else by its description or its last
    * stage. */
  private def jobsOf[T](f: => T): (T, Seq[(String, String)]) = {
    val sc = spark.sparkContext
    val queries = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          queries.put(s.executionId.toString, s.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val exec = prop("spark.sql.execution.id")
        val stage = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
        val name = Option(queries.get(exec)).filter(_ => exec.nonEmpty)
          .orElse(Some(prop("spark.job.description")).filter(_.nonEmpty)).getOrElse(stage)
        seen.add((name, exec))
      }
    }
    org.apache.spark.GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.GraftTestBus.drain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("driver-direct writer reads back like df.write.parquet: every state column type, nulls, empty, each codec") {
    val schema = StructType.fromDDL(
      "l BIGINT NOT NULL, ln BIGINT, i INT NOT NULL, s STRING, b BOOLEAN NOT NULL, " +
        "ts TIMESTAMP, d DOUBLE, bin BINARY, arr ARRAY<STRING>")
    val ts = new java.sql.Timestamp(PagesGen.BaseTsMillis + 123L)
    ts.setNanos(ts.getNanos + 456000) // sub-millisecond micros survive
    val data = Seq(
      Row(1L, 2L, 3, "x", true, ts, 0.5, Array[Byte](1, 2), Seq("a", "b")),
      Row(-7L, null, 0, null, false, null, null, null, null),
      Row(Long.MaxValue, Long.MinValue, -1, "页面 ✓", true, ts, Double.NaN, Array[Byte](), Seq()),
      Row(0L, 0L, Int.MaxValue, "", false, new java.sql.Timestamp(0L), -0.0, Array[Byte](9),
        Seq("c", null)))
    def footerCodecs(dir: String): Set[String] = {
      val conf = spark.sparkContext.hadoopConfiguration
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).flatMap { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toString), conf))
          try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
          finally r.close()
        }.toSet
    }
    for (codec <- Seq("snappy", "zstd", "none"); rowSet <- Seq(data, Nil)) {
      val root = tmp()
      new StateStore(spark, root, codec).appendLogDirect("direct", 0L, schema, rowSet)
      val sparkDir = s"$root/spark/batch=0"
      spark.createDataFrame(rowSet.asJava, schema)
        .write.option("compression", codec).parquet(sparkDir)
      val direct = spark.read.parquet(s"$root/direct/batch=0")
      val viaSpark = spark.read.parquet(sparkDir)
      val what = s"codec=$codec, ${rowSet.length} rows"
      assert(direct.schema == viaSpark.schema, s"$what: schemas differ")
      assert(rows(direct) == rows(viaSpark), s"$what: rows differ")
      assert(direct.count() == rowSet.length, what)
      assert(Files.exists(Paths.get(s"$root/direct/batch=0/_SUCCESS")))
      val expected = if (codec == "none") Set("UNCOMPRESSED") else Set(codec.toUpperCase)
      assert(footerCodecs(s"$root/direct/batch=0") == (if (rowSet.isEmpty) Set() else expected),
        s"$what: the file's column chunks do not carry the codec")
      assert(footerCodecs(s"$root/direct/batch=0") == footerCodecs(sparkDir), what)
    }
  }

  test("parity: the driver tail and the executor tail crawl identically (bloom, robots, caps, duplicate and missing pages, rotation)") {
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ageMin: Long, html: String) =
      Page(url, new java.sql.Timestamp(base - ageMin * 60000L), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    def links(us: Seq[String]) = us.map(u => s"""<a href="$u">x</a>""").mkString(" ")
    def hostOf(seed: Long) = s"h${PagesGen.hostOfSeed(seed, N)}.example.test"
    val roots = PagesGen.seedRows(N, 6)
    // a hub with more links of each class than its caps; half of its
    // same-host children are missing from the corpus
    val hub = "https://hx.example.test/hub"
    val hubPages = mk(hub, 600, links((0 until 6).map(i => s"https://hx.example.test/x/$i") ++
        roots.map(_._2).map(_.replace("/p/0", "/p/3"))) + " hub") +:
      (0 until 3).map(i => mk(s"https://hx.example.test/x/$i", 700 + i, s"child $i"))
    // an older copy of seed 0's root under the same canonical url
    val dup = mk(roots.head._2.replace("https://", "HTTPS://").replace(".test/", ".test:443/"),
      30 * 24 * 60, "older duplicate, no links")
    val pages = pagesDF.filter(!col("url").endsWith("/p/8"))
      .unionByName((dup +: hubPages).toDF).persist()
    // windows end 6 h before the anchor: the newest posts are deferred
    // until the rotation re-opens them
    val end = new java.sql.Timestamp(base - 6 * 3600_000L)
    val seeds = roots.map { case (id, u, since, _) => Seed(id, u, since, end) } :+
      Seed("hub", hub, roots.head._3, end)
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, maxDepth = 16,
      bloomMinSeen = 1, compactEvery = 2, expansionCaps = Map("paging" -> 2, "cross" -> 3),
      robotsDisallow = Seq((hostOf(2), "/u/2/p/1")))

    def crawl(cap: Int): (CrawlEngine, String) = {
      val dir = tmp()
      val c = cfg.copy(probePushdownMaxKeys = cap)
      val e1 = new CrawlEngine(spark, pages, dir, c)
      e1.initialize(seeds)
      e1.run(3)
      e1.rotateWindows(new java.sql.Timestamp(base + 3600_000L))
      e1.run(2)
      assert(e1.bloomFullBuilds >= 1, "premise: a seen base with a filter")
      // a rule change without a purge: the next batch gates frontier rows
      val c2 = c.copy(robotsDisallow = c.robotsDisallow :+ ((hostOf(4), "/u/4/")))
      val e2 = new CrawlEngine(spark, pages, dir, c2)
      val gated = e2.runBatch()
      assert(gated("robots_blocked") > 0, "premise: a batch gates pre-existing frontier rows")
      // a second rule change, purged
      val host = e2.frontier().groupBy("host").count().orderBy($"count".desc, $"host").head().getString(0)
      val e3 = new CrawlEngine(spark, pages, dir, c2.copy(robotsDisallow = c2.robotsDisallow :+ ((host, "/"))))
      assert(e3.purgeRobotsBlocked() > 0, "premise: the purge drops frontier rows")
      e3.run(2)
      if (cap != SmallCap) {
        val path = if (cap == 0) "executor" else "driver"
        for (e <- Seq(e1, e2, e3))
          assert(e.lastTailPath == path, s"probePushdownMaxKeys=$cap took the ${e.lastTailPath} tail")
      }
      (e3, dir)
    }
    val (ex, exDir) = crawl(0)
    val (dr, drDir) = crawl(CrawlConfig().probePushdownMaxKeys)
    // a cap under the link keys of a batch it still runs on the driver:
    // that batch answers membership with the stored-key join
    val (mx, mxDir) = crawl(SmallCap)
    val adds = spark.read.parquet(s"$mxDir/frontier/delta_add").groupBy($"batch".as("batch_id")).count()
    val aboveCap = mx.ledger().get
      .filter($"state" === "SUCCESS" && $"scheduled" <= SmallCap && $"robots_blocked" <= SmallCap)
      .select("batch_id").join(adds, Seq("batch_id")).filter($"count" > SmallCap)
    // its adds are distinct link keys, so it had more keys than the cap
    assert(aboveCap.count() > 0, "premise: a driver-tail batch with more link keys than the cap")

    assert(ex.ledger().get.filter($"not_found" > 0).count() > 0, "premise: missing pages")
    assert(ex.deferred().get.count() > 0, "premise: deferred pages")
    assert(ex.fetched().get.filter($"url_canon" === roots.head._2).count() == 1,
      "premise: the duplicate url is fetched once")
    def same(what: String)(f: CrawlEngine => DataFrame): Unit = {
      val a = rows(f(ex))
      assert(a.nonEmpty, s"premise: $what is not empty")
      for ((arm, e) <- Seq("driver" -> dr, s"cap $SmallCap" -> mx)) {
        val b = rows(f(e))
        assert(a == b, s"$what differs ($arm):\n executor-only ${a.diff(b).take(5)}\n $arm-only ${b.diff(a).take(5)}")
      }
    }
    // partition_id / partitions_used are lineage of the query that ran the
    // parse, so they differ between the tails by design
    same("fetched")(_.fetched().get.drop("partition_id"))
    same("notFound")(_.notFound().get)
    same("deferred")(_.deferred().get.drop("partition_id"))
    same("frontier")(_.frontier())
    same("seen")(_.seen())
    same("ledger")(_.ledger().get.drop("partitions_used"))
    // by name: a delta file's column order is not part of its contract
    def delta(dir: String, t: String) = {
      val d = spark.read.parquet(s"$dir/$t/delta_add")
      rows(d.select(d.columns.sorted.map(col).toSeq: _*))
    }
    for (t <- Seq("frontier", "seen"); d <- Seq(drDir, mxDir))
      assert(delta(exDir, t) == delta(d, t), s"$t deltas differ ($d)")
  }

  /** crawlbench polite_steady's policy, run over a preloaded frontier. */
  private val politeCfg = CrawlConfig(defaultHostBudget = 1,
    perHostBudget = Map("h0.example.test" -> 4), defaultDelayMs = 1000L, maxDepth = 8,
    shufflePartitions = 4, bloomMinSeen = 16, compactEvery = 2)

  /** The polite policy with one disallow rule that blocks preloaded rows. */
  private val politeRulesCfg = politeCfg.copy(robotsDisallow = Seq(("h1.example.test", "/u/3/")))

  test("a plain key-bounded batch runs at most 10 Spark jobs, its base listing included") {
    // robots gating is a column of the scheduling frame: a batch that gates
    // rows runs no more jobs than one without rules
    for ((what, cfg) <- Seq("no rules" -> politeCfg, "a blocking rule" -> politeRulesCfg)) {
      val dir = tmp()
      val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
      eng.initializeWithFrontier(CrawlFixtures.preload(pagesDF))
      val (m, jobs) = jobsOf(eng.runBatch())
      assert(m("scheduled") > 0 && eng.lastTailPath == "driver", s"premise ($what): a driver-tail batch")
      assert(cfg.robotsDisallow.isEmpty || m("robots_blocked") > 0, s"premise ($what): the batch gates rows")
      assert(jobs.exists(_._1.startsWith("Listing leaf files")), s"premise ($what): batch 0 lists its base")
      assert(jobs.length <= 10, s"$what: ${jobs.length} jobs:\n${jobs.map(_._1).mkString("\n")}")
    }
  }

  test("an executor-tail batch runs at most 17 Spark jobs: one expansion, one link-key build") {
    val dir = tmp()
    val eng = new CrawlEngine(spark, pagesDF, dir, politeCfg.copy(probePushdownMaxKeys = 0))
    eng.initializeWithFrontier(CrawlFixtures.preload(pagesDF))
    val perBatch = (0 until 3).map { b =>
      val (m, jobs) = jobsOf(eng.runBatch())
      assert(m("scheduled") > 0 && eng.lastTailPath == "executor", s"premise: batch $b is an executor-tail batch")
      jobs.map(_._1)
    }
    // batch 1 compacts: its two range-clustered base writes and their
    // sampling are 9 more jobs (no filter: seen is under bloomMinSeen)
    val budget = Seq(17, 17 + 9, 17)
    assert(perBatch.map(_.length).zip(budget).forall { case (n, max) => n <= max },
      perBatch.zipWithIndex.map { case (j, b) =>
        s"batch $b: ${j.length} jobs (at most ${budget(b)}):\n${j.mkString("\n")}" }.mkString("\n"))
  }

  test("a resumed engine's first batch infers no parquet schema") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, bloomMinSeen = 1,
      compactEvery = 2, robotsDisallow = Seq(("h1.example.test", "/u/1")))
    val e1 = new CrawlEngine(spark, pagesDF, dir, cfg)
    e1.initialize(PagesGen.seedRows(N, 6).map(Seed.tupled))
    e1.run(3) // batch 1 compacts: the resumed engine loads a filter
    val e2 = new CrawlEngine(spark, pagesDF, dir, cfg)
    val (_, jobs) = jobsOf(e2.runBatch())
    // schema inference is a Spark job outside any SQL execution; so is a
    // parallel file listing, which is not inference
    val inference = jobs.filter { case (desc, exec) =>
      exec.isEmpty && !desc.startsWith("Listing leaf files") }
    assert(inference.isEmpty, s"inference jobs:\n${inference.map(_._1).mkString("\n")}")
  }
}
