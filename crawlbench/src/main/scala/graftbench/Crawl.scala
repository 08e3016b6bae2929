package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import graft.crawl.{CrawlConfig, CrawlEngine, PagesGen, Robots, Seed, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gets: the session, its scratch tree, the seed and
  * the measuring side. */
final case class Ctx(spark: SparkSession, work: Path, seed: Long, seconds: Double,
    cores: Int, rec: Recorder) {
  def stateDir(name: String): Path = {
    val d = work.resolve("state").resolve(name)
    StateStore.deleteRecursively(d)
    Files.createDirectories(d.getParent)
    d
  }
}

/** One batch's ledger metrics, as runBatch returns them. */
final case class BatchOp(op: Op, metrics: Map[String, Long]) {
  def fetched: Long = metrics.getOrElse("fetched", 0L)
  def scheduled: Long = metrics.getOrElse("scheduled", 0L)
  /** Whether the batch compacted (the engine compacts after batch b when
    * (b + 1) % compactEvery == 0). */
  def compacted: Boolean = (metrics("batch_id") + 1) % Crawl.CompactEvery == 0
}

/**
 * polite_steady: a crawl seeded from PagesGen.seedRows with small bodies.
 * The frontier is >10x the sum of host budgets, so budgets bind on every
 * host (a mega-host included, with a larger budget) and each batch is tiny:
 * Spark jobs per batch, driver planning gaps, ranking, bloom, delta writes
 * and compaction (with its bloom fold, every other batch) set the time. The
 * seed picks the seed timelines and which hosts carry robots rules.
 *
 * Loop: set-up three times (new engine + initialize), then timed batches in
 * whole compaction cycles, so every run times as many compacting batches as
 * plain ones, then one simulated kill/resume (a new engine on the same dir,
 * timed to its first commit). A traced run traces the same loop and also
 * times one rotateWindows, one robots rule change + purgeRobotsBlocked and
 * one expireOldState.
 */
object Crawl {
  val MegaHost = "h0.example.test"
  val PolitePages = 16384L // 256 timelines on 16 hosts
  val MegaBudget = 4
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Batches per compaction cycle: the engine compacts after batch 1, 3, .. */
  val CompactEvery = 2
  /** Timed batches at least, in whole compaction cycles. */
  val MinBatches = CompactEvery

  def politeConfig(cores: Int, robots: Seq[(String, String)]): CrawlConfig =
    Robots.configure(CrawlConfig(
      defaultHostBudget = 1, perHostBudget = Map(MegaHost -> MegaBudget),
      defaultDelayMs = 1000L, maxDepth = 8, saltBuckets = 8,
      shufflePartitions = cores, bloomMinSeen = 16, compactEvery = CompactEvery), robots)

  /** Seeded robots.txt for about one host in `every`: disallow the
    * timelines whose user id starts with one seeded digit. */
  def robotsFor(seed: Long, salt: Long, every: Long): Seq[(String, String)] = {
    val hosts = PagesGen.numHosts(PolitePages)
    (1L until hosts).filter(h => Rng.below(seed * 977L + salt * 31L + h, every) == 0).map { h =>
      val digit = 1 + Rng.below(seed * 13L + salt + h, 9)
      (s"h$h.example.test", s"User-agent: *\nDisallow: /u/$digit\n")
    }
  }

  def seedsFor(pages: Long, seed: Long): Seq[Seed] =
    PagesGen.seedRows(pages, PagesGen.numSeeds(pages).toInt).zipWithIndex
      .filter { case (_, i) => Rng.below(seed * 131L + i, 4) != 0 }
      .map { case (s, _) => Seed.tupled(s) }

  def budgetOf(cfg: CrawlConfig)(host: String): Int =
    cfg.perHostBudget.getOrElse(host, cfg.defaultHostBudget)

  def dirBytes(p: Path): (Long, Long) = {
    val st = Files.walk(p)
    try {
      var files = 0L
      var bytes = 0L
      st.filter(Files.isRegularFile(_)).forEach { f => files += 1; bytes += Files.size(f) }
      (files, bytes)
    } finally st.close()
  }

  def politeSteady(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val pages = Corpus.pages(ctx, PolitePages, 0)
    val robots = robotsFor(ctx.seed, 1, 8)
    val cfg = politeConfig(ctx.cores, robots)
    val seeds = seedsFor(PolitePages, ctx.seed)
    var eng: CrawlEngine = null
    var dir: Path = null
    val setups = (0 until Setups).map { i =>
      dir = ctx.stateDir(s"polite_$i")
      val (_, op) = rec.op("setup", "bench.setup") {
        eng = rec.tracer("CrawlEngine.new")(new CrawlEngine(spark, pages, dir.toString, cfg))
        rec.tracer("CrawlEngine.initialize")(eng.initialize(seeds))
      }
      if (i < Setups - 1) StateStore.deleteRecursively(dir)
      op
    }
    rec.checkpoint()
    val (_, bytes0) = dirBytes(dir)
    // timed batches until `seconds` is used, in whole compaction cycles (at
    // least MinBatches); a checkpoint after each
    val loop = ArrayBuffer[BatchOp]()
    var rawSeconds = 0.0
    while (rawSeconds < ctx.seconds || loop.size < MinBatches || loop.size % CompactEvery != 0) {
      val (m, op) = rec.op("batch", "CrawlEngine.runBatch", () => eng.timingTotals)(eng.runBatch())
      loop += BatchOp(op, m)
      rawSeconds += op.seconds
      rec.checkpoint()
    }
    val batches = loop.toSeq
    val (files, bytes1) = dirBytes(dir)
    val fetchedTotal = batches.map(_.fetched).sum
    // kill/resume: a new engine on the crawl's dir, timed to its first
    // commit, in which it loads the bloom filter the last compaction left
    val (firstBatch, resume) = rec.op("resume", "bench.resume") {
      eng = rec.tracer("CrawlEngine.new")(new CrawlEngine(spark, pages, dir.toString, cfg))
      val t1 = System.nanoTime()
      rec.tracer("CrawlEngine.runBatch")(eng.runBatch())
      (System.nanoTime() - t1) / 1e9
    }
    // the new engine's phase totals are its first batch's
    val resumePhases = eng.timingTotals
    rec.checkpoint()
    gateNewestFirst(ctx, eng, batches)

    var gateCfg = cfg
    if (rec.tracing) {
      // the layer probes run on the crawl's state before maintenance shrinks it
      stateProbes(ctx, eng)
      Probes.run(ctx, eng, pages, robots)
      rec.op("rotate", "CrawlEngine.rotateWindows") {
        eng.rotateWindows(new java.sql.Timestamp(PagesGen.BaseTsMillis + 86400000L))
      }
      // robots rule change: more hosts get rules, then purge the frontier
      gateCfg = politeConfig(ctx.cores, robots ++ robotsFor(ctx.seed, 2, 8))
      eng = new CrawlEngine(spark, pages, dir.toString, gateCfg)
      val (purged, _) = rec.op("purge", "CrawlEngine.purgeRobotsBlocked")(eng.purgeRobotsBlocked())
      rec.extra("purged_rows") = purged.toString
      rec.op("expire", "CrawlEngine.expireOldState")(eng.expireOldState())
      for (k <- Seq("rotate", "purge", "expire"))
        rec.metrics(s"CrawlEngine.${k}_s") = rec.ops.find(_.kind == k).map(_.seconds).getOrElse(0.0)
    }
    gateCrawl(ctx, eng, budgetOf(gateCfg), pages)
    rec.checkpoint()
    StateStore.deleteRecursively(dir)

    val m = rec.metrics
    val lat = batches.map(b => rec.normalized(b.op))
    val timed = lat.sum
    val fetched = batches.map(_.fetched).sum
    val (tail, pct, n) = Stats.tail(lat)
    // plain and compacting batches differ about 2x, and a median of all
    // batches would fall between the two kinds: each kind's own median is
    // combined by geometric mean instead, as on read_api
    val byKind = batches.zip(lat).groupBy(_._1.compacted).values.map(_.map(_._2)).toSeq
    m("items_per_s") = fetched / timed
    m("op_s_p50") = Stats.geomean(byKind.map(Stats.median))
    // the traced run's op_s_p50: over the untraced run's, minus 1, it is the
    // tracing overhead
    if (rec.tracing) m("trace.op_s_p50") = m("op_s_p50")
    m("op_s_tail") = tail
    m("resume_s") = rec.normalized(resume)
    m("setup_s") = Stats.median(setups.map(rec.normalized))
    m("state_bytes_per_url") = bytes1.toDouble / math.max(1L, fetchedTotal)
    rec.extra("op_s_tail_percentile") = f"$pct%.1f"
    rec.extra("op_samples") = n.toString
    rec.extra("raw") = Json.obj(Seq(
      "batch_s" -> batches.map(b => Json.num(b.op.seconds)).mkString("[", ",", "]"),
      "resume_s" -> Json.num(resume.seconds),
      "setup_s" -> setups.map(o => Json.num(o.seconds)).mkString("[", ",", "]"),
      "steal" -> (batches.map(_.op) ++ Seq(resume) ++ setups).map(o => Json.num(o.stealShare)).mkString("[", ",", "]")))

    // per-layer: traced batches (in a traced run, all of them)
    val traced = batches.filter(_.op.traced).map(_.op)
    def tmed(f: Op => Double) = if (traced.isEmpty) 0.0 else Stats.median(traced.map(f))
    m("CrawlEngine.resume_first_batch_s") = firstBatch
    m("CrawlEngine.scheduled_per_batch") = Stats.median(batches.map(_.scheduled.toDouble))
    val scheduled = batches.map(_.scheduled).sum
    m("CrawlEngine.useful_ratio") = if (scheduled == 0) 0.0 else fetched.toDouble / scheduled
    m("CrawlEngine.jobs_per_batch") = tmed(_.jobs.toDouble)
    m("CrawlEngine.tasks_per_batch") = tmed(_.tasks.toDouble)
    m("CrawlEngine.gap_share") = tmed(_.gapShare)
    // compaction batches are kept apart so their spikes are not hidden by the median
    val compacting = batches.filter(b => b.op.traced && b.compacted).map(_.op)
    m("CrawlEngine.compact_batch_s") =
      if (compacting.isEmpty) 0.0 else Stats.median(compacting.map(_.seconds))
    // mean seconds per batch of each phase label the engine reports
    traced.flatMap(_.phases.keys).distinct.foreach { l =>
      m(s"CrawlEngine.phase.${l}_s") = traced.map(_.phases.getOrElse(l, 0.0)).sum / traced.size
    }
    // a resumed engine loads its bloom filter in its first batch only
    m("CrawlEngine.phase.bloom_ensure_s") = resumePhases.getOrElse("bloom_ensure", 0.0)
    m("StateStore.files") = files.toDouble
    m("StateStore.bytes_written") = (bytes1 - bytes0).toDouble / batches.size
    val gcSec = batches.map(_.op.gcMs).sum / 1000.0
    m("jvm.gc_s") = gcSec
    m("jvm.gc_share") = gcSec / batches.map(_.op.seconds).sum
  }

  // ---- correctness --------------------------------------------------------

  /** Newest-first per host on a seeded timed batch (the frontier version it
    * was scheduled from must still exist). */
  private def gateNewestFirst(ctx: Ctx, eng: CrawlEngine, batches: Seq[BatchOp]): Unit = {
    val b = batches(Rng.below(ctx.seed, batches.size).toInt).metrics("batch_id")
    ctx.rec.check(s"newest-first order in batch $b") {
      val v = Gate.newestFirst(eng.fetched().get.filter(col("batch_id") === b), eng.frontier(b - 1))
      v.foreach(m => System.err.println(s"[crawlbench] batch $b: $m"))
      v.isEmpty
    }
  }

  private def gateCrawl(ctx: Ctx, eng: CrawlEngine, budget: String => Int,
      pages: DataFrame): Unit = {
    val rec = ctx.rec
    val ledger = eng.ledger().get.persist()
    val fetched = eng.fetched().get.persist()
    val seen = eng.seen()
    val frontier = eng.frontier()
    def gate(name: String)(v: => Seq[String]): Unit = rec.check(name) {
      val r = v
      r.foreach(m => System.err.println(s"[crawlbench] $name: $m"))
      r.isEmpty
    }
    gate("ledger agrees with fetched/seen/frontier")(Gate.ledgerAgrees(ledger, fetched, seen, frontier))
    gate("seen and frontier are disjoint")(Gate.seenFrontierDisjoint(seen, frontier))
    gate("no url fetched twice within a window")(Gate.noRefetchWithinWindow(fetched, ledger))
    gate("per-(batch, host) fetches within budget")(Gate.withinBudget(fetched, budget))
    gate("invariant_violations == 0")(Gate.noInvariantViolations(ledger))
    parserCheck(ctx, fetched, pages)
    fetched.unpersist()
    ledger.unpersist()
  }

  /** Independent parser check: a seeded sample of fetched rows' text must
    * equal the DOM extractor's text on the same html. */
  def parserCheck(ctx: Ctx, fetched: DataFrame, pages: DataFrame): Unit = {
    val sample = fetched.select("url_canon", "text")
      .orderBy(xxhash64(col("url_canon"), lit(ctx.seed))).limit(50)
      .join(pages.select(graft.functions.gf.canonicalize_url(col("url")).as("url_canon"),
        col("html")), Seq("url_canon"))
      .collect()
    val mismatches = sample.count { r =>
      val html = new String(r.getAs[Array[Byte]]("html"), java.nio.charset.StandardCharsets.UTF_8)
      graft.functions.TextExtract.extractText(html) != r.getAs[String]("text")
    }
    ctx.rec.extra("parser_sample_rows") = sample.length.toString
    ctx.rec.check(s"parser sample (${sample.length} rows) matches TextExtract") {
      if (mismatches > 0) System.err.println(s"[crawlbench] $mismatches parser mismatches")
      sample.nonEmpty && mismatches == 0
    }
  }

  // ---- reporting ----------------------------------------------------------

  /** Median of 3 timed reads of each StateStore read path on `eng`'s state. */
  def stateProbes(ctx: Ctx, eng: CrawlEngine): Unit = {
    val rec = ctx.rec
    val v = eng.store.committedBatch
    val seenSchema = eng.seen().limit(0)
    val keys = eng.seen().select("url_hash")
      .orderBy(xxhash64(col("url_hash"), lit(ctx.seed))).limit(256)
      .collect().map(_.getLong(0))
    def med(name: String)(f: => Long): Double = Stats.median((0 until 3).map { _ =>
      rec.op("probe", name)(f)._2.seconds
    })
    rec.metrics("StateStore.readView_s") = med("StateStore.readView") {
      eng.store.readView("frontier", v, eng.frontier().limit(0)).count()
    }
    rec.metrics("StateStore.readViewKeyed_s") = med("StateStore.readViewKeyed") {
      val n = eng.store.readViewKeyed("seen", v, seenSchema, keys).count()
      if (n != keys.length) rec.fail(s"readViewKeyed returned $n of ${keys.length} keys")
      n
    }
    rec.metrics("StateStore.readLog_s") = med("StateStore.readLog") {
      eng.store.readLog("parsed", v).map(_.count()).getOrElse(0L)
    }
  }
}

/** Cached generated corpora: one parquet dir per (pages, bodyRepeat),
  * published by an atomic rename so an interrupted generation is never
  * read. PagesGen is deterministic, so the cache key is complete; the
  * workload seed only picks subsets of the corpus. Generated by `prepare`,
  * never inside a measured run. */
object Corpus {
  def pages(ctx: Ctx, n: Long, bodyRepeat: Int): DataFrame = {
    val root = ctx.work.getParent.resolve("cache")
    val path = root.resolve(s"pages_${n}_$bodyRepeat")
    if (!Files.exists(path.resolve("_GRAFT_DONE"))) {
      val t0 = System.nanoTime()
      Files.createDirectories(root)
      val tmp = root.resolve(s".tmp_pages_${n}_${bodyRepeat}_${System.nanoTime()}")
      PagesGen.pages(ctx.spark, n, ctx.cores * 2, bodyRepeat = bodyRepeat)
        .write.parquet(tmp.toString)
      Files.createFile(tmp.resolve("_GRAFT_DONE"))
      try Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => StateStore.deleteRecursively(tmp) }
      Recorder.log(f"corpus of $n pages generated in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    ctx.spark.read.parquet(path.toString)
  }
}
