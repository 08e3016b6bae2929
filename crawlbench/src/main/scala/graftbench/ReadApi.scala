package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.crawl.{CrawlEngine, StateStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * read_api: the service read side. A fixed set of non-crawl SparkEntry
 * queries (every query group is represented) plus the crawl-state reads,
 * issued back to back in a seeded order, whole passes until the time is
 * used. No crawl batch runs in the timed window.
 */
object ReadApi {

  /** The queries each pass issues, by the module group they exercise.
    * Every other non-crawl query counts as "relational". */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q01_pricing_summary"),
    "operators" -> Seq("q02_topk_orders_per_cust"),
    "pipeline_dedup" -> Seq("q28_dedup_exact_hash"),
    "pipeline_similarity" -> Seq("q25_ann_brute_topk"),
    "pipeline_text" -> Seq("q30_langid"),
    "functions_scalar" -> Seq("q14_string_to_int_cjk"),
    "streaming" -> Seq("q60_stream_hourly_counts"))
  val GroupNames: Seq[String] = Groups.map(_._1) :+ "state_reads"

  def groupOf(query: String): String =
    Groups.collectFirst { case (g, qs) if qs.contains(query) => g }.getOrElse("relational")

  def readQueries: Seq[String] = Groups.flatMap(_._2)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Timed passes at least. */
  val MinPasses = 2
  /** New engines per run; resume_s is their median. */
  val Resumes = 5

  /** A small politeness-bound crawl whose deltas are never compacted: the
    * state the reads run against. Built once by `prepare` and cached like a
    * corpus; each run reads a private copy, since refreshSummary writes
    * into the state dir. */
  val StatePages: Long = Crawl.PolitePages
  def stateConfig(cores: Int) =
    Crawl.politeConfig(cores, Nil).copy(compactEvery = 0, bloomMinSeen = 1L << 40)

  private def statePath(ctx: Ctx): Path =
    ctx.work.getParent.resolve("cache").resolve(s"readstate_$StatePages")

  def buildState(ctx: Ctx): Unit = {
    val path = statePath(ctx)
    if (!Files.exists(path.resolve("_BENCH_DONE"))) {
      val t0 = System.nanoTime()
      val tmp = path.resolveSibling(s".tmp_readstate_${System.nanoTime()}")
      val pages = Corpus.pages(ctx, StatePages, 0)
      val eng = new CrawlEngine(ctx.spark, pages, tmp.toString, stateConfig(ctx.cores))
      eng.initialize(Crawl.seedsFor(StatePages, 0L))
      eng.run(3)
      Files.createFile(tmp.resolve("_BENCH_DONE"))
      try Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => StateStore.deleteRecursively(tmp) }
      Recorder.log(f"read state built in ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  /** A private copy of the cached read state for this run. */
  private def stateCopy(ctx: Ctx): Path = {
    val path = statePath(ctx)
    require(Files.exists(path.resolve("_BENCH_DONE")), s"missing input $path: run prepare first")
    val copy = ctx.stateDir("read_api")
    val st = Files.walk(path)
    try st.forEach(f => Files.copy(f, copy.resolve(path.relativize(f).toString),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    finally st.close()
    copy
  }

  final case class Result(schema: StructType, rows: Array[Row])

  def run(ctx: Ctx, sfDir: String, resultsDir: Path): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val m = rec.metrics
    val pages = Corpus.pages(ctx, StatePages, 0)
    val stateDir = stateCopy(ctx)
    val cfg = stateConfig(ctx.cores)
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")

    // set-up: open the tables and the crawl state
    var eng: CrawlEngine = null
    val setups = (0 until Setups).map { _ =>
      rec.op("setup", "bench.setup") {
        tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").schema)
        eng = rec.tracer("CrawlEngine.new")(new CrawlEngine(spark, pages, stateDir.toString, cfg))
        rec.tracer("CrawlEngine.ledger")(eng.ledger().get.count())
      }._2
    }
    rec.checkpoint()

    val ledger = eng.ledger().get.orderBy(col("batch_id")).collect()
    val lastRow = ledger.last
    val fetchedN = ledger.map(_.getAs[Long]("fetched")).sum
    val v = eng.store.committedBatch
    val seenSchema = eng.seen().limit(0)
    val keys = eng.seen().select("url_hash")
      .orderBy(xxhash64(col("url_hash"), lit(ctx.seed))).limit(256)
      .collect().map(_.getLong(0))
    val e = eng
    val stateReads: Seq[(String, () => Any)] = Seq(
      "CrawlEngine.frontier" -> (() => e.frontier().count()),
      "CrawlEngine.seen" -> (() => e.seen().count()),
      "StateStore.readViewKeyed" -> (() => e.store.readViewKeyed("seen", v, seenSchema, keys).count()),
      "CrawlEngine.fetched.topk" -> (() => e.fetched().get
        .withColumn("_r", row_number().over(
          Window.partitionBy("host").orderBy(col("warc_ts").desc, col("url_hash"))))
        .filter(col("_r") <= 3).select("host", "url_canon", "warc_ts").collect()),
      "CrawlEngine.ledger" -> (() => e.ledger().get.collect()),
      "CrawlEngine.refreshSummary" -> (() => e.refreshSummary().get.collect()))
    val queries = readQueries

    def pass(p: Int, results: mutable.Map[String, Any], timedPass: Boolean): Seq[(String, Op)] = {
      val names = Rng.shuffle(queries ++ stateReads.map(_._1), ctx.seed * 101L + p)
      names.flatMap { name =>
        val read = stateReads.find(_._1 == name)
        try {
          val (r, op) = read match {
            case Some((_, f)) => rec.op("read", name)(f())
            case None => rec.op("query", s"SparkEntry.query.$name") {
              val df = SparkEntry.queries(name)(spark, sfDir)
              Result(df.schema, df.collect())
            }
          }
          (results.get(name), r) match {
            case (None, _) => results(name) = r
            case (Some(Result(_, first)), Result(_, again)) =>
              if (first.map(_.toString).sorted.toSeq != again.map(_.toString).sorted.toSeq)
                rec.fail(s"$name returned different rows on pass $p")
            case _ =>
          }
          if (timedPass) Some(name -> op) else None
        } catch { case t: Throwable =>
          rec.fail(s"$name threw ${t.getClass.getSimpleName}: ${t.getMessage}")
          None
        }
      }
    }

    // one untimed pass warms codegen and the JIT; then whole timed passes,
    // at least MinPasses, so each operation has several samples
    val results = mutable.LinkedHashMap[String, Any]()
    pass(0, results, timedPass = false)
    rec.checkpoint()
    var p = 1
    val loop = ArrayBuffer[(String, Op)]()
    var timed = 0.0
    while (p <= MinPasses || timed < ctx.seconds) {
      val ops = pass(p, results, timedPass = true)
      loop ++= ops
      timed += ops.map(_._2.seconds).sum
      p += 1
      rec.checkpoint()
    }
    val timedOps = loop.toSeq
    val passes = p - 1
    // resume: a new engine on the state dir until its first answer
    val resumes = (0 until Resumes).map { _ =>
      rec.op("resume", "bench.resume") {
        val e2 = rec.tracer("CrawlEngine.new")(new CrawlEngine(spark, pages, stateDir.toString, cfg))
        rec.tracer("CrawlEngine.frontier")(e2.frontier().count())
      }._2
    }
    rec.checkpoint()

    // ---- correctness, outside the timed window
    def chk(name: String)(ok: => Boolean) = rec.check(name)(ok)
    chk("frontier() count equals the ledger's frontier_size") {
      results("CrawlEngine.frontier") == lastRow.getAs[Long]("frontier_size")
    }
    chk("seen() count equals the ledger's seen_size") {
      results("CrawlEngine.seen") == lastRow.getAs[Long]("seen_size")
    }
    chk("readViewKeyed returns every probed key")(results("StateStore.readViewKeyed") == keys.length.toLong)
    chk("top-k newest per host: at most 3 rows per host") {
      results("CrawlEngine.fetched.topk").asInstanceOf[Array[Row]]
        .groupBy(_.getString(0)).values.forall(_.length <= 3)
    }
    chk("summary n_fetched adds up to the ledger's fetched") {
      results("CrawlEngine.refreshSummary").asInstanceOf[Array[Row]]
        .map(_.getAs[Long]("n_fetched")).sum == fetchedN
    }
    Crawl.parserCheck(ctx, eng.fetched().get, pages)
    // every query result goes to DuckDB (outside the JVM)
    Files.createDirectories(resultsDir)
    val oracle = SparkEntry.oracleSql
    queries.foreach { q =>
      results.get(q) match {
        case Some(Result(schema, rows)) =>
          spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(resultsDir.resolve(q).toString)
        case _ =>
      }
    }
    Files.writeString(resultsDir.resolve("oracle_sql.json"),
      Json.obj(queries.flatMap(q => oracle.get(q).map(q -> Json.str(_)))))

    // ---- metrics
    // The 13 operation types differ up to 20x in latency, so the median of
    // all samples jumps between types from run to run. Each type's own
    // median and maximum over the passes are combined by geometric mean
    // instead: every type weighs the same and the noise averages out.
    val byType = timedOps.groupBy(_._1).values.map(_.map(o => rec.normalized(o._2))).toSeq
    val normalizedSum = timedOps.map(o => rec.normalized(o._2)).sum
    m("items_per_s") = timedOps.size / normalizedSum
    m("op_s_p50") = Stats.geomean(byType.map(Stats.median))
    // the traced run's op_s_p50: over the untraced run's, minus 1, it is the
    // tracing overhead
    if (rec.tracing) m("trace.op_s_p50") = m("op_s_p50")
    m("op_s_tail") = Stats.geomean(byType.map(_.max))
    m("setup_s") = Stats.median(setups.map(rec.normalized))
    m("resume_s") = Stats.median(resumes.map(rec.normalized))
    rec.extra("op_samples") = timedOps.size.toString
    rec.extra("passes") = passes.toString
    rec.extra("raw") = Json.obj(Seq(
      "setup_s" -> setups.map(o => Json.num(o.seconds)).mkString("[", ",", "]"),
      "resume_s" -> resumes.map(o => Json.num(o.seconds)).mkString("[", ",", "]")))
    val (files, bytes) = Crawl.dirBytes(stateDir)
    m("state_bytes_per_url") = bytes.toDouble / math.max(1L, fetchedN)
    m("StateStore.files") = files.toDouble
    val gcSec = timedOps.map(_._2.gcMs).sum / 1000.0
    m("jvm.gc_s") = gcSec
    m("jvm.gc_share") = gcSec / timedOps.map(_._2.seconds).sum
    // per-layer: traced operations (in a traced run, all of them)
    val tracedOps = timedOps.filter(_._2.traced)
    GroupNames.foreach { g =>
      val inG = tracedOps.filter { case (name, _) =>
        if (g == "state_reads") stateReads.exists(_._1 == name)
        else !stateReads.exists(_._1 == name) && groupOf(name) == g
      }.map(_._2)
      m(s"SparkEntry.group.${g}_s") = inG.map(_.seconds).sum / math.max(1, passes)
      m(s"SparkEntry.group.${g}_jobs") =
        if (inG.isEmpty) 0.0 else inG.map(_.jobs).sum.toDouble / inG.size
    }
    if (rec.tracing) {
      val ops = tracedOps.map(_._2)
      Crawl.stateProbes(ctx, eng)
      Probes.run(ctx, eng, pages, Crawl.robotsFor(ctx.seed, 1, 8))
      val batchesInWindow = rec.tracer.all.count(s => s.name == "CrawlEngine.runBatch" &&
        ops.exists(o => s.startMs >= o.startMs && s.endMs <= o.endMs))
      rec.extra("runBatch_spans_in_timed_window") = batchesInWindow.toString
    }
    rec.extra("per_query_s") = Json.obj(timedOps.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (q, os) => q -> f"${Stats.median(os.map(_._2.seconds).toSeq)}%.4f" })
  }
}

/** Minimal JSON writing (no library on the classpath is assumed stable). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** `fields` values are already JSON. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
