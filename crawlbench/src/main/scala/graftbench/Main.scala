package graftbench

import java.nio.file.{Files, Path, Paths}

import graft.crawl.StateStore
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run in one JVM at local[cores]:
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                   --work <dir> --out <file> [--sf <dir>] [--cores <n>]
 *
 * Writes the run record (metrics, attempted/failed, side results) to
 * `--out`, and with --trace 1 the spans next to it. Everything it writes
 * stays under `--work` (state dirs, Spark scratch, cached corpora in
 * `<work>/../cache`).
 */
object Main {
  val Workloads = Seq("polite_steady", "read_api")

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(workload == "prepare" || Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracing = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    Recorder.log(s"$workload seed $seed")
    Files.createDirectories(work)
    val spark = session(work, cores)
    val rec = new Recorder(spark, tracing, s"$workload-seed$seed-${System.currentTimeMillis()}")
    val ctx = Ctx(spark, work, seed, seconds, cores, rec)
    rec.extra("session_start_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    try workload match {
      case "prepare" =>
        // generate the cached inputs in their own JVM, so no measured run
        // carries their cost or their heap
        Corpus.pages(ctx, Crawl.PolitePages, 0)
        ReadApi.buildState(ctx)
      case "polite_steady" => Crawl.politeSteady(ctx)
      case "read_api" => ReadApi.run(ctx, opts("sf"), work.resolve("results"))
    } catch { case t: Throwable =>
      t.printStackTrace()
      rec.fail(s"$workload aborted: $t")
    }
    rec.metrics("heap_peak_mb") = rec.heapPeakMb
    rec.extra("calibration_s") = rec.calibrationSamples.map(Json.num).mkString("[", ",", "]")
    if (tracing) {
      val spans = rec.tracer.all
      rec.tracer.selfSecondsByLayer.foreach { case (layer, s) => rec.metrics(s"trace.self_s.$layer") = s }
      // Spark totals per traced timed operation
      val on = rec.ops.filter(o => o.traced && (o.kind == "batch" || o.kind == "query" || o.kind == "read"))
      val n = math.max(1, on.size)
      val jobs = on.flatMap(o => rec.jobLog.within(o.startMs, o.endMs))
      rec.metrics("spark.jobs") = on.map(_.jobs).sum.toDouble / n
      rec.metrics("spark.tasks") = on.map(_.tasks).sum.toDouble / n
      rec.metrics("spark.input_bytes") = jobs.map(_.inputBytes).sum.toDouble / n
      rec.metrics("spark.shuffle_bytes") = jobs.map(_.shuffleBytes).sum.toDouble / n
      rec.metrics("spark.output_bytes") = jobs.map(_.outputBytes).sum.toDouble / n
      val wall = on.map(o => o.endMs - o.startMs).sum
      rec.metrics("spark.driver_gap_share") =
        if (wall == 0) 0.0 else 1.0 - on.map(_.busyMs).sum.toDouble / wall
      rec.extra("spans") = spans.size.toString
      val lines = spans.map(s => Json.obj(Seq("run" -> Json.str(rec.tracer.runId),
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "seconds" -> Json.num(s.seconds))))
      Files.writeString(Paths.get(out.toString + ".spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "attempted" -> rec.attempted.toString,
      "failed" -> rec.failures.size.toString,
      "failures" -> rec.failures.map(Json.str).mkString("[", ", ", "]"),
      "metrics" -> Json.obj(rec.metrics.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(rec.extra.toSeq)))
    Files.writeString(out, record + "\n")
    spark.stop()
    StateStore.deleteRecursively(work.resolve("state"))
    sys.exit(0)
  }
}
