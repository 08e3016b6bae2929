package graftbench

import java.nio.charset.StandardCharsets

import graft.crawl.{BloomSeen, Canonical, CrawlEngine, Robots}
import graft.functions.{FastParse, gf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Layer probes for the traced run: each calls one layer's public function
 * on the workload's own data (its crawl state and corpus), outside the
 * timed loop.
 */
object Probes {
  val BloomFpp = 0.01

  /** Repeat `f` over `items` until at least `minSec` has passed; items/s. */
  private def rate[A](items: Array[A], minSec: Double)(f: A => Unit): Double = {
    var n = 0L
    val t0 = System.nanoTime()
    var dt = 0.0
    while (dt < minSec) {
      var i = 0
      while (i < items.length) { f(items(i)); i += 1 }
      n += items.length
      dt = (System.nanoTime() - t0) / 1e9
    }
    n / dt
  }

  def run(ctx: Ctx, eng: CrawlEngine, pages: DataFrame, robots: Seq[(String, String)]): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val m = rec.metrics
    rec.traced {
      // ---- BloomSeen: build over the seen keys, probe members and strangers
      val keys = eng.seen().select("url_hash").persist()
      val n = math.max(1L, keys.count())
      val t0 = System.nanoTime()
      val blob = rec.tracer("BloomSeen.bloom_build") {
        keys.agg(BloomSeen.bloom_build(col("url_hash"), n, BloomFpp)).head().getAs[Array[Byte]](0)
      }
      m("BloomSeen.build_keys_per_s") = n / ((System.nanoTime() - t0) / 1e9)
      val bc = spark.sparkContext.broadcast(Array(blob))
      val misses = rec.tracer("BloomSeen.bloom_probe") {
        keys.filter(!BloomSeen.bloom_probe(bc, Nil, col("url_hash"))).count()
      }
      rec.check("bloom filter has no false negatives")(misses == 0)
      val strangers = 2000000L
      val t1 = System.nanoTime()
      // seeded 64-bit strangers: the chance that any of them is one of the
      // n seen hashes is about strangers * n / 2^64, i.e. nil
      val positives = rec.tracer("BloomSeen.bloom_probe") {
        spark.range(0, strangers, 1, ctx.cores)
          .select(xxhash64(col("id"), lit(ctx.seed)).as("h"))
          .filter(BloomSeen.bloom_probe(bc, Nil, col("h"))).count()
      }
      m("BloomSeen.probe_keys_per_s") = strangers / ((System.nanoTime() - t1) / 1e9)
      m("BloomSeen.fp_rate") = positives.toDouble / strangers
      rec.extra("bloom_configured_fpp") = BloomFpp.toString
      rec.extra("bloom_keys") = n.toString
      // the executor-side filter must agree with the sketch library's own
      val direct = BloomFilter.readFrom(new java.io.ByteArrayInputStream(blob))
      rec.check("decoded bloom filter holds the inserted keys") {
        keys.limit(1000).collect().forall(r => direct.mightContainLong(r.getLong(0)))
      }
      bc.destroy()
      keys.unpersist()

      // ---- driver-side sample of the corpus for the single-thread probes
      val sample = pages.select("url", "html")
        .filter(pmod(xxhash64(col("url"), lit(ctx.seed)), lit(64L)) === 0)
        .limit(2000).collect()
      val urls = sample.map(_.getString(0))
      val paths = urls.map(u => u.substring(u.indexOf('/', 8)))
      val htmls = sample.map(_.getAs[Array[Byte]](1))

      val rules = Robots.compile(robots.headOption
        .map { case (_, txt) => Robots.rules(txt) }.getOrElse(Nil))
      m("Robots.checks_per_s") = rec.tracer("Robots.isAllowed") {
        rate(paths, 0.3)(p => rules.isAllowed(p))
      }
      m("Canonical.urls_per_s") = rec.tracer("Canonical.canonicalize") {
        rate(urls, 0.3)(u => Canonical.canonicalize(u))
      }
      val bytes = htmls.map(_.length.toLong).sum.toDouble / htmls.length
      val pps = rec.tracer("FastParse.parseBytes") {
        rate(htmls, 0.5)(h => FastParse.parseBytes(h))
      }
      m("FastParse.pages_per_s") = pps
      m("FastParse.mb_per_s") = pps * bytes / 1e6

      // ---- the parse expression over a Spark scan of the whole corpus
      val total = pages.count()
      val t2 = System.nanoTime()
      rec.tracer("gf.extract_parsed") {
        pages.select(gf.extract_parsed(col("html")).as("p"))
          .agg(sum(length(col("p.text")) + size(col("p.outlinks")))).head()
      }
      m("gf.extract_parsed.pages_per_s") = total / ((System.nanoTime() - t2) / 1e9)
      rec.check("FastParse.parseBytes agrees with FastParse.parse on the sample") {
        htmls.forall(h => FastParse.parseBytes(h).text ==
          FastParse.parse(new String(h, StandardCharsets.UTF_8)).text)
      }
    }
  }
}
