package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.crawl._
import graft.functions.{TextExtract, gf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

object CrawlFixtures {
  /** Every page as a depth-0 frontier row (all 64 `_hb` buckets filled at
    * the specs' 512 pages): rows the robots rules block are already in the
    * frontier, as after a rule change. */
  def preload(pages: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pages.select(col("url"),
      gf.canonicalize_url(col("url")).as("url_canon"),
      xxhash64(gf.canonicalize_url(col("url"))).as("url_hash"),
      gf.url_host(col("url")).as("host"),
      lit(0).as("depth"), col("warc_ts").as("priority_ts"), lit("pre").as("seed_id"),
      lit(new java.sql.Timestamp(0L)).as("since_ts"),
      lit(new java.sql.Timestamp(PagesGen.BaseTsMillis + 86400000L)).as("end_ts"),
      lit(-1L).as("discovered_batch"))
}

/**
 * End-to-end crawl-engine goldens (FIXTURES.md §5, SURVEY.md §5):
 * byte-identical parse invariant, reference crawl ordering, seen-set
 * membership, resume-from-checkpoint, robots gating, politeness budgets,
 * and determinism across partitioning levels.
 */
class CrawlSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_crawl").toString

  val N = 512L
  lazy val pagesDF = PagesGen.pages(spark, N, partitions = 4).toDF.persist()
  lazy val pagesPure = PagesGen.pages(spark, N, partitions = 4, crossLinks = false).toDF.persist()

  def seeds(k: Int): Seq[Seed] = PagesGen.seedRows(N, k).map(Seed.tupled)

  test("invariant: extract_text(html) == text for every generated page (input_hint)") {
    val bad = pagesDF
      .withColumn("t2", gf.extract_text_bin($"html"))
      .filter(!($"t2" <=> $"text"))
    assert(bad.count() == 0)
  }

  test("generated corpus: warc_ts strictly decreasing per seed (newest-first timeline)") {
    val s = PagesGen.numSeeds(N)
    (0L until 3L).foreach { seed =>
      val ts = (0L until N / s).map(p => PagesGen.tsOf(seed, p))
      assert(ts == ts.sortBy(-_), s"seed $seed not newest-first")
    }
  }

  test("one batch: fetches seed roots, respects budget, emits lineage") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4))
    eng.initialize(seeds(6))
    val m = eng.runBatch()
    assert(m("invariant_violations") == 0)
    assert(m("fetched") > 0)
    val f = eng.fetched().get
    // per-host budget honored
    val over = f.groupBy("host", "batch_id").count().filter($"count" > 3).count()
    assert(over == 0)
    // lineage columns present and sane
    val row = f.select("batch_id", "partition_id", "fetch_ordinal", "sched_delay_ms").head()
    assert(row.getLong(0) == 0L && row.getInt(2) >= 1)
    // delay budget = (ordinal-1) * delay
    val badDelay = f.filter($"sched_delay_ms" =!= ($"fetch_ordinal" - 1) * 6000L).count()
    assert(badDelay == 0)
  }

  test("crawl ordering matches reference paging semantics (pure-paging corpus)") {
    // Reference model (weibo.py:2743-2763): each seed's timeline is walked
    // newest-first (post 0,1,2,…), budget-capped per batch, bounded by
    // [since, end]. With crossLinks=false the engine must reproduce exactly
    // that per-seed order.
    val eng = new CrawlEngine(spark, pagesPure, tmp(),
      CrawlConfig(defaultHostBudget = 2, maxDepth = 64, shufflePartitions = 4))
    eng.initialize(seeds(4))
    eng.run(5)
    val f = eng.fetched().get
      .withColumn("post_id", regexp_extract($"url_canon", "/p/(\\d+)$", 1).cast("long"))
    val seqs = f.orderBy($"batch_id", $"fetch_ordinal")
      .select($"seed_id", $"post_id")
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSeq)
    seqs.foreach { case (seed, posts) =>
      // strictly increasing post ids == strictly decreasing warc_ts == newest-first
      assert(posts == posts.sorted && posts.distinct == posts,
        s"$seed fetched out of timeline order: $posts")
      // prefix property: no gaps — page k fetched before k+1 and all ≤ max present
      assert(posts == (posts.head to posts.last),
        s"$seed has gaps: $posts")
    }
  }

  test("seen-set: first occurrence wins, no url fetched twice") {
    // a bloom filter per seen base (compaction every 2 batches), keyed expansion probes:
    // both invariants must hold after every state-changing operation. The
    // depth bound lets cross links reach already-seen pages, so the seen
    // probe has hits to find.
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4,
      maxDepth = 16, bloomMinSeen = 1, compactEvery = 2)
    def check(e: CrawlEngine, step: String): Unit = {
      val f = e.fetched().get
      assert(f.groupBy("url_hash").count().filter($"count" > 1).count() == 0,
        s"$step: a url was fetched twice")
      val overlap = e.frontier().join(e.seen(), Seq("url_hash"), "left_semi").count()
      assert(overlap == 0, s"$step: frontier ∩ seen holds $overlap rows")
    }
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initialize(seeds(6))
    eng.run(4)
    assert(eng.bloomFullBuilds >= 1, "premise: the bloom is built and probed")
    check(eng, "run")
    // seen ⊇ fetched
    val notSeen = eng.fetched().get.select("url_hash").distinct()
      .join(eng.seen().select("url_hash"), Seq("url_hash"), "left_anti").count()
    assert(notSeen == 0)
    eng.rotateWindows(new java.sql.Timestamp(PagesGen.BaseTsMillis + 3600_000L))
    check(eng, "rotateWindows")
    eng.run(2)
    check(eng, "run after rotateWindows")
    // robots rule change over the existing state: block the host that holds
    // the most frontier rows, then purge
    val host = eng.frontier().groupBy("host").count().orderBy($"count".desc)
      .head().getString(0)
    val cfgBlocked = cfg.copy(robotsDisallow = Seq((host, "/")))
    val purger = new CrawlEngine(spark, pagesDF, dir, cfgBlocked)
    assert(purger.purgeRobotsBlocked() > 0, "premise: the purge drops frontier rows")
    check(purger, "purgeRobotsBlocked")
    purger.run(2)
    check(purger, "run after purgeRobotsBlocked")
    // resume in a new engine on the same dir
    val resumed = new CrawlEngine(spark, pagesDF, dir, cfgBlocked)
    resumed.run(2)
    check(resumed, "resume")
  }

  test("keyed seen probe: back-links to already-fetched pages never re-enter the frontier") {
    // root r links to 20 pages a_i, a_i links to b_i, every b_i links back
    // to r and to all 20 a_j and on to c_i, and every c_i links back to all
    // 20 b_j. Batch 2 expands 420 back-links onto 21 distinct seen urls,
    // batch 3 expands 400 onto the 20 b_j — below probePushdownMaxKeys, so
    // the driver tail's keyed membership read alone must find them; each
    // one it missed would be fetched again. With the bloom on, compaction every 2 batches gives the
    // filter batch 1's seen base {r, a_i}, and the b_j are seen only in
    // batch 2's delta, which no filter covers: the keyed read must take the
    // seen deltas for every link key, not only the keys the filter flags.
    val base = PagesGen.BaseTsMillis
    val host = "https://hk.example.test"
    val r = s"$host/r"
    def a(i: Int) = s"$host/a/$i"
    def b(i: Int) = s"$host/b/$i"
    def c(i: Int) = s"$host/c/$i"
    def links(us: Seq[String]) = us.map(u => s"""<a href="$u">x</a>""").mkString(" ")
    def mk(url: String, ageMin: Int, html: String) =
      Page(url, new java.sql.Timestamp(base - ageMin * 60000L), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    val n = 20
    val pages = (mk(r, 0, links((0 until n).map(a)) + " root") +:
      ((0 until n).map(i => mk(a(i), 1 + i, links(Seq(b(i))) + s" a$i")) ++
        (0 until n).map(i => mk(b(i), 100 + i, links(r +: (0 until n).map(a) :+ c(i)) + s" b$i")) ++
        (0 until n).map(i => mk(c(i), 200 + i, links((0 until n).map(b)) + s" c$i")))).toDF
    val seed = Seed("s", r, new java.sql.Timestamp(base - 86400000L),
      new java.sql.Timestamp(base + 86400000L))
    // bloom off (every key flagged) and on (a filter over batch 1's seen base)
    for (minSeen <- Seq(Long.MaxValue, 1L)) {
      val cfg = CrawlConfig(defaultHostBudget = 1000, shufflePartitions = 4, maxDepth = 8,
        bloomMinSeen = minSeen, compactEvery = 2)
      val eng = new CrawlEngine(spark, pages, tmp(), cfg)
      eng.initialize(Seq(seed))
      val ms = eng.run(6)
      val f = eng.fetched().get
      val linksPerBatch = f.groupBy("batch_id").agg(sum("n_outlinks")).collect().map(_.getLong(1))
      assert(linksPerBatch.max == n * (n + 2) && linksPerBatch.max <= cfg.probePushdownMaxKeys &&
        eng.lastTailPath == "driver", "premise: batch 2's and 3's back-links take the keyed probe")
      assert(eng.bloomFullBuilds == (if (minSeen == 1L) 2 else 0), "premise: bloom on/off")
      assert(f.count() == 1 + 3 * n, s"bloomMinSeen=$minSeen: fetched ${f.count()} rows")
      assert(f.groupBy("url_hash").count().filter($"count" > 1).count() == 0,
        s"bloomMinSeen=$minSeen: a url was fetched twice")
      assert(ms.map(_("scheduled")) == Seq(1L, n.toLong, n.toLong, n.toLong),
        s"bloomMinSeen=$minSeen: schedule ${ms.map(_("scheduled"))}")
      assert(ms.last("frontier_size") == 0L)
    }
  }

  test("bloom prefilter never drops a never-seen url (no false negatives)") {
    // direct property on the aggregate + broadcast probe (snapshot tier)
    val hashes = spark.range(0, 2000).select(xxhash64($"id").as("h"))
    val blobs = hashes.groupBy(pmod($"h", lit(4L)).as("shard"))
      .agg(BloomSeen.bloom_build($"h", 1000, 0.01).as("blob"))
      .collect().sortBy(_.getLong(0)).map(_.getAs[Array[Byte]]("blob"))
    assert(blobs.length == 4)
    val bc = spark.sparkContext.broadcast(blobs)
    val misses = hashes.withColumn("c", BloomSeen.bloom_probe(bc, Nil, $"h"))
      .filter(!$"c").count()
    assert(misses == 0, "bloom claimed a present element absent")
    // recent-tier probe: keys only in a delta blob are still found
    val extra = spark.range(5000, 5200).select(xxhash64($"id").as("h"))
    val delta = extra.groupBy(pmod($"h", lit(4L)).as("shard"))
      .agg(BloomSeen.bloom_build($"h", 256, 0.01).as("blob"))
      .collect().sortBy(_.getLong(0)).map(_.getAs[Array[Byte]]("blob"))
    val misses2 = extra.withColumn("c",
        BloomSeen.bloom_probe(bc, Seq(spark.sparkContext.broadcast(delta)), $"h"))
      .filter(!$"c").count()
    assert(misses2 == 0, "recent-tier delta blob not probed")
  }

  test("resume: kill after k batches == uninterrupted run (MERGE checkpoint)") {
    val dirA = tmp(); val dirB = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4)
    val engA = new CrawlEngine(spark, pagesDF, dirA, cfg)
    engA.initialize(seeds(5)); engA.run(3)

    val engB1 = new CrawlEngine(spark, pagesDF, dirB, cfg)
    engB1.initialize(seeds(5)); engB1.run(1)
    // "kill": discard the engine; a new instance must resume from _COMMITTED
    val engB2 = new CrawlEngine(spark, pagesDF, dirB, cfg)
    assert(engB2.store.committedBatch == 0L)
    engB2.run(2)

    def key(e: CrawlEngine) = e.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(key(engA) == key(engB2), "seen sets diverge after resume")
    def fkey(e: CrawlEngine) = e.fetched().get
      .select("url_hash", "batch_id", "fetch_ordinal")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(fkey(engA) == fkey(engB2), "fetched lineage diverges after resume")
    def frkey(e: CrawlEngine) = e.frontier().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(frkey(engA) == frkey(engB2), "frontier diverges after resume")
  }

  test("resume: kill right after a rotation == uninterrupted rotate+run (r5)") {
    // rotateWindows commits as its own versioned batch (state ROTATED); a
    // kill on that boundary must resume into the SAME phase-2 schedule as
    // an uninterrupted engine — both arms on the same config, and only one
    // arm resumes, so a systemic resume drift can't cancel out.
    val dirA = tmp(); val dirB = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, maxDepth = 16)
    val newEnd = new java.sql.Timestamp(PagesGen.BaseTsMillis + 3600_000L)
    val engA = new CrawlEngine(spark, pagesDF, dirA, cfg)
    engA.initialize(seeds(5)); engA.run(2); engA.rotateWindows(newEnd); engA.run(2)

    val engB1 = new CrawlEngine(spark, pagesDF, dirB, cfg)
    engB1.initialize(seeds(5)); engB1.run(2); engB1.rotateWindows(newEnd)
    // "kill" on the rotation commit; the fresh instance resumes past it
    val engB2 = new CrawlEngine(spark, pagesDF, dirB, cfg)
    assert(engB2.store.committedBatch == 2L, "rotation batch must be the committed state")
    engB2.run(2)

    def fkey(e: CrawlEngine) = e.fetched().get
      .select("url_hash", "batch_id", "fetch_ordinal")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(fkey(engA) == fkey(engB2), "post-rotation fetched lineage diverges after resume")
    def key(e: CrawlEngine) = e.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(key(engA) == key(engB2), "seen sets diverge after rotation resume")
    def frkey(e: CrawlEngine) = e.frontier().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(frkey(engA) == frkey(engB2), "frontier diverges after rotation resume")
  }

  test("determinism across partitioning levels (local[8]-vs-local[32] analog)") {
    // Same input, different shuffle fan-out + salt: final sets must be identical
    // (FIXTURES.md §5.3 — order compared per host only, sets globally).
    val e1 = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 3, saltBuckets = 2))
    val e2 = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 13, saltBuckets = 8))
    e1.initialize(seeds(5)); e1.run(3)
    e2.initialize(seeds(5)); e2.run(3)
    def seenKey(e: CrawlEngine) = e.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(seenKey(e1) == seenKey(e2))
    def ordKey(e: CrawlEngine) = e.fetched().get
      .select("host", "batch_id", "fetch_ordinal", "url_hash")
      .collect().map(r => ((r.getString(0), r.getLong(1), r.getInt(2)), r.getLong(3)))
      .sortBy(_._1).map(_._2).toSeq
    assert(ordKey(e1) == ordKey(e2), "per-host fetch order depends on partitioning")
  }

  test("rank plans: narrow == direct, and the engine picks each in its regime") {
    // The two rank plans (narrow projection + key join-back vs one wide
    // window) must be drop-in interchangeable. One batch over a preloaded
    // frontier whose hosts hold at most m rows each: budget m (< |frontier|)
    // takes the narrow plan, budget |frontier| (no budget can bind) the
    // direct plan, and both schedule every row.
    val pre = Bench.preloadFrontier(pagesDF).persist()
    val f = pre.count()
    val m = pre.groupBy("host").count().agg(max("count")).head().getLong(0).toInt
    assert(m < f, s"premise: budget m = $m must be below |frontier| = $f")
    def runWith(budget: Int): CrawlEngine = {
      val e = new CrawlEngine(spark, pagesDF, tmp(),
        CrawlConfig(defaultHostBudget = budget, shufflePartitions = 5))
      e.initializeWithFrontier(pre); e.runBatch(); e
    }
    val (en, ed) = (runWith(m), runWith(f.toInt))
    assert(en.lastRankPlan == "narrow" && ed.lastRankPlan == "direct")
    def key(e: CrawlEngine) = e.store.readLog("parsed", Long.MaxValue).get
      .select("host", "fetch_ordinal", "url_hash", "sched_delay_ms")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(key(en).size == f, "every frontier row must be scheduled")
    assert(key(en) == key(ed), "rank plans disagree")
    // under a binding budget the direct plan still runs once a batch
    // schedules >= half the frontier (the q70/q84 oracle crawl shape)
    val e = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 2, shufflePartitions = 5))
    e.initialize(seeds(5))
    val plans = (1 to 3).map { _ => e.runBatch(); e.lastRankPlan }
    assert(plans.head == "narrow" && plans.contains("direct"), plans)
  }

  test("logCodec=zstd writes zstd state files and an identical crawl (r5)") {
    // the codec is a pure storage knob (measured tradeoff in
    // ROUND5_NOTES.md); it must change the file encoding and NOTHING else.
    // "none" is a name Spark's parquet writer accepts, so the driver-direct
    // ledger write must accept it too.
    def runWith(codec: String): (CrawlEngine, String) = {
      val dir = tmp()
      val e = new CrawlEngine(spark, pagesDF, dir,
        CrawlConfig(defaultHostBudget = 2, shufflePartitions = 4, logCodec = codec))
      e.initialize(seeds(5)); e.run(2); (e, dir)
    }
    val ((es, _), (ez, zdir), (en, _)) = (runWith("snappy"), runWith("zstd"), runWith("none"))
    def key(e: CrawlEngine) = e.fetched().get
      .select("host", "batch_id", "fetch_ordinal", "url_hash")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    assert(key(es) == key(ez), "codec changed crawl results")
    assert(key(es) == key(en), "codec changed crawl results")
    val parsedFiles = Files.walk(java.nio.file.Paths.get(zdir, "parsed"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .iterator().asScala.toSeq
    assert(parsedFiles.nonEmpty)
    assert(parsedFiles.forall(_.getFileName.toString.contains(".zstd.")),
      s"expected zstd-encoded parsed log, got ${parsedFiles.head.getFileName}")
  }

  test("robots gating: disallowed prefixes never fetched and leave the frontier") {
    val megaHost = "h0.example.test"
    val eng = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4,
        robotsDisallow = Seq((megaHost, "/u/"))))
    eng.initialize(seeds(8))
    val ms = eng.run(3)
    val fetchedMega = eng.fetched().get.filter($"host" === megaHost).count()
    assert(fetchedMega == 0, "robots-disallowed host was fetched")
    assert(ms.map(_("robots_blocked")).sum > 0)
    // blocked urls must not linger in the frontier
    assert(eng.frontier().filter($"host" === megaHost).count() == 0)
  }

  private def preload = CrawlFixtures.preload(pagesDF)

  private val megaRules = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4,
    maxDepth = 8, compactEvery = 3, bloomMinSeen = 1,
    robotsDisallow = Seq(("h0.example.test", "/u/")),
    robotsAllow = Seq(("h0.example.test", "/u/1/")))

  private def blockedFetches(e: CrawlEngine): Long = e.fetched().get
    .filter($"host" === "h0.example.test" &&
      !$"url_canon".startsWith("https://h0.example.test/u/1/")).count()

  test("rule change over pre-existing frontier: purgeRobotsBlocked drops the blocked rows once") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(), megaRules)
    eng.initializeWithFrontier(preload)
    assert(eng.purgeRobotsBlocked() > 0, "premise: the preload holds blocked rows")
    val ms = eng.run(6)
    // the purge left no blocked row for batch gating to find
    assert(ms.map(_("robots_blocked")).sum == 0)
    assert(blockedFetches(eng) == 0, "a blocked url was fetched")
    // the purge is idempotent
    assert(eng.purgeRobotsBlocked() == 0L)
  }

  test("without the purge, the first batch gates every pre-existing blocked row and none is fetched") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(), megaRules)
    eng.initializeWithFrontier(preload)
    val ms = eng.run(3)
    // gating reads the whole frontier view, so batch 0 drops every blocked
    // row and discovery-time gating keeps new ones out
    assert(ms.head("robots_blocked") > 0, "premise: the preload holds blocked rows")
    assert(ms.tail.map(_("robots_blocked")).sum == 0)
    assert(blockedFetches(eng) == 0, "a blocked url was fetched")
  }

  test("robots Allow carve-out: longer allow overrides host disallow end-to-end (RFC 9309 §2.2.2)") {
    val h = "rb.example.test"
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ts: Long, links: Seq[String]) = {
      val html = links.map(l => s"""<a href="$l">x</a>""").mkString + "body"
      Page(url, new java.sql.Timestamp(ts), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    }
    def u(uid: Int, p: Int) = s"https://$h/u/$uid/p/$p"
    // user 1 (carved out) pages chain; p0 also cross-links to user 2 (blocked)
    val pages = Seq(
      mk(u(1, 0), base - 1000, Seq(u(1, 1), u(2, 1))),
      mk(u(1, 1), base - 2000, Seq(u(1, 2))),
      mk(u(1, 2), base - 3000, Nil),
      mk(u(2, 0), base - 1500, Seq(u(2, 1))),
      mk(u(2, 1), base - 2500, Nil)).toDF
    val eng = new CrawlEngine(spark, pages, tmp(),
      CrawlConfig(defaultHostBudget = 8, maxDepth = 8, shufflePartitions = 2,
        robotsDisallow = Seq((h, "/u/")),
        robotsAllow = Seq((h, "/u/1/"))))
    val since = new java.sql.Timestamp(base - 86400_000L)
    val end = new java.sql.Timestamp(base)
    eng.initialize(Seq(Seed("s1", u(1, 0), since, end), Seed("s2", u(2, 0), since, end)))
    val ms = eng.run(4)
    val fetched = eng.fetched().get
    assert(fetched.count() == 3, "exactly user 1's three pages fetch")
    assert(fetched.filter(!$"url_canon".startsWith(s"https://$h/u/1/")).count() == 0,
      "a url outside the Allow carve-out was fetched")
    // the blocked seed root was gated at candidate time (counted), and the
    // cross-link to user 2 was gated at discovery (never enters the frontier)
    assert(ms.map(_("robots_blocked")).sum == 1)
    assert(eng.frontier().count() == 0)
  }

  test("per-link-class expansion caps bind per page in page order (VERDICT r4 item 5)") {
    val a = "ca.example.test"; val b = "cb.example.test"
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ts: Long, links: Seq[String]) = {
      val html = links.map(l => s"""<a href="$l">x</a>""").mkString + "body"
      Page(url, new java.sql.Timestamp(ts), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    }
    def pa(i: Int) = s"https://$a/u/1/c/$i" // same-host ⇒ "paging" class
    def px(i: Int) = s"https://$b/x/$i"     // cross-host ⇒ "cross" class
    val root = s"https://$a/u/1/p/0"
    // root interleaves the classes — caps must pick each class's FIRST links
    // in page order, not a prefix of the mixed array
    val pages = (Seq(mk(root, base - 1000, Seq(pa(1), px(1), pa(2), pa(3), px(2)))) ++
      (1 to 3).map(i => mk(pa(i), base - 1000 - i * 100, Nil)) ++
      (1 to 2).map(i => mk(px(i), base - 5000 - i * 100, Nil))).toDF
    val since = new java.sql.Timestamp(base - 86400_000L)
    val end = new java.sql.Timestamp(base)
    def run(caps: Map[String, Int]): Seq[String] = {
      val eng = new CrawlEngine(spark, pages, tmp(),
        CrawlConfig(defaultHostBudget = 8, maxDepth = 4, shufflePartitions = 2,
          expansionCaps = caps))
      eng.initialize(Seq(Seed("s", root, since, end)))
      eng.run(3)
      eng.fetched().get.select("url_canon").collect().map(_.getString(0)).sorted.toSeq
    }
    assert(run(Map.empty).size == 6, "premise: uncapped crawl reaches all 6 pages")
    // comment-cap 2 + repost-cap 1 analog: first 2 paging + first 1 cross
    assert(run(Map("paging" -> 2, "cross" -> 1)) ==
      Seq(root, pa(1), pa(2), px(1)).sorted)
    // cap 0 disables a class outright (the download_repost=0 analog)
    assert(run(Map("cross" -> 0)) == Seq(root, pa(1), pa(2), pa(3)).sorted)
    // an uncapped class is unlimited when only the other is capped
    assert(run(Map("cross" -> 1)) == Seq(root, pa(1), pa(2), pa(3), px(1)).sorted)
  }

  test("robots wildcard rules gate the crawl end-to-end (RFC 9309 §2.2.3)") {
    val h = "rw.example.test"
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ts: Long, links: Seq[String]) = {
      val html = links.map(l => s"""<a href="$l">x</a>""").mkString + "body"
      Page(url, new java.sql.Timestamp(ts), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    }
    def u(uid: Int, p: Int) = s"https://$h/u/$uid/p/$p"
    // disallow /u/*/p/1 (wildcard over the uid segment): p0 and p2 crawl,
    // every p1 is blocked for BOTH users — paging continues through links
    // found on p0 (p0 links p1 AND p2 directly here)
    val pages = Seq(
      mk(u(1, 0), base - 1000, Seq(u(1, 1), u(1, 2))),
      mk(u(1, 1), base - 2000, Nil),
      mk(u(1, 2), base - 3000, Nil),
      mk(u(2, 0), base - 1500, Seq(u(2, 1))),
      mk(u(2, 1), base - 2500, Nil)).toDF
    val eng = new CrawlEngine(spark, pages, tmp(),
      CrawlConfig(defaultHostBudget = 8, maxDepth = 8, shufflePartitions = 2,
        robotsDisallow = Seq((h, "/u/*/p/1$"))))
    val since = new java.sql.Timestamp(base - 86400_000L)
    val end = new java.sql.Timestamp(base)
    eng.initialize(Seq(Seed("s1", u(1, 0), since, end), Seed("s2", u(2, 0), since, end)))
    eng.run(4)
    val fetched = eng.fetched().get.select("url_canon").collect().map(_.getString(0)).toSet
    assert(fetched == Set(u(1, 0), u(1, 2), u(2, 0)),
      s"wildcard rule mis-gated: $fetched")
  }

  test("pre-canonicalized corpus (bucketed-table contract): crawl results identical to computed-canon path") {
    val pagesCanon = pagesDF.withColumn("url_canon", gf.canonicalize_url($"url"))
    val cfg = CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4)
    val a = new CrawlEngine(spark, pagesCanon, tmp(), cfg)
    val b = new CrawlEngine(spark, pagesDF, tmp(), cfg)
    a.initialize(seeds(6)); b.initialize(seeds(6))
    a.run(3); b.run(3)
    def k(e: CrawlEngine) = e.fetched().get.select("url_hash", "batch_id", "fetch_ordinal")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(k(a) == k(b), "pre-canonicalized corpus diverged from the computed-canon path")
    assert(a.seen().count() == b.seen().count())
  }

  test("seed window: since_ts in the future fetches nothing for that seed (weibo.py:2735-2737)") {
    val future = new java.sql.Timestamp(PagesGen.BaseTsMillis + 86400_000L)
    val farFuture = new java.sql.Timestamp(PagesGen.BaseTsMillis + 2 * 86400_000L)
    val s0 = seeds(2)
    val withFuture = s0 :+ Seed("seedF", PagesGen.urlOf(3, 0, N), future, farFuture)
    val eng = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4))
    eng.initialize(withFuture)
    eng.run(2)
    assert(eng.fetched().get.filter($"seed_id" === "seedF").count() == 0)
  }

  test("stop command halts the run and writes a STOPPED ledger row (service.py:1419-1432)") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4))
    eng.initialize(seeds(3))
    eng.run(1)
    eng.requestStop()
    val more = eng.run(5)
    assert(more.isEmpty)
    // the stop commits as its own version, so the committed ledger shows it
    // and the next batch takes the version after it
    def rows() = eng.ledger().get.orderBy("batch_id").select("batch_id", "state")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows() == Seq((0L, "SUCCESS"), (1L, "STOPPED")))
    eng.clearStop()
    eng.run(1)
    assert(rows() == Seq((0L, "SUCCESS"), (1L, "STOPPED"), (2L, "SUCCESS")))
  }

  test("notifier: health anomalies alert once per condition (U6, weibo.py:436-450)") {
    // invariant violation: a corpus row whose text column lies about its html
    val base = PagesGen.BaseTsMillis
    val badHtml = "<b>real text</b>"
    val liar = Seq(Page("https://hn.example.test/u/0/p/0",
      new java.sql.Timestamp(base - 3600_000L), badHtml.getBytes("UTF-8"),
      "a different text entirely", "en")).toDF
    val n1 = new CapturingNotifier
    val e1 = new CrawlEngine(spark, liar, tmp(), CrawlConfig(shufflePartitions = 2), n1)
    e1.initialize(Seq(Seed("s", "https://hn.example.test/u/0/p/0",
      new java.sql.Timestamp(base - 86400_000L), new java.sql.Timestamp(base))))
    e1.run(3)
    assert(n1.messages.count(_.contains("invariant")) == 1,
      s"expected exactly one invariant alert, got ${n1.messages}")

    // cookie-invalid analog: EVERY scheduled fetch missing from the corpus
    val n2 = new CapturingNotifier
    val empty = Seq.empty[Page].toDF
    val e2 = new CrawlEngine(spark, empty, tmp(), CrawlConfig(shufflePartitions = 2), n2)
    e2.initialize(seeds(3))
    e2.run(3)
    assert(n2.messages.count(_.contains("missing from the corpus")) == 1)

    // stop command alerts too
    val n3 = new CapturingNotifier
    val e3 = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4), n3)
    e3.initialize(seeds(2))
    e3.run(1)
    e3.requestStop(); e3.run(2); e3.clearStop()
    assert(n3.messages.exists(_.contains("stopped")))
  }

  test("typed Dataset views: frontierTyped/seenTyped mirror the DataFrame state") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4))
    eng.initialize(seeds(4))
    eng.run(2)
    val fe: Seq[FrontierEntry] = eng.frontierTyped().collect().toSeq
    assert(fe.size.toLong == eng.frontier().count())
    assert(fe.forall(e => e.url_hash != 0L && e.host.nonEmpty && e.depth >= 0))
    val se: Seq[SeenEntry] = eng.seenTyped().collect().toSeq
    assert(se.size.toLong == eng.seen().count())
    assert(se.forall(_.first_batch >= 0L))
  }

  test("ledger carries per-batch lineage metrics") {
    val eng = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4))
    eng.initialize(seeds(4))
    eng.run(2)
    val led = eng.ledger().get.orderBy("batch_id").collect()
    assert(led.length == 2)
    val cols = eng.ledger().get.columns.toSet
    assert(Set("batch_id", "state", "scheduled", "fetched",
      "invariant_violations", "frontier_size", "seen_size", "partitions_used").subsetOf(cols))
    assert(led.forall(_.getAs[String]("state") == "SUCCESS"))
    assert(led.forall(_.getAs[Long]("invariant_violations") == 0L))
    // arithmetic seen_size bookkeeping must equal the actual table
    assert(led.last.getAs[Long]("seen_size") == eng.seen().count())
  }
}

/** robots.txt parsing (north rule gating input). */
class RobotsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.crawl.Robots
  val txt =
    """# comment
      |User-agent: *
      |Disallow: /private/
      |Disallow: /tmp
      |Disallow:
      |
      |User-agent: graftbot
      |User-agent: otherbot
      |Disallow: /graft-only/
      |
      |User-agent: evilbot
      |Disallow: /
      |""".stripMargin

  test("wildcard group rules extracted; empty disallow dropped") {
    assert(Robots.disallowPrefixes(txt) == Seq("/private/", "/tmp"))
  }
  test("named agent gets its group (multi-agent group) plus nothing from others") {
    assert(Robots.disallowPrefixes(txt, "graftbot") == Seq("/private/", "/tmp", "/graft-only/"))
    assert(Robots.disallowPrefixes(txt, "otherbot") == Seq("/private/", "/tmp", "/graft-only/"))
    assert(Robots.disallowPrefixes(txt, "evilbot") == Seq("/private/", "/tmp", "/"))
  }
  test("toRules builds engine gating rows") {
    assert(Robots.toRules(Seq(("h0.example.test", "User-agent: *\nDisallow: /u/"))) ==
      Seq(("h0.example.test", "/u/")))
  }

  val txtAllow =
    """User-agent: *
      |Disallow: /u/
      |Allow: /u/pub/
      |Allow: /open
      |Disallow: /open
      |Allow:
      |""".stripMargin

  test("Allow rules parsed alongside Disallow; empty Allow dropped (RFC 9309)") {
    assert(Robots.rules(txtAllow) ==
      Seq(("/u/", false), ("/u/pub/", true), ("/open", true), ("/open", false)))
    assert(Robots.disallowPrefixes(txtAllow) == Seq("/u/", "/open"))
  }

  test("longest-match precedence: longer allow overrides disallow; allow wins equal-length tie (RFC 9309 §2.2.2)") {
    val rs = Robots.rules(txtAllow)
    assert(!Robots.isAllowed(rs, "/u/x"), "disallow prefix must block")
    assert(Robots.isAllowed(rs, "/u/pub/x"), "longer Allow carve-out must override /u/ disallow")
    assert(Robots.isAllowed(rs, "/open/x"), "equal-length allow/disallow tie goes to allow")
    assert(Robots.isAllowed(rs, "/other"), "unmatched path is allowed")
    // longest DISALLOW also overrides a shorter allow
    val rs2 = Seq(("/a/", true), ("/a/secret/", false))
    assert(Robots.isAllowed(rs2, "/a/x") && !Robots.isAllowed(rs2, "/a/secret/x"))
  }

  test("toRulePair splits per-host rule rows for CrawlConfig") {
    val (dis, allow) = Robots.toRulePair(Seq(("h.test", txtAllow)))
    assert(dis == Seq(("h.test", "/u/"), ("h.test", "/open")))
    assert(allow == Seq(("h.test", "/u/pub/"), ("h.test", "/open")))
  }

  test("wildcard * and end-anchor $ rules (RFC 9309 §2.2.3)") {
    // * matches any sequence
    val rs1 = Seq(("/u/*/secret", false))
    assert(!Robots.isAllowed(rs1, "/u/1/secret"))
    assert(!Robots.isAllowed(rs1, "/u/a/b/secret-file"))
    assert(Robots.isAllowed(rs1, "/u/1/open"))
    // trailing $ anchors the end
    val rs2 = Seq(("/*.pdf$", false))
    assert(!Robots.isAllowed(rs2, "/doc/x.pdf"))
    assert(Robots.isAllowed(rs2, "/doc/x.pdf.html"))
    // literal regex metacharacters in rules stay literal
    val rs3 = Seq(("/a+b(c)", false))
    assert(!Robots.isAllowed(rs3, "/a+b(c)/d"))
    assert(Robots.isAllowed(rs3, "/aab(c)"))
    // wildcard precedence by rule octet length: longer allow carve-out wins
    val rs4 = Seq(("/dl/*", false), ("/dl/*/free/", true))
    assert(!Robots.isAllowed(rs4, "/dl/x/paid/f"))
    assert(Robots.isAllowed(rs4, "/dl/x/free/f"))
  }

  test("rule paths percent-normalize like URLs (RFC 9309 §2.2.2 encoding-insensitive compare)") {
    // a rule spelled with an encoded unreserved char must match the
    // canonicalized (decoded) path — and vice versa
    assert(!Robots.isAllowed(Seq(("/%7Eadmin/", false)), "/~admin/x"))
    assert(!Robots.isAllowed(Seq(("/~admin/", false)), "/%7Eadmin/x"))
    // reserved encodings: hex case folds, the encoding itself is preserved
    assert(!Robots.isAllowed(Seq(("/a%2fb", false)), "/a%2Fb/x"))
    assert(Robots.isAllowed(Seq(("/a%2Fb", false)), "/a/b/x"),
      "an encoded slash rule must NOT match a literal slash path")
  }

  test("Crawl-delay parses per agent group: seconds (fractional ok), last wins, malformed ignored (VERDICT r4)") {
    val txt =
      """User-agent: *
        |Crawl-delay: 2
        |Disallow: /private/
        |
        |User-agent: fastbot
        |Crawl-delay: 0.5
        |
        |User-agent: brokenbot
        |Crawl-delay: soon
        |""".stripMargin
    assert(Robots.crawlDelayMs(txt) == Some(2000L))
    // fastbot sees the * group's 2s then its own 0.5s — last valid wins
    assert(Robots.crawlDelayMs(txt, "fastbot") == Some(500L))
    assert(Robots.crawlDelayMs(txt, "brokenbot") == Some(2000L),
      "a malformed agent-specific value must fall back to the * group's valid one")
    assert(Robots.crawlDelayMs("User-agent: *\nDisallow: /x") == None)
    // repeated directives in one group: last wins
    assert(Robots.crawlDelayMs("User-agent: *\nCrawl-delay: 5\nCrawl-delay: 7") == Some(7000L))
    // last VALID wins (ADVICE r5): a parseable-but-invalid trailing value
    // (negative / infinite) must not silently discard an earlier valid one
    assert(Robots.crawlDelayMs("User-agent: *\nCrawl-delay: 2\nCrawl-delay: -1") == Some(2000L))
    assert(Robots.crawlDelayMs("User-agent: *\nCrawl-delay: 3\nCrawl-delay: Infinity") == Some(3000L))
    assert(Robots.toDelays(Seq(("a.test", txt), ("b.test", "User-agent: *\nDisallow: /"))) ==
      Map("a.test" -> 2000L))
    // configure() folds gating + delay into a CrawlConfig in one call
    val cfg = Robots.configure(CrawlConfig(defaultDelayMs = 9999L), Seq(("a.test", txt)))
    assert(cfg.perHostDelayMs == Map("a.test" -> 2000L))
    assert(cfg.robotsDisallow == Seq(("a.test", "/private/")))
  }

  test("compiled rule sets evaluate identically to the one-shot path (ADVICE r4)") {
    val rs = Seq(("/u/", false), ("/u/pub/", true), ("/*.pdf$", false), ("/%7Ea/", false))
    val c = Robots.compile(rs)
    for (p <- Seq("/u/x", "/u/pub/x", "/doc/x.pdf", "/doc/x.pdf?y", "/~a/z", "/open"))
      assert(c.isAllowed(p) == Robots.isAllowed(rs, p), s"compiled diverged on $p")
  }

  test("rules match PATH?QUERY: $ anchors stop at queries; wildcard rules can target queries") {
    // RFC 9309 matches against path + optional query
    assert(!Robots.isAllowed(Seq(("/p$", false)), "/p"))
    assert(Robots.isAllowed(Seq(("/p$", false)), "/p?q=1"),
      "a \\$-anchored rule must not match a url that continues with a query")
    assert(!Robots.isAllowed(Seq(("/*?sessionid=", false)), "/x/y?sessionid=9"))
    assert(Robots.isAllowed(Seq(("/*?sessionid=", false)), "/x/y?sid=9"))
  }
}

/** Crash-resilience + skew-path determinism. */
class CrawlResilienceSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_res").toString
  val N = 512L
  lazy val pagesDF = PagesGen.pages(spark, N, partitions = 4).toDF
  def seeds(k: Int) = PagesGen.seedRows(N, k).map(Seed.tupled)

  test("orphan uncommitted version from a crashed batch is invisible and overwritten on retry") {
    val dir = tmp()
    // compactEvery=1 ⇒ every batch also writes a base snapshot, so the crash
    // leaves BOTH orphan deltas and an orphan base — the retry must read
    // none of them (a crashed compaction replays deterministically)
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 1)
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initialize(seeds(4)); eng.run(1)
    // simulate a crash mid-batch-1: partial garbage deltas + base at batch 1,
    // pointer still 0
    val garbage = eng.frontier().limit(1)
    eng.store.writeDeltaAdds("frontier", 1L, garbage)
    eng.store.writeDeltaAdds("seen", 1L, eng.frontier().limit(3)
      .select($"url_hash", $"url_canon", lit(1L).as("first_batch")))
    eng.store.writeBase("seen", 1L, eng.seen().limit(0))
    eng.store.appendLog("parsed", 1L, eng.fetched().get.limit(1))
    assert(eng.store.committedBatch == 0L)
    // reader sees only committed state
    assert(eng.frontier().count() > 1)
    // retry (fresh engine = fresh process) overwrites the orphans exactly
    val eng2 = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng2.run(1)
    assert(eng2.store.committedBatch == 1L)
    // reference run without the crash must match
    val dirB = tmp()
    val ref = new CrawlEngine(spark, pagesDF, dirB, cfg)
    ref.initialize(seeds(4)); ref.run(2)
    def k(e: CrawlEngine) = e.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(k(eng2) == k(ref))
    def f(e: CrawlEngine) = e.fetched().get.select("url_hash", "batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(f(eng2) == f(ref), "retry after crash diverges from clean run")

    // a kill just before store.commit(1): batch 1 wrote everything, the
    // pointer still says 0. A rotation or a purge takes version 1 instead of
    // a retry and must not expose what the killed batch left there.
    def killedBeforeCommit(): String = {
      val d = tmp()
      val e = new CrawlEngine(spark, pagesDF, d, cfg)
      e.initialize(seeds(4)); e.run(2); e.store.commit(0L)
      d
    }
    def afterOneBatch(): String = {
      val d = tmp()
      new CrawlEngine(spark, pagesDF, d, cfg).initialize(seeds(4))
      new CrawlEngine(spark, pagesDF, d, cfg).run(1)
      d
    }
    def noRefetch(e: CrawlEngine, arm: String): Unit = assert(
      e.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0,
      s"$arm: a url was fetched twice")
    val newEnd = new java.sql.Timestamp(PagesGen.BaseTsMillis + 3600_000L)
    val rotated = Seq(killedBeforeCommit(), afterOneBatch()).map { d =>
      val e = new CrawlEngine(spark, pagesDF, d, cfg)
      e.rotateWindows(newEnd); e.run(2); e
    }
    noRefetch(rotated.head, "rotate")
    assert(f(rotated.head) == f(rotated(1)), "rotate over a killed batch diverges from a clean rotate")
    val host = new CrawlEngine(spark, pagesDF, afterOneBatch(), cfg).frontier()
      .select("host").distinct().orderBy("host").head().getString(0)
    val purged = Seq(killedBeforeCommit(), afterOneBatch()).map { d =>
      val e = new CrawlEngine(spark, pagesDF, d, cfg.copy(robotsDisallow = Seq((host, "/"))))
      assert(e.purgeRobotsBlocked() > 0, "premise: the rule blocks frontier rows")
      e.run(2); e
    }
    noRefetch(purged.head, "purge")
    assert(f(purged.head) == f(purged(1)), "purge over a killed batch diverges from a clean purge")
  }
}

/** Wall-clock politeness pacing (VERDICT r3 item 2: the one stage a real
  * crawl always runs had zero coverage). The reference's behavioral contract
  * is its inter-fetch sleep cadence (weibo.py:2769-2778); here the contract
  * is per-host inter-fetch spacing >= the delay budget, with
  * the actual fetch time stamped into paced_at_ms lineage. */
class PacingSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._
  import spark.implicits._
  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_pace").toString
  private def emptyPages = Seq.empty[Page].toDF

  test("pace(): per-host inter-fetch spacing >= delay budget; hosts run in parallel shards") {
    val delay = 200L
    // saltBuckets = 8 > 4 rows per host: a host split over several pacing
    // tasks would be fetched concurrently, faster than its delay
    for (salt <- Seq(1, 8)) {
      val eng = new CrawlEngine(spark, emptyPages, tmp(),
        CrawlConfig(defaultDelayMs = delay, saltBuckets = salt, shufflePartitions = 2,
          realTimePacing = true))
      val rows = for (h <- Seq("a.test", "b.test"); o <- 1 to 4)
        yield (s"https://$h/p/$o", h, h.hashCode.toLong * 7 + o, o, Option.empty[Long])
      val df = rows.toDF("url_canon", "host", "url_hash", "fetch_ordinal", "paced_at_ms")
        // distributed source: a local relation would be constant-folded
        .repartition(2)
      val out = eng.pace(df)
        .select($"host", $"fetch_ordinal", $"paced_at_ms").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      assert(out.length == 8 && out.forall(_._3 > 0), "every row must carry a fetch stamp")
      out.groupBy(_._1).foreach { case (host, rs) =>
        val byOrd = rs.sortBy(_._2)
        // stamps follow ordinal order (newest-first schedule preserved)
        assert(byOrd.map(_._3).toSeq == rs.map(_._3).sorted.toSeq,
          s"saltBuckets=$salt: $host stamps out of ordinal order")
        val diffs = byOrd.map(_._3).sliding(2).map(p => p(1) - p(0)).toSeq
        assert(diffs.forall(_ >= delay - 5),
          s"saltBuckets=$salt: $host inter-fetch spacing violated the $delay ms budget: $diffs")
      }
    }
  }

  test("pace(): residual-delay bookkeeping across host boundaries within one shard") {
    // two hosts sorted into ONE partition: spacing applies within each host's
    // contiguous run, not across the boundary (the next host starts fresh)
    val delay = 300L
    val eng = new CrawlEngine(spark, emptyPages, tmp(),
      CrawlConfig(defaultDelayMs = delay, saltBuckets = 1, shufflePartitions = 1,
        realTimePacing = true))
    val rows = for (h <- Seq("a.test", "b.test"); o <- 1 to 2)
      yield (s"https://$h/p/$o", h, h.hashCode.toLong * 7 + o, o, Option.empty[Long])
    val t0 = System.currentTimeMillis()
    val out = eng.pace(rows.toDF("url_canon", "host", "url_hash", "fetch_ordinal", "paced_at_ms")
        .repartition(1))
      .select($"host", $"fetch_ordinal", $"paced_at_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val wall = System.currentTimeMillis() - t0
    out.groupBy(_._1).foreach { case (host, rs) =>
      val byOrd = rs.sortBy(_._2).map(_._3)
      assert(byOrd(1) - byOrd(0) >= delay - 5, s"$host spacing violated")
    }
    // 2 sleeps (one per host's second fetch) are required; 3+ would mean the
    // boundary wrongly inherited the previous host's residual delay
    assert(wall >= 2 * delay - 10, s"expected >= ${2 * delay} ms of sleeps, got $wall")
  }

  test("robots-derived Crawl-delay paces each host at ITS delay (VERDICT r4 item 4)") {
    val slowTxt = "User-agent: *\nCrawl-delay: 0.4"
    val cfg = Robots.configure(
      CrawlConfig(defaultDelayMs = 60L, saltBuckets = 1, shufflePartitions = 1,
        realTimePacing = true),
      Seq(("slow.test", slowTxt))) // fast.test declares nothing → default 60ms
    assert(cfg.perHostDelayMs == Map("slow.test" -> 400L))
    val eng = new CrawlEngine(spark, emptyPages, tmp(), cfg)
    val rows = for (h <- Seq("slow.test", "fast.test"); o <- 1 to 3)
      yield (s"https://$h/p/$o", h, h.hashCode.toLong * 7 + o, o, Option.empty[Long])
    val out = eng.pace(rows.toDF("url_canon", "host", "url_hash", "fetch_ordinal", "paced_at_ms")
        .repartition(1))
      .select($"host", $"fetch_ordinal", $"paced_at_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    def spacings(h: String) = out.filter(_._1 == h).sortBy(_._2).map(_._3)
      .sliding(2).map(p => p(1) - p(0)).toSeq
    assert(spacings("slow.test").forall(_ >= 400 - 5),
      s"slow.test must pace at its robots delay: ${spacings("slow.test")}")
    assert(spacings("fast.test").forall(_ >= 60 - 5),
      s"fast.test must pace at the default delay: ${spacings("fast.test")}")
    // the fast host must NOT inherit the slow host's budget: its two gaps at
    // 400ms each would alone take >= 800ms — assert well under that
    assert(spacings("fast.test").sum < 700,
      s"fast.test was paced at the slow host's delay: ${spacings("fast.test")}")
  }

  test("e2e: realTimePacing batch matches unpaced results exactly and honors the budget") {
    val N = 512L
    val pagesDF = PagesGen.pages(spark, N, partitions = 4).toDF
    def seeds(k: Int) = PagesGen.seedRows(N, k).map(Seed.tupled)
    val delay = 150L
    val cfgBase = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4,
      saltBuckets = 1, defaultDelayMs = delay)
    val paced = new CrawlEngine(spark, pagesDF, tmp(), cfgBase.copy(realTimePacing = true))
    val plain = new CrawlEngine(spark, pagesDF, tmp(), cfgBase)
    paced.initialize(seeds(6)); plain.initialize(seeds(6))
    val t0 = System.nanoTime()
    paced.runBatch()
    val pacedSec = (System.nanoTime() - t0) / 1e9
    plain.runBatch()
    // identical crawl results — pacing is a wall-clock effect, not a data one
    def key(e: CrawlEngine) =
      e.fetched().get.select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(key(paced) == key(plain), "pacing changed the crawl's data results")
    // spacing evidence from the parsed-log lineage stamps
    val stamps = paced.store.readLog("parsed", 0L).get
      .filter($"found")
      .select($"host", $"fetch_ordinal", $"paced_at_ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(stamps.nonEmpty && stamps.forall(_._3 > 0))
    stamps.groupBy(_._1).foreach { case (host, rs) =>
      val diffs = rs.sortBy(_._2).map(_._3).sliding(2).filter(_.length == 2)
        .map(p => p(1) - p(0)).toSeq
      assert(diffs.forall(_ >= delay - 5), s"$host spacing violated: $diffs")
    }
    // a host fetched 3 pages ⇒ >= 2 enforced delays of wall time
    val maxFetches = stamps.groupBy(_._1).values.map(_.size).max
    assert(pacedSec * 1000 >= (maxFetches - 1) * delay - 10,
      f"paced batch finished in $pacedSec%.2f s — sleeps cannot have run")
    // unpaced batches carry a null stamp (schema stable either way)
    assert(plain.store.readLog("parsed", 0L).get.filter($"paced_at_ms".isNotNull).count() == 0)
  }
}

/** Round-2 scale properties (VERDICT r1 items 1-2): per-batch state writes
  * are O(batch) — never a rewrite of the full seen/frontier — and the bloom
  * prefilter is maintained incrementally (one full build, then per-batch
  * inserts; resume loads the persisted snapshot + replays deltas). */
class IncrementalStateSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._
  import spark.implicits._
  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_inc").toString
  val N = 512L
  lazy val pagesDF = PagesGen.pages(spark, N, partitions = 4).toDF
  def seeds(k: Int) = PagesGen.seedRows(N, k).map(Seed.tupled)

  test("state writes per batch are O(batch): delta rows == batch work, no base rewrite between compactions") {
    val dir = tmp()
    val eng = new CrawlEngine(spark, pagesDF, dir,
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 8))
    eng.initialize(seeds(6))
    val ms = eng.run(4)
    ms.foreach { m =>
      val b = m("batch_id")
      val seenAdds = spark.read.parquet(s"$dir/seen/delta_add/batch=$b").count()
      assert(seenAdds == m("scheduled") + m("robots_blocked"),
        s"batch $b wrote $seenAdds seen rows — state writes must be O(batch), not O(|seen|)")
    }
    // 4 batches below compactEvery: only the initial base exists — the full
    // state was never rewritten
    assert(new java.io.File(s"$dir/seen/base").list().toSeq == Seq("v=-1"))
    assert(new java.io.File(s"$dir/frontier/base").list().toSeq == Seq("v=-1"))
    // arithmetic size maintenance stays exact against the real views
    assert(ms.last("seen_size") == eng.seen().count())
    assert(ms.last("frontier_size") == eng.frontier().count())
  }

  test("frontier removals are the seen adds: paired bases, disjoint views, exact ledger sizes") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 2,
      maxDepth = 8, robotsDisallow = Seq(("h0.example.test", "/u/2/")))
    def check(e: CrawlEngine, step: String): Unit = {
      val c = e.store.committedBatch
      assert(e.store.latestBase("frontier", c) == e.store.latestBase("seen", c),
        s"$step: frontier and seen bases differ")
      val frontierDirs = new java.io.File(s"$dir/frontier").list().toSet
      assert(frontierDirs.subsetOf(Set("base", "delta_add")),
        s"$step: the frontier holds more than bases and add deltas: $frontierDirs")
      val fr = e.frontier().select("url_hash")
      val sn = e.seen().select("url_hash")
      assert(fr.join(sn, Seq("url_hash")).count() == 0, s"$step: frontier ∩ seen ≠ ∅")
      val last = e.ledger().get.orderBy($"batch_id".desc)
        .select("frontier_size", "seen_size").head()
      assert((last.getLong(0), last.getLong(1)) == ((fr.count(), sn.count())),
        s"$step: ledger sizes differ from the views")
    }
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initialize(seeds(6))
    eng.run(3); check(eng, "batches") // compaction at batch 1, batch 2 in deltas
    eng.rotateWindows(new java.sql.Timestamp(PagesGen.BaseTsMillis + 3600_000L))
    check(eng, "rotation")
    eng.run(1); check(eng, "batch after rotation")
    val host = eng.frontier().select("host").distinct().orderBy("host").head().getString(0)
    val eng2 = new CrawlEngine(spark, pagesDF, dir,
      cfg.copy(robotsDisallow = cfg.robotsDisallow :+ ((host, "/"))))
    assert(eng2.purgeRobotsBlocked() > 0, "premise: the rule change blocks frontier rows")
    check(eng2, "purge")
    eng2.run(2); check(eng2, "batches after purge") // compaction at batch 7
    eng2.expireOldState(); check(eng2, "expire")
  }

  test("compaction folds deltas: views identical with and without it") {
    val dirA = tmp(); val dirB = tmp()
    val cfgNo = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 0)
    val a = new CrawlEngine(spark, pagesDF, dirA, cfgNo); a.initialize(seeds(5)); a.run(5)
    val b = new CrawlEngine(spark, pagesDF, dirB, cfgNo.copy(compactEvery = 2))
    b.initialize(seeds(5)); b.run(5)
    def k(e: CrawlEngine) = e.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    def fr(e: CrawlEngine) = e.frontier().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    assert(k(a) == k(b), "seen view diverges under compaction")
    assert(fr(a) == fr(b), "frontier view diverges under compaction")
    assert(new java.io.File(s"$dirB/seen/base").list().length > 1, "compaction never ran")
  }

  test("expireOldState: superseded versions deleted; views and resume unaffected") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4,
      bloomMinSeen = 1, compactEvery = 2)
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initialize(seeds(5))
    eng.run(5) // compactions at batch 1 and 3
    val seenBefore = eng.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    val frontBefore = eng.frontier().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq
    eng.expireOldState()
    // superseded files gone: only the latest base and post-base deltas remain
    val keep = eng.store.latestBase("seen", Long.MaxValue).get
    val bases = new java.io.File(s"$dir/seen/base").list().toSeq
    assert(bases == Seq(s"v=$keep"), s"expected only the latest base, got $bases")
    assert(!new java.io.File(s"$dir/seen/delta_add/batch=0").exists())
    // views identical after GC
    assert(eng.seen().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq == seenBefore)
    assert(eng.frontier().select("url_hash").collect().map(_.getLong(0)).sorted.toSeq == frontBefore)
    // a fresh engine resumes from the GC'd state with no duplicate fetches
    val eng2 = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng2.run(2)
    assert(eng2.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
    assert(eng2.seen().count() ==
      eng2.ledger().get.orderBy($"batch_id".desc).select("seen_size").head.getLong(0))
  }

  test("keyed membership probe prunes the base scan to the touched buckets (files-read metric)") {
    import org.apache.spark.sql.graftbridge
    val dir = tmp()
    val store = new StateStore(spark, dir)
    val rows = spark.range(0, 50000)
      .select(xxhash64($"id").as("url_hash"), $"id".as("payload"))
    store.writeBase("t", 0L, rows, clusterPartitions = 8)
    val keys = rows.orderBy($"url_hash").limit(3).collect().map(_.getLong(0))
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        graftbridge.fileScans(df).map(_.metrics("numFiles").value).sum
      }
      val keyed = store.readViewKeyed("t", 0L, rows.limit(0), keys)
      // semantics: identical to the broadcast-semi membership resolve
      assert(keyed.select("url_hash").collect().map(_.getLong(0)).toSet == keys.toSet)
      val keyedFiles = filesRead(store.readViewKeyed("t", 0L, rows.limit(0), keys))
      val fullFiles = filesRead(store.readView("t", 0L, rows.limit(0)))
      assert(fullFiles >= 8, s"expected a multi-file clustered base, got $fullFiles")
      // 3 keys → ≤3 _hb buckets → a bounded handful of files, NOT the table
      assert(keyedFiles <= 6 && keyedFiles < fullFiles / 2,
        s"probe of 3 keys read $keyedFiles of $fullFiles base files — partition pruning missing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("bloom maintenance is executor-side: the driver collects blob rows, never the key set") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4,
      bloomMinSeen = 1, compactEvery = 2)
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initialize(seeds(6))
    val ms = eng.run(4)
    // every bloom job (one build per compaction, a new engine's load)
    // returns at most S=bloomShards blob rows; a driver that ever
    // materialized a key set would blow this bound by orders of magnitude
    val jobsUpperBound = cfg.bloomShards.toLong * (ms.length / cfg.compactEvery + 1L)
    assert(eng.bloomBlobRowsCollected > 0 && eng.bloomBlobRowsCollected <= jobsUpperBound,
      s"driver collected ${eng.bloomBlobRowsCollected} rows for bloom maintenance — " +
        s"must be ≤ $jobsUpperBound blob rows (S per job), never O(keys)")
    // and the prefilter still never drops: no url fetched twice
    assert(eng.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
  }

  test("probe-pushdown conf raise is scoped to the batch, restored on exit (ADVICE r3)") {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val before = spark.conf.get(key, "10")
    val eng = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, probePushdownMaxKeys = 4096))
    eng.initialize(seeds(4))
    eng.runBatch()
    assert(spark.conf.get(key, "10") == before,
      "inFilterThreshold leaked past runBatch — unrelated session queries would " +
        "inherit OR-chain pushdown for every >10-element IN literal")
    // and nesting: a raise inside a raise restores to the outer saved value
    CrawlEngine.withProbeThreshold(spark, 100) {
      assert(spark.conf.get(key).toInt >= 100)
      CrawlEngine.withProbeThreshold(spark, 200)(assert(spark.conf.get(key).toInt >= 200))
      assert(spark.conf.get(key).toInt >= 100)
    }
    assert(spark.conf.get(key, "10") == before)
  }

  test("initializeWithFrontier recomputes url_hash: a stale caller hash cannot dead-letter fetches") {
    val eng0 = new CrawlEngine(spark, pagesDF, tmp(), CrawlConfig(shufflePartitions = 4))
    val good = eng0.frontierFromSeeds(seeds(4))
    val stale = good.withColumn("url_hash", lit(0L)) // caller-built, wrong hash
    val dir = tmp()
    val eng = new CrawlEngine(spark, pagesDF, dir,
      CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4))
    eng.initializeWithFrontier(stale)
    val m = eng.runBatch()
    assert(m("not_found") == 0 && m("fetched") > 0,
      "stale url_hash rows were dead-lettered instead of fetched")
  }

  test("bloom snapshot records fpp/shards: resume under changed params rebuilds instead of mis-folding") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4,
      bloomMinSeen = 1, compactEvery = 2)
    val e1 = new CrawlEngine(spark, pagesDF, dir, cfg)
    e1.initialize(seeds(6))
    e1.run(2) // batch 1 compacts: base 1 and its filter
    assert(e1.bloomFullBuilds == 1)
    def recorded(c: String) =
      spark.read.parquet(s"$dir/bloom/v=1").select(c).distinct().collect().map(_.get(0)).toSeq
    // resume with a DIFFERENT fpp: the persisted filter does not match it
    // and must be rebuilt from base 1, not probed
    val e2 = new CrawlEngine(spark, pagesDF, dir, cfg.copy(bloomFpp = 0.001))
    e2.run(1) // batch 2: no compaction
    assert(e2.bloomFullBuilds == 1,
      "changed bloomFpp on resume must trigger exactly one fresh rebuild")
    assert(recorded("fpp") == Seq(0.001))
    assert(e2.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
    // and a changed shard count likewise
    val e3 = new CrawlEngine(spark, pagesDF, dir, cfg.copy(bloomShards = 4))
    val ran = e3.runBatch() // batch 3: rebuilds base 1's filter, then compacts
    assert(ran("scheduled") > 0, "corpus exhausted before the shard-mismatch resume could run")
    assert(recorded("shards") == Seq(4))
    assert(e3.bloomFullBuilds == 2,
      "changed bloomShards on resume must rebuild base 1's filter once (plus base 3's build)")
  }

  test("bloom probe closure is O(1) in batch size: recent tiers ride broadcasts, never the task closure (VERDICT r4)") {
    val sc = spark.sparkContext
    // 8 recent tiers of ~2 MB each: closure-embedded they'd serialize to
    // ~16 MB per task (the r4 bench's 3.5 MiB large-task warning, scaled);
    // as broadcast HANDLES the expression must stay tiny
    def blobs(): Array[Array[Byte]] = Array.fill(4)(Array.fill[Byte](512 * 1024)(7))
    val snap = sc.broadcast(blobs())
    val recents = (1 to 8).map(_ => sc.broadcast(blobs()))
    val expr = BloomProbeBroadcast(snap, recents,
      org.apache.spark.sql.graftbridge.toExpression(lit(42L)))
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(expr); oos.close()
    assert(bos.size() < 64 * 1024,
      s"bloom probe expression serialized to ${bos.size()} bytes — " +
        "delta blobs are riding the task closure instead of broadcasts")
    (recents :+ snap).foreach(_.unpersist())
  }

  test("base files are sorted by url_hash: initialize's, compaction's and rotation's bases") {
    val dir = tmp()
    val eng = new CrawlEngine(spark, pagesDF, dir,
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 2))
    // the seeds table rotation re-queues, under a preloaded frontier
    eng.store.write("seeds", -1L, seeds(6).toDF("seed_id", "root_url", "since_ts", "end_ts"))
    eng.initializeWithFrontier(CrawlFixtures.preload(pagesDF))
    eng.run(2) // batch 1 compacts
    eng.rotateWindows(new java.sql.Timestamp(PagesGen.BaseTsMillis + 3600_000L)) // version 2
    for (table <- Seq("frontier", "seen"); v <- Seq(-1, 1, 2)
         if new java.io.File(s"$dir/$table/base/v=$v").list().exists(_.startsWith("_hb="))) {
      // one split reads a file in order, and files are read one after
      // another: the id orders the rows of each file as stored
      val files = spark.read.parquet(s"$dir/$table/base/v=$v")
        .select(input_file_name(), monotonically_increasing_id(), $"url_hash").collect()
        .groupBy(_.getString(0)).values.map(_.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq)
      if (table == "frontier")
        assert(files.count(_.length > 1) >= 8, s"premise: frontier base v=$v has multi-row files")
      val unsorted = files.map(f => f.zip(f.drop(1)).count { case (a, b) => a > b }).sum
      assert(unsorted == 0,
        s"$table base v=$v: $unsorted adjacent row pairs out of url_hash order within a file")
    }
  }

  test("each immutable base is listed once per engine: no parallel listing job repeats") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 2)
    val eng = new CrawlEngine(spark, pagesDF, dir, cfg)
    eng.initializeWithFrontier(CrawlFixtures.preload(pagesDF))
    val buckets = new java.io.File(s"$dir/frontier/base/v=-1").list().count(_.startsWith("_hb="))
    assert(buckets > 32, s"premise: $buckets buckets, above Spark's parallel listing threshold")
    // the job description of a parallel listing names the listed dirs
    val baseOf = raw"\Q$dir\E/frontier/base/v=(-?\d+)/".r
    val listed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("Listing leaf files"))
          .flatMap(baseOf.findFirstMatchIn).foreach(m => listed.add(m.group(1).toLong))
    }
    def drained(): Seq[Long] = {
      org.apache.spark.GraftTestBus.drain(sc)
      val out = listed.asScala.toSeq
      listed.clear()
      out
    }
    sc.addSparkListener(listener)
    try {
      val perBatch = (0 until 4).map { _ => eng.runBatch(); drained() } // compactions at 1, 3
      assert(perBatch(0) == Seq(-1L),
        s"batch 0 listed ${perBatch(0)}: initialize's base once, no frontier count")
      assert(perBatch(1).isEmpty && perBatch(3).isEmpty,
        s"compacting batches listed ${perBatch(1)} and ${perBatch(3)}")
      assert(perBatch.flatten == Seq(-1L, 1L),
        s"per batch ${perBatch.mkString(", ")}: each base at most once per engine")
      val resumed = new CrawlEngine(spark, pagesDF, dir, cfg)
      resumed.run(2) // batch 5 compacts
      assert(drained() == Seq(3L), "a resumed engine lists its base once")
    } finally sc.removeSparkListener(listener)
  }

  test("base read reuse is invalidated: a base rewritten at its version, expired bases") {
    val dir = tmp()
    def rows(lo: Long, n: Long) =
      spark.range(lo, lo + n).select(xxhash64($"id").as("url_hash"), $"id".as("payload"))
    def ids(s: StateStore) = s.readView("t", 0L, rows(0, 0))
      .select("payload").collect().map(_.getLong(0)).sorted.toSeq
    def keyedIds(s: StateStore, keys: Array[Long]) = s.readViewKeyed("t", 0L, rows(0, 0), keys)
      .select("payload").collect().map(_.getLong(0)).sorted.toSeq
    val store = new StateStore(spark, dir)
    store.writeBase("t", 0L, rows(0, 400), clusterPartitions = 4)
    store.commit(0L)
    val other = new StateStore(spark, dir)
    assert(ids(store) == (0L until 400L) && ids(other) == (0L until 400L))
    // a crash before the commit of version 0, then its retry: the pointer
    // is back before 0, and begin(0) + a base of other rows rewrite v=0
    store.commit(-1L)
    store.begin(0L)
    store.writeBase("t", 0L, rows(1000, 300), clusterPartitions = 4)
    store.commit(0L)
    val newKeys = rows(1000, 3).collect().map(_.getLong(0))
    for ((s, name) <- Seq((store, "the rewriting store"), (other, "a second store"))) {
      assert(ids(s) == (1000L until 1300L), s"$name read the old base")
      assert(keyedIds(s, newKeys) == (1000L until 1003L), s"$name's keyed read missed the new base")
    }

    // expiry deletes bases an engine has read: no later read touches them
    val eng = new CrawlEngine(spark, pagesDF, tmp(),
      CrawlConfig(defaultHostBudget = 3, shufflePartitions = 4, compactEvery = 2))
    eng.initializeWithFrontier(CrawlFixtures.preload(pagesDF))
    eng.run(4) // bases 1 and 3
    val before = (eng.frontier().count(), eng.seen().count())
    eng.expireOldState()
    assert(eng.store.latestBase("frontier", 2L).isEmpty, "premise: the bases before 3 are deleted")
    assert((eng.frontier().count(), eng.seen().count()) == before)
    assert(eng.frontier(1L).count() == 0L, "a read at an expired version finds no state")
    eng.run(1)
    assert(eng.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
  }

  test("bloom lifecycle: one build per qualifying seen base; a resumed engine loads the latest base's filter") {
    val dir = tmp()
    val cfg = CrawlConfig(defaultHostBudget = 4, shufflePartitions = 4,
      bloomMinSeen = 1, compactEvery = 2)
    val e1 = new CrawlEngine(spark, pagesDF, dir, cfg)
    e1.initialize(seeds(6))
    assert(e1.run(4).length == 4)
    // compactions at batches 1 and 3; initialize's empty base gets no filter
    def versions(t: String) = new java.io.File(dir, t).list().toSeq.sorted
    assert(e1.bloomFullBuilds == 2,
      s"bloom built ${e1.bloomFullBuilds} times — must be once per qualifying seen base")
    assert(versions("bloom") == Seq("v=1", "v=3"))
    assert(versions("bloom").forall(versions("seen/base").contains),
      "a bloom filter without its seen base")
    // resume in a fresh engine: it loads base 3's filter, never a rescan
    val e2 = new CrawlEngine(spark, pagesDF, dir, cfg)
    e2.runBatch()
    assert(e2.bloomFullBuilds == 0, "resume re-scanned seen to rebuild the bloom")
    e2.run(2) // batch 5 compacts: one more base, one more filter
    assert(e2.bloomFullBuilds == 1)
    // correctness unchanged: no url fetched twice across crash+resume
    assert(e2.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
    assert(e2.seen().count() ==
      e2.ledger().get.orderBy($"batch_id".desc).select("seen_size").head.getLong(0))
  }
}

/** Round-2 semantics locks: half-open windows, BHJ open-corpus recovery,
  * the per-host politeness-budget cap. */
class WindowAndGuardSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._
  import spark.implicits._
  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_wg").toString

  test("half-open window: a page with warc_ts == end emits exactly once, in the NEXT window") {
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ts: Long, html: String) =
      Page(url, new java.sql.Timestamp(ts), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    val u0 = "https://hb.example.test/u/0/p/0" // newest (root — the timeline head)
    val u1 = "https://hb.example.test/u/0/p/1" // older; warc_ts == window A's end
    val endA = base - 3600_000L
    val pages = Seq(
      mk(u0, base, s"""<a href="$u1">next</a>root"""),
      mk(u1, endA, "boundary page")).toDF
    val eng = new CrawlEngine(spark, pages, tmp(),
      CrawlConfig(shufflePartitions = 2, maxDepth = 4))
    eng.initialize(Seq(Seed("s", u0,
      new java.sql.Timestamp(base - 7200_000L), new java.sql.Timestamp(endA))))
    eng.run(4)
    // window A [base-2h, base-1h): root is too new (deferred), the boundary
    // page's warc_ts == end is OUTSIDE the half-open window — also deferred.
    // Under the old inclusive-end semantics it would emit here AND again
    // after rotation (since := end) — the double-emission ADVICE r1 flags.
    assert(eng.fetched().get.count() == 0,
      "warc_ts == end must NOT emit in the half-open window")
    eng.rotateWindows(new java.sql.Timestamp(base + 3600_000L))
    eng.run(4)
    val all = eng.fetched().get
    assert(all.filter($"url_canon".endsWith("/p/1")).count() == 1,
      "boundary page emits exactly once, in window B (since := old end, inclusive)")
    assert(all.filter($"url_canon".endsWith("/p/0")).count() == 1)
    assert(all.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
  }

  test("broadcastScheduled on an OPEN corpus: missing urls dead-letter and leave the frontier") {
    val N = 256L
    val pages = PagesGen.pages(spark, N, 4).toDF
    val open = pages.filter(!col("url").endsWith("/p/2")) // break the chains
    val cfg = CrawlConfig(defaultHostBudget = 4, maxDepth = 32, shufflePartitions = 4,
      broadcastScheduled = true)
    val roots = PagesGen.seedRows(N, 3).map(Seed.tupled)
    def crawl(seeds: Seq[Seed], c: CrawlConfig): (CrawlEngine, Seq[Map[String, Long]]) = {
      val e = new CrawlEngine(spark, open, tmp(), c)
      e.initialize(seeds)
      (e, e.run(6))
    }
    val (eng, ms) = crawl(roots, cfg)
    assert(ms.map(_("not_found")).sum > 0, "missing urls must be detected")
    val errs = eng.store.readLog("errors", Long.MaxValue)
    assert(errs.isDefined && errs.get.filter($"error" === "NOT_FOUND").count() > 0,
      "BHJ-dropped urls must be recovered as dead-letter rows (ADVICE r1)")
    // none of them linger in the frontier (the silent-reschedule-forever bug)
    val lingering = eng.frontier()
      .join(errs.get.select("url_hash"), Seq("url_hash"), "left_semi").count()
    assert(lingering == 0)
    // arithmetic size maintenance stays exact with the recovery in play
    assert(ms.last("seen_size") == eng.seen().count())
    assert(ms.last("frontier_size") == eng.frontier().count())

    // more missing urls than probePushdownMaxKeys: a dozen seeds point
    // outside the corpus, so batch 0's processed set on the exclusion side
    // exceeds the cap. broadcastScheduled keeps every batch on the executor
    // tail (its mid path) under either cap. Same crawl as under the default cap.
    val cap = 8
    val absent = (0 until 12).map(k => Seed(s"gone$k",
      s"https://g$k.example.test/u/$k/p/0", roots.head.since_ts, roots.head.end_ts))
    val (ref, _) = crawl(roots ++ absent, cfg)
    val (small, sms) = crawl(roots ++ absent, cfg.copy(probePushdownMaxKeys = cap))
    assert(sms.head("not_found") > cap, "batch 0 must miss more urls than the cap")
    assert(small.lastTailPath == "executor" && ref.lastTailPath == "executor",
      "broadcastScheduled batches must take the executor tail")
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq
    val fetchedCols = Seq("host", "batch_id", "fetch_ordinal", "url_hash")
    assert(rows(small.fetched().get, fetchedCols: _*) == rows(ref.fetched().get, fetchedCols: _*))
    val nfCols = Seq("url_canon", "host", "seed_id", "depth", "batch_id")
    assert(rows(small.notFound().get, nfCols: _*) == rows(ref.notFound().get, nfCols: _*))
    val frontCols = Seq("url_hash", "url", "url_canon", "host", "depth", "priority_ts",
      "seed_id", "discovered_batch")
    assert(rows(small.frontier(), frontCols: _*) == rows(ref.frontier(), frontCols: _*))
  }

  test("duplicate url_canon rows in the corpus: emitted once, arithmetic exact (ADVICE r2)") {
    val base = PagesGen.BaseTsMillis
    def mk(url: String, ts: Long, html: String) =
      Page(url, new java.sql.Timestamp(ts), html.getBytes("UTF-8"),
        TextExtract.extractText(html), "en")
    val u0 = "https://hd.example.test/u/0/p/0"
    // same canonical form: uppercase scheme/host + explicit default port
    val u0dup = "HTTPS://HD.example.test:443/u/0/p/0"
    val u1 = "https://hd.example.test/u/0/p/1"
    val pages = Seq(
      mk(u0, base - 3600_000L, s"""newest<a href="$u1">next</a>"""),
      mk(u0dup, base - 7200_000L, "older duplicate, no links"),
      mk(u1, base - 7200_000L, "tail page")).toDF
    val eng = new CrawlEngine(spark, pages, tmp(),
      CrawlConfig(shufflePartitions = 2, maxDepth = 4))
    eng.initialize(Seq(Seed("s", u0,
      new java.sql.Timestamp(base - 86400_000L), new java.sql.Timestamp(base))))
    val ms = eng.run(3)
    val f = eng.fetched().get
    // latest-warc_ts wins: one emission, and it is the newer row (has the link)
    assert(f.filter($"url_canon" === u0).count() == 1)
    assert(f.filter($"url_canon" === u0).head.getAs[Int]("n_outlinks") == 1)
    assert(f.filter($"url_canon" === u1).count() == 1, "link from the kept row must expand")
    // seen delta carries no duplicate keys; arithmetic caches stay exact
    assert(eng.seen().groupBy("url_hash").count().filter($"count" > 1).count() == 0)
    assert(ms.last("seen_size") == eng.seen().count())
    assert(ms.last("frontier_size") == eng.frontier().count())
  }

  test("semi-filtered default fetch on an OPEN corpus: missing urls dead-letter via found=false") {
    // the round-3 default path (8-byte-key semi-filter + batch-sized outer
    // join) must keep the outer-join dead-letter semantics: a scheduled url
    // absent from the corpus yields found=false, leaves the frontier, and
    // the arithmetic size caches stay exact
    val N = 256L
    val pages = PagesGen.pages(spark, N, 4).toDF
    val open = pages.filter(!col("url").endsWith("/p/2")) // break the chains
    val eng = new CrawlEngine(spark, open, tmp(),
      CrawlConfig(defaultHostBudget = 4, maxDepth = 32, shufflePartitions = 4))
    eng.initialize(PagesGen.seedRows(N, 3).map(Seed.tupled))
    val ms = eng.run(6)
    assert(ms.map(_("not_found")).sum > 0, "missing urls must be detected")
    // not-found rows are in the parsed log with found=false and never emitted
    val parsedLog = eng.store.readLog("parsed", Long.MaxValue).get
    assert(parsedLog.filter(!col("found")).count() == ms.map(_("not_found")).sum)
    assert(eng.fetched().get.filter(col("url_canon").endsWith("/p/2")).count() == 0)
    // they do not linger in the frontier (no silent reschedule-forever)
    val lingering = eng.frontier()
      .join(parsedLog.filter(!col("found")).select("url_hash"), Seq("url_hash"), "left_semi")
      .count()
    assert(lingering == 0)
    assert(ms.last("seen_size") == eng.seen().count())
    assert(ms.last("frontier_size") == eng.frontier().count())
  }

  test("per-host budget cap: no host exceeds host_budget in any batch") {
    val N = 512L
    val pages = PagesGen.pages(spark, N, 4).toDF
    val eng = new CrawlEngine(spark, pages, tmp(),
      CrawlConfig(defaultHostBudget = 5, saltBuckets = 8, maxDepth = 16,
        shufflePartitions = 4))
    eng.initialize(PagesGen.seedRows(N, 6).map(Seed.tupled))
    eng.run(3)
    // the parsed log carries exactly the scheduled rows (one per fetch
    // attempt) — the politeness cap governs its per-(host, batch) counts
    val sched = eng.store.readLog("parsed", Long.MaxValue).get
    val perHostBatch = sched.groupBy($"host", $"batch").count()
    assert(perHostBatch.filter($"count" > 5).count() == 0, "per-host politeness budget exceeded")
    assert(perHostBatch.filter($"count" === 5).count() > 0, "premise: the budget binds")
  }
}

/** §3.2 — interval scheduler analog (service.py:1209-1306): ticks fire a
  * rotate+run child only when the interval has elapsed since the last run;
  * the clock is injected so the schedule is deterministic. */
class SchedulerSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._

  test("tickSchedule fires only after the interval elapses, rotating to the tick time") {
    val N = 128L
    val pages = PagesGen.pages(spark, N, 4, crossLinks = false).toDF
    val base = PagesGen.BaseTsMillis
    val dir = java.nio.file.Files.createTempDirectory("graft_sched").toString
    val eng = new CrawlEngine(spark, pages, dir,
      CrawlConfig(defaultHostBudget = 8, maxDepth = 32, shufflePartitions = 4))
    val end0 = new java.sql.Timestamp(base - 10L * 3600_000L)
    eng.initialize(Seq(0L, 2L).map(sid => Seed(s"seed$sid", PagesGen.urlOf(sid, 0, N),
      new java.sql.Timestamp(base - 200L * 3600_000L), end0)))
    eng.run(20)
    val hour = 3600_000L
    // too early: half an interval after the cursor — no child run
    assert(!eng.tickSchedule(new java.sql.Timestamp(end0.getTime + hour / 2), hour, 20))
    val before = eng.store.committedBatch
    assert(eng.store.committedBatch == before)
    // due: fires, rotates end_ts to the tick time, runs the child
    val t1 = new java.sql.Timestamp(end0.getTime + 2 * hour)
    assert(eng.tickSchedule(t1, hour, 20))
    assert(eng.store.committedBatch > before)
    // immediately re-ticking at the same time must NOT fire again
    assert(!eng.tickSchedule(t1, hour, 20))
    // and the next due tick fires from the new cursor
    assert(eng.tickSchedule(new java.sql.Timestamp(t1.getTime + hour), hour, 20))
    // across all scheduled children: no url emitted twice
    import spark.implicits._
    assert(eng.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
  }
}

/** M3 — cursor rotation (since := end, end := now; weibo.py:2814-2817) with
  * deferred too-new pages emitted exactly once in the next window. */
class RotationSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.crawl._
  import spark.implicits._

  test("two-window incremental crawl covers the full range exactly once") {
    val N = 128L // 8 seeds × 16 posts; the paging chain advances one post per batch
    val pages = PagesGen.pages(spark, N, 4, crossLinks = false).toDF
    val base = PagesGen.BaseTsMillis
    val endA = new java.sql.Timestamp(base - 8L * 3600_000L)
    val sinceA = new java.sql.Timestamp(base - 200L * 3600_000L)
    // seed 1 is excluded: its post 5 is the whitespace-only fixture page
    // (index 41), which legitimately has no outlinks and ends that timeline
    val seedIds = Seq(0L, 2L, 3L)
    val seeds = seedIds.map(sid =>
      Seed(s"seed$sid", PagesGen.urlOf(sid, 0, N), sinceA, endA))
    val dir = java.nio.file.Files.createTempDirectory("graft_rot").toString
    val eng = new CrawlEngine(spark, pages, dir,
      CrawlConfig(defaultHostBudget = 8, maxDepth = 32, shufflePartitions = 4))
    eng.initialize(seeds)
    eng.run(20) // drain window A (16-deep chains)
    val postOf = (df: org.apache.spark.sql.DataFrame) => df
      .withColumn("post", regexp_extract($"url_canon", "/p/(\\d+)$", 1).cast("long"))
      .select($"seed_id", $"post").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val a = postOf(eng.fetched().get)
    // window A emits only posts 8.. (older than endA); newest are deferred
    assert(a.nonEmpty && a.forall(_._2 >= 8), s"window A leaked too-new posts: ${a.filter(_._2 < 8)}")

    eng.rotateWindows(new java.sql.Timestamp(base))
    eng.run(20) // drain window B
    val all = postOf(eng.fetched().get)
    val b = all -- a
    // window B emits exactly the deferred newest posts 0..7 per seed
    assert(b.nonEmpty && b.forall(_._2 < 8), s"window B out of range: ${b.filter(_._2 >= 8)}")
    seedIds.foreach { sid =>
      val posts = all.filter(_._1 == s"seed$sid").map(_._2)
      assert(posts == (0L until 16L).toSet, s"seed$sid incomplete: ${posts.toSeq.sorted}")
    }
    // no url emitted twice across the two windows
    val dupes = eng.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count()
    assert(dupes == 0)
    // resume still works across the rotation boundary
    val eng2 = new CrawlEngine(spark, pages, dir,
      CrawlConfig(defaultHostBudget = 8, maxDepth = 32, shufflePartitions = 4))
    assert(eng2.store.committedBatch == eng.store.committedBatch)
    assert(eng2.run(2).isEmpty || eng2.fetched().get.groupBy("url_hash").count().filter($"count" > 1).count() == 0)
  }
}
