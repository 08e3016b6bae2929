package graft.crawl

import java.io.ByteArrayOutputStream

import graft.functions.gf
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter

/** Typed frontier row (SURVEY.md §1.3): the per-url crawl cursor — the
  * analog of the reference's (user_id, since_date, page) walk state
  * (/root/reference/weibo.py:144-166). */
case class FrontierEntry(url: String, url_canon: String, url_hash: Long,
    host: String, depth: Int, priority_ts: java.sql.Timestamp, seed_id: String,
    since_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp, discovered_batch: Long)

/** Typed seen row: first-occurrence registry keyed by xxhash64(canonical url). */
case class SeenEntry(url_hash: Long, url_canon: String, first_batch: Long)

/** Seed config row — analog of config.json user_id_list entries
  * (/root/reference/weibo.py:144-166): a root url plus a [since, end)
  * crawl window (weibo.py:286-331 normalization; the reference's inclusive
  * "23:59:59" end maps to an exclusive next-midnight bound here, so window
  * rotation `since := end` re-emits nothing twice at the boundary). */
case class Seed(seed_id: String, root_url: String,
    since_ts: java.sql.Timestamp, end_ts: java.sql.Timestamp)

/**
 * Crawl policy — the reference's politeness constants generalized per host
 * (BASELINE.md table; weibo.py:2741,2769-2778 sleep cadence,
 * weibo.py:1819-1827 page budget).
 *
 * @param defaultHostBudget  max fetches per host per micro-batch (the
 *                           "pages per sleep window" analog)
 * @param defaultDelayMs     per-fetch token-bucket delay budget within a host
 * @param perHostBudget      overrides, e.g. a larger-but-bounded budget for
 *                           the mega-host
 * @param perHostDelayMs     per-host delay overrides — typically
 *                           robots-derived via [[Robots.configure]]
 *                           (`Crawl-delay`, VERDICT r4 item 4); hosts absent
 *                           here use defaultDelayMs. Honored by both the
 *                           modeled sched_delay_ms lineage and the
 *                           wall-clock pacing stage
 * @param maxDepth           outlink expansion bound
 * @param expansionCaps      per-link-CLASS expansion caps (reference analog:
 *                           comment_max_download_count /
 *                           repost_max_download_count,
 *                           /root/reference/config.json:24-26, pull loops
 *                           weibo.py:1476-1652): each page expands at most
 *                           cap links of a class, in page order. Classes:
 *                           "paging" (same-host child — the timeline/
 *                           comment-page cursor analog) and "cross"
 *                           (cross-host child — the repost/discovery
 *                           analog). Missing class ⇒ unlimited; cap 0 ⇒
 *                           that class never expands (the reference's
 *                           download_repost=0 analog)
 * @param saltBuckets        pacing fan-out: the wall-clock pacing stage
 *                           hash-partitions hosts over this many tasks; each
 *                           host is paced whole by one task, so no host is
 *                           fetched faster than its delay budget
 * @param bloomShards        seen-set prefilter shards
 * @param bloomMinSeen       smallest seen base that gets a bloom filter.
 *                           Each filter covers exactly one seen base and is
 *                           built where that base is written (compaction,
 *                           rotation): one scan of the base's 8 B/row key
 *                           column, O(|seen|), on a batch that rewrites the
 *                           whole seen base anyway, so the cost stays
 *                           amortized O(|state|/compactEvery). With
 *                           compactEvery = 0 no base is written after
 *                           initialize and no filter is ever built
 * @param robotsDisallow     (host, path-prefix) disallow gating rules (north
 *                           rule); evaluated with RFC 9309 §2.2.2
 *                           longest-match precedence against robotsAllow
 * @param robotsAllow        (host, path-prefix) Allow carve-outs — a longer
 *                           allow match overrides a disallow prefix (and
 *                           allow wins an equal-length tie)
 * @param realTimePacing     enforce delays as wall-clock sleeps in the fetch
 *                           stage (tests keep this off: budgets are modeled
 *                           as data — fetch ordinals × delay — so runs are
 *                           replayable; SURVEY.md §7 hard-part 2). With every
 *                           effective delay at 0 (defaultDelayMs and all
 *                           perHostDelayMs) the pacing stage is skipped and
 *                           paced_at_ms stays null
 * @param compactEvery       fold frontier/seen deltas into a full base
 *                           snapshot every N batches (amortizes the only
 *                           O(|state|) write; per-batch writes are O(batch))
 * @param corpusUnique       the pages corpus is declared unique per
 *                           url_canon (e.g. a unique-keyed bucketed table):
 *                           skip the per-batch latest-wins dedup of the
 *                           fetch-join output
 * @param probePushdownMaxKeys max probe keys pushed as literal predicates
 *                           into the range-clustered state bases; larger
 *                           probe sets are joined against the stored rows
 *                           of both tables in one broadcast of the keys
 *                           (0 disables pushdown). It also bounds the
 *                           rows a batch brings to the driver: a batch with
 *                           at most this many scheduled and robots-blocked
 *                           rows runs its tail on the driver (collected
 *                           rows, driver-direct writes; 0 keeps every batch
 *                           on the executor tail). HARD CEILING ~1024:
 *                           Spark translates the IN-set into an OR-chain
 *                           whose parquet row-group filter evaluation
 *                           recurses once per key — ≥2048 keys overflow a
 *                           default task stack (measured, ROUND4_NOTES.md;
 *                           the r3 default of 4096 crashed the first real
 *                           politeness-bounded crawl that collected that
 *                           many link keys)
 */
case class CrawlConfig(
    defaultHostBudget: Int = 5,
    defaultDelayMs: Long = 6000L,
    perHostBudget: Map[String, Int] = Map.empty,
    perHostDelayMs: Map[String, Long] = Map.empty,
    maxDepth: Int = 3,
    expansionCaps: Map[String, Int] = Map.empty,
    saltBuckets: Int = 8,
    bloomShards: Int = 8,
    bloomFpp: Double = 0.01,
    robotsDisallow: Seq[(String, String)] = Nil,
    robotsAllow: Seq[(String, String)] = Nil,
    realTimePacing: Boolean = false,
    shufflePartitions: Int = 32,
    bloomMinSeen: Long = 4096,
    broadcastScheduled: Boolean = false,
    compactEvery: Int = 8,
    corpusUnique: Boolean = false,
    probePushdownMaxKeys: Int = 1024,
    /** parquet codec for every state/log write. Default snappy: on this
      * VM's local disk the parsed-log write is encode-CPU-bound, and
      * zstd measured 26% slower wall for 49% fewer bytes (549→282 MB per
      * 1.5M parsed rows, medians of 3 interleaved rounds; ROUND5_NOTES.md).
      * On a real cluster writing to object storage / a network sink the
      * bytes dominate — set "zstd" there. */
    logCodec: String = "snappy")

/**
 * The URL-frontier + fetch-scheduler engine (BASELINE.json.north_rule).
 *
 * One micro-batch re-expresses the reference's crawl loop
 * (weibo.py:1663-1817 / SURVEY.md §3.1 step 4) as a declarative plan:
 *
 *   frontier + robots verdict ──► per-host window rank of the allowed rows
 *             (newest-first, budget-capped) ∪ blocked rows, one cache (W1/W3/F4)
 *           ──fetch (pages lookup)──► wall-clock pacing, one task per host
 *           ──warc_ts ∈ [since,end)──► parse (extract_text/outlinks) (F3, U1)
 *           ──expand outlinks──► bloom prefilter ──► exact membership
 *             probe vs seen/frontier──► new frontier entries      (F2, U5)
 *           ──delta MERGE seen/frontier + append fetched/ledger, one atomic
 *             commit──► resumable exactly at frontier state       (O4)
 *
 * Everything after the scheduling count is the batch's TAIL, which runs in
 * one of two places, chosen per batch as the rank plan is:
 *  - the **driver tail** for a batch with at most `probePushdownMaxKeys`
 *    scheduled and robots-blocked rows (not under broadcastScheduled): the
 *    batch frame is collected once, ONE executor query fetches and parses
 *    them and computes each row's expansion list, ONE keyed read answers
 *    membership, and the parsed log and both deltas are written
 *    driver-direct — a politeness-bounded batch's tail is a handful of
 *    jobs;
 *  - the **executor tail** above the cap: the parse is written by a Spark
 *    job, the same expansion list is exploded from its read-back, and
 *    membership is one join of the link keys against the stored seen and
 *    frontier rows (the driver tail's above-cap membership, on executors).
 *
 * Scale invariants (the parts that survive 100×):
 *  - **rows reach the driver only under the cap**: the driver tail collects
 *    ≤ cap scheduled and blocked rows and their expansion lists; every
 *    larger batch stays on executors end to end;
 *  - **bytes written per batch are O(batch)**: seen/frontier updates are
 *    add deltas (a url's frontier removal IS its seen add), folded into a
 *    base snapshot only every `compactEvery` batches (StateStore);
 *  - **the big state sides are scanned, never shuffled**: every membership
 *    check against seen/frontier is a keyed read of the bounded batch keys
 *    or one join of them, broadcast once, against the stored rows of both
 *    tables; the match set (≤ 2 rows per key) then meets the batch's links
 *    in an anti-join whose sides are both batch-sized — no sort-merge of
 *    10^10 rows anywhere;
 *  - **one bloom filter per seen base, built executor-side**, in front of
 *    the one seen check whose answer is unknown (the outlink keys at
 *    expansion; frontier ∩ seen = ∅ needs none). `bloom/v=B` is the filter
 *    of `seen/base/v=B` and nothing else: seen bases are immutable and seen
 *    has no delete deltas, so the filter never needs a delete or an
 *    insert. It is built where a base of ≥ `bloomMinSeen` rows is written
 *    (compaction, rotation) by one scan of the base's key column — O(|seen|)
 *    on a batch that rewrites the seen base anyway, so amortized
 *    O(|state|/compactEvery); with compactEvery = 0 no filter is built. A
 *    new engine loads the persisted filter of its latest base. The filter
 *    rides a real `SparkContext.broadcast` (shipped once, cached
 *    deserialized per executor — never a plan Literal, never a driver field
 *    of O(|seen|)) and is probed ON EXECUTORS only, also by the driver tail,
 *    whose fetch+parse query carries each link's filter bit — the driver
 *    never decodes it; ~1.2 bytes/key at fpp 0.01. The driver tail's keyed
 *    membership read takes the seen base for the keys the filter flags and
 *    the post-base seen deltas (O(batch × compactEvery) rows) for every key;
 *  - **membership probes are key-bounded**: batch-bounded probe key sets
 *    are pushed as literal predicates into the range-clustered,
 *    bucket-partitioned state bases (StateStore.storedKeys), so the
 *    per-batch membership read is sublinear in |state| — partition pruning
 *    picks the touched `_hb=` buckets, tight row-group min/max picks ~k row
 *    groups.
 *
 * Every step over state or corpus rows is a Dataset/Catalyst operator —
 * Catalyst pushes the filters, AQE picks join strategies and splits skewed
 * partitions; the imperative parts are the optional wall-clock pacing sink
 * and the driver tail's set logic over its ≤ cap collected rows.
 */
class CrawlEngine(
    spark: SparkSession,
    pages: DataFrame,
    stateDir: String,
    cfg: CrawlConfig = CrawlConfig(),
    notifier: Notifier = Notifier.none) {

  import spark.implicits._

  val store = new StateStore(spark, stateDir, cfg.logCodec)

  // literal IN-sets must reach parquet as OR-chains: above the default
  // threshold (10) Spark pushes only [min, max] — useless on random 64-bit
  // hashes. The keyed probes cap their sets at probePushdownMaxKeys. The
  // raise is SCOPED to the engine's own batch execution (ADVICE r3): it is
  // applied on entry to runBatch and restored on exit, so unrelated queries
  // in the same session keep the default threshold between batches instead
  // of inheriting a permanent session-wide OR-chain pushdown for every
  // >10-element IN literal. See [[CrawlEngine.withProbeThreshold]].

  /** pages keyed by canonical url — at cluster scale this is the Iceberg
    * table BUCKETED by the join key so the per-batch fetch join never
    * shuffles the big side. A corpus that ALREADY carries a url_canon
    * column (the pre-canonicalized bucketed-table contract — e.g. a parquet
    * table `CLUSTERED BY (url_canon)`) is used as-is, so its bucket
    * distribution survives into the fetch join and only the batch-sized
    * scheduled side shuffles (measured: the only fetch shape whose
    * per-batch cost is flat in |corpus| AND free of the serial driver
    * broadcast build). */
  private lazy val pagesByCanon: DataFrame = {
    val withCanon =
      if (pages.columns.contains("url_canon")) pages
      else pages.withColumn("url_canon", gf.canonicalize_url($"url"))
    withCanon.withColumnRenamed("url", "page_url")
  }

  /** Largest / smallest configured per-host budget. */
  private val maxBudget: Int = (cfg.perHostBudget.values.toSeq :+ cfg.defaultHostBudget).max
  private val minBudget: Int = (cfg.perHostBudget.values.toSeq :+ cfg.defaultHostBudget).min

  /** The host's fetch budget — a literal map lookup (config-small, no join). */
  private def hostBudget: org.apache.spark.sql.Column =
    if (cfg.perHostBudget.isEmpty) lit(cfg.defaultHostBudget)
    else coalesce(element_at(typedLit(cfg.perHostBudget), $"host"), lit(cfg.defaultHostBudget))

  /** Rank `df` per host into `fetch_ordinal` in the exact scheduling order
    * (newest priority_ts first, url_hash tiebreak: a total,
    * partitioning-independent order) and keep rows within the host's
    * budget. The literal bound on the LARGEST budget bounds a mega-host's
    * rank: Spark plans it as a map-side WindowGroupLimit(Partial) when it is
    * at most spark.sql.optimizer.windowGroupLimitThreshold (default 1000),
    * so the host's rank task sorts at most map partitions × bound rows, not
    * its whole frontier. Exact: the per-host filter after it drops a
    * superset of what it drops. */
  private def topPerHost(df: DataFrame): DataFrame =
    df.withColumn("fetch_ordinal", row_number().over(
        Window.partitionBy($"host").orderBy($"priority_ts".desc, $"url_hash".asc)))
      .filter($"fetch_ordinal" <= lit(maxBudget))
      .filter($"fetch_ordinal" <= hostBudget)

  /** disallow + allow rules as one gating dim (r_allow marks carve-outs). */
  private lazy val robotsRuleRows: Seq[(String, String, Boolean)] =
    cfg.robotsDisallow.map { case (h, p) => (h, p, false) } ++
      cfg.robotsAllow.map { case (h, p) => (h, p, true) }
  private def hasRobots: Boolean = robotsRuleRows.nonEmpty

  /** Whether the url (`host`, `urlCanon`) is BLOCKED by the robots rules
    * under RFC 9309 §2.2.2 precedence: per url, the longest matching rule
    * (by rule octet length) wins, allow wins an equal-length tie, no match
    * ⇒ allowed. Rules may use `*` wildcards and a trailing `$` anchor
    * (§2.2.3), and are matched against PATH?QUERY (the RFC's comparison
    * target — a `$`-anchored rule must not match a url that continues with
    * a query, and query-targeting wildcard rules of the
    * "slash-star-?sessionid=" shape must be able to match). One codegen'd
    * [[RobotsBlocked]] expression per row — config-small rules ride the
    * task closure with per-task-compiled matchers; no join, no rank window,
    * no per-row regex compilation (the r4 self-review caught
    * RLIKE-on-a-column recompiling per (row, rule) pair in the previous
    * join shape). With no rules it is a literal false, which the optimizer
    * folds: a filter on it prunes to nothing or to its input. */
  private def robotsBlockedCol(host: org.apache.spark.sql.Column,
      urlCanon: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (!hasRobots) lit(false)
    else {
      import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
      val query = parse_url(urlCanon, lit("QUERY"))
      val pathQuery = concat(parse_url(urlCanon, lit("PATH")),
        when(query.isNull, lit("")).otherwise(concat(lit("?"), query)))
      toColumn(RobotsBlocked(robotsRuleRows, toExpression(host), toExpression(pathQuery)))
    }

  /** running |seen| — avoids a count job per batch; exact because every
    * scheduled/blocked url is frontier-unique and anti-joined against seen. */
  private var seenSizeCache: Long = -1L
  private def seenSize(committed: Long): Long = { loadSizes(committed); seenSizeCache }

  /** previous batch's scheduled-row count (this engine instance only; -1 =
    * no history) — the rank-plan regime predictor. Deliberately NOT
    * persisted: a resumed engine's first batch may take the narrow plan,
    * which is merely a plan-shape choice, never a correctness one. */
  private var lastSchedCount: Long = -1L
  private var rankPlan: String = "none"
  /** test hook: the rank plan the last batch took ("narrow" / "direct";
    * "none" before the first batch). */
  private[graft] def lastRankPlan: String = rankPlan

  /** running |frontier| — same arithmetic (exact: every seen add leaves the
    * frontier, every frontier add is frontier-absent). */
  private var frontierSizeCache: Long = -1L
  private def frontierSize(committed: Long): Long = { loadSizes(committed); frontierSizeCache }

  /** A resumed engine's running sizes: both from ONE read of the latest
    * ledger row that carries them; a size the ledger lacks is counted from
    * its view. Every commit and initialize set both caches. */
  private def loadSizes(committed: Long): Unit =
    if (seenSizeCache < 0 || frontierSizeCache < 0) {
      val last = ledger(committed).flatMap(_.filter($"state".isin("SUCCESS", "ROTATED", "PURGED"))
        .orderBy($"batch_id".desc).select("seen_size", "frontier_size").limit(1).collect().headOption)
      def logged(i: Int): Option[Long] = last.map(_.getLong(i)).filter(_ >= 0)
      if (seenSizeCache < 0)
        seenSizeCache = logged(0).getOrElse(if (committed >= 0) seen(committed).count() else 0L)
      if (frontierSizeCache < 0)
        frontierSizeCache = logged(1).getOrElse(frontier(committed).count())
    }

  private def emptyFrontier: DataFrame = Seq.empty[(String, String, Long, String, Int,
      java.sql.Timestamp, String, java.sql.Timestamp, java.sql.Timestamp, Long)]
    .toDF("url", "url_canon", "url_hash", "host", "depth", "priority_ts",
      "seed_id", "since_ts", "end_ts", "discovered_batch")

  private def emptySeen: DataFrame =
    Seq.empty[(Long, String, Long)].toDF("url_hash", "url_canon", "first_batch")

  /** Seed list → initial frontier (depth 0, priority = end of window so the
    * newest-first order starts at the seed's cursor, weibo.py:2743). */
  def frontierFromSeeds(seeds: Seq[Seed]): DataFrame =
    frontierFromSeeds2(seeds.toDF("seed_id", "root_url", "since_ts", "end_ts"))

  def initialize(seeds: Seq[Seed]): Unit = {
    store.write("seeds", -1L, seeds.toDF("seed_id", "root_url", "since_ts", "end_ts"))
    initializeWithFrontier(frontierFromSeeds(seeds))
  }

  /** Preload an arbitrary frontier (bench path: the 10^10-URL-frontier model
    * is "frontier already full", not "grown from 8 seeds"). The engine-wide
    * invariant `url_hash == xxhash64(url_canon)` is RECOMPUTED here rather
    * than trusted (ADVICE r3): the fetch stage joins the corpus on that hash,
    * so a caller-built row with a stale hash would silently dead-letter as
    * found=false even when the page exists. */
  def initializeWithFrontier(frontier: DataFrame): Unit = {
    require(store.committedBatch < 0, s"state at $stateDir already initialized")
    // the frontier's size piggybacks on its base write; seen starts empty
    val frontObs = org.apache.spark.sql.Observation()
    store.writeBase("frontier", -1L,
      frontier.withColumn("url_hash", xxhash64($"url_canon")),
      clusterPartitions = cfg.shufflePartitions, rowCount = Some(frontObs))
    store.writeBase("seen", -1L, emptySeen)
    // version -1 is readable but the pointer still says -1 ⇒ batch 0 is next
    store.commit(-1L)
    frontierSizeCache = frontObs.get("n").asInstanceOf[Long]
    seenSizeCache = 0L
  }

  def frontier(v: Long = store.committedBatch): DataFrame = store.readView("frontier", v, emptyFrontier)
  def seen(v: Long = store.committedBatch): DataFrame = store.readView("seen", v, emptySeen)

  /** Typed Dataset views (input_hint: "typed Dataset/DataFrame + Catalyst").
    * Same plans as the DataFrame accessors — the Encoder only types the rows. */
  def frontierTyped(v: Long = store.committedBatch): org.apache.spark.sql.Dataset[FrontierEntry] =
    frontier(v).as[FrontierEntry]
  def seenTyped(v: Long = store.committedBatch): org.apache.spark.sql.Dataset[SeenEntry] =
    seen(v).as[SeenEntry]
  def ledger(upTo: Long = store.committedBatch): Option[DataFrame] = store.readLog("ledger", upTo)

  /** Emitted pages with lineage per north rule (partition id, batch id,
    * fetch ordinal) — a filtered VIEW over the per-batch parsed log (the
    * batch's single materialization; fetched/deferred/errors are read-time
    * filters of it, not separate write jobs). */
  def fetched(upTo: Long = store.committedBatch): Option[DataFrame] =
    store.readLog("parsed", upTo).map(_.filter($"in_range").select(
      $"url_canon", $"url_hash", $"host", $"seed_id", $"depth",
      $"warc_ts", $"lang", $"text_extracted".as("text"),
      size($"outlinks").as("n_outlinks"),
      $"batch_id", $"partition_id", $"fetch_ordinal", $"sched_delay_ms"))

  /** Dead-letter view — scheduled urls with no page in the corpus (the
    * reference's deleted/404 timeline skip, weibo.py:1663-1680: a missing
    * page is recorded and the walk moves on, never retried). Rows come from
    * two physical paths that this view unifies: the default outer-join
    * fetch leaves found=false rows in the parsed log; the broadcast-semi
    * fetch (`broadcastScheduled`) drops them from the inner join and
    * recovers them into the `errors` log (runBatch's open-corpus recovery).
    * Either way the url leaves the frontier after exactly one attempt. */
  def notFound(upTo: Long = store.committedBatch): Option[DataFrame] = {
    val cols = Seq($"url_canon", $"host", $"seed_id", $"depth", $"batch_id")
    val parsedNf = store.readLog("parsed", upTo)
      .map(_.filter(!$"found").select(cols: _*))
    val errNf = store.readLog("errors", upTo).map(_.select(cols: _*))
    (parsedNf, errNf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
  }

  /** too-new pages (traversed but not emitted; re-opened by rotation). */
  def deferred(upTo: Long = store.committedBatch,
      afterBatch: Long = Long.MinValue): Option[DataFrame] =
    store.readLog("parsed", upTo, afterBatch)
      .map(_.filter($"found" && $"warc_ts" >= $"end_ts"))

  /** Request a stop — the `tasks.command = 'STOP'` analog
    * (service.py:1419-1432). Checked between batches. */
  def requestStop(): Unit =
    java.nio.file.Files.createFile(java.nio.file.Paths.get(stateDir, "_STOP"))
  def stopRequested: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(stateDir, "_STOP"))
  def clearStop(): Unit =
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(stateDir, "_STOP"))

  // ------------------------------------------------------------------
  // Seen-base bloom filter (U4/O5): `bloom/v=B` is the filter of
  // `seen/base/v=B` and nothing else. Seen bases are immutable and seen has
  // no delete deltas, so a filter never takes an insert, a fold or a
  // delete: keys added after B sit in the seen deltas, which the keyed seen
  // read takes for every link key. EXECUTOR-resident: the per-shard blobs
  // are built executor-side by the bloom_build aggregate (the driver
  // collects S blob rows, never a key set) and ride a real
  // SparkContext.broadcast — torrent-shipped once, deserialized once per
  // executor (BloomProbeBroadcast cache); the plan never embeds the blobs
  // as a Literal.
  // ------------------------------------------------------------------

  /** the filter of seen base `bloomBase`; null while that base has none. */
  private var bloomBc: Broadcast[Array[Array[Byte]]] = _
  /** the seen base the in-memory filter state is for (MinValue: unresolved). */
  private var bloomBase: Long = Long.MinValue
  /** test hook: filters built by scanning a seen base. */
  private[graft] var bloomFullBuilds: Int = 0
  /** test hook: rows the driver collected for bloom maintenance — S blob
    * rows per build or load, NEVER the key set (asserted by IncrementalStateSpec). */
  private[graft] var bloomBlobRowsCollected: Long = 0L

  private def setFilter(blobs: Option[Array[Array[Byte]]], base: Long): Unit = {
    val old = bloomBc
    bloomBc = blobs.map(spark.sparkContext.broadcast(_)).orNull
    bloomBase = base
    // unpersist (not destroy): earlier in-flight plans may still hold the old
    // handle; executors drop their copies now, the ContextCleaner destroys the
    // driver block once the handle is unreachable
    if (old != null) old.unpersist()
  }

  /** Build the filter of seen base `b`, persist it as `bloom/v=b` and
    * install it; a base under bloomMinSeen rows gets none. `rows` bounds
    * the base's row count from above (seen has no dels) and sizes the
    * filter. Each reduce task of the aggregate builds its own shard's blob,
    * so no O(|seen|) bytes ride a driver-built plan; the S blob rows are
    * collected once, written driver-direct (no write job, no read-back) and
    * installed as [[loadFilter]] installs them. fpp and shard count ride
    * the filter, so a new engine under other settings rebuilds it. */
  private def buildFilter(b: Long, rows: Long): Unit =
    if (rows < cfg.bloomMinSeen) setFilter(None, b)
    else {
      bloomFullBuilds += 1
      val capacity = math.max(4L * rows / cfg.bloomShards + 1, 65536L)
      // the seen view at b is base b alone: deltas after b never count
      val blobs = seen(b).select("url_hash")
        .groupBy(pmod($"url_hash", lit(cfg.bloomShards.toLong)).cast("int").as("shard"))
        .agg(BloomSeen.bloom_build($"url_hash", capacity, cfg.bloomFpp).as("blob"))
        .select($"shard", $"blob", lit(cfg.bloomFpp).as("fpp"), lit(cfg.bloomShards).as("shards"))
        .collect()
      store.writeSnapshotDirect("bloom", b, CrawlEngine.BloomSchema, blobs)
      installFilter(blobs, b)
    }

  /** Install `bloom/v=b` if it exists (see [[installFilter]]). */
  private def loadFilter(b: Long): Boolean = store.exists("bloom", b) &&
    installFilter(store.read("bloom", b, sys.error(s"bloom/v=$b listed but unreadable"))
      .select("shard", "blob", "fpp", "shards").collect(), b)

  /** Install seen base `b`'s filter from its (shard, blob, fpp, shards) rows
    * if built with this config's fpp and shard count. Shards no key hashed
    * to have no row and probe as empty filters. */
  private def installFilter(rows: Array[org.apache.spark.sql.Row], b: Long): Boolean = {
    bloomBlobRowsCollected += rows.length
    rows.forall(r => r.getDouble(2) == cfg.bloomFpp && r.getInt(3) == cfg.bloomShards) && {
      val bos = new ByteArrayOutputStream()
      BloomFilter.create(64L, cfg.bloomFpp).writeTo(bos)
      val out = Array.fill[Array[Byte]](cfg.bloomShards)(bos.toByteArray)
      rows.foreach(r => out(r.getInt(0)) = r.getAs[Array[Byte]](1))
      setFilter(Some(out), b)
      true
    }
  }

  /** Resolve the filter of the latest committed seen base: a no-op while
    * the in-memory filter is that base's (every base this engine writes
    * installs its own). A new engine loads `bloom/v=B`; else (no filter
    * written for B, or one under other fpp/shard settings) builds it from
    * the base, sized from the seen view's size; else runs without one. */
  private def ensureBlobs(committed: Long, seenCount: Long): Unit = {
    val b = store.latestBase("seen", committed).getOrElse(-1L)
    // initialize's base (v = -1) is always empty
    if (b != bloomBase && !loadFilter(b)) buildFilter(b, if (b < 0) 0L else seenCount)
  }

  private val timing = sys.env.contains("GRAFT_TIMING")
  /** cumulative per-phase wall seconds across all batches — always
    * maintained (one map update per phase per batch) so bench artifacts can
    * embed the phase decomposition without the print-noise env flag.
    * SYNCHRONIZED: the concurrent delta-commit futures call timed() from
    * pool threads — an unsynchronized map here silently undercounted
    * exactly the write phases the scaling artifact decomposes (r4
    * self-review finding). */
  private val phaseTotals = scala.collection.mutable.LinkedHashMap[String, Double]()
  def timingTotals: Map[String, Double] =
    phaseTotals.synchronized { phaseTotals.toMap }
  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    phaseTotals.synchronized {
      phaseTotals(label) = phaseTotals.getOrElse(label, 0.0) + dt
    }
    if (timing) println(f"[timing] $label%-22s $dt%7.2f s")
    r
  }

  /** Newest-first priority + per-host fetch budget over the robots-allowed
    * candidates: the reference pages newest-first and stops at the budget
    * (weibo.py:2743,1819-1827); rows past it stay in the frontier — that IS
    * the paging continuation. Two rank plans, identical results:
    *  - narrow (sched ≪ frontier): the window shuffle carries only
    *    (url_hash, host, priority_ts), ~30 bytes/row instead of the full row
    *    with two url strings; the surviving keys (≤ Σ budgets) join back
    *    onto the candidates to recover full rows.
    *  - direct (recrawl-everything batches, sched ≈ frontier): there every
    *    key survives, so the narrow join-back is a second full-width
    *    frontier shuffle (the flat sched_rank term in the r5 lc artifact);
    *    ONE wide window over full rows strictly moves less data. */
  private[graft] def rankBatch(allowed: DataFrame, direct: Boolean): DataFrame = {
    val eligible = allowed.filter($"depth" <= cfg.maxDepth)
    // per-host delay (robots Crawl-delay or config override) via a literal
    // map lookup — config-small, no join
    val hostDelay =
      if (cfg.perHostDelayMs.isEmpty) lit(cfg.defaultDelayMs)
      else coalesce(element_at(typedLit(cfg.perHostDelayMs), $"host"),
        lit(cfg.defaultDelayMs))
    val ranked =
      if (direct)
        // column order matched to the narrow plan's join output (url_hash
        // leads) so the two plans are drop-in interchangeable
        topPerHost(eligible)
          .select(($"url_hash" +: eligible.columns.filterNot(_ == "url_hash")
            .map(col).toSeq :+ $"fetch_ordinal"): _*)
      else
        // no broadcast hint: with a politeness-bounded batch AQE broadcasts
        // the key set; an unbounded batch (keys ≈ frontier) takes the direct
        // plan instead of a batch-sized broadcast
        eligible.join(
          topPerHost(eligible.select($"url_hash", $"host", $"priority_ts"))
            .select($"url_hash", $"fetch_ordinal"),
          Seq("url_hash"))
    ranked.withColumn("sched_delay_ms", ($"fetch_ordinal" - 1) * hostDelay)
  }

  /** Run one micro-batch; returns the ledger metrics row as a Map. Its
    * Spark jobs carry the local property `graft.batch` (the batch id), so a
    * listener or an event log can attribute them per batch. */
  def runBatch(): Map[String, Long] = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(CrawlEngine.BatchProperty)
    sc.setLocalProperty(CrawlEngine.BatchProperty, (store.committedBatch + 1).toString)
    try CrawlEngine.withProbeThreshold(spark, cfg.probePushdownMaxKeys)(runBatchImpl())
    finally sc.setLocalProperty(CrawlEngine.BatchProperty, outer)
  }

  private var tailPath: String = "none"
  /** test hook: the tail the last batch ran after its scheduling count
    * ("driver" / "executor"; "none" before the first batch). */
  private[graft] def lastTailPath: String = tailPath

  /** What a batch's tail reports to the ledger. */
  private case class TailOut(notFound: Long, inRange: Long, violations: Long,
      partitions: Long, adds: Long)

  private def runBatchImpl(): Map[String, Long] = {
    val committed = store.committedBatch
    val batchId = committed + 1
    store.begin(batchId)

    val front = frontier(committed)
    val seenCount = seenSize(committed)
    val frontCount = frontierSize(committed)

    timed("bloom_ensure")(ensureBlobs(committed, seenCount))

    // ---- robots gating (north rule) and W1/W3/F4 in ONE frame, as the
    // reference decides skip-or-fetch per item in one walk
    // (weibo.py:1663-1817): each frontier row carries its verdict
    // (robotsBlockedCol), the allowed rows are ranked (rankBatch; direct
    // when no budget can bind or the previous batch scheduled ≥ half the
    // frontier, narrow otherwise) and the blocked rows of every depth ride
    // beside them with a null fetch_ordinal. Without rules the blocked
    // branch prunes away. No seen check: frontier ∩ seen = ∅ after every
    // commit (F2, at the outlink probe in the tails).
    val gated = front.withColumn("blocked", robotsBlockedCol($"host", $"url_canon"))
    val direct = minBudget >= frontCount ||
      (lastSchedCount >= 0 && lastSchedCount * 2 >= frontCount)
    rankPlan = if (direct) "direct" else "narrow"
    // materialized ONCE in executor storage (slim rows, dropped at batch
    // end, disk spill for bench-sized batches): the rank executes once, in
    // the count below, and every tail consumer re-reads the cache — the
    // r4 parquet round-trip of the scheduled set cost a flat write job per
    // batch (VERDICT r4 item 3). The one action also gives the exact
    // counts the ledger arithmetic and the tail selector need.
    val batch = rankBatch(gated.filter(!$"blocked"), direct)
      .unionByName(gated.filter($"blocked"), allowMissingColumns = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = timed("sched_rank")(batch.agg(
      count(when(!$"blocked", 1)), count(when($"blocked", 1))).head())
    val schedCount = counts.getLong(0)
    val robotsBlockedCount = counts.getLong(1)
    lastSchedCount = schedCount

    // ---- the tail: fetch + parse, expansion, membership, delta writes. A
    // batch whose scheduled and blocked rows are both within the pushdown
    // cap runs it on the driver (driverTail); larger batches, and
    // broadcastScheduled (graft.Bench's large batches), on executors.
    val cap = cfg.probePushdownMaxKeys
    val onDriver = cap > 0 && schedCount <= cap && robotsBlockedCount <= cap &&
      !cfg.broadcastScheduled
    tailPath = if (onDriver) "driver" else "executor"
    val tail =
      if (onDriver) driverTail(batchId, committed, batch)
      else executorTail(batchId, committed, batch, schedCount, robotsBlockedCount)

    // arithmetic size updates: seen adds leave the frontier exactly once,
    // frontier adds are frontier-absent (anti-joined in the tails) — no
    // count jobs
    val newSeenSize = seenCount + schedCount + robotsBlockedCount
    val newFrontierSize = frontCount - (schedCount + robotsBlockedCount) + tail.adds

    // amortized compaction: fold deltas into range-clustered base snapshots
    // and build the new seen base's filter (its size is exact: no seen dels)
    if (cfg.compactEvery > 0 && (batchId + 1) % cfg.compactEvery == 0) timed("compact") {
      store.compact("frontier", batchId, emptyFrontier, cfg.shufflePartitions)
      store.compact("seen", batchId, emptySeen, cfg.shufflePartitions)
      buildFilter(batchId, newSeenSize)
    }

    val metrics = Map(
      "batch_id" -> batchId, "scheduled" -> schedCount, "fetched" -> tail.inRange,
      "not_found" -> tail.notFound,
      "robots_blocked" -> robotsBlockedCount,
      "invariant_violations" -> tail.violations,
      "frontier_size" -> newFrontierSize, "seen_size" -> newSeenSize,
      "partitions_used" -> tail.partitions)
    commitVersion("SUCCESS", metrics)
    batch.unpersist()
    // U6 — health notifications (util/notify.py; weibo.py:436-450,1804):
    // anomalies alert ONCE per condition (the reference suppresses repeats)
    if (tail.violations > 0) notifyOnce("invariant",
      s"batch $batchId: ${tail.violations} parse-invariant violations")
    if (schedCount > 0 && tail.notFound == schedCount) notifyOnce("all_missing",
      s"batch $batchId: all $schedCount scheduled fetches missing from the corpus " +
        "(the cookie-invalid analog: every fetch failing)")
    metrics
  }

  /** The corpus columns a fetch reads. */
  private lazy val pagesSel: DataFrame =
    pagesByCanon.select($"url_canon", $"page_url", $"warc_ts", $"html", $"text", $"lang")

  /** Project the scheduled side to ONLY the columns the parse/emit path
    * consumes (guide §2.3 "project before the exchange"): url, priority_ts,
    * discovered_batch never appear in the parsed log. */
  private def schedSlim(schedDf: DataFrame, extra: String*): DataFrame =
    schedDf.select((Seq("url_canon", "url_hash", "host", "seed_id",
      "depth", "since_ts", "end_ts", "fetch_ordinal", "sched_delay_ms") ++ extra).map(col): _*)

  // zero-budget fast path (r6): when every effective delay is 0 (config
  // default and all per-host overrides), the pacing stage has nothing to
  // enforce — skip its repartition + in-partition sort + per-row stamping
  // entirely (measured as a double-digit-% throughput tax at a zero delay
  // budget in the r5 bench's `paced` probe). Any nonzero budget anywhere
  // keeps the full wall-clock machinery.
  private val pacingActive = cfg.realTimePacing &&
    (cfg.defaultDelayMs > 0 || cfg.perHostDelayMs.values.exists(_ > 0))

  /** O7/O8 inverted (real fetches only): parallel across hosts, sequential
    * within a host — pace() repartitions so one task owns each host's
    * token-bucket and stamps the actual fetch wall-clock into paced_at_ms
    * (lineage: the reference logs its sleep cadence, weibo.py:2769-2778).
    * Data-only runs skip the extra shuffle entirely and carry a null stamp. */
  private def pacedIfActive(fetched: DataFrame): DataFrame = {
    val stamped = fetched.withColumn("paced_at_ms", lit(null).cast("long"))
    if (pacingActive) pace(stamped) else stamped
  }

  /** ---- F3 time window + U1 parse + invariant check + U5 outlinks: the
    * parsed-log projection of a fetch join's output, followed by `extra`
    * columns. Both tails run it, so the parse columns have one definition.
    * Windows are HALF-OPEN [since, end): the reference's inclusive 23:59:59
    * end bound ≡ exclusive next-midnight, and rotation (since := end) then
    * emits a boundary-timestamped page exactly once across windows. The
    * projection drops html/text — the log carries ~1KB/row instead of the
    * full page body. */
  private def parseProjection(paced: DataFrame, batchId: Long,
      extra: org.apache.spark.sql.Column*): DataFrame = paced
    .withColumn("in_range", $"found" && $"warc_ts" >= $"since_ts" && $"warc_ts" < $"end_ts")
    // fused single-pass parse: ONE scan yields text + outlinks (the DOM
    // pair of expressions parses the page twice and doubles allocation)
    .withColumn("_p", when($"found", gf.extract_parsed($"html")))
    .withColumn("text_extracted", $"_p.text")
    // expansion rule (weibo.py:1700-1718 vs 1764-1786): a page NEWER than
    // the window is skipped for emission but paging continues through it;
    // only pages OLDER than since stop the walk. So outlinks expand for
    // every found page with warc_ts >= since_ts.
    .withColumn("outlinks",
      when($"found" && $"warc_ts" >= $"since_ts", $"_p.outlinks").otherwise(array()))
    .withColumn("invariant_ok", !($"found" && !($"text_extracted" <=> $"text")))
    .withColumn("batch_id", lit(batchId))
    .withColumn("partition_id", spark_partition_id())
    .select(Seq($"url_canon", $"url_hash", $"host", $"seed_id", $"depth",
      $"since_ts", $"end_ts", $"warc_ts", $"lang", $"found", $"in_range",
      $"invariant_ok", $"text_extracted", $"outlinks",
      $"batch_id", $"partition_id", $"fetch_ordinal", $"sched_delay_ms",
      $"paced_at_ms") ++ extra: _*)

  /** The parsed log's data schema, fixed by [[parseProjection]] (analyzed
    * over an empty fetch: no job). */
  private lazy val parsedSchema: org.apache.spark.sql.types.StructType = parseProjection(
    schedSlim(rankBatch(emptyFrontier, direct = true))
      .join(pagesSel, Seq("url_canon"), "left_outer")
      .withColumn("found", $"page_url".isNotNull)
      .withColumn("paced_at_ms", lit(null).cast("long")), 0L).schema

  // every state family's data schema is fixed by this class: reads of them
  // never infer one (StateStore.registerSchema)
  Seq("frontier" -> emptyFrontier.schema, "seen" -> emptySeen.schema,
    "ledger" -> CrawlEngine.LedgerSchema, "parsed" -> parsedSchema,
    "bloom" -> CrawlEngine.BloomSchema, "seeds" -> CrawlEngine.SeedsSchema,
    "errors" -> CrawlEngine.ErrorsSchema).foreach { case (t, s) => store.registerSchema(t, s) }

  /**
   * The executor tail, for batches above the pushdown cap and for
   * broadcastScheduled: the fetch+parse join is written as the parsed log
   * by a Spark job, the [[expansionList]] of its read-back is exploded, and
   * membership is the [[storedOf]] join — the driver tail's rules, run on
   * executors.
   */
  private def executorTail(batchId: Long, committed: Long,
      batch: DataFrame, schedCount: Long, blockedCount: Long): TailOut = {
    val schedDf = batch.filter(!$"blocked")
    // ---- fetch = lookup into the pages corpus (S1 analog; in tests "fetch"
    // is this join per the driver instruction — no network). left join keeps
    // dangling outlinks as dead-letter rows (S8's not_downloaded.txt analog).
    // Only the scheduled side shuffles when pages are bucket-partitioned.
    //
    // broadcastScheduled: ship the scheduled batch to the corpus scan — a
    // BroadcastHashJoin where the pages side NEVER moves (scan → join →
    // parse in one codegen stage). This is the local analog of a bucketed
    // Iceberg scan + runtime-filter pushdown. BHJ can't preserve unmatched
    // build rows, so the exact scheduled count is taken first and any
    // missing urls are recovered as dead-letter rows below — an open corpus
    // degrades to two bounded joins instead of silently re-scheduling the
    // missing urls forever (ADVICE r1).
    //
    // Plan inspection (plans/r06) showed Catalyst's column pruning already
    // drops the unused scheduled columns from the broadcast build through
    // the cache, so schedSlim is insurance that makes the contract explicit
    // at the source. The full-width schedDf stays cached for the open-corpus
    // recovery below.
    val slim = schedSlim(schedDf)
    val fetchedRaw =
      if (cfg.broadcastScheduled)
        pagesSel.join(broadcast(slim), Seq("url_canon")).withColumn("found", lit(true))
      else {
        // default fetch shape (round 3): semi-filter then batch-sized join.
        // A tiny 8-byte-key broadcast (the scheduled url hashes, bounded by
        // [[keysBuild]]) prunes the corpus scan to the matched pages; the
        // outer join then runs over TWO batch-sized sides — a fully parallel
        // shuffle join — instead of either shuffling the whole corpus (the r2
        // default) or driver-building a full-row scheduled broadcast
        // (broadcastScheduled with an unbounded batch: a ~450 MB serial
        // HashedRelation, measured as a flat ~10-20 s/batch term on the
        // executor-JVM scaling pair).
        // Hash collisions only let extra pages through the semi; the outer
        // join's url_canon equality discards them — exactness unaffected.
        val schedKeys = keysBuild(schedDf.select($"url_hash"), schedCount)
        val pagesMatched = pagesSel
          .join(schedKeys, xxhash64($"url_canon") === schedKeys("url_hash"), "left_semi")
        slim.join(pagesMatched, Seq("url_canon"), "left_outer")
          .withColumn("found", $"page_url".isNotNull)
      }

    // corpus hygiene (ADVICE r2): canonicalize_url collapses case / default
    // ports / fragments / dot-segments, so two distinct raw page urls can
    // share a url_canon — the fetch join would then emit multiple parsed rows
    // per url_hash, writing duplicates into the seen delta and drifting the
    // arithmetic size caches. Latest-warc_ts wins, deterministic page_url
    // tiebreak; the window is over the BATCH-bounded join output (the corpus
    // itself never shuffles). corpusUnique=true skips the pass when the
    // corpus is unique-keyed by construction (e.g. a bucketed table with a
    // declared unique key — the bench corpus).
    val fetchedUniq = if (cfg.corpusUnique) fetchedRaw else {
      val wDedup = Window.partitionBy($"url_hash")
        .orderBy($"warc_ts".desc_nulls_last, $"page_url".asc_nulls_last)
      fetchedRaw.withColumn("_pick", row_number().over(wDedup))
        .filter($"_pick" === 1).drop("_pick")
    }
    val parsed = parseProjection(pacedIfActive(fetchedUniq), batchId)

    // ---- the single heavy materialization of the batch: the parsed log IS
    // the fetched/deferred/errors output (filtered views at read time), the
    // metrics source, and the discovery input. One parse per page, written
    // once as columnar parquet; downstream jobs decode only the columns they
    // need from the page-cache-hot file.
    if (sys.env.contains("GRAFT_EXPLAIN")) {
      println(s"==== batch $batchId: fetch+parse physical plan ====")
      println(org.apache.spark.sql.graftbridge.executedPlanString(parsed))
    }
    // batch metrics piggyback on the write job (Observation) — zero extra
    // passes; per-batch fixed job count is the scale killer at high batch
    // rates (distinct aggs are disallowed in observe, so partition coverage
    // uses the approximate counter — it is informational lineage only)
    val parseObs = org.apache.spark.sql.Observation()
    timed("write_parsed")(store.appendLog("parsed", batchId, parsed.observe(parseObs,
      count(lit(1)).as("sched"),
      sum(when(!$"found", 1L).otherwise(0L)).as("not_found"),
      sum(when($"in_range", 1L).otherwise(0L)).as("in_range"),
      sum(when(!$"invariant_ok", 1L).otherwise(0L)).as("viol"),
      // free upper bound on this batch's exploded link count (caps and the
      // depth bound only shrink it) — the membership build below reads it
      // instead of paying a separate count job over the link cache
      sum(size($"outlinks")).as("links"),
      approx_count_distinct($"partition_id").as("nparts"))))
    val parsedDf = store.readLog("parsed", batchId, batchId - 1).get.drop("batch")
    val mrow = parseObs.get
    // sums observe as null on an empty batch
    def metric(k: String): Long =
      mrow.get(k).flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])

    // BHJ open-corpus recovery: scheduled urls the inner join dropped become
    // NOT_FOUND dead-letter rows and leave the frontier (both joins bounded:
    // the big pages side is scanned via a broadcast-semi, never shuffled).
    // Only these need their own errors log — the outer-join path's not-found
    // rows are already in the parsed log with found=false. Its broadcasts
    // are unbounded, as broadcastScheduled's own is by design.
    val missingRows: Option[DataFrame] =
      if (cfg.broadcastScheduled && schedCount != metric("sched")) {
        val matched = pagesSel.select("url_canon")
          .join(broadcast(schedDf.select("url_canon")), Seq("url_canon"), "left_semi")
        Some(schedDf.join(broadcast(matched), Seq("url_canon"), "left_anti")
          .select($"url_canon", $"url_hash", $"host", $"seed_id", $"depth").persist())
      } else None
    val missingCount = missingRows.map(_.count()).getOrElse(0L)
    missingRows.foreach(m => store.appendLog("errors", batchId,
      m.withColumn("error", lit("NOT_FOUND")).withColumn("batch_id", lit(batchId))))

    // processed = attempted fetches + robots-blocked (neither returns to the
    // frontier; blocked urls are seen-equivalent: never fetch). All three
    // inputs are url_hash-unique and pairwise disjoint — no dedup shuffle
    // needed, and |processed| = scheduled + blocked exactly (the arithmetic
    // the size caches rely on). Expansion needs no exclusion of them: every
    // processed row was read from the frontier view at `committed`, so its
    // key is among the frontier's stored rows that membership takes away.
    // The blocked rows are read only when there are some: a filter of the
    // cache is a scan of every cached partition, with or without rules.
    val processedRows =
      (if (blockedCount == 0) None else Some(batch.filter($"blocked")))
        .toSeq.++(missingRows).map(_.select($"url_hash", $"url_canon"))
        .foldLeft(parsedDf.select($"url_hash", $"url_canon"))(_.unionByName(_))

    // ---- U5: outlink expansion → next frontier entries: [[expansionList]]
    // exploded (null past maxDepth, so those pages drop out). Children
    // inherit the seed window; priority = linking page's warc_ts (recency
    // prior). Expansion source: every page whose outlinks were extracted
    // (found and not older than since — includes too-new deferred pages,
    // weibo.py:1700-1718).
    //
    // CACHED: the link rows feed both the membership build and the adds
    // spine; uncached, the explode + canonicalize + hash re-ran inside the
    // adds write job (VERDICT r4 item 3). Slim rows (no page bodies),
    // dropped at end of batch, disk spill for bench-sized batches.
    val linksRaw = parsedDf.filter(size($"outlinks") > 0)
      .select($"seed_id", $"since_ts", $"end_ts", ($"depth" + 1).as("depth"), $"warc_ts",
        explode(expansionList).as("l"))
      .select($"l.url", $"l.url_canon", $"l.url_hash", $"l.host", $"depth", $"warc_ts",
        $"seed_id", $"since_ts", $"end_ts", $"l.blocked")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- F2: seen-set dedup at discovery, first occurrence wins
    // (weibo.py:1698-1699) — the batch's only seen check. frontier ∩ seen = ∅
    // after every commit (initialize starts seen empty; batches and purges
    // move rows frontier → seen, adds are anti-joined against both; rotation
    // drops the re-queued roots from seen), so only link keys are unknown.
    // Membership runs BEFORE the first-wins dedup shuffle, so the shuffle
    // carries only genuinely-new links. The parsed write's links sum bounds
    // the [[storedOf]] key rows (caps and the depth bound only shrink the
    // explode). No hint on the anti-join: AQE broadcasts the match set
    // (≤ 2 rows per link) from its runtime size, or else shuffles two
    // batch-sized sides.
    val newFrontAdds = linksRaw
      .join(storedOf(committed, linksRaw.select("url_hash"), metric("links")),
        Seq("url_hash"), "left_anti")
      .select($"url", $"url_canon", $"url_hash", $"host", $"depth", $"warc_ts".as("priority_ts"),
        $"seed_id", $"since_ts", $"end_ts", lit(batchId).as("discovered_batch"), $"blocked")
      // first-wins dedup within the batch, deterministic tiebreak. The
      // row_number window is NOT the naive all-rows shuffle it looks like:
      // Spark 4 plans `filter(rn = 1)` as WindowGroupLimit(Partial) BEFORE
      // the exchange, so duplicate discoveries of the same url collapse
      // map-side and the shuffle carries ~one row per distinct new url.
      // A min_by-aggregate alternative shuffles the same width but loses
      // whole-stage codegen to a SortAggregate (struct agg buffer) —
      // measured ~2× slower e2e and rejected (ROUND5_NOTES.md).
      .withColumn("_rn", row_number().over(
          Window.partitionBy($"url_hash")
            .orderBy($"priority_ts".desc, $"seed_id".asc, $"url_canon".asc)))
      .filter($"_rn" === 1)
      // robots gating at discovery, as in the driver tail: a disallowed url
      // never enters the frontier (candidate-time gating remains as defense
      // for pre-existing frontier state / rule changes)
      .filter(!$"blocked")
      .drop("_rn", "blocked")

    // seen adds: first-occurrence-wins (weibo.py:1698-1699) holds by
    // construction — processed rows were anti-joined against seen on entry
    // to the frontier, so every one is a first occurrence.
    val seenAdds = processedRows.withColumn("first_batch", lit(batchId))
      .select("url_hash", "url_canon", "first_batch")

    // ---- atomic multi-table delta commit (Iceberg MERGE analog):
    // O(batch) bytes — never a rewrite of the full seen/frontier state.
    // The adds count piggybacks on the write job (Observation) — no
    // re-read of the delta just to count it. The two writes below are
    // independent (both derive from the already-written parsed log), so they
    // are SUBMITTED CONCURRENTLY — each is a small job whose fixed
    // submission/commit latency would otherwise serialize on the driver
    // (the per-batch fixed term of the executor-JVM scaling pair). Local
    // properties do not reach the pool's threads, so each sets graft.batch.
    if (sys.env.contains("GRAFT_EXPLAIN")) {
      println(s"==== batch $batchId: frontier-adds physical plan ====")
      println(org.apache.spark.sql.graftbridge.executedPlanString(newFrontAdds))
    }
    val addsObs = org.apache.spark.sql.Observation()
    def onPool(label: String)(f: => Unit): scala.concurrent.Future[Unit] =
      scala.concurrent.Future {
        val sc = spark.sparkContext
        sc.setLocalProperty(CrawlEngine.BatchProperty, batchId.toString)
        try timed(label)(f) finally sc.setLocalProperty(CrawlEngine.BatchProperty, null)
      }(scala.concurrent.ExecutionContext.global)
    val writes = Seq(
      onPool("write_fr_adds")(store.writeDeltaAdds("frontier", batchId,
        newFrontAdds.observe(addsObs, count(lit(1)).as("n")))),
      onPool("write_seen_adds")(store.writeDeltaAdds("seen", batchId, seenAdds)))
    import scala.concurrent.duration.Duration
    writes.foreach(scala.concurrent.Await.result(_, Duration.Inf))
    missingRows.foreach(_.unpersist())
    linksRaw.unpersist()
    TailOut(notFound = metric("not_found") + missingCount, inRange = metric("in_range"),
      violations = metric("viol"), partitions = metric("nparts"),
      adds = addsObs.get("n").asInstanceOf[Long])
  }

  /**
   * The driver tail, for a batch with at most `probePushdownMaxKeys`
   * scheduled and robots-blocked rows. Where the executor tail writes the
   * parse with one Spark job and derives everything else from the written
   * log with more jobs, this one brings the batch to the driver once:
   *  - the batch frame's scheduled and blocked rows are collected in one
   *    action (≤ cap each); the scheduled ones, as a local relation, are
   *    left-joined to the corpus pages they name (the broadcast side holds
   *    only those pages). ONE query — pacing and [[parseProjection]] when
   *    active, plus each row's expansion list with its per-link seen-filter
   *    bit and robots verdict, all computed on executors — is collected.
   *    The filter is never decoded on the driver;
   *  - latest-wins dedup, the ledger metrics, the processed set, first-wins
   *    dedup of the new links and discovery-time gating are plain Scala;
   *  - membership is ONE collect of the link keys stored in seen and the
   *    frontier ([[knownKeys]]);
   *  - the parsed log and both deltas are written driver-direct
   *    (StateStore.writeDirect): no write job.
   * Results equal the executor tail's except the partition_id lineage — the
   * partitions of this query, not of the executor fetch join — and so the
   * ledger's partitions_used, counted here exactly instead of approximately.
   */
  private def driverTail(batchId: Long, committed: Long, batch: DataFrame): TailOut = {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val nParsed = parsedSchema.length
    val (blockedRows, picked) = timed("write_parsed") {
      val slim = schedSlim(batch, "blocked")
      val (blockedRows, schedRows) = slim.collect().partition(_.getAs[Boolean]("blocked"))
      val canons = schedRows.map(_.getAs[String]("url_canon")).distinct.toSeq
      // forced broadcast bound: the pages of ≤ cap scheduled urls (one each
      // unless the corpus repeats a url_canon, which the dedup below collapses)
      val fetched = spark.createDataFrame(schedRows.toSeq.asJava, slim.schema)
        .join(broadcast(pagesSel.filter($"url_canon".isin(canons: _*))), Seq("url_canon"), "left_outer")
        .withColumn("found", $"page_url".isNotNull)
      val q = parseProjection(pacedIfActive(fetched), batchId, $"page_url", expansionList.as("links"))
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        println(s"==== batch $batchId: fetch+parse physical plan (driver tail) ====")
        println(org.apache.spark.sql.graftbridge.executedPlanString(q))
      }
      val rows = if (schedRows.isEmpty) Array.empty[Row] else q.collect()
      // corpus hygiene, as in the executor tail: latest warc_ts wins per
      // url_hash, page_url tiebreak
      val picked = if (cfg.corpusUnique) rows
        else rows.groupBy(_.getAs[Long]("url_hash")).valuesIterator
          .map(_.min(CrawlEngine.LatestPage)).toArray
      store.appendLogDirect("parsed", batchId, parsedSchema,
        picked.map(r => Row.fromSeq(r.toSeq.take(nParsed))))
      (blockedRows, picked)
    }
    def rowsWhere(p: Row => Boolean): Long = picked.count(p).toLong

    // ---- U5 expansion (the executor tail's explode, over the lists the
    // query computed); the processed rows never re-enter the frontier
    val links = timed("link_keys") {
      val processed = (picked ++ blockedRows).map(_.getAs[Long]("url_hash")).toSet
      picked.flatMap { r =>
        Option(r.getAs[scala.collection.Seq[Row]]("links")).getOrElse(Nil).map(l =>
          CrawlEngine.Link(l.getString(0), l.getString(1), l.getLong(2), l.getString(3),
            l.getBoolean(4), l.getBoolean(5), r.getAs[Int]("depth") + 1,
            r.getAs[AnyRef]("warc_ts"), r.getAs[String]("seed_id"),
            r.getAs[AnyRef]("since_ts"), r.getAs[AnyRef]("end_ts")))
      }.filterNot(l => processed(l.hash))
    }

    // ---- F2: seen-set dedup at discovery (see the executor tail), then
    // first-wins per url and robots gating at discovery
    val adds = timed("write_fr_adds") {
      val known = knownKeys(committed, links.map(_.hash).distinct,
        links.filter(_.maybeSeen).map(_.hash).distinct)
      val adds = links.filterNot(l => known(l.hash)).groupBy(_.hash).valuesIterator
        .map(_.min(CrawlEngine.FirstWins)).filterNot(_.blocked)
        .map(l => Row(l.url, l.canon, l.hash, l.host, l.depth, l.priority, l.seedId,
          l.since, l.end, batchId)).toSeq
      store.writeDeltaAddsDirect("frontier", batchId, emptyFrontier.schema, adds)
      adds.length.toLong
    }
    timed("write_seen_adds")(store.writeDeltaAddsDirect("seen", batchId, emptySeen.schema,
      (picked ++ blockedRows).map(r =>
        Row(r.getAs[Long]("url_hash"), r.getAs[String]("url_canon"), batchId))))
    TailOut(notFound = rowsWhere(!_.getAs[Boolean]("found")),
      inRange = rowsWhere(_.getAs[Boolean]("in_range")),
      violations = rowsWhere(!_.getAs[Boolean]("invariant_ok")),
      partitions = picked.map(_.getAs[Int]("partition_id")).distinct.length.toLong,
      adds = adds)
  }

  /** Each parsed row's expansion (U5), one definition for both tails (the
    * driver tail collects it, the executor tail explodes it): an array of
    * (url, url_canon, url_hash, host, maybe_seen, blocked) structs, null
    * past the depth bound. The links are the page's outlinks in page order
    * under the per-link-class expansion caps (see CrawlConfig.expansionCaps):
    * each page expands at most cap "paging" (same-host) and cap "cross"
    * (cross-host) links — pure array ops inside the row, no shuffle, no
    * extra pass; the parsed log's outlinks column (the page's content) stays
    * uncapped, like the reference's stored counts. Each link carries its
    * canonical url and hash, its host, the might-contain bit of the seen
    * base's filter (true for every link while the base has none; only the
    * driver tail reads it) and its robots verdict at discovery. */
  private def expansionList: org.apache.spark.sql.Column = {
    val links =
      if (cfg.expansionCaps.isEmpty) $"outlinks"
      else {
        def sameHost(u: org.apache.spark.sql.Column) =
          gf.url_host(gf.canonicalize_url(u)) === $"host"
        def capped(arr: org.apache.spark.sql.Column, cls: String) =
          cfg.expansionCaps.get(cls).map(c => slice(arr, 1, c)).getOrElse(arr)
        concat(
          capped(filter($"outlinks", u => sameHost(u)), "paging"),
          capped(filter($"outlinks", u => !sameHost(u)), "cross"))
      }
    val canon = transform(links, u => struct(u.as("url"), gf.canonicalize_url(u).as("url_canon")))
    val full = transform(canon, l => {
      val c = l.getField("url_canon")
      val h = xxhash64(c)
      val host = gf.url_host(c)
      struct(l.getField("url").as("url"), c.as("url_canon"), h.as("url_hash"), host.as("host"),
        (if (bloomBc == null) lit(true) else BloomSeen.bloom_probe(bloomBc, Nil, h)).as("maybe_seen"),
        robotsBlockedCol(host, c).as("blocked"))
    })
    when($"depth" + 1 <= cfg.maxDepth, full)
  }

  /** The link keys already stored in seen or the frontier at `committed`,
    * in ONE collect. Up to the pushdown cap it unions keyed reads of the
    * stored rows (no removal anti-join, as in [[storedOf]]): the seen
    * base for the keys its filter flags (no false negatives), the seen
    * deltas since that base and the frontier base and adds for every key.
    * Above the cap, the [[storedOf]] join. */
  private def knownKeys(committed: Long, keys: Array[Long], flagged: Array[Long]): Set[Long] =
    if (keys.isEmpty) Set.empty
    else {
      val stored =
        if (keys.length <= cfg.probePushdownMaxKeys)
          store.storedKeys("seen", committed, emptySeen, Some(keys), Some(flagged))
            .unionByName(store.storedKeys("frontier", committed, emptyFrontier, Some(keys), None))
        else storedOf(committed, keys.toSeq.toDF("url_hash"), keys.length)
      stored.collect().map(_.getLong(0)).toSet
    }

  /** The keys of `keys` (a url_hash column of at most `rows` rows) stored in
    * seen or the frontier at `committed`: the stored rows of both tables
    * inner-joined to the keys. No removal anti-join: the frontier's removals
    * since its base are seen's adds since that base, which the seen side
    * holds (StateStore.storedKeys). A key is stored at most once per table
    * (base and adds are disjoint within each), so the output is at most 2
    * rows per key row. The keys are the one build ([[keysBuild]]). Inner,
    * not left_semi: Spark pushes a semi-join below the union and builds its
    * broadcast once per branch, with no exchange reuse. */
  private def storedOf(committed: Long, keys: DataFrame, rows: Long): DataFrame =
    store.storedKeys("seen", committed, emptySeen, None, None)
      .unionByName(store.storedKeys("frontier", committed, emptyFrontier, None, None))
      .join(keysBuild(keys, rows), Seq("url_hash"))

  /** `keys` (a url_hash column of at most `rows` rows) as a join's build
    * side: broadcast up to LinksBroadcastMaxKeys rows, no hint above. */
  private def keysBuild(keys: DataFrame, rows: Long): DataFrame =
    if (rows <= CrawlEngine.LinksBroadcastMaxKeys) broadcast(keys) else keys

  private val notifiedConditions = scala.collection.mutable.Set[String]()
  private def notifyOnce(condition: String, message: String): Unit =
    if (notifiedConditions.add(condition)) notifier.notify(message)

  /** Commit version `metrics("batch_id")` with its ledger row, written
    * DRIVER-DIRECT (a per-version write job was pure fixed cost), and cache
    * its sizes. `metrics` is keyed by ledger column; a missing one is -1. */
  private def commitVersion(state: String, metrics: Map[String, Long]): Unit = {
    val b = metrics("batch_id")
    store.appendLogDirect("ledger", b, CrawlEngine.LedgerSchema,
      Seq(org.apache.spark.sql.Row.fromSeq(CrawlEngine.LedgerSchema.fieldNames.toSeq.map(c =>
        if (c == "state") state else metrics.getOrElse(c, -1L)))))
    store.commit(b)
    seenSizeCache = metrics("seen_size")
    frontierSizeCache = metrics("frontier_size")
  }

  /** latest ROTATED ledger entry — the rotation watermark bounding which
    * deferred-log batches the next rotation may re-open (ADVICE r1: without
    * it every rotation re-forgets pages already re-emitted). */
  private def lastRotatedBatch(committed: Long): Long =
    ledger(committed).map { l =>
      val r = l.filter($"state" === "ROTATED").agg(max($"batch_id")).head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }.getOrElse(Long.MinValue)

  /**
   * Cursor rotation — the reference's per-seed window advance after every
   * run: `since_date := run start; end_date := now`
   * (/root/reference/weibo.py:2814-2817, rotated again before each scheduled
   * child run service.py:1384-1398). Semantics for the incremental re-crawl:
   *
   *  1. every seed's window becomes [old end, newEnd) (seeds table MERGE);
   *  2. seed roots re-enter the frontier with the new window;
   *  3. pages that were traversed but DEFERRED as too-new (warc_ts >= old
   *     end) SINCE THE LAST ROTATION are forgotten from the seen set, so the
   *     next run emits them — the analog of the reference re-walking the
   *     newest pages each run while the append-mode cutoff (F7) keeps
   *     already-emitted items unique. Older deferrals were already re-opened
   *     by earlier rotations and are not re-forgotten.
   *
   * Runs at a batch boundary, doubles as a compaction point (full base
   * snapshots — rotations are rare), and commits as its own versioned state
   * change (ledger state = ROTATED), so kill/resume semantics are identical
   * to a normal batch.
   */
  def rotateWindows(newEnd: java.sql.Timestamp): Unit = {
    val committed = store.committedBatch
    val batchId = committed + 1
    val seedsV = store.latestVersion("seeds", committed)
      .getOrElse(sys.error("rotateWindows requires initialize(seeds) state"))
    val seedsDf = store.read("seeds", seedsV, sys.error("seeds listed but unreadable"))
    val rotated = seedsDf
      .withColumn("since_ts", $"end_ts")
      .withColumn("end_ts", lit(newEnd))
    val roots = frontierFromSeeds2(rotated)
    val deferredKeys = deferred(committed, afterBatch = lastRotatedBatch(committed))
      .map(_.select("url_hash").distinct()).getOrElse(emptySeen.select("url_hash"))
    val forget = roots.select("url_hash").unionByName(deferredKeys).distinct()
    val newSeen = seen(committed).join(broadcast(forget), Seq("url_hash"), "left_anti")
    val newFrontier = frontier(committed)
      .join(broadcast(roots.select("url_hash")), Seq("url_hash"), "left_anti")
      .unionByName(roots)
    store.begin(batchId)
    store.write("seeds", batchId, rotated)
    // rotation = compaction point: write full bases (rare by design); the
    // size counts piggyback on the write jobs via Observation — no extra
    // O(|state|) count actions (VERDICT r2 item 8)
    val frontObs = org.apache.spark.sql.Observation()
    val seenObs = org.apache.spark.sql.Observation()
    store.writeBase("frontier", batchId, newFrontier,
      clusterPartitions = cfg.shufflePartitions, rowCount = Some(frontObs))
    store.writeBase("seen", batchId, newSeen,
      clusterPartitions = cfg.shufflePartitions, rowCount = Some(seenObs))
    val frontNow = frontObs.get("n").asInstanceOf[Long]
    val seenNow = seenObs.get("n").asInstanceOf[Long]
    // the new seen base gets its own filter: the old one flags forgotten keys
    buildFilter(batchId, seenNow)
    commitVersion("ROTATED",
      Map("batch_id" -> batchId, "seen_size" -> seenNow, "frontier_size" -> frontNow))
  }

  /** frontier rows from a seeds DataFrame (root url, depth 0, priority =
    * window end so the newest-first order starts at the seed's cursor). */
  private def frontierFromSeeds2(seedsDf: DataFrame): DataFrame =
    seedsDf
      .withColumn("url", $"root_url")
      .withColumn("url_canon", gf.canonicalize_url($"url"))
      .withColumn("url_hash", xxhash64($"url_canon"))
      .withColumn("host", gf.url_host($"url_canon"))
      .withColumn("depth", lit(0))
      .withColumn("priority_ts", $"end_ts")
      .withColumn("discovered_batch", lit(-1L))
      .select(emptyFrontier.columns.toIndexedSeq.map(col): _*)

  /**
   * Scheduler tick — the reference's interval scheduler
   * (service.py:1209-1306): every poll it checks whether `intervalMs` has
   * elapsed since the last child run and, if so, rotates the windows to
   * `now` and runs a bounded child crawl. The "last run" watermark is the
   * seeds' end_ts (rotation sets it to the rotation time — the same cursor
   * the reference persists back into config.json, service.py:1456-1494).
   * The clock is INJECTED (`now`), so schedules are deterministic and
   * replayable in tests; skip-if-running (service.py:1250-1252) is inherent
   * here — ticks are driver-serial. Returns true if a child run fired.
   */
  def tickSchedule(now: java.sql.Timestamp, intervalMs: Long, maxBatches: Int): Boolean = {
    val committed = store.committedBatch
    val seedsV = store.latestVersion("seeds", committed)
      .getOrElse(sys.error("tickSchedule requires initialize(seeds) state"))
    val lastEnd = store.read("seeds", seedsV, sys.error("seeds listed but unreadable"))
      .agg(max($"end_ts")).head().getTimestamp(0)
    if (now.getTime - lastEnd.getTime < intervalMs) return false
    rotateWindows(now)
    run(maxBatches)
    true
  }

  /**
   * Maintenance: purge every robots-blocked row from the frontier in ONE
   * versioned batch (ledger state = PURGED, commit semantics identical to a
   * normal batch). Call after CHANGING robots rules over an existing state
   * dir: discovery-time gating keeps blocked urls out of the frontier under
   * stable rules, so pre-existing blocked rows only arise from a rule
   * change. The next batch's gating would drop them too, but only as a
   * side effect of scheduling; the purge commits the rule change as its own
   * version, before any batch runs under the new rules. Purged rows enter
   * `seen` (blocked ≡ never fetch, same as batch-time gating). Costs one
   * full frontier scan — the explicit price of a rule change, paid once.
   * Returns the number of rows purged.
   */
  def purgeRobotsBlocked(): Long = {
    if (!hasRobots) return 0L
    val committed = store.committedBatch
    val batchId = committed + 1
    val blocked = frontier(committed).filter(robotsBlockedCol($"host", $"url_canon")).persist()
    val n = blocked.count()
    if (n == 0) { blocked.unpersist(); return 0L }
    // the purged keys enter a seen delta (also their frontier removal), which
    // the keyed seen read takes for every link key: no bloom work here
    store.begin(batchId)
    store.writeDeltaAdds("seen", batchId, blocked
      .withColumn("first_batch", lit(batchId))
      .select("url_hash", "url_canon", "first_batch"))
    commitVersion("PURGED", Map("batch_id" -> batchId, "robots_blocked" -> n,
      "seen_size" -> (seenSize(committed) + n), "frontier_size" -> (frontierSize(committed) - n)))
    blocked.unpersist()
    n
  }

  /** State GC — the Iceberg expire_snapshots analog (call between runs or
    * from a maintenance schedule): drops every state file superseded by the
    * newest committed base snapshots. Resume and all reads at the current
    * committed batch are unaffected; only time-travel to pre-compaction
    * batches is given up. The 7-day result-TTL sweeper of the reference
    * (service.py:2837-2874) is the closest analog. */
  def expireOldState(): Unit = {
    val committed = store.committedBatch
    store.expireBefore("frontier", committed)
    store.expireBefore("seen", committed)
    // a filter is read only for the latest seen base, the one base kept
    store.latestBase("seen", committed).foreach(store.expireSnapshotsBelow("bloom", _))
    store.expireSnapshotsBefore("seeds", committed)
  }

  /** Post-run materialized summary (S17 analog: the reference pre-builds
    * task/schedule result caches after each run, service.py:580-964,
    * 967-1024): per-host and per-seed rollups of everything fetched so far,
    * written as a queryable snapshot table. */
  def refreshSummary(): Option[DataFrame] = fetched().map { f =>
    val summary = f.groupBy($"host", $"seed_id")
      .agg(count(lit(1)).as("n_fetched"),
        min($"warc_ts").as("oldest_ts"), max($"warc_ts").as("newest_ts"),
        max($"depth").as("max_depth"), sum($"n_outlinks").as("total_outlinks"),
        countDistinct($"batch_id").as("n_batches"))
    store.write("summary", store.committedBatch, summary)
    store.read("summary", store.committedBatch, summary)
  }

  /** Wall-clock token-bucket pacing inside the fetch stage — only when
    * realTimePacing is on (real crawls). Rows are hash-partitioned on host
    * over `saltBuckets` pacing tasks, so each host is paced whole by one
    * task: partitions are sorted by (host, fetch_ordinal) and each task
    * sleeps the residual delay budget between fetches of the same host
    * (weibo.py:2769-2778 analog). Data passes through unchanged except the
    * `paced_at_ms` placeholder column, which is stamped with the actual
    * post-sleep fetch time (lineage + the spacing evidence CrawlSpec
    * asserts). Expects the input to already carry a null `paced_at_ms`. */
  private[graft] def pace(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge
    val byHost = df.repartition(math.max(cfg.saltBuckets, 1), $"host")
    val schema = byHost.schema
    val hostIdx = schema.fieldIndex("host")
    val stampIdx = schema.fieldIndex("paced_at_ms")
    // per-host delay budgets (robots Crawl-delay analog) — config-small map
    // in the task closure; hosts without an override pace at the default
    val defaultDelayMs = cfg.defaultDelayMs
    val perHostDelayMs = cfg.perHostDelayMs
    // host INSIDE the sort key: several hosts can share one pacing task, and
    // sorting by ordinal alone would interleave them — the consecutive-row
    // bookkeeping below would then never see two same-host rows back to back
    // and enforce no delay at all (caught by PacingSpec's one-shard test).
    // With hosts contiguous, a task serializes its hosts and each host's run
    // is ordinal-ordered.
    val sorted = byHost.sortWithinPartitions($"host", $"fetch_ordinal")
    val out = graftbridge.toInternalRdd(sorted).mapPartitions { rows =>
      var lastHost: String = null
      var lastAt = 0L
      rows.map { r =>
        val host = r.getUTF8String(hostIdx).toString
        val now = System.currentTimeMillis()
        if (host == lastHost) {
          val wait = perHostDelayMs.getOrElse(host, defaultDelayMs) - (now - lastAt)
          if (wait > 0) Thread.sleep(wait)
        }
        lastHost = host; lastAt = System.currentTimeMillis()
        // stable copy first (the scan reuses its row buffer), then stamp the
        // fetch time into the placeholder slot via a generic row
        val c = r.copy()
        val vals = c.toSeq(schema).toArray
        vals(stampIdx) = lastAt
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    graftbridge.fromInternalRdd(spark, out, schema)
  }

  /** Run up to maxBatches (stop early on empty frontier or STOP command).
    * Resumes from the committed pointer — a killed run restarts at the exact
    * frontier state (north rule). */
  def run(maxBatches: Int): Seq[Map[String, Long]] = {
    val out = Seq.newBuilder[Map[String, Long]]
    var i = 0
    var continue = true
    while (i < maxBatches && continue) {
      if (stopRequested) {
        // the stop commits as its own version, as ROTATED and PURGED do
        val b = store.committedBatch + 1
        store.begin(b)
        commitVersion("STOPPED", Map("batch_id" -> b,
          "seen_size" -> seenSize(b - 1), "frontier_size" -> frontierSize(b - 1)))
        notifyOnce("stopped", s"run stopped by command at batch $b")
        continue = false
      } else if (frontierSize(store.committedBatch) == 0) {
        // arithmetic size cache — no per-iteration Spark job
        continue = false
      } else {
        out += runBatch()
        i += 1
      }
    }
    out.result()
  }
}

object CrawlEngine {
  /** max key rows broadcast by a join's key build (keysBuild: the
    * membership join's link keys, the executor fetch's scheduled keys): up
    * to it the 8-byte keys ship once to the executors and the big side
    * (seen and frontier, the corpus) is scanned, never shuffled; above it
    * the join takes no hint. A BYTES bound in disguise (keys × 8 B ≈ 32 MB), not a local-core
    * tuning: it is sized to executor broadcast headroom. */
  private val LinksBroadcastMaxKeys = 4000000L

  /** The local property that carries the batch id on a batch's Spark jobs. */
  val BatchProperty = "graft.batch"

  /** One link a driver-tail batch discovered: the expanded url with its
    * canonical form, hash, host, seen-filter bit and robots verdict, and the
    * frontier fields it inherits from the linking page. */
  private case class Link(url: String, canon: String, hash: Long, host: String,
      maybeSeen: Boolean, blocked: Boolean, depth: Int, priority: AnyRef,
      seedId: String, since: AnyRef, end: AnyRef)

  private def nullsFirst[T](o: Ordering[T]): Ordering[T] =
    Ordering.by[T, Option[T]](Option(_))(Ordering.Option(o))
  private def nullsLast[T](o: Ordering[T]): Ordering[T] = nullsFirst(o.reverse).reverse
  /** A timestamp as collected (java.sql.Timestamp, or java.time.Instant
    * under spark.sql.datetime.java8API.enabled), newest first, nulls last. */
  private val newestFirst: Ordering[AnyRef] = nullsLast(Ordering.by[AnyRef, Long](t =>
    org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(t).asInstanceOf[Long]).reverse)

  /** The driver tail's picks, in the executor tail's window orders. The
    * latest page per url: warc_ts desc nulls last, page_url asc nulls last. */
  private val LatestPage: Ordering[org.apache.spark.sql.Row] =
    Ordering.by[org.apache.spark.sql.Row, AnyRef](_.getAs[AnyRef]("warc_ts"))(newestFirst)
      .orElseBy(_.getAs[String]("page_url"))(nullsLast(Ordering.String))
  /** The first discovery per url: priority_ts desc, seed_id, url_canon; then
    * url and depth, so the pick among full ties is deterministic too. */
  private val FirstWins: Ordering[Link] =
    Ordering.by[Link, AnyRef](_.priority)(newestFirst)
      .orElseBy(_.seedId)(nullsFirst(Ordering.String))
      .orElseBy(_.canon)(nullsFirst(Ordering.String))
      .orElseBy(_.url)(nullsFirst(Ordering.String))
      .orElseBy(_.depth)

  /** Ledger row schema, written driver-direct (StateStore.appendLogDirect);
    * nullability mirrors what a Spark write of the same local tuples
    * produced (primitives required, string optional). */
  private[crawl] val LedgerSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      StructField("batch_id", LongType, nullable = false) ::
      StructField("state", StringType, nullable = true) ::
      List("scheduled", "fetched", "not_found", "robots_blocked",
        "invariant_violations", "frontier_size", "seen_size", "partitions_used")
        .map(StructField(_, LongType, nullable = false)))
  }

  /** Data schemas of the bloom, seeds and errors tables, as the engine
    * writes them (see buildFilter, initialize, the executor tail's
    * open-corpus recovery). */
  private[crawl] val BloomSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "shard INT, blob BINARY, fpp DOUBLE, shards INT")
  private[crawl] val SeedsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "seed_id STRING, root_url STRING, since_ts TIMESTAMP, end_ts TIMESTAMP")
  private[crawl] val ErrorsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "url_canon STRING, url_hash BIGINT, host STRING, seed_id STRING, depth INT, " +
      "error STRING, batch_id BIGINT")

  /** serializes the scoped conf raise/restore across concurrently running
    * engines on the same session (check-then-set must be atomic). */
  private val confLock = new Object
  /** session → (nesting depth, saved pre-raise value). */
  private val elevated = scala.collection.mutable.Map[SparkSession, (Int, String)]()

  /**
   * Raise `spark.sql.parquet.pushdown.inFilterThreshold` to at least
   * `threshold` for the duration of `f`, then restore (ADVICE r3: a
   * constructor-time permanent raise leaked OR-chain pushdown into unrelated
   * queries of the shared session). Re-entrant and multi-engine safe via a
   * per-session depth count: the saved value is restored only when the last
   * concurrent batch exits. Spark reads this conf at physical-planning time,
   * which happens inside the batch's own actions (including the concurrent
   * delta-commit futures — session conf is shared across threads), so the
   * scope covers every keyed probe the batch plans.
   */
  private[graft] def withProbeThreshold[T](spark: SparkSession, threshold: Int)(f: => T): T = {
    if (threshold <= 0) return f
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    confLock.synchronized {
      val (depth, saved) = elevated.getOrElse(spark, (0, spark.conf.get(key, "10")))
      val current = scala.util.Try(spark.conf.get(key, "10").toInt).getOrElse(10)
      if (threshold > current) spark.conf.set(key, threshold.toString)
      elevated(spark) = (depth + 1, saved)
    }
    try f finally confLock.synchronized {
      val (depth, saved) = elevated(spark)
      if (depth == 1) { spark.conf.set(key, saved); elevated.remove(spark) }
      else elevated(spark) = (depth - 1, saved)
    }
  }
}
