package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Crawl correctness checks over the engine's PUBLIC views only (ledger,
 * fetched, seen, frontier), never its internals. Each check returns the
 * violations it found (empty = pass), so a deliberately corrupted view can
 * be shown to fail.
 */
object Gate {

  /** The latest ledger row's counters equal the live views, and the
    * SUCCESS rows' fetched counts add up to the fetched view. */
  def ledgerAgrees(ledger: DataFrame, fetched: DataFrame, seen: DataFrame,
      frontier: DataFrame): Seq[String] = {
    val last = ledger.orderBy(col("batch_id").desc).head()
    val frontN = frontier.count()
    val seenN = seen.count()
    val fetchedN = fetched.count()
    val ledgerFetched = ledger.filter(col("state") === "SUCCESS")
      .agg(coalesce(sum("fetched"), lit(0L))).head().getLong(0)
    Seq(
      (last.getAs[Long]("frontier_size"), frontN, "frontier_size"),
      (last.getAs[Long]("seen_size"), seenN, "seen_size"),
      (ledgerFetched, fetchedN, "sum(fetched)"))
      .collect { case (l, v, what) if l != v => s"ledger $what=$l but view has $v rows" }
  }

  def seenFrontierDisjoint(seen: DataFrame, frontier: DataFrame): Seq[String] = {
    val n = frontier.join(seen.select("url_hash"), Seq("url_hash"), "left_semi").count()
    if (n == 0) Nil else Seq(s"$n frontier urls are also in seen")
  }

  /** A URL is fetched at most once per crawl window; windows are delimited
    * by the ledger's ROTATED rows. */
  def noRefetchWithinWindow(fetched: DataFrame, ledger: DataFrame): Seq[String] = {
    val rotations = ledger.filter(col("state") === "ROTATED").select("batch_id")
      .collect().map(_.getLong(0)).sorted
    val window = rotations.foldLeft(lit(0)) { (acc, r) =>
      acc + when(col("batch_id") > r, 1).otherwise(0)
    }
    val dups = fetched.withColumn("_window", window)
      .groupBy("url_hash", "_window").count().filter(col("count") > 1).count()
    if (dups == 0) Nil else Seq(s"$dups urls fetched more than once within one window")
  }

  /** Per (batch, host), fetches stay within the host's budget. */
  def withinBudget(fetched: DataFrame, budgetOf: String => Int): Seq[String] =
    fetched.groupBy("batch_id", "host").count().collect().toSeq.flatMap { r =>
      val (b, h, n) = (r.getLong(0), r.getString(1), r.getLong(2))
      if (n > budgetOf(h)) Some(s"batch $b host $h fetched $n > budget ${budgetOf(h)}") else None
    }

  /** Within a batch, each host's fetches follow the frontier's newest-first
    * order: by fetch_ordinal, priority_ts never increases (url_hash breaks
    * ties ascending). `prevFrontier` is the frontier view the batch was
    * scheduled from. */
  def newestFirst(fetchedBatch: DataFrame, prevFrontier: DataFrame): Seq[String] = {
    val rows = fetchedBatch.select("url_hash", "host", "fetch_ordinal")
      .join(prevFrontier.select("url_hash", "priority_ts"), Seq("url_hash"))
    val w = Window.partitionBy("host").orderBy(col("fetch_ordinal"))
    val bad = rows
      .withColumn("_pp", lag("priority_ts", 1).over(w))
      .withColumn("_ph", lag("url_hash", 1).over(w))
      .filter(col("_pp").isNotNull && (col("priority_ts") > col("_pp") ||
        (col("priority_ts") === col("_pp") && col("url_hash") < col("_ph"))))
      .count()
    if (bad == 0) Nil else Seq(s"$bad fetches out of newest-first order")
  }

  def noInvariantViolations(ledger: DataFrame): Seq[String] = {
    val v = ledger.agg(coalesce(sum(when(col("invariant_violations") > 0,
      col("invariant_violations"))), lit(0L))).head().getLong(0)
    if (v == 0) Nil else Seq(s"ledger reports $v parse-invariant violations")
  }
}
