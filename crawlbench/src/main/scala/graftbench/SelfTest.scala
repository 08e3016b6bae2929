package graftbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import graft.crawl.{CrawlEngine, PagesGen, StateStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Tests of the benchmark's own code that need a JVM: the crawl gate must
 * pass on a real crawl's views and reject each deliberately corrupted view;
 * the tail rule must pick the right order statistic.
 *
 *   graftbench.SelfTest <scratch dir>
 *
 * Prints one line per case and exits 1 if any case fails.
 */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val failures = ArrayBuffer[String]()
    def expect(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += name
    }

    // ---- the tail rule
    val xs = (1 to 30).map(_.toDouble)
    expect("tail of 30 samples has 10 beyond it", Stats.tail(xs)._1 == 20.0)
    expect("tail of 5 samples is the median", Stats.tail(xs.take(5))._1 == 3.0)
    expect("tail of 2 samples is the larger", Stats.tail(xs.take(2))._1 == 2.0)
    expect("median interpolates", Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)

    // ---- the crawl gate on a small politeness-bound crawl
    val spark = Main.session(work, 2)
    import spark.implicits._
    val n = 4096L
    val pages = PagesGen.pages(spark, n, 4).toDF()
    val cfg = Crawl.politeConfig(2, Nil)
    val dir = work.resolve("selftest_state")
    StateStore.deleteRecursively(dir)
    val eng = new CrawlEngine(spark, pages, dir.toString, cfg)
    eng.initialize(Crawl.seedsFor(n, 7L))
    eng.run(3)
    val ledger = eng.ledger().get
    val fetched = eng.fetched().get.persist()
    val seen = eng.seen()
    val frontier = eng.frontier()
    val budget = Crawl.budgetOf(cfg) _
    val lastBatch = eng.store.committedBatch
    val batchRows = fetched.filter($"batch_id" === lastBatch)

    expect("gate passes: ledger agrees", Gate.ledgerAgrees(ledger, fetched, seen, frontier).isEmpty)
    expect("gate passes: seen/frontier disjoint", Gate.seenFrontierDisjoint(seen, frontier).isEmpty)
    expect("gate passes: no refetch", Gate.noRefetchWithinWindow(fetched, ledger).isEmpty)
    expect("gate passes: budgets", Gate.withinBudget(fetched, budget).isEmpty)
    expect("gate passes: newest-first",
      Gate.newestFirst(batchRows, eng.frontier(lastBatch - 1)).isEmpty)
    expect("gate passes: no invariant violations", Gate.noInvariantViolations(ledger).isEmpty)

    val oneFetched: DataFrame = fetched.limit(1)
    val dupFetched = fetched.unionByName(oneFetched)
    expect("gate rejects a url fetched twice",
      Gate.noRefetchWithinWindow(dupFetched, ledger).nonEmpty)
    expect("gate rejects a fetched view the ledger does not account for",
      Gate.ledgerAgrees(ledger, dupFetched, seen, frontier).nonEmpty)
    val seenRow = seen.limit(1).select("url_hash", "url_canon")
    val leakyFrontier = frontier.unionByName(
      seenRow.join(frontier.drop("url_hash", "url_canon").limit(1)), allowMissingColumns = true)
    expect("gate rejects a seen url back in the frontier",
      Gate.seenFrontierDisjoint(seen, leakyFrontier).nonEmpty)
    val megaRow = fetched.filter($"host" === Crawl.MegaHost).limit(1)
    val overBudget = (0 to Crawl.MegaBudget).foldLeft(fetched)((df, i) =>
      df.unionByName(megaRow.withColumn("url_hash", $"url_hash" + lit(i + 1L))))
    expect("gate rejects a host over its budget", Gate.withinBudget(overBudget, budget).nonEmpty)
    val reversed = batchRows.withColumn("fetch_ordinal", lit(1000) - $"fetch_ordinal")
    val hostsWithTwo = batchRows.groupBy("host").count().filter($"count" > 1).count()
    expect("the last batch fetched several pages of one host", hostsWithTwo > 0)
    expect("gate rejects fetches out of newest-first order",
      Gate.newestFirst(reversed, eng.frontier(lastBatch - 1)).nonEmpty)
    val badLedger = ledger.withColumn("invariant_violations",
      when($"batch_id" === lastBatch, lit(1L)).otherwise($"invariant_violations"))
    expect("gate rejects parse-invariant violations", Gate.noInvariantViolations(badLedger).nonEmpty)

    fetched.unpersist()
    spark.stop()
    StateStore.deleteRecursively(dir)
    println(if (failures.isEmpty) "SELFTEST ok" else s"SELFTEST ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
