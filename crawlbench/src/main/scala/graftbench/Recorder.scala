package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation of a workload's closed loop. `jobs`, `tasks` and
  * `busyMs` are only known for traced operations (-1 otherwise); `gcMs` is
  * the garbage collectors' time inside it. */
final case class Op(kind: String, name: String, startMs: Long, endMs: Long, seconds: Double,
    traced: Boolean, jobs: Long, tasks: Long, busyMs: Long,
    phases: Map[String, Double], gcMs: Long, stealShare: Double) {
  def gapShare: Double =
    if (!traced || endMs <= startMs) 0.0 else 1.0 - busyMs.toDouble / (endMs - startMs)
}

/**
 * The benchmark's measuring side: times operations, and in a traced run
 * also records spans and Spark job counters around each of them.
 */
final class Recorder(spark: SparkSession, val tracing: Boolean, runId: String) {
  val tracer = new Tracer(runId)
  val jobLog = new JobLog
  val ops = ArrayBuffer[Op]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  /** Side results for the run record; values are JSON fragments. */
  val extra = mutable.LinkedHashMap[String, String]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  private var heapPeak = 0L

  private def sc = spark.sparkContext

  def fail(msg: String): Unit = {
    System.err.println(s"[crawlbench] FAIL $msg")
    failures += msg
  }

  /** A correctness check made outside the timed window. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val passed = try ok catch { case e: Throwable => fail(s"$name threw ${e}"); return }
    Recorder.log(f"check  $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    if (!passed) fail(name)
  }

  /** Attach the job listener and span recorder around `f` (traced runs). */
  def traced[T](f: => T): T = {
    sc.addSparkListener(jobLog)
    tracer.on = true
    try f
    finally {
      tracer.on = false
      org.apache.spark.graftbench.ListenerBusDrain(sc)
      sc.removeSparkListener(jobLog)
    }
  }

  /** Time one operation. `phases` reads the program's cumulative phase
    * totals (CrawlEngine.timingTotals) so the op records its own share. */
  def op[T](kind: String, name: String, phases: () => Map[String, Double] = () => Map.empty)
      (f: => T): (T, Op) = {
    val trace = tracing
    attempted += 1
    if (trace) {
      sc.addSparkListener(jobLog)
      tracer.on = true
    }
    val before = phases()
    val gc0 = gcMillis
    val cpu0 = CpuStat.read()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try tracer(name)(f) finally {
      if (trace) tracer.on = false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val after = phases()
    val gc = gcMillis - gc0
    val steal = CpuStat.stealShare(cpu0, CpuStat.read())
    val (nj, nt, busy) = if (trace) {
      org.apache.spark.graftbench.ListenerBusDrain(sc)
      sc.removeSparkListener(jobLog)
      val js = jobLog.within(w0, w1)
      (js.size.toLong, js.map(_.tasks).sum, jobLog.busyMs(w0, w1))
    } else (-1L, -1L, -1L)
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    val o = Op(kind, name, w0, w1, sec, trace, nj, nt, busy, delta, gc, steal)
    ops += o
    Recorder.log(f"$kind%-6s $name%-40s $sec%8.3f s" + (if (trace) s" jobs=$nj" else ""))
    (r, o)
  }

  private val calibrations = ArrayBuffer[Double]()

  /** Outside the timed window only: the heap in use right after a full GC,
    * and three machine-speed calibration samples. */
  def checkpoint(): Unit = {
    System.gc()
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    // the first checkpoint first warms the calibration job's codegen and
    // JIT; every one drops a first job, which runs ~2x slower after the GC
    (0 until (if (calibrations.isEmpty) 3 else 1)).foreach(_ => Calibration.once(spark))
    calibrations ++= (0 until 3).map(_ => Calibration.once(spark))
  }
  def heapPeakMb: Double = heapPeak / 1048576.0
  def calibrationSamples: Seq[Double] = calibrations.toSeq

  /** `o`'s seconds as reported: without the CPU time the host stole while
    * it ran, on a machine whose calibration job (without its stolen time)
    * takes Calibration.ReferenceSeconds. */
  def normalized(o: Op): Double = {
    require(calibrations.nonEmpty, "no calibration sample")
    o.seconds * (1.0 - o.stealShare) * Calibration.ReferenceSeconds / Stats.median(calibrationSamples)
  }

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

object Recorder {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[crawlbench] ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")
}

/** The machine's CPU time from /proc/stat, where the kernel counts it. */
object CpuStat {
  /** (busy, stolen) jiffies over all CPUs; stolen is time a virtual CPU
    * wanted to run and the host ran something else. */
  def read(): Option[(Long, Long)] = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    Some((f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L))
  } catch { case _: Exception => None }

  /** The share of the CPU time wanted between two readings that was stolen. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((b0, s0)), Some((b1, s1))) if b1 - b0 + s1 - s0 > 0 =>
      (s1 - s0).toDouble / (b1 - b0 + s1 - s0)
    case _ => 0.0
  }
}

object Rng {
  /** splitmix64 finalizer: the benchmark's only source of seeded choices. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  def below(x: Long, n: Long): Long = Math.floorMod(mix(x), n)

  def shuffle[A](xs: Seq[A], seed: Long): Seq[A] =
    xs.zipWithIndex.sortBy { case (_, i) => mix(seed * 7919L + i) }.map(_._1)
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** The highest order statistic with at least ten samples beyond it, never
    * below the upper median. Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val idx = math.max(n - 11, n / 2)
    (s(idx), 100.0 * (idx + 1) / n, n)
  }
}

/**
 * The machine the baseline was measured on has 4 virtual CPUs. The host
 * steals 1-40% of their time for other tenants, which /proc/stat counts and
 * each timed operation takes out (Op.stealShare); other tenants also slow
 * the CPUs while they run, by up to ~25% over minutes, which no counter
 * shows. A fixed Spark job that calls no program code, timed at each
 * checkpoint without its own stolen time, measures that speed, and times
 * are reported as on a machine where it takes ReferenceSeconds.
 */
object Calibration {
  val ReferenceSeconds = 0.125

  def once(spark: SparkSession): Double = {
    val cpu0 = CpuStat.read()
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 21, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(hash(id) % 1000)").collect()
    (System.nanoTime() - t0) / 1e9 * (1.0 - CpuStat.stealShare(cpu0, CpuStat.read()))
  }
}
