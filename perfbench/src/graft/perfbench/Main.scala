package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** What one run did: operations attempted and failed, the checks that
  * failed, and the numbers a workload reports beside the contract metrics.
  */
final class Record {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** Count one job; a throw or a failed check counts it as failed. */
  def job[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
  }

  def check(what: String, ok: Boolean): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")
}

/** One workload: set-up, the untraced timed loop, and the traced run. */
trait Workload {
  /** generate and cache the inputs, then run one warm-up pass */
  def setup(spark: SparkSession): Unit
  /** untimed operations after the set-ups and before timing starts */
  def settle(rec: Record): Unit
  /** release what [[setup]] cached */
  def release(): Unit
  /** the timed loop: end-to-end metrics except setup_s */
  def measure(seconds: Double, rec: Record): Map[String, M]
  /** the traced run: per-layer metrics */
  def traced(seconds: Double, rec: Record, tracer: Tracer): Map[String, M]
}

object Main {

  /** Task slots: half the cores, at most two. The other cores keep the
    * driver, the listener bus, JIT compilation and GC off the task threads.
    * On a shared 4-core host, two slots gave the same Pipeline.run and
    * processBatch times as three, with less spread between operations;
    * with a slot on every core, operation times within a run swung by a
    * third.
    */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors) / 2)
  /** Set-ups per run; setup_s is their median, so the first one's class
    * loading and JIT warm-up are paid but do not set the figure.
    */
  private val SetupRepeats = 3

  def session(work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // bounded status bookkeeping, so the post-GC heap measures the
      // program's data rather than how many jobs the run has seen
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `op` until `seconds` have passed, and at least `minOps` times. */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) { op(i); i += 1 }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Highest whole percentile with at least ten samples beyond it, or None
    * below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val p = math.floor(100.0 * (xs.length - 10) / xs.length).toInt
      Some((p, quantile(xs, p / 100.0)))
    }

  /** Heap occupancy after a full collection, in MB. A collection lets
    * Spark's ContextCleaner drop the blocks of broadcasts and shuffles that
    * are already unreachable, which it does asynchronously, sometimes only
    * after a few hundred milliseconds. So collections repeat, at least four
    * and until the occupancy stops falling, and the lowest reading counts:
    * a slow cleaner does not read as live data.
    */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def afterGc(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1e6 }
    var low = afterGc()
    var prev = low
    var rounds = 1
    var falling = true
    while (rounds < 4 || (falling && rounds < 8)) {
      Thread.sleep(200)
      val cur = afterGc()
      falling = cur < prev * 0.99
      low = math.min(low, cur)
      prev = cur
      rounds += 1
    }
    low
  }

  /** Order-independent digest of a triple set over
    * (subj, pred, obj, conv_id, turn_idx): row count, a sum of row hashes
    * modulo a prime, and their xor. Equal multisets give equal digests
    * under any partitioning or row order.
    */
  def tripleDigest(triples: DataFrame): String = {
    val h = xxhash64(col("subj"), col("pred"), col("obj"), col("conv_id"), col("turn_idx"))
    val r = triples.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Fixed single-thread reference loop (no program code): its time tracks
    * how much CPU this process gets from the host, not the program.
    */
  def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) {
      x += 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      i += 1
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("")
    s
  }

  /** Quiet-host reading of [[sentinel]]: 0.111 s on a 4-core x86-64 cloud
    * VM under OpenJDK 17 (0.110–0.116 s over a quiet hour). A reading above
    * [[DegradedFactor]] × this marks the window degraded.
    */
  val SentinelQuietS = 0.111
  val DegradedFactor = 1.15

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: M => s"""{"value":${json(m.value)},"unit":${json(m.unit)}}"""
    case m: collection.Map[_, _] => m.map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    val w: Workload = name match {
      case "kg_wide_vocab" => KgBatch.wide(seed)
      case "kg_incremental" => new KgIncremental(seed, work)
      case "near_dup_corpus" => new NearDup(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new Record
    val sentinelBefore = sentinel()

    // set-up runs SetupRepeats times, each time in a fresh session, and is
    // reported as the median: the first also pays class loading and JIT
    // warm-up, the later ones only the session and the program's set-up
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) { w.release(); spark.stop() }
      setups += time {
        spark = session(work)
        w.setup(spark)
      }._2
    }

    // a full collection before timing, so the first operation does not pay
    // for the garbage of the set-ups
    System.gc()
    w.settle(rec)

    val metrics: Map[String, M] =
      if (!trace) w.measure(seconds, rec) + ("setup_s" -> M(median(setups.toSeq), "s"))
      else {
        val tracer = new Tracer(spark.sparkContext)
        val m = w.traced(seconds, rec, tracer)
        tracer.write(work.resolve("..").resolve("trace").resolve(s"$name-seed$seed.jsonl").normalize)
        tracer.stop()
        m
      }
    w.release()
    spark.stop()
    val sentinelAfter = sentinel()
    val degraded = Seq(sentinelBefore, sentinelAfter).exists(_ > SentinelQuietS * DegradedFactor)

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> Cores,
      "setup_s_each" -> setups.toSeq,
      "sentinel" -> Map("before_s" -> sentinelBefore, "after_s" -> sentinelAfter,
        "quiet_s" -> SentinelQuietS, "degraded_above_s" -> SentinelQuietS * DegradedFactor,
        "host_degraded" -> degraded),
      "error_rate" -> M(if (rec.attempted == 0) 1.0 else rec.failed.toDouble / rec.attempted, "ratio"))
    report ++= rec.report
    if (rec.problems.nonEmpty) report("problems") = rec.problems.toSeq
    println("report " + json(report))
    val out = mutable.LinkedHashMap[String, Any](
      "correct" -> (rec.failed == 0 && rec.attempted > 0),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "metrics" -> collection.immutable.TreeMap(metrics.toSeq: _*))
    println(json(out))
  }
}
