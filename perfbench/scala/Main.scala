package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run-wide state shared by the workloads: the session, the tracer,
  * the deadline guard, the failure tally and the metric sinks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val guard: Guard,
    val seed: Long, val seconds: Double, val scratch: Path, val expected: Path) {
  val launchMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  var setupS: Double = Double.NaN
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var gc0 = 0.0
  private var settledS = 0.0

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Close set-up: everything from JVM launch until now; then settle
    * the heap before the first timed operation. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    settle()
    gc0 = gcS
    settledS = 0.0
  }

  /** A full collection between measured intervals, outside every
    * timed region, as JMH runs one between iterations: garbage that
    * one interval left in the old generation is not carried into the
    * next, so the peak resident set follows what the program retains
    * rather than when G1 last ran a concurrent cycle. */
  def settle(): Unit = {
    val g = gcS
    System.gc()
    settledS += gcS - g
  }

  /** GC time of the timed region, without the settling collections. */
  def timedGcS: Double = gcS - gc0 - settledS

  /** Run one named operation under its deadline. A throw or an overrun
    * counts as a failed operation and yields None. */
  def op[A](name: String, deadlineS: Double, streams: Boolean = false)(body: => A): Option[A] = {
    synchronized(attempted += 1)
    try Some(guard(name, deadlineS, streams)(body))
    catch { case e: OpFailed =>
      fail(s"${e.getMessage}")
      None
    }
  }

  /** Record a wrong answer of an operation that returned. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) fail(s"$name: wrong output: $detail")
    ok
  }

  private def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  def path(rel: String): String = scratch.resolve(rel).toString
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); the maximum when there are ten or fewer. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n <= 10) (s.lastOption.getOrElse(Double.NaN), 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Part files (no checksums or markers) under `dir`, with total bytes. */
  def files(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L) else {
      val fs = Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --scratch <dir> --expected <file> --traces <dir>`,
  * or `Main --mode selftest`. Prints one JSON result as its last line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("mode").contains("selftest")) sys.exit(SelfTest.run())
    val workload = a("workload")
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val scratch = Paths.get(a("scratch")).toAbsolutePath
    Files.createDirectories(scratch)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", scratch.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traced)
    tracer.install(spark)
    val guard = new Guard(spark, tracer)
    val ctx = new Ctx(spark, tracer, guard, a("seed").toLong, a("seconds").toDouble,
      scratch, Paths.get(a("expected")))
    val wl: Ctx => Unit = workload match {
      case "gas_daily" => GasDaily.run
      case "corpus_batch" => CorpusBatch.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.span(workload, "workload", newOp = true)(_ => wl(ctx))
    tracer.drain()
    ctx.e2e("setup_s") = ctx.setupS
    ctx.e2e("peak_rss_mb") = peakRssMb()
    ctx.layer("jvm.gc_s") = ctx.timedGcS
    ctx.layer("spark.shuffle.spill_bytes") =
      tracer.all.map(_.counts.spillBytes.sum.toDouble).sum
    guard.shutdown()

    val correct = ctx.failures.isEmpty && ctx.attempted > 0
    if (traced) {
      val out = Paths.get(a("traces")).resolve(s"$workload-${ctx.seed}.json")
      tracer.write(out, Map("workload" -> workload, "seed" -> ctx.seed,
        "end_to_end" -> ctx.e2e, "per_layer" -> ctx.layer,
        "failures" -> ctx.failures))
      System.err.println(s"perfbench: spans written to $out")
    } else {
      System.err.println("perfbench: end-to-end " + Json(ctx.e2e))
    }
    // stdout carries only the result line; run.py names the metrics
    // BENCHMARK.json asks for and gives them their units
    println(Json(Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failures.size.toLong, "end_to_end" -> ctx.e2e,
      "per_layer" -> ctx.layer)))
    spark.stop()
    sys.exit(0)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)
}
