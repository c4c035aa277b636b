package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** What one run counts and measures. Client threads share it. */
final class Report {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val metrics: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.Map[String, Any] = mutable.LinkedHashMap.empty

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Counts one operation; an exception or a false result is a failure. */
  def attempt(what: => String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val ok = try body catch { case e: Throwable => fail(s"$what: $e"); return false }
    if (!ok) fail(what)
    ok
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, report: Report,
                     seed: Long, seconds: Int, cores: Int,
                     bench: File, root: File, sfDir: String, conf: JsonNode) {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Ends the set-up: JVM and session start, fixtures, warm/check pass. */
  def setupDone(): Unit =
    report.metrics("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
}

/** One benchmark run in a fresh JVM:
  * `Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *       --bench <benchmark dir> --root <private temp root>`.
  * Prints one JSON object (the raw metrics) as its last stdout line.
  */
object Main {
  val mapper = new ObjectMapper()

  def session(cores: Int, root: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", new File(root, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this JVM, from /proc. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = new File(a("bench"))
    val root = new File(a("root"))
    val workload = a("workload")
    val conf = mapper.readTree(new File(bench, "config.json")).path("workloads").path(workload)
    require(conf.isObject, s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, root)
    val tracer = new Tracer(spark, a("trace") == "1")
    val report = new Report
    val ctx = Ctx(spark, tracer, report, a("seed").toLong, a("seconds").toInt,
      cores, bench, root, new File(bench, "data/sf0.1").getAbsolutePath, conf)
    try {
      if (workload.startsWith("batch")) BatchWorkload.run(ctx)
      else StreamWorkload.run(ctx)
    } catch { case e: Throwable =>
      e.printStackTrace()
      report.attempted.incrementAndGet()
      report.fail(s"run aborted: $e")
    }
    report.metrics("rss_peak_mb") = rssPeakMb()
    if (tracer.enabled) tracer.writeSpans(new File(a("traces"), s"$workload-seed${ctx.seed}.jsonl"))
    spark.stop()
    // what the run left behind in java.io.tmpdir and Spark's local dirs
    report.metrics("operators.tmp_leak_bytes") =
      (bytesUnder(new File(root, "tmp")) + bytesUnder(new File(root, "local"))).toDouble

    val out = mapper.createObjectNode()
    out.put("attempted", report.attempted.get)
    out.put("failed", report.failed.get)
    val m = out.putObject("metrics")
    report.metrics.foreach { case (k, v) => m.put(k, v) }
    report.notes("error_rate") = Stats.errorRate(report.failed.get, report.attempted.get.max(1))
    val n = out.putObject("notes")
    report.notes.foreach { case (k, v) => n.put(k, v.toString) }
    println(mapper.writeValueAsString(out))
    System.out.flush()
    sys.exit(if (report.failed.get == 0) 0 else 1)
  }
}
