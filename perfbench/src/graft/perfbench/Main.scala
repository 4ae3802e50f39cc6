package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one workload run needs. `data` holds identical copies of the
  * dataset under distinct paths: each set-up repeat uses a fresh copy, so
  * path-keyed caches (store builds, file listings) start cold every time. */
final case class Ctx(spark: SparkSession, tracer: Tracer, meter: Meter, jobs: JobMeter,
    seed: Long, data: Seq[String], work: String, expected: Map[String, (Long, String)])

/** One measured window: operations attempted, those whose outcome differed
  * from the expected one, the window's wall seconds, the latency of each
  * unit operation and the wall of each full pass, in seconds. */
final case class Phase(attempted: Long, failed: Long, windowS: Double,
    ops: Seq[Double], passes: Seq[Double])

/** A workload set up and ready to measure. */
trait Session {
  /** Wall seconds of each set-up repeat. */
  def setupS: Seq[Double]
  /** Run closed-loop for about `seconds` (at least one pass). */
  def measure(seconds: Double): Phase
  /** Checks outside the measured windows; (attempted, failed). */
  def finish(): (Long, Long)
}

trait Workload {
  def start(c: Ctx): Session
}

object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def readExpected(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, fp) = l.split("\t")
      n -> (rows.toLong, fp)
    }.toMap

  def workload(name: String): Workload = name match {
    case "nightly_chain" => NightlyChain
    case "control_plane" => ControlPlane
    case "query_sweep" => QuerySweep
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** `--key value` pairs. */
  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }.toMap

  private val T0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM start of main. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - T0) / 1e9}%7.2f s  $msg")

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    val spark = session(work)
    log("session up")
    val ok = try a.get("mode") match {
      case Some("oracle-sql") =>
        OracleSql.dump(spark, a("data"), work); true
      case Some("selfcheck") => SelfCheck.run(spark, a, work)
      case _ => runWorkload(spark, a, work); true
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Set up, then one window of `seconds`. Traced, every span is recorded
    * and the tracer's own cost is measured: the spans it opened times the
    * cost of one open + close, over the window (the Spark work is the same
    * either way; a span only tags its jobs). */
  def runWorkload(spark: SparkSession, a: Map[String, String], work: String): Unit = {
    val trace = a("trace") == "1"
    val tracer = new Tracer(spark, trace)
    val jobs = new JobMeter
    spark.sparkContext.addSparkListener(jobs)
    val c = Ctx(spark, tracer, new Meter, jobs, a("seed").toLong,
      a("data").split(",").toSeq, work, readExpected(a.getOrElse("expected", "")))
    val s = workload(a("workload")).start(c)
    log(s"set up: ${s.setupS.map(x => f"$x%.2f").mkString(", ")} s")
    c.meter.startWindow()
    graft.lifecycle.Observability.drainListenerBus(spark)
    val outside0 = jobs.unattributedJobs
    val cpu0 = cpuNs()
    val phase = s.measure(a("seconds").toDouble)
    val cpuS = (cpuNs() - cpu0) / 1e9
    log(s"measured ${phase.ops.size} operations in ${phase.windowS} s")
    val metrics =
      if (!trace) Report.endToEnd(s.setupS, phase, cpuS)
      else {
        graft.lifecycle.Observability.drainListenerBus(spark)
        val inWindow = tracer.spans.count(_.start >= c.meter.windowStartNs)
        Report.perLayer(c, phase, jobs.unattributedJobs - outside0) :+
          (("trace.overhead_frac", inWindow * tracer.spanCostNs() / 1e9 / phase.windowS, "ratio"))
      }
    val (checked, bad) = s.finish()
    log("checked")
    Report.write(a("out"), phase.attempted + checked, phase.failed + bad, metrics)
    if (trace) Report.writeSpans(a("spans"), tracer.spans)
  }

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Old-generation bytes still live after a full collection, in MB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).fold(p.getUsage.getUsed)(_.getUsed))
      .sum / 1048576.0
  }

  def writeString(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
