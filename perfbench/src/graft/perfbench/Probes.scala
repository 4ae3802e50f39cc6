package graft.perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.lifecycle.{BatchContext, BatchError, Clock, Lifecycle, Sleeper}
import graft.state._

/** Thread-safe sample and counter sink shared by the probes of one run. */
final class Meter {
  private val samples = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  private val counts = scala.collection.mutable.Map.empty[String, Long]

  def add(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  }
  def inc(name: String): Unit = synchronized {
    counts(name) = counts.getOrElse(name, 0L) + 1
  }
  def values(name: String): Seq[Double] = synchronized(samples.get(name).fold(Seq.empty[Double])(_.toList))
  def count(name: String): Long = synchronized(counts.getOrElse(name, 0L))
  /** Start of the measured window: set-up samples are dropped. */
  @volatile var windowStartNs = 0L
  def startWindow(): Long = synchronized {
    samples.clear(); counts.clear(); windowStartNs = System.nanoTime(); windowStartNs
  }
}

/** Deterministic clock: starts at `start` and moves one second per read, so
  * every event of a run has a distinct, reproducible time. */
final class StepClock(start: Instant) extends Clock {
  private var t = start
  def now(): Instant = synchronized { t = t.plusSeconds(1); t }
  def jumpTo(i: Instant): Unit = synchronized { t = i }
}

/** Sleeper that never blocks and counts how often a dependency wait slept. */
final class CountingSleeper extends Sleeper {
  val slept = new java.util.concurrent.atomic.AtomicLong(0L)
  def sleep(seconds: Long): Unit = slept.incrementAndGet()
}

/** The graft.lifecycle probe: times startup and endup from outside and
  * opens the module span that brackets one run, startup call to endup
  * return. One instance serves one thread. */
final class TracedLifecycle(store: ControlStore, clock: Clock, sleeper: Sleeper,
    tracer: Tracer, m: Meter)
    extends Lifecycle(store, clock, sleeper) {
  private var moduleOpen = false
  private var module: Span = null
  private var moduleT0 = 0L
  private var exec: Span = null

  /** Opened by the operators probe once the query is planned; the action
    * itself runs inside Orchestrator, so the span ends when endup starts. */
  def openExec(name: String): Unit = exec = tracer.open("exec", "exec", name)

  private def moduleDone(t1: Long): Unit = {
    m.add("module_s", (t1 - moduleT0) / 1e9)
    tracer.close(module)
    module = null
    moduleOpen = false
  }

  /** A startup while a run is open (a duplicate attempt) is timed but
    * belongs to the open run's module span. */
  override def startup(batchName: String, runLevel: Option[Long], exclusiveRun: Boolean,
      parameters: Option[String], calledByForms: Boolean): Either[BatchError, BatchContext] = {
    val outer = !moduleOpen
    val t0 = System.nanoTime()
    if (outer) {
      moduleOpen = true
      moduleT0 = t0
      module = tracer.open("module", "module", batchName)
    }
    val s = tracer.open("lifecycle", "startup", null)
    val r = try super.startup(batchName, runLevel, exclusiveRun, parameters, calledByForms)
      finally tracer.close(s)
    val t1 = System.nanoTime()
    m.add("startup_ms", (t1 - t0) / 1e6)
    r match {
      case Right(ctx) => if (module != null) module.key = ctx.runKey
      case Left(_) =>
        m.inc("lifecycle.refusals")
        if (outer) moduleDone(t1)
    }
    r
  }

  override def endup(ctx: BatchContext, status: String, recordsProcessed: Option[Long],
      recordsInError: Option[Long]): Boolean = {
    val t0 = System.nanoTime()
    if (exec != null) {
      tracer.close(exec)
      exec = null
    }
    val s = tracer.open("lifecycle", "endup", null)
    val r = try super.endup(ctx, status, recordsProcessed, recordsInError)
      finally tracer.close(s)
    val t1 = System.nanoTime()
    m.add("endup_ms", (t1 - t0) / 1e6)
    moduleDone(t1)
    r
  }
}

/** The graft.state probe: a transparent ControlStore decorator. Counts
  * every call, times the eager ones (reads that collect, and every write)
  * and opens a span around each eager call. DataFrame faces are counted
  * only: their action runs in the caller, so their cost lands in the
  * enclosing lifecycle span. */
final class MeteredStore(inner: ControlStore, tracer: Tracer, m: Meter) extends ControlStore {
  def spark: SparkSession = inner.spark

  private def frame[T](f: => T): T = { m.inc("state.calls"); m.inc("state.frame_calls"); f }
  private def eager[T](name: String, write: Boolean)(f: => T): T = {
    m.inc("state.calls")
    val t0 = System.nanoTime()
    try tracer.span("state", name, null)(f)
    finally {
      val ms = (System.nanoTime() - t0) / 1e6
      m.add("state.eager_ms", ms)
      if (write) m.add("state.write_ms", ms)
    }
  }

  def batchMaster: Dataset[BatchMaster] = frame(inner.batchMaster)
  def putBatchMaster(rows: Seq[BatchMaster]): Unit = eager("putBatchMaster", true)(inner.putBatchMaster(rows))
  def dependencies: Dataset[BatchDependency] = frame(inner.dependencies)
  def putDependencies(rows: Seq[BatchDependency]): Unit =
    eager("putDependencies", true)(inner.putDependencies(rows))
  def loaderFiles: Dataset[TmpRunLoader] = frame(inner.loaderFiles)
  def putLoaderFiles(rows: Seq[TmpRunLoader]): Unit = eager("putLoaderFiles", true)(inner.putLoaderFiles(rows))
  def runCommands: Dataset[RunCommand] = frame(inner.runCommands)
  def putRunCommands(rows: Seq[RunCommand]): Unit = eager("putRunCommands", true)(inner.putRunCommands(rows))
  def mailAddresses: Dataset[MailAddr] = frame(inner.mailAddresses)
  def putMailAddresses(rows: Seq[MailAddr]): Unit =
    eager("putMailAddresses", true)(inner.putMailAddresses(rows))
  def monitorEvents: DataFrame = frame(inner.monitorEvents)
  def monitorState: DataFrame = frame(inner.monitorState)
  def appendEventGuarded(mk: Long => MonitorEvent, admit: () => Boolean): Option[Long] =
    eager("appendEventGuarded", true)(inner.appendEventGuarded(mk, admit))
  def transactRunIdGuarded(moduleId: Long, at: Instant, mk: (Long, Long) => MonitorEvent,
      admit: () => Boolean): Option[(Long, Long)] =
    eager("transactRunIdGuarded", true)(inner.transactRunIdGuarded(moduleId, at, mk, admit))
  def appendLog(rec: BatchLogRec): Unit = eager("appendLog", true)(inner.appendLog(rec))
  def batchLog: DataFrame = frame(inner.batchLog)
  def purgeBatchLog(horizon: Timestamp): Unit = eager("purgeBatchLog", true)(inner.purgeBatchLog(horizon))
  def appendMailAudit(rec: MailAudit): Unit = eager("appendMailAudit", true)(inner.appendMailAudit(rec))
  def mailAudit: DataFrame = frame(inner.mailAudit)
  def getEnv(name: String): Option[String] = eager("getEnv", false)(inner.getEnv(name))
  def getEnvs(names: Seq[String]): Map[String, String] = eager("getEnvs", false)(inner.getEnvs(names))
  def updEnv(name: String, value: String): Unit = eager("updEnv", true)(inner.updEnv(name, value))
  override def getRunCommand(batchName: String): String =
    eager("getRunCommand", false)(inner.getRunCommand(batchName))
  def close(): Unit = inner.close()
}

/** Counting CommitPublisher around another publisher: every publish is a
  * commit attempt; a lost claim is a CAS conflict. */
final class CountingPublisher(inner: CommitPublisher, m: Meter) extends CommitPublisher {
  def publish(txnDir: Path, v: Long, payload: Array[Byte]): Boolean = {
    val t0 = System.nanoTime()
    val won = inner.publish(txnDir, v, payload)
    m.add("state.publish_ms", (System.nanoTime() - t0) / 1e6)
    m.inc(if (won) "state.commits" else "state.commit_conflicts")
    won
  }
  def read(txnDir: Path, v: Long): Array[Byte] = inner.read(txnDir, v)
  def commitVersion(name: String): Option[Long] = inner.commitVersion(name)
  def delete(txnDir: Path, v: Long): Unit = inner.delete(txnDir, v)
  def sweepStaging(txnDir: Path, cutoffMs: Long): Unit = inner.sweepStaging(txnDir, cutoffMs)
  override def listNames(txnDir: Path): Seq[String] = inner.listNames(txnDir)
}
