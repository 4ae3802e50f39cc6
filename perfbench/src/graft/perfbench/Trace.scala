package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One timed interval at a layer boundary. `key` ties the spans of one
  * module run (its run_key) or one query (its name) together; `parent` is
  * the span that was open on the same thread when this one opened (0 =
  * root). Times are System.nanoTime. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
    @volatile var key: String, val start: Long) {
  @volatile var end: Long = -1L
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans nest per thread (a stack); each open span
  * is the Spark job group of its thread, so [[JobMeter]] can attribute every
  * job to the innermost span that caused it. When disabled every call is a
  * pass-through and nothing is recorded or tagged; switch it only while no
  * span is open. */
final class Tracer(spark: SparkSession, @volatile var enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)

  private def tag(s: Option[Span]): Unit = {
    val sc = spark.sparkContext
    s match {
      case Some(sp) =>
        sc.setLocalProperty("spark.jobGroup.id", Tracer.group(sp.id))
        sc.setLocalProperty("spark.job.description", s"${sp.layer}/${sp.name} ${sp.key}")
      case None =>
        sc.setLocalProperty("spark.jobGroup.id", null)
        sc.setLocalProperty("spark.job.description", null)
    }
  }

  def open(layer: String, name: String, key: String): Span =
    if (!enabled) null
    else {
      val st = stack.get
      val s = new Span(ids.incrementAndGet(), st.headOption.fold(0)(_.id), layer, name, key,
        System.nanoTime())
      stack.set(s :: st)
      tag(Some(s))
      s
    }

  /** Close `s`, which must be the innermost open span of this thread. */
  def close(s: Span): Unit =
    if (s != null) {
      s.end = System.nanoTime()
      val st = stack.get
      require(st.headOption.contains(s), s"span ${s.layer}/${s.name} closed out of order")
      stack.set(st.tail)
      tag(st.tail.headOption)
      done.synchronized(done += s)
    }

  def span[T](layer: String, name: String, key: String)(f: => T): T = {
    val s = open(layer, name, key)
    try f finally close(s)
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Mean cost of one open + close on this thread, in ns (the probe spans
    * are discarded). */
  def spanCostNs(n: Int = 2000): Double = {
    val t0 = System.nanoTime()
    (1 to n).foreach(_ => close(open("probe", "probe", "probe")))
    val ns = (System.nanoTime() - t0).toDouble / n
    done.synchronized(done.filterInPlace(_.layer != "probe"))
    ns
  }
}

object Tracer {
  def group(spanId: Int): String = s"pb-$spanId"
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith("pb-")) Some(group.drop(3).toInt) else None

  /** Self time: duration minus the part of it covered by `children`. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }
}

/** Spark-side cost of a set of jobs. */
final class JobCost {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var peakMemBytes = 0L
}

/** Listener that attributes each job, and the task metrics of its stages,
  * to the job group that submitted it (a span id, or "-" for none). */
final class JobMeter extends SparkListener {
  private val byGroup = mutable.Map.empty[String, JobCost]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def cost(g: String): JobCost = byGroup.getOrElseUpdate(g, new JobCost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    cost(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = cost(stageGroup.getOrElse(e.stageInfo.stageId, "-"))
    c.stages += 1
    c.tasks += e.stageInfo.numTasks
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.peakMemBytes = math.max(c.peakMemBytes, m.peakExecutionMemory)
    }
  }

  def snapshot: Map[String, JobCost] = synchronized(byGroup.toMap)
  def totalJobs: Long = synchronized(byGroup.values.map(_.jobs).sum)
  /** Jobs submitted outside any span. */
  def unattributedJobs: Long =
    synchronized(byGroup.collect { case (g, j) if Tracer.spanOf(g).isEmpty => j.jobs }.sum)
}
