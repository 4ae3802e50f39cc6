package graft.perfbench

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.lifecycle.Lifecycle
import graft.state.{MwStateStore, TxnLog}

/** Self-checks of the tracer and probes (perfbench/test_perfbench.py runs
  * them): layer spans reconcile with the wall they split, every Spark job
  * is attributed to a span, and the state probes are transparent. Prints
  * one `ok`/`FAIL` line per check and exits non-zero on any failure. */
object SelfCheck {
  /** Children may leave at most this share of a parent's wall uncovered
    * (plus a fixed 5 ms for the probes' own bookkeeping). */
  val Tolerance = 0.02

  def run(spark: SparkSession, a: Map[String, String], work: String): Boolean = {
    val jobs = new JobMeter
    spark.sparkContext.addSparkListener(jobs)
    val tracer = new Tracer(spark, enabled = true)
    val c = Ctx(spark, tracer, new Meter, jobs, 7L, Seq(a("data")), work,
      Main.readExpected(a("expected")))
    var failures = 0
    def check(name: String, ok: Boolean, detail: => String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failures += 1
    }
    def covered(parent: Span, kids: Seq[Span]): Boolean =
      Tracer.selfNs(parent, kids) <= parent.durNs * Tolerance + 5e6

    // everything below runs inside one root span, so every job has a span
    val root = tracer.open("selfcheck", "root", "selfcheck")
    QuerySweep.Set.take(4).foreach(q => QuerySweep.once(c, q, a("data")))
    val chain = NightlyChain.start(c)
    val night = chain.measure(0)
    val (_, sleeps) = chain.finish()
    tracer.close(root)
    graft.lifecycle.Observability.drainListenerBus(spark)

    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    val queries = spans.filter(_.layer == "query")
    check("query wall = construct + plan + exec",
      queries.nonEmpty && queries.forall(q => covered(q, kids.getOrElse(q.id, Nil))),
      queries.map(q => s"${q.key}: self ${Tracer.selfNs(q, kids.getOrElse(q.id, Nil)) / 1e6} ms " +
        s"of ${q.durNs / 1e6} ms").mkString("; "))
    val modules = spans.filter(_.layer == "module")
    check("module wall = startup + query + endup",
      modules.size >= NightlyChain.Modules.size &&
        modules.forall(m => covered(m, kids.getOrElse(m.id, Nil))),
      modules.map(m => s"${m.key}: self ${Tracer.selfNs(m, kids.getOrElse(m.id, Nil)) / 1e6} ms " +
        s"of ${m.durNs / 1e6} ms").mkString("; "))
    check("nightly chain outcomes as expected", night.failed == 0 && sleeps == 0,
      s"${night.failed} of ${night.attempted} outcomes differ")
    val outside = jobs.unattributedJobs
    check("jobs attributed to spans = listener total", outside == 0 && jobs.totalJobs > 0,
      s"$outside of ${jobs.totalJobs} jobs outside any span")

    // transparency: the same generated calls against a bare store and a
    // probed one leave the same monitor and envvar event streams
    def streams(probed: Boolean): Seq[String] = {
      val dir = s"$work/transparency-$probed"
      val m = new Meter
      val t = new Tracer(spark, enabled = probed)
      val plan = new ControlPlane.Plan(7L)
      val bare = new MwStateStore(spark, dir, checkpointEvery = 16,
        publisher = if (probed) new CountingPublisher(TxnLog.HardLink, m) else TxnLog.HardLink)
      val store = if (probed) new MeteredStore(bare, t, m) else bare
      ControlPlane.bootstrap(store, plan)
      val clock = new StepClock(Instant.parse("2024-06-01T00:00:00Z"))
      val lc =
        if (probed) new TracedLifecycle(store, clock, new CountingSleeper, t, m)
        else new Lifecycle(store, clock, new CountingSleeper)
      val client = new ControlPlane.Client(plan, store, lc)
      (1 to 2 * ControlPlane.Block).foreach(_ => client.cycle())
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.orderBy(col("event_seq")).collect().map(_.mkString("|")).toSeq
      rows(bare.monitorEvents) ++ rows(bare.envvarEvents)
    }
    val plain = streams(probed = false)
    val probed = streams(probed = true)
    check("state probes are transparent", plain.nonEmpty && plain == probed,
      s"${plain.size} vs ${probed.size} events, first difference " +
        plain.zipAll(probed, "", "").find { case (x, y) => x != y })
    failures == 0
  }
}
