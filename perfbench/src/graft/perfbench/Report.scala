package graft.perfbench

import scala.collection.mutable

/** Turns a run's samples, spans and job costs into named metrics. */
object Report {
  type Metrics = Seq[(String, Double, String)]

  /** Nearest-rank percentile (q in 0..1) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** What a user of the batch engine sees, for every workload: set-up time,
    * the median latency of the workload's unit operation (a module run, a
    * lifecycle cycle or a sweep pass), completed operations per second, and
    * process CPU per operation (so host contention can be told from more
    * work). */
  def endToEnd(setupS: Seq[Double], o: Phase, cpuS: Double): Metrics = Seq(
    ("setup_s", median(setupS), "s"),
    ("op_ms_p50", median(o.ops) * 1000, "ms"),
    ("ops_per_s", o.ops.size / o.windowS, "1/s"),
    ("cpu_ms_per_op", cpuS * 1000 / o.ops.size, "ms"))

  /** Per-layer metrics from the traced run: spans give durations and, via
    * the job groups they set, the Spark cost each layer caused. */
  def perLayer(c: Ctx, o: Phase, unattributed: Long): Metrics = {
    val all = c.tracer.spans
    val spans = all.filter(_.start >= c.meter.windowStartNs)
    val costs = c.jobs.snapshot
    def direct(s: Span): JobCost = costs.getOrElse(Tracer.group(s.id), new JobCost)
    val kids = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    def incl(s: Span): JobCost = {
      val t = new JobCost
      subtree(s).map(direct).foreach { d =>
        t.jobs += d.jobs; t.stages += d.stages; t.tasks += d.tasks; t.cpuNs += d.cpuNs
        t.gcMs += d.gcMs; t.shuffleBytes += d.shuffleBytes
        t.peakMemBytes = math.max(t.peakMemBytes, d.peakMemBytes)
      }
      t
    }
    def named(layer: String, name: String) = spans.filter(s => s.layer == layer && s.name == name)
    def secs(ss: Seq[Span]): Seq[Double] = ss.map(_.durNs / 1e9)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val m = c.meter
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    // graft.lifecycle
    val startups = named("lifecycle", "startup")
    val endups = named("lifecycle", "endup")
    val modules = spans.filter(_.layer == "module")
    val ctlS = secs(startups).sum + secs(endups).sum
    put("lifecycle.startup_jobs", mean(startups.map(incl(_).jobs.toDouble)), "count")
    put("lifecycle.endup_jobs", mean(endups.map(incl(_).jobs.toDouble)), "count")
    put("lifecycle.startup_ms_p50", median(m.values("startup_ms")), "ms")
    put("lifecycle.startup_ms_p95", pct(m.values("startup_ms"), 0.95), "ms")
    put("lifecycle.endup_ms_p50", median(m.values("endup_ms")), "ms")
    put("lifecycle.endup_ms_p95", pct(m.values("endup_ms"), 0.95), "ms")
    put("lifecycle.ctl_s", ctlS, "s")
    put("lifecycle.ctl_share", ctlS / o.windowS, "ratio")
    put("lifecycle.refusals", m.count("lifecycle.refusals").toDouble, "count")
    // graft.state
    val cycles = math.max(1, modules.size).toDouble
    val commits = m.count("state.commits").toDouble
    val conflicts = m.count("state.commit_conflicts").toDouble
    put("state.calls_per_cycle", m.count("state.calls") / cycles, "count")
    put("state.frame_calls_per_cycle", m.count("state.frame_calls") / cycles, "count")
    put("state.eager_ms_per_cycle", m.values("state.eager_ms").sum / cycles, "ms")
    put("state.write_ms_p95", pct(m.values("state.write_ms"), 0.95), "ms")
    put("state.commits", commits, "count")
    put("state.commit_conflicts", conflicts, "count")
    put("state.commit_ok_ratio", if (commits + conflicts == 0) 0.0 else commits / (commits + conflicts), "ratio")
    put("state.publish_ms_p50", median(m.values("state.publish_ms")), "ms")
    // graft.sources (set-up)
    val loads = all.filter(s => s.layer == "sources" && s.name == "table_load")
    put("sources.table_load_ms", median(secs(loads)) * 1000, "ms")
    put("sources.table_load_jobs", mean(loads.map(incl(_).jobs.toDouble)), "count")
    // the first pass, less the content checks it interleaves
    val builds = all.filter(s => s.layer == "sources" && s.name == "store_build")
    put("sources.store_build_s", median(builds.map(b =>
      (b.durNs - kids.getOrElse(b.id, Nil).filter(_.layer == "check").map(_.durNs).sum) / 1e9)), "s")
    // graft.operators (construction), plan, exec: measured window only
    val constructs = named("operators", "construct")
    put("operators.construct_s", secs(constructs).sum, "s")
    put("operators.construct_s_p50", median(secs(constructs)), "s")
    put("operators.eager_jobs", mean(constructs.map(incl(_).jobs.toDouble)), "count")
    val queryMs = secs(spans.filter(_.layer == "query")).map(_ * 1000)
    put("operators.query_ms_p50", median(queryMs), "ms")
    put("operators.query_ms_p90", pct(queryMs, 0.9), "ms")
    QuerySweep.Families.map(_._1).foreach { f =>
      val mine = spans.filter(s => s.layer == "query" && QuerySweep.familyOf.get(s.key).contains(f))
      put(s"operators.$f.wall_s", secs(mine).sum, "s")
      put(s"operators.$f.construct_s",
        secs(constructs.filter(s => QuerySweep.familyOf.get(s.key).contains(f))).sum, "s")
      put(s"operators.$f.exec_cpu_s", mine.map(incl(_).cpuNs).sum / 1e9, "s")
    }
    val plans = named("plan", "plan")
    put("plan.plan_s", secs(plans).sum, "s")
    put("plan.plan_s_p50", median(secs(plans)), "s")
    val execs = named("exec", "exec")
    val ex = execs.map(incl)
    val execS = secs(execs).sum
    val execCpu = ex.map(_.cpuNs).sum / 1e9
    put("exec.exec_s", execS, "s")
    put("exec.stages", ex.map(_.stages).sum.toDouble, "count")
    put("exec.tasks", ex.map(_.tasks).sum.toDouble, "count")
    put("exec.shuffle_mb", ex.map(_.shuffleBytes).sum / 1048576.0, "MB")
    put("exec.cpu_s", execCpu, "s")
    put("exec.gc_s", ex.map(_.gcMs).sum / 1000.0, "s")
    put("exec.peak_mem_mb", (0L +: ex.map(_.peakMemBytes)).max / 1048576.0, "MB")
    put("exec.cpu_util", if (execS == 0) 0.0 else execCpu / (execS * Main.Cores), "ratio")
    // the workload's own shape: unit operations and full passes (nights or
    // sweep passes) in the traced window
    put("run.ops", o.ops.size.toDouble, "count")
    put("run.op_ms_p90", pct(o.ops, 0.9) * 1000, "ms")
    put("run.pass_s_p50", median(o.passes), "s")
    put("jvm.old_gen_mb", Main.oldGenAfterGcMb(), "MB")
    // trace bookkeeping
    put("trace.spans", spans.size.toDouble, "count")
    put("trace.jobs", spans.map(direct(_).jobs).sum.toDouble + unattributed, "count")
    put("trace.unattributed_jobs", unattributed.toDouble, "count")
    put("trace.window_s", o.windowS, "s")
    out.toSeq
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def write(path: String, attempted: Long, failed: Long, metrics: Metrics): Unit = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    Main.writeString(path,
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}""" + "\n")
  }

  /** One line per span: id, parent, layer, name, key (inherited from the
    * nearest keyed ancestor), start and end in ns, self time in ns. */
  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    val kids = spans.groupBy(_.parent)
    def key(s: Span): String =
      if (s.key != null) s.key else byId.get(s.parent).fold("")(key)
    val lines = spans.sortBy(_.start).map { s =>
      Seq(s.id, s.parent, s.layer, s.name, key(s), s.start, s.end,
        Tracer.selfNs(s, kids.getOrElse(s.id, Nil))).mkString("\t")
    }
    Main.writeString(path, ("id\tparent\tlayer\tname\tkey\tstart_ns\tend_ns\tself_ns" +: lines).mkString("\n") + "\n")
  }
}
