package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.sources.Tables

/** Spans at the data-plane boundaries, shared by the workloads: each call
  * into graft.sources or a registry query, wrapped in its layer's span. */
object Layers {
  /** graft.sources: every table getter, each timed alone. */
  def loadTables(c: Ctx, dir: String): Unit =
    Tables.all.foreach { t =>
      c.tracer.span("sources", "table_load", t) {
        if (t == "events") Tables.events(c.spark, dir) else Tables.load(c.spark, dir, t)
      }
    }

  /** graft.sources: a first pass that pays path-keyed store builds. */
  def storeBuilds[T](c: Ctx)(f: => T): T = c.tracer.span("sources", "store_build", "first_pass")(f)

  /** graft.operators: building the query's DataFrame (eager jobs included). */
  def construct(c: Ctx, name: String)(f: => DataFrame): DataFrame =
    c.tracer.span("operators", "construct", name)(f)

  /** Catalyst: analysis, optimisation and physical planning. */
  def plan(c: Ctx, name: String, df: DataFrame): Unit =
    c.tracer.span("plan", "plan", name)(df.queryExecution.executedPlan)

  /** Spark execution of the query's action. */
  def exec(c: Ctx, name: String)(f: => Long): Long =
    c.tracer.span("exec", "exec", name)(f)
}
