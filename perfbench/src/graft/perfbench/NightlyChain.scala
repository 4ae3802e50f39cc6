package graft.perfbench

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.lifecycle.{DependencyFailed, Orchestrator}
import graft.lifecycle.Orchestrator.{Completed, Failed, NotRun, Outcome => ModOutcome}
import graft.sources.Tables
import graft.state.{BatchDependency, BatchMaster, MwStateStore, RunCommand, TxnLog}

/** The paper's unit of work: `Orchestrator.runChain` over registry-query
  * modules, night after night, on one fresh MwStateStore with a stepped
  * clock and a sleeper that never blocks. One driver, closed loop; a
  * window runs at least [[MinNights]] nights.
  *
  * The chain covers every dependency type: N_BROKEN's run command names
  * no registry query, so it closes FAILURE; its MANDATORY child N_DEDUP
  * must end NotRun(DependencyFailed) and its OPTIONAL child N_ANN must
  * still complete. WAIT edges point at parents that already finished, so
  * no dependency wait ever sleeps. */
object NightlyChain extends Workload {
  /** Nights per measured window, however short: one night is too few
    * modules for a median that host noise does not move. */
  val MinNights = 2

  val Modules: Seq[(String, String)] = Seq(
    "N_TPCH" -> "q_tpch_q3",
    "N_RANKS" -> "q_window_ranks",
    "N_BROKEN" -> "q_not_registered",
    "N_DEDUP" -> "q_dedup_simhash",
    "N_ANN" -> "q_ann_topk",
    "N_CAPSTONE" -> "q_pipeline_e2e")

  val Deps: Seq[(String, String, String)] = Seq(
    ("N_TPCH", "N_RANKS", "MANDATORY"),
    ("N_TPCH", "N_BROKEN", "MANDATORY"),
    ("N_BROKEN", "N_DEDUP", "MANDATORY"),
    ("N_BROKEN", "N_ANN", "OPTIONAL"),
    ("N_RANKS", "N_CAPSTONE", "MANDATORY"),
    ("N_ANN", "N_CAPSTONE", "OPTIONAL"),
    ("N_TPCH", "N_CAPSTONE", "WAIT"))

  /** Registry queries the chain runs (and so needs oracles for). */
  val queries: Seq[String] =
    Modules.map(_._2).filter(SparkEntry.queries.contains).filterNot(_ == "q_dedup_simhash")

  private def moduleId(name: String): Long = Modules.indexWhere(_._1 == name) + 1L

  /** Seed the control tables of a fresh store. */
  def bootstrap(store: graft.state.ControlStore): Unit = {
    store.putBatchMaster(Modules.map { case (m, _) =>
      BatchMaster(moduleId(m), m, 1L, Some("NIGHTLY"), None) })
    store.putDependencies(Deps.map { case (p, ch, t) =>
      BatchDependency(moduleId(p), moduleId(ch), t) })
    store.putRunCommands(Modules.map { case (m, q) => RunCommand(m, s"graft.query $q") })
    store.updEnv("BATCH_FLG_LOG", "Y")
  }

  /** The outcome each module must reach every night. */
  def expectedOutcome(c: Ctx, module: String, query: String): ModOutcome => Boolean =
    module match {
      case "N_BROKEN" => { case Failed(`module`, _, _) => true; case _ => false }
      case "N_DEDUP" => { case NotRun(DependencyFailed) => true; case _ => false }
      case _ =>
        val rows = c.expected.get(query).map(_._1)
        (o: ModOutcome) => o match {
          case Completed(`module`, `query`, n) => rows.contains(n)
          case _ => false
        }
    }

  def start(c: Ctx): Session = {
    val m = c.meter
    // registry wrapped by the graft.operators probe: construction and
    // planning are timed here, the action inside Orchestrator
    var lc: TracedLifecycle = null
    val registry: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries.map { case (name, fn) =>
        name -> ((s: SparkSession, d: String) => {
          val df = Layers.construct(c, name)(fn(s, d))
          Layers.plan(c, name, df)
          lc.openExec(name)
          df
        })
      }
    def freshStore(tag: String): MwStateStore =
      new MwStateStore(c.spark, s"${c.work}/store-$tag",
        publisher = new CountingPublisher(TxnLog.HardLink, m))

    // set-up: the repeatable part (table loads on a fresh data copy and a
    // fresh store with its control tables) once per copy, then one untimed
    // pass over the chain's queries that pays their store builds
    val repeats = c.data.zipWithIndex.map { case (dir, i) =>
      val t0 = System.nanoTime()
      Layers.loadTables(c, dir)
      bootstrap(freshStore(s"setup-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    Layers.storeBuilds(c)(queries.foreach(q => SparkEntry.queries(q)(c.spark, c.data.last).count()))
    val warm = (System.nanoTime() - t0) / 1e9
    val clock = new StepClock(Instant.parse("2024-06-01T00:00:00Z"))
    val store = new MeteredStore(freshStore("chain"), c.tracer, m)
    bootstrap(store)
    val sleeper = new CountingSleeper
    lc = new TracedLifecycle(store, clock, sleeper, c.tracer, m)
    val orch = new Orchestrator(c.spark, lc, c.data.last, registry)
    val checks = Modules.map { case (mod, q) => mod -> expectedOutcome(c, mod, q) }.toMap
    var night = 0

    new Session {
      val setupS: Seq[Double] = repeats.map(_ + warm)

      def measure(seconds: Double): Phase = {
        var attempted = 0L
        var failed = 0L
        val modules0 = m.values("module_s").size
        val t0 = System.nanoTime()
        var nights = Seq.empty[Double]
        while (nights.size < MinNights || System.nanoTime() - t0 < seconds * 1e9) {
          clock.jumpTo(Instant.parse("2024-06-01T01:00:00Z").plusSeconds(86400L * night))
          val n0 = System.nanoTime()
          val outcomes = orch.runChain(Modules.map(_._1))
          nights :+= (System.nanoTime() - n0) / 1e9
          outcomes.foreach { case (mod, o) =>
            attempted += 1
            if (!checks(mod)(o)) {
              failed += 1
              System.err.println(s"[perfbench] night $night: $mod ended $o")
            }
          }
          night += 1
        }
        Phase(attempted, failed, (System.nanoTime() - t0) / 1e9,
          m.values("module_s").drop(modules0), nights)
      }

      /** No dependency wait may sleep: every WAIT parent finished first. */
      def finish(): (Long, Long) = (1L, if (sleeper.slept.get == 0) 0L else 1L)
    }
  }
}
