package graft.perfbench

import java.sql.Timestamp
import java.time.Instant

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.lifecycle.{DuplicateRun, Lifecycle, RunStatus}
import graft.state._

/** Lifecycle calls and nothing else: one closed-loop client with its own
  * Lifecycle over a fresh MwStateStore. A cycle is startup → one read →
  * endup of the client's next module, walked in dependency order so no
  * dependency wait polls. Every block of 6 cycles holds exactly one
  * duplicate-run attempt (which must be refused), one updEnv, one appendLog
  * and 2 each of currentStatus, getEnvs and getRunCommand reads; the seed
  * decides module order, dependency edges and where in each block every
  * call falls. A window runs whole blocks, so every run makes the same mix
  * of calls. No query, no source table.
  *
  * One client, not several racing on one store: with two, TxnLog CAS
  * retries (each re-running its guard's Spark jobs) made a cycle's latency
  * spread ±20% from run to run. */
object ControlPlane extends Workload {
  val Modules = 4
  val Block = 6
  private val Flags = Seq("BATCH_FLG_DBG", "BATCH_FLG_LOG", "BATCH_FLG_ERR")
  /** The measured day. */
  val Day0: Instant = Instant.parse("2024-06-01T00:00:00Z")

  /** A parent that finished before the window, so that every module of the
    * walk, the first one included, has exactly one dependency to check. */
  val Gate = "CTL_GATE"

  /** The client's generated calls. */
  final class Plan(seed: Long) {
    private val rng = new Random(seed)
    val modules: IndexedSeq[String] = (0 until Modules).map(j => s"CTL_M$j")
    val ids: Map[String, Long] = (modules :+ Gate).zipWithIndex.map { case (n, j) => n -> (j + 1L) }.toMap
    val walk: IndexedSeq[String] = rng.shuffle(modules)
    val deps: Seq[(String, String, String)] = (0 until Modules).map { j =>
      (if (j == 0) Gate else walk(rng.nextInt(j)), walk(j), Seq("MANDATORY", "OPTIONAL", "WAIT")(rng.nextInt(3)))
    }
    private val blocks = scala.collection.mutable.Map.empty[Int, IndexedSeq[(String, Option[String], Boolean)]]
    /** (read kind, write kind, duplicate attempt) of cycle `i`. */
    def step(i: Int): (String, Option[String], Boolean) = synchronized {
      blocks.getOrElseUpdate(i / Block, {
        val reads = rng.shuffle(Seq("status", "status", "envs", "envs", "runcmd", "runcmd"))
        val slots = rng.shuffle((0 until Block).toIndexedSeq)
        val dup = rng.nextInt(Block)
        (0 until Block).map { k =>
          val write = if (k == slots(0)) Some("updEnv") else if (k == slots(1)) Some("appendLog") else None
          (reads(k), write, k == dup)
        }
      })(i % Block)
    }
  }

  def bootstrap(store: ControlStore, plan: Plan): Unit = {
    store.putBatchMaster((plan.modules :+ Gate).map(n => BatchMaster(plan.ids(n), n, 1L, Some("CTL"), None)))
    store.putDependencies(plan.deps.map { case (p, ch, t) =>
      BatchDependency(plan.ids(p), plan.ids(ch), t) })
    store.putRunCommands(plan.modules.map(n => RunCommand(n, s"noop $n")))
    Flags.foreach(f => store.updEnv(f, "N"))
    val day = Timestamp.from(Day0)
    val gate = plan.ids(Gate)
    store.appendEventAssigned(seq => MonitorEvent(s"$gate-$seq", seq, gate, day, 1L,
      Some(" Run_level=<>"), None, RunStatus.Success, Some("CTL"), Some("Y"), Some(day),
      Some(day), Some(0L), Some(0L)))
  }

  private def newStore(c: Ctx, dir: String): MwStateStore =
    new MwStateStore(c.spark, dir, publisher = new CountingPublisher(TxnLog.HardLink, c.meter))

  final class Client(plan: Plan, store: ControlStore, lc: Lifecycle) {
    var attempted = 0L
    var failed = 0L
    var cycles = 0
    var dups = 0
    private var note: Option[String] = None

    /** Whole blocks of cycles until `end` (nanoTime), at least one. */
    def loop(end: Long): Unit =
      try {
        do (1 to Block).foreach(_ => cycle())
        while (System.nanoTime() < end)
      }
      catch { case scala.util.control.NonFatal(e) => expect(ok = false, s"client stopped: $e") }

    private def expect(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] $what") }
    }

    def cycle(): Unit = {
      val (read, write, dup) = plan.step(cycles)
      val mod = plan.walk(cycles % Modules)
      val params = Some("control-plane")
      lc.startup(mod, None, exclusiveRun = true, params) match {
        case Left(e) => expect(ok = false, s"startup $mod refused: $e")
        case Right(ctx) =>
          expect(ok = true, "")
          read match {
            case "status" =>
              val st = lc.currentStatus(ctx.runKey)
              expect(st.contains(RunStatus.Running), s"status of ${ctx.runKey} = $st")
            case "envs" =>
              val env = store.getEnvs(Flags :+ "CP_NOTE")
              expect(Flags.forall(env.get(_).contains("N")) && env.get("CP_NOTE") == note,
                s"envs = $env")
            case _ =>
              val cmd = store.getRunCommand(mod)
              expect(cmd == s"noop $mod", s"run command of $mod = $cmd")
          }
          if (dup) {
            dups += 1
            val again = lc.startup(mod, None, exclusiveRun = true, params)
            expect(again == Left(DuplicateRun), s"duplicate start of $mod gave $again")
          }
          expect(lc.endup(ctx, RunStatus.Success, Some(cycles.toLong), Some(0L)), s"endup $mod")
          cycles += 1
      }
      write.foreach {
        case "updEnv" =>
          val v = s"cycle-$cycles"
          store.updEnv("CP_NOTE", v)
          note = Some(v)
          expect(ok = true, "")
        case _ =>
          store.appendLog(BatchLogRec(Timestamp.from(Day0.plusSeconds(43200)),
            "perfbench", cycles.toLong, "graft.perfbench", Some(mod), Some(s"cycle $cycles")))
          expect(ok = true, "")
      }
    }
  }

  /** Run-bookkeeping invariants over the final store: nothing left active,
    * run ids unique and contiguous per (module, day), one refusal per
    * duplicate attempt, one success per completed cycle (and the gate's). */
  def checkStore(c: Ctx, dir: String, dups: Int, cycles: Int): Seq[String] = {
    val st = new MwStateStore(c.spark, dir).monitorState
      .select(col("module_id"), to_date(col("run_date")).as("day"), col("run_id"), col("run_status"))
      .collect()
    val active = st.count(r => RunStatus.active(r.getString(3)))
    val refused = st.count(_.getString(3) == RunStatus.ReRunFailure)
    val ok = st.count(_.getString(3) == RunStatus.Success)
    val gaps = st.filter(_.getLong(2) > 0).groupBy(r => (r.getLong(0), r.get(1)))
      .count { case (_, rs) => rs.map(_.getLong(2)).sorted.toSeq != (1L to rs.length.toLong) }
    Seq(
      if (active == 0) "" else s"$active runs left active",
      if (refused == dups) "" else s"$refused refusals for $dups duplicate attempts",
      if (ok == cycles + 1) "" else s"$ok successes for $cycles cycles and the gate",
      if (gaps == 0) "" else s"$gaps (module, day) groups with non-contiguous run ids")
  }

  def start(c: Ctx): Session = {
    val m = c.meter
    val plan = new Plan(c.seed)
    // set-up, repeated: a fresh store with its control tables, warmed by
    // one read
    var client: Client = null
    var dir = ""
    val setups = c.data.indices.map { i =>
      val t0 = System.nanoTime()
      dir = s"${c.work}/ctl-$i"
      val store = new MeteredStore(newStore(c, dir), c.tracer, m)
      bootstrap(store, plan)
      store.getEnvs(Flags)
      client = new Client(plan, store,
        new TracedLifecycle(store, new StepClock(Day0), new CountingSleeper, c.tracer, m))
      (System.nanoTime() - t0) / 1e9
    }

    new Session {
      val setupS: Seq[Double] = setups

      def measure(seconds: Double): Phase = {
        val (a0, f0) = (client.attempted, client.failed)
        val modules0 = m.values("module_s").size
        val t0 = System.nanoTime()
        client.loop(t0 + (seconds * 1e9).toLong)
        Phase(client.attempted - a0, client.failed - f0, (System.nanoTime() - t0) / 1e9,
          m.values("module_s").drop(modules0), Nil)
      }

      def finish(): (Long, Long) = {
        val problems = checkStore(c, dir, client.dups, client.cycles)
        problems.filter(_.nonEmpty).foreach(p => System.err.println(s"[perfbench] store check: $p"))
        (problems.size.toLong, problems.count(_.nonEmpty).toLong)
      }
    }
  }
}
