package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The analytics face: registry queries, one client, closed loop. Each
  * query is built (graft.operators), planned (Catalyst) and count()ed
  * (Spark) in turn; one pass runs every query of the set once, in an order
  * the seed shuffles per pass. The unit operation is the pass: the median
  * of 12 unlike queries jumps between neighbours 20% apart whenever two of
  * them swap rank, while their sum is steady. Per-query latencies are
  * per-layer (`operators.query_ms_*`). A first pass, part of set-up, pays the
  * path-keyed store builds. Every count is checked against the oracle's row
  * count; a third of the queries, chosen by the seed, also get their
  * content fingerprint checked. No control store is touched.
  *
  * The set takes one of the cheaper members of every registry family
  * (for TextOps, Dedup and Similarity one that runs a native kernel), so
  * each operator family is priced while a pass stays a few seconds long. */
object QuerySweep extends Workload {
  /** Passes per measured window, however short. */
  val MinPasses = 2

  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CoreOps" -> CoreOps.queries, "TextOps" -> TextOps.queries, "Dedup" -> Dedup.queries,
    "Similarity" -> Similarity.queries, "EventOps" -> EventOps.queries,
    "Multimodal" -> Multimodal.queries, "TemporalJoins" -> TemporalJoins.queries,
    "Pipeline" -> Pipeline.queries, "Search" -> Search.queries, "Graph" -> Graph.queries,
    "SkewJoin" -> SkewJoin.queries, "BloomJoin" -> BloomJoin.queries)

  val Set: Seq[String] = Seq(
    "q_tpch_q1", "q_heavy_hitters", "q_dedup_ngram", "q_ann_topk", "q_sessionize",
    "q_multimodal_meta", "q_range_join", "q_quality_funnel", "q_bm25", "q_triangles",
    "q_skew_join", "q_bloom_join")

  val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
  private val fns = Families.flatMap(_._2).toMap

  /** Build, plan and count one query; returns (frame, rows, wall seconds). */
  def once(c: Ctx, name: String, dir: String): (DataFrame, Long, Double) = {
    val t0 = System.nanoTime()
    val (df, n) = c.tracer.span("query", "query", name) {
      val df = Layers.construct(c, name)(fns(name)(c.spark, dir))
      Layers.plan(c, name, df)
      (df, Layers.exec(c, name)(df.count()))
    }
    (df, n, (System.nanoTime() - t0) / 1e9)
  }

  def start(c: Ctx): Session = {
    val rng = new Random(c.seed)
    val dir = c.data.last
    var attempted = 0L
    var failed = 0L
    def check(name: String, ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] $name: $what") }
    }
    // set-up: table loads on each fresh data copy, then one first pass that
    // pays the store builds. The content check (one collect per query, for
    // the third of the set the seed picks) runs between the timed calls and
    // is not part of set-up time.
    val repeats = c.data.map { d =>
      val t0 = System.nanoTime()
      Layers.loadTables(c, d)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = Layers.storeBuilds(c) {
      Set.zipWithIndex.map { case (q, i) =>
        val (df, _, s) = once(c, q, dir)
        if (i % 3 == Math.floorMod(c.seed, 3L)) {
          val got = c.tracer.span("check", "fingerprint", q)(Fingerprint.of(df))
          check(q, c.expected.get(q).contains(got), s"fingerprint $got, oracle has ${c.expected.get(q)}")
        }
        s
      }.sum
    }
    val contentChecks = (attempted, failed)

    new Session {
      val setupS: Seq[Double] = repeats.map(_ + warm)

      def measure(seconds: Double): Phase = {
        val (a0, f0) = (attempted, failed)
        var passes = Seq.empty[Double]
        val t0 = System.nanoTime()
        while (passes.size < MinPasses || System.nanoTime() - t0 < seconds * 1e9) {
          val p0 = System.nanoTime()
          rng.shuffle(Set).foreach { q =>
            val (_, n, _) = once(c, q, dir)
            val want = c.expected.get(q).map(_._1)
            check(q, want.contains(n), s"$n rows, oracle has $want")
          }
          passes :+= (System.nanoTime() - p0) / 1e9
        }
        Phase(attempted - a0, failed - f0, (System.nanoTime() - t0) / 1e9, passes, passes)
      }

      def finish(): (Long, Long) = contentChecks
    }
  }
}
