package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, TextOps}

/** The one way to call a native kernel: [[Kernels]] builds each one as a
  * plain Column, and [[GraftExtensions]] registers the same table rows for
  * SQL strings. */
class KernelsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def withoutIds(plan: String): String = plan.replaceAll("#\\d+L?", "#N")

  /** Runs `f` on a new thread whose active session has been cleared (a
    * new thread otherwise inherits the parent's). */
  private def onThreadWithoutSession[T](f: => T): T = {
    var out: Either[Throwable, T] = Left(new IllegalStateException("thread did not run"))
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      out = try Right(f) catch { case e: Throwable => Left(e) }
    })
    t.start()
    t.join()
    out.fold(e => throw e, identity)
  }

  test("a query built on a thread with no active session still plans the native kernels") {
    val session = spark // built here, so the other thread cannot make it active
    Seq[(String, (SparkSession, String) => DataFrame)](
      "graft_norm_text" -> TextOps.qLangId,
      "graft_dot" -> Similarity.qAnnTopk
    ).foreach { case (kernel, query) =>
      val (hadSession, analyzed, optimized) = onThreadWithoutSession {
        val hadSession = SparkSession.getActiveSession.isDefined
        val df = query(session, dir)
        (hadSession, df.queryExecution.analyzed.toString, df.queryExecution.optimizedPlan.toString)
      }
      assert(!hadSession, "the building thread must not see an active session")
      assert(optimized.contains(kernel), s"$kernel missing from the plan built off-session:\n$optimized")
      // the kernel's children convert exactly as they do on the session thread
      assert(withoutIds(analyzed) === withoutIds(query(session, dir).queryExecution.analyzed.toString))
    }
  }

  test("GraftExtensions registers every kernel row, with the Column face's plan") {
    val names = Kernels.table.map(_.name)
    assert(names.size === 17 && names.distinct.size === 17)
    names.foreach(n => assert(spark.catalog.functionExists(n), s"$n is not registered"))
    val text = spark.range(3).select(col("id").cast("string").as("t"))
    assert(withoutIds(text.selectExpr("graft_norm_text(t) AS n").queryExecution.optimizedPlan.toString)
      === withoutIds(text.select(Kernels.normText(col("t")).as("n"))
        .queryExecution.optimizedPlan.toString))
    val e = intercept[Throwable](spark.sql("SELECT graft_dot(array(1.0D))").collect())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("graft_dot requires exactly 2 argument(s)")),
      s"arity must be checked at SQL resolution, got: $e")
  }

  test("src/main calls kernels directly, never by registered name") {
    val main = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main")
    assert(java.nio.file.Files.isDirectory(main), s"no source tree at $main")
    val banned = Seq("functionExists(", "call_function(\"graft_")
    val offenders = java.nio.file.Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) => s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, "name-based kernel dispatch in src/main:\n" + offenders.mkString("\n"))
  }
}
