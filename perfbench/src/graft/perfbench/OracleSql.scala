package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Writes `<work>/oracle/<query>.sql`, the DuckDB oracle of each query the
  * workloads run, for perfbench/oracle.py to evaluate once per dataset.
  * Queries without a static SQL oracle get the engine's dataset-derived
  * expected-parquet oracles (`SparkEntry.oracleSqlFor`). */
object OracleSql {
  val queries: Seq[String] = (NightlyChain.queries ++ QuerySweep.Set).distinct

  def dump(spark: SparkSession, data: String, work: String): Unit = {
    val oracles =
      if (queries.forall(SparkEntry.oracleSql.contains)) SparkEntry.oracleSql
      else SparkEntry.oracleSqlFor(spark, data, s"$work/oracle-expected")
    val dir = java.nio.file.Paths.get(work, "oracle")
    java.nio.file.Files.createDirectories(dir)
    queries.foreach { q =>
      val sql = oracles.getOrElse(q, throw new IllegalStateException(s"no oracle for $q"))
      Main.writeString(dir.resolve(s"$q.sql").toString, sql)
    }
  }
}
