package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's door to the engine's table registration: `SparkEntry.t`
  * is package-private, and every registered query reads its base tables
  * through it. Calling it at setup time makes the benchmark's setup the
  * engine's own (memoized under `spark.graft.cacheTables`, widened under
  * `spark.graft.widenReads`). */
object BenchTables {
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.t(s, dir, name)
}
