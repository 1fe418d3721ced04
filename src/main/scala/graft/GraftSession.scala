package graft

import org.apache.spark.sql.SparkSession

/** The one local session every graft main runs on:
  * `local[$SPARK_GRAFT_CPUS]` (default 4) with shuffle partitions equal to
  * the core count, UTC, AQE on, UI off, log level WARN. `nanosAsLong` reads
  * the fixtures' TIMESTAMP(NANOS) columns; `spark.graft.widenReads` /
  * `spark.graft.cacheTables` opt into the fixture repartition spread and
  * base-table memoization of [[SparkEntry.t]] (library default: off).
  */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.widenReads", "true")
      .config("spark.graft.cacheTables", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
